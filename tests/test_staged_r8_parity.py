"""Oracle parity and registration checks for the queries defined in
``clickbom_spark/queries/staged_r8.py``.

The parity verdicts are shared with ``tests/test_parity.py``: each
query is compared with its oracle once per session.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECT
from tests.test_parity import assert_oracle_parity, canon, run_oracle
from tests.test_staged_parity import assert_wave_live, wave

WAVE = wave("staged_r8")


@pytest.mark.parametrize("name", sorted(n for n, s in WAVE.items() if s.oracle))
def test_staged_r8_oracle_parity(spark, name):
    assert_oracle_parity(spark, name)


def test_staged_r8_activated_identically():
    assert_wave_live("staged_r8")


def test_bfs_diameter_stays_below_oracle_recursion_bound(spark):
    """The oracle's recursive CTE carries hop < 40 as a safety bound;
    exactness requires the actual BFS to converge well under it."""
    rows = WAVE["q_bfs_distances"].fn(spark, SF_CORRECT).collect()
    assert rows and max(r["hop"] for r in rows) < 39


def test_sliding_median_null_values_match_oracle(spark, tmp_path):
    """A user whose window frame holds only NULL values: collect_list
    drops NULLs so the frame is EMPTY — the query must return NULL
    (like DuckDB's windowed median), not crash on element_at(_, 0).
    Latent in the test corpora (zero NULL values there)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {
        "event_id": [1, 2, 3, 4, 5, 6],
        "ts": pd.to_datetime(
            ["2024-01-01 00:00:0%d" % i for i in range(6)]
        ),
        "user_id": [1, 1, 1, 2, 2, 2],
        "event_type": ["view"] * 6,
        "value": [None, None, 3.0, 1.0, None, 2.0],
        "props": ["{}"] * 6,
    }
    pq.write_table(pa.table(rows), str(tmp_path / "events.parquet"))
    spec = WAVE["q_sliding_median"]
    got = canon(spec.fn(spark, str(tmp_path)).toPandas())
    want = canon(run_oracle(spec.oracle, str(tmp_path)))
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=True)
