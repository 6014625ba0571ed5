"""Oracle-parity harness — mirrors the driver's correctness gate.

For every registered query with an oracle: run the Spark implementation
and the DuckDB oracle SQL on the same parquet tables, then compare row
count, column names, and (order-insensitively) exact values.  Queries
without an oracle get a rows-only smoke check.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from clickbom_spark.queries import REGISTRY
from tests.conftest import SF_CORRECT

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return con.execute(sql).df()
    finally:
        con.close()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    return df


ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


# name -> None (parity held) or the AssertionError the comparison raised.
_PARITY_VERDICTS: dict[str, AssertionError | None] = {}


def _compare_with_oracle(spark, name: str) -> None:
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_CORRECT).toPandas()
    odf = run_oracle(spec.oracle, SF_CORRECT)
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"column mismatch: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"row count: spark={len(sdf)} oracle={len(odf)}"
    s, o = canon(sdf), canon(odf)
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
    except AssertionError:
        # Surface a small diff sample for debugging before re-raising.
        diff_cols = []
        for c in s.columns:
            if not s[c].equals(o[c]):
                diff_cols.append(c)
        raise AssertionError(
            f"value mismatch in columns {diff_cols}\n"
            f"spark head:\n{s.head(5)}\noracle head:\n{o.head(5)}"
        )


def assert_oracle_parity(spark, name: str) -> None:
    """Assert that query ``name`` matches its DuckDB oracle at SF_CORRECT.

    The comparison runs once per session and its verdict is kept: the
    per-module files (``tests/test_staged_r*_parity.py``) assert the same
    parity for their module's queries without running both sides again.
    """
    if name not in _PARITY_VERDICTS:
        try:
            _compare_with_oracle(spark, name)
        except AssertionError as exc:
            _PARITY_VERDICTS[name] = exc
        else:
            _PARITY_VERDICTS[name] = None
    failure = _PARITY_VERDICTS[name]
    if failure is not None:
        raise failure


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, name):
    assert_oracle_parity(spark, name)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF_CORRECT)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_bm25_zero_token_doc_parity(spark, tmp_path):
    """avgdl must include zero-token documents on BOTH sides: the
    engine computes dl as a per-row size() over all docs; an oracle
    that derived dl by unnest-then-count silently dropped empty docs
    and shifted every score (latent in the driver corpora, which have
    no empty docs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {
        "doc_id": [0, 1, 2, 3],
        "text": ["join hash merge join", "   ", "hash hash words here", "merge join words"],
        "lang": ["en"] * 4,
        "source": ["s"] * 4,
        "n_chars": [20, 3, 20, 16],
    }
    pq.write_table(pa.table(rows), str(tmp_path / "documents.parquet"))
    spec = REGISTRY["q_bm25_search"]
    sdf = spec.fn(spark, str(tmp_path)).toPandas()
    odf = run_oracle(spec.oracle, str(tmp_path))
    assert len(sdf) == len(odf) > 0
    pd.testing.assert_frame_equal(
        canon(sdf), canon(odf), check_dtype=False, check_exact=True
    )
