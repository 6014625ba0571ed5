"""Oracle parity and registration checks for the queries defined in
``clickbom_spark/queries/staged_r14.py``.

The parity verdicts are shared with ``tests/test_parity.py``: each
query is compared with its oracle once per session.
"""

from __future__ import annotations

import pytest

from tests.test_parity import assert_oracle_parity
from tests.test_staged_parity import assert_wave_live, wave

WAVE = wave("staged_r14")


@pytest.mark.parametrize("name", sorted(n for n, s in WAVE.items() if s.oracle))
def test_staged_r14_oracle_parity(spark, name):
    assert_oracle_parity(spark, name)


def test_staged_r14_activated_into_registry():
    assert_wave_live("staged_r14")


def test_staged_r14_every_query_has_oracle():
    assert all(s.oracle for s in WAVE.values())


def test_staged_r14_wave_size():
    assert len(WAVE) == 27
