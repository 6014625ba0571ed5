"""Oracle parity and registration checks for the queries defined in
``clickbom_spark/queries/staged_r7.py``.

The parity verdicts are shared with ``tests/test_parity.py``: each
query is compared with its oracle once per session.
"""

from __future__ import annotations

import pytest

from clickbom_spark.queries import REGISTRY
from tests.test_parity import assert_oracle_parity
from tests.test_staged_parity import assert_wave_live, wave

WAVE = wave("staged_r7")


@pytest.mark.parametrize("name", sorted(n for n, s in WAVE.items() if s.oracle))
def test_staged_r7_oracle_parity(spark, name):
    assert_oracle_parity(spark, name)


def test_staged_r7_wave_is_live():
    assert_wave_live("staged_r7")


def test_registry_satisfies_driver_contract():
    for name, spec in REGISTRY.items():
        assert callable(spec.fn), name
        assert spec.oracle is None or isinstance(spec.oracle, str), name
        assert spec.name == name
