"""Registry invariants, plus a per-query check that oracle parity does
not cover.

``tests/test_parity.py`` compares every registry query with its DuckDB
oracle.  This file pins the registry itself (one registration path, its
size and per-module make-up, an oracle for every query) and holds the
helpers the per-module files ``tests/test_staged_r*_parity.py`` use.
"""

from __future__ import annotations

import collections

import pytest

from clickbom_spark.queries import REGISTRY, QuerySpec, query
from tests.conftest import SF_CORRECT

# fn.__module__ suffix -> number of registry queries defined there.
MODULE_COUNTS = {
    "formats": 5, "olap_ops": 15, "sql_surface": 4, "llm_ops": 6,
    "relational2": 17, "relational3": 13, "scale_ops": 6, "multimodal": 4,
    "event_windows": 18, "dedup": 11, "similarity": 10, "text": 9,
    "sbom_mapped": 5, "analytics": 17, "relational": 9, "curation": 12,
    "engine_ops": 11, "order_stats": 4, "dialect_r12": 3, "staged": 33,
    "staged_r7": 14, "staged_r8": 23, "staged_r9": 23, "staged_r10": 23,
    "staged_r11": 23, "staged_r12": 23, "staged_r13": 23, "staged_r14": 27,
}


def wave(module: str) -> dict[str, QuerySpec]:
    """The registry entries defined in ``clickbom_spark.queries.<module>``."""
    qual = f"clickbom_spark.queries.{module}"
    return {n: s for n, s in REGISTRY.items() if s.fn.__module__ == qual}


def assert_wave_live(module: str) -> None:
    """``module``'s queries are registered as one contiguous run, in the
    order its import defined them, and each meets the entry contract
    ``__spark_entry__.queries()``/``oracle_sql()`` rely on."""
    specs = wave(module)
    assert specs, f"no registry query is defined in {module}"
    order = list(REGISTRY)
    first = order.index(next(iter(specs)))
    assert order[first:first + len(specs)] == list(specs), (
        f"{module} queries are not one contiguous run of the registry"
    )
    for name, spec in specs.items():
        assert callable(spec.fn), name
        assert spec.oracle is None or isinstance(spec.oracle, str), name
        assert spec.name == name


def test_staged_wave_is_live():
    assert_wave_live("staged")


def test_activation_did_not_shadow_live_queries(monkeypatch):
    """A second registration under a live name must raise, not
    silently replace (shadow) the first definition.  ``query()``
    registers into a copy of the registry here; monkeypatch restores
    the original."""
    import clickbom_spark.queries as Q

    monkeypatch.setattr(Q, "REGISTRY", dict(REGISTRY))
    name = "q__duplicate_registration_probe"
    query(name, oracle="SELECT 1 AS x")(lambda spark, sf_dir: None)
    with pytest.raises(ValueError, match=name):
        query(name)(lambda spark, sf_dir: None)
    with pytest.raises(ValueError, match="q1_pricing_summary"):
        query("q1_pricing_summary")(lambda spark, sf_dir: None)
    assert Q.REGISTRY["q1_pricing_summary"] is REGISTRY["q1_pricing_summary"]
    assert name in Q.REGISTRY and name not in REGISTRY


def test_registry_size_and_module_counts():
    got = collections.Counter(
        spec.fn.__module__.rsplit(".", 1)[-1] for spec in REGISTRY.values()
    )
    assert dict(got) == MODULE_COUNTS
    assert len(REGISTRY) == 391


def test_every_query_has_oracle():
    assert not [n for n, s in REGISTRY.items() if s.oracle is None]


def test_query_catalog_is_in_sync():
    """docs/QUERIES.md is what scripts/gen_query_catalog.py renders from
    the registry: a changed description must come with a regenerated
    catalog."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "gen_query_catalog",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "gen_query_catalog.py",
        ),
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with open(gen.CATALOG) as f:
        assert f.read() == gen.render()


def test_quantile_sketch_query_reports_tight_bounds(spark):
    """The sketch query's invariant columns (oracle-asserted as
    constants) must actually hold: weight conservation and rank error
    within the KLL guarantee band at k=256."""
    rows = REGISTRY["q_quantile_sketch"].fn(spark, SF_CORRECT).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["weight_conserved"] is True
        assert r["rank_within_bound"] is True, r["prob"]
