"""Empty-input behavior of the round-5 operators: a filter that
matches nothing must flow through every operator without crashing and
with the mathematically right degenerate answer."""

from __future__ import annotations

import math

from pyspark.sql import functions as F
import pytest


def _empty(spark, schema: str):
    return spark.createDataFrame([], schema)


@pytest.mark.slow
def test_heavy_hitters_empty(spark):
    from clickbom_spark.ext.sketches import (
        heavy_hitters,
        heavy_hitters_by,
        heavy_hitters_weighted,
    )

    e = _empty(spark, "v string, w long, g string")
    assert heavy_hitters(e, "v", k=4).count() == 0
    assert heavy_hitters_weighted(e, "v", "w", k=4).count() == 0
    assert heavy_hitters_by(e, "v", ["g"], k=4).count() == 0


def test_quantile_sketch_empty(spark):
    from clickbom_spark.ext.sketches import (
        approx_quantiles_from_sketch,
        quantile_sketch,
    )

    sk = quantile_sketch(_empty(spark, "x double"), "x")
    assert sk.count() == 0
    (est,) = approx_quantiles_from_sketch(sk, [0.5])
    assert math.isnan(est)


def test_hll_empty_estimates_zero(spark):
    from clickbom_spark.ext.sketches import (
        hll_distinct_by,
        hll_estimate,
        hll_registers,
    )

    regs = hll_registers(_empty(spark, "v long"), "v", p=8)
    assert regs.count() == 256
    est = hll_estimate(regs, p=8).collect()[0]["est_hll"]
    assert est == 0.0  # linear counting with all buckets empty
    assert hll_distinct_by(
        _empty(spark, "v long, g string"), "v", ["g"]
    ).count() == 0


def test_sequence_ops_empty_and_no_matching_levels(spark):
    from clickbom_spark.ext.sequences import (
        sequence_count,
        window_funnel_level,
    )

    e = _empty(spark, "user_id long, t long, event_id long, l int")
    assert window_funnel_level(
        e, ["user_id"], F.col("t"), F.col("event_id"), F.col("l"), 3, 100
    ).count() == 0
    df = spark.createDataFrame([("",), ("xyz",)], "seq string")
    got = df.select(sequence_count(F.col("seq"), ["v", "c"]).alias("c")).collect()
    assert [r["c"] for r in got] == [0, 0]


def test_weighted_quantiles_and_auc_empty(spark):
    from clickbom_spark.ext.learn import exact_auc
    from clickbom_spark.ext.ranks import exact_weighted_quantiles

    wq = exact_weighted_quantiles(
        _empty(spark, "v double, w long"), "v", "w", [0.5]
    ).collect()[0]
    assert wq["q50"] is None
    auc = exact_auc(
        _empty(spark, "score double, y double"), "score", "y"
    ).collect()[0]
    assert auc["n_pos"] == 0 and auc["n_neg"] == 0
    # 0/0 — no defined AUC; must be NaN/None, never a fabricated number
    assert auc["auc"] is None or math.isnan(auc["auc"])


def test_triangle_count_empty_and_single_edge(spark):
    from clickbom_spark.ext.graph import triangle_count

    empty_row = triangle_count(_empty(spark, "u long, v long")).collect()[0]
    # the full row must stay (0, 0, 0): sum(d) over an empty degree
    # frame is NULL and must not propagate into n_edges
    assert (
        empty_row["n_nodes"],
        empty_row["n_edges"],
        empty_row["n_triangles"],
    ) == (0, 0, 0)
    one = spark.createDataFrame([(1, 2)], "u long, v long")
    row = triangle_count(one).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (2, 1, 0)


def test_gd_training_empty_raises_cleanly(spark):
    """Training on zero rows cannot produce a model — the gradient
    mean is undefined; assert the failure is a clean ZeroDivision-like
    signal, not a silent NaN model."""
    from clickbom_spark.ext.learn import logreg_train_gd

    import pytest

    e = _empty(spark, "y double, x0 double")
    with pytest.raises(ValueError, match="empty feature frame"):
        logreg_train_gd(e, ["x0"], "y", epochs=1)


@pytest.mark.slow
def test_round6_ops_empty(spark, tmp_path):
    """Round-6 operators on empty inputs: edit-distance join,
    incremental minhash with an empty batch, CDC merge with an empty
    batch, and streaming admission of an empty batch."""
    from clickbom_spark.ext.dedup import (
        edit_distance_pairs,
        incremental_minhash_pairs,
        minhash_band_postings,
    )
    from clickbom_spark.ext.manifest import VersionedLake
    from clickbom_spark.ext.streaming_dedup import (
        admit_batch,
        create_dedup_state,
    )

    assert edit_distance_pairs(_empty(spark, "s string"), "s").count() == 0

    docs = _empty(spark, "doc_id long, text string")
    idx = minhash_band_postings(docs)
    pairs, updated = incremental_minhash_pairs(idx, docs, docs)
    assert pairs.count() == 0 and updated.count() == 0

    base = spark.createDataFrame(
        [(1, 0, 1.0)], "id long, grp long, val double"
    )
    lake = VersionedLake.create(spark, str(tmp_path / "l"), base, n_files=1)
    v = lake.current_version()
    lake.merge_cdc(
        _empty(spark, "id long, grp long, val double, op string"), ["id"]
    )
    # an empty CDC batch still commits (a no-op snapshot), state unchanged
    assert lake.read().count() == 1
    assert lake.current_version() == v + 1

    template = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    corpus, index = create_dedup_state(
        spark, str(tmp_path / "c"), str(tmp_path / "i"), template
    )
    admitted = admit_batch(corpus, index, _empty(spark, "doc_id long, text string"))
    assert admitted.count() == 0


def test_hard_negatives_empty_and_single_label(spark):
    """No opposite-label vectors → no negatives (not a crash)."""
    from clickbom_spark.ext.similarity import hard_negative_topk

    one_label = spark.createDataFrame(
        [(1, [1.0, 0.0], 7), (2, [0.0, 1.0], 7)],
        "vec_id long, embedding array<double>, label int",
    )
    assert hard_negative_topk(one_label, one_label, k=3).count() == 0
    e = _empty(spark, "vec_id long, embedding array<double>, label int")
    assert hard_negative_topk(e, e, k=3).count() == 0


def test_r8_rank_ops_empty(spark):
    from clickbom_spark.ext.ranks import (
        exact_weighted_quantiles_by_group,
        ks_2sample,
        mann_whitney_u,
    )

    e = _empty(spark, "x double, side int, g string, w long")
    ks = ks_2sample(e, "x", F.col("side") == 1).collect()[0]
    assert ks["d_stat"] is None  # max over zero rows
    mw = mann_whitney_u(e, "x", F.col("side") == 1).collect()[0]
    assert mw["n_a"] is None or mw["n_a"] == 0  # sum over zero rows
    q = exact_weighted_quantiles_by_group(e, "g", "x", "w", [0.5])
    assert q.count() == 0  # no groups, no rows


def test_r8_containment_and_bfs_empty(spark):
    from clickbom_spark.ext.dedup import containment_join_prefix
    from clickbom_spark.ext.graph import bfs_distances

    docs = _empty(spark, "doc_id long, w array<string>")
    assert containment_join_prefix(docs, "doc_id", "w", 0.8).count() == 0
    edges = _empty(spark, "src long, dst long")
    seeds = spark.createDataFrame([(7,)], "node long")
    got = {r["node"]: r["hop"] for r in bfs_distances(edges, seeds).collect()}
    assert got == {7: 0}  # seed is reachable at distance 0, nothing else


def test_branch_of_empty_lake_and_empty_merge(spark, tmp_path):
    """Branching an empty table and merging a no-op branch must both be
    clean metadata operations."""
    from clickbom_spark.ext.manifest import (
        VersionedLake,
        branch,
        merge_branch,
    )

    lake = VersionedLake.create(
        spark, str(tmp_path / "e"), _empty(spark, "id long, v double"),
        n_files=1,
    )
    br = branch(lake, str(tmp_path / "eb"))
    assert br.read().count() == 0
    v0 = lake.current_version()
    merge_branch(lake, br, ["id"])  # empty CDF -> no-op CDC commit
    assert lake.read().count() == 0
    assert lake.current_version() == v0 + 1  # the commit still lands


def test_window_funnel_pair_modes_empty_and_level0_only(spark):
    """Round-11 pair-state modes: empty frames yield no rows; users
    with ONLY non-matching (level-0) events yield no rows either —
    the same contract the oracle's WHERE l > 0 encodes."""
    from clickbom_spark.ext.sequences import window_funnel_level

    e = _empty(spark, "user_id long, t long, event_id long, l int")
    for mode in ("strict_deduplication", "strict_increase"):
        assert window_funnel_level(
            e, ["user_id"], F.col("t"), F.col("event_id"), F.col("l"),
            3, 100, mode=mode,
        ).count() == 0
    only0 = spark.createDataFrame(
        [(1, 10, 1, 0), (1, 20, 2, 0)],
        "user_id long, t long, event_id long, l int",
    )
    for mode in ("strict_deduplication", "strict_increase"):
        assert window_funnel_level(
            only0, ["user_id"], F.col("t"), F.col("event_id"),
            F.col("l"), 3, 100, mode=mode,
        ).count() == 0


def test_with_fill_empty_base_without_bounds(spark, tmp_path):
    from tests.conftest import SF_SMOKE
    """WITH FILL over an empty result with IMPLICIT bounds has no
    spine to synthesize — the compiled path must return the empty
    frame, not crash on NULL min/max."""
    from clickbom_spark.dialect import run_clickhouse_sql

    df = run_clickhouse_sql(
        spark,
        "SELECT s_nationkey AS nk, count() AS n FROM supplier "
        "WHERE s_nationkey < -1 GROUP BY nk ORDER BY nk WITH FILL",
        SF_SMOKE,
    )
    assert df.count() == 0
    # explicit bounds still generate the dense spine of defaults
    df2 = run_clickhouse_sql(
        spark,
        "SELECT s_nationkey AS nk, count() AS n FROM supplier "
        "WHERE s_nationkey < -1 GROUP BY nk "
        "ORDER BY nk WITH FILL FROM 0 TO 5",
        SF_SMOKE,
    )
    rows = df2.collect()
    assert [r.nk for r in rows] == [0, 1, 2, 3, 4]
    assert all(r.n == 0 for r in rows)


def test_with_ties_empty_body(spark):
    """LIMIT n WITH TIES over an empty body: the cutoff subquery is
    NULL — both null-placement arms must return empty, not everything
    or an error."""
    from clickbom_spark.dialect import translate_clickhouse_sql

    spark.sql(
        "SELECT * FROM VALUES (1) AS t(x) WHERE x < 0"
    ).createOrReplaceTempView("wte_t")
    for order in ("x", "x DESC"):
        got = spark.sql(
            translate_clickhouse_sql(
                f"SELECT x FROM wte_t ORDER BY {order} LIMIT 3 WITH TIES"
            )
        ).collect()
        assert got == []


def test_r11_text_stats_empty_text(spark):
    """TTR / Good-Turing / redundancy on documents whose text is NULL
    or has fewer than 3 tokens: no crash, mathematically-right zeros."""
    from clickbom_spark.queries import REGISTRY

    tiny = spark.createDataFrame(
        [(1, "srcA", "en", None, 0), (2, "srcA", "en", "one two", 7),
         (3, "srcB", "en", "a", 1)],
        "doc_id long, source string, lang string, text string, n_chars int",
    )
    tiny.createOrReplaceTempView("documents")
    import clickbom_spark.session as sess

    orig = sess.read_table
    try:
        sess.read_table = lambda sp, d, t: sp.table("documents")
        red = REGISTRY["q_ngram_redundancy"].fn(spark, "ignored")
        assert red.count() == 0  # no doc reaches 3 tokens -> no shingles
        ttr = {
            r.source: r for r in
            REGISTRY["q_ttr_stats"].fn(spark, "ignored").collect()
        }
        assert ttr["srcA"].tokens == 2 and ttr["srcA"].ttr == 1.0
        assert ttr["srcB"].hapax == 1
    finally:
        sess.read_table = orig
