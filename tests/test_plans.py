"""Physical-plan assertions: the plans we designed for must be the
plans Catalyst actually produces.  These tests freeze the scale-
relevant properties — pushdown, pruning, join strategy, top-k operator,
codegen — so a regression in plan shape fails CI even while results
stay correct."""

from __future__ import annotations

import pytest

from clickbom_spark.queries import REGISTRY
from tests.conftest import SF_CORRECT


def plan_of(spark, name: str, collect: bool = False) -> str:
    df = REGISTRY[name].fn(spark, SF_CORRECT)
    if collect:
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_pushed_to_scan(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    # the selective predicates must reach the parquet reader, not sit
    # in a post-scan Filter only
    pushed = [ln for ln in plan.split("\n") if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed or "GreaterThan" in pushed, pushed


def test_q6_column_pruning(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    # q6 needs only 4 of lineitem's 11 columns; a full-width scan is a bug
    scan = [ln for ln in plan.split("\n") if "FileScan parquet" in ln][0]
    cols = scan.split("[", 1)[1].split("]", 1)[0].split(",")
    assert len(cols) <= 4, scan


def test_q5_join_strategy_is_aqe_chosen(spark):
    """customer/supplier grow with SF, so q5 must NOT hard-hint them as
    broadcast — AQE's runtime size check picks BHJ when a side is
    actually small (as it is at test scale) and falls back to SMJ at
    100 TB.  Bounded dims (nation, filtered region) keep their hints."""
    df = REGISTRY["q5_region_revenue"].fn(spark, SF_CORRECT)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # AQE recovered broadcast at small SF
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_hard_broadcast_of_sf_growing_tables():
    """Static guard: no query source may wrap customer/supplier/part (or
    frames loaded from them pre-aggregation) in a hard F.broadcast()
    hint — a hard hint bypasses AQE's size check and OOMs the driver at
    scale.  Hints are reserved for bounded relations (nation, region,
    literal frames, 1-row / post-aggregation reductions)."""
    import re
    from pathlib import Path

    qdir = Path(__file__).resolve().parent.parent / "clickbom_spark"
    offenders = []
    pat = re.compile(
        r"F\.broadcast\(\s*(cust|customer|supp|supplier|part)\b(?!_)"
    )
    for py in qdir.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if pat.search(line):
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_q10_uses_topk_operator(spark):
    plan = plan_of(spark, "q10_returned_item_customers")
    assert "TakeOrderedAndProject" in plan, (
        "orderBy().limit() must compile to the top-k operator, "
        "not a global sort"
    )


def test_q1_single_agg_exchange(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # partial agg -> one shuffle -> final agg (plus at most a sort
    # exchange for the orderBy)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_minhash_no_cross_product(spark):
    plan = plan_of(spark, "q_minhash_lsh_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_active(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_CORRECT)
    df.collect()  # finalize the AQE plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages appear as "*(n)" operator prefixes in the final plan
    assert "*(" in plan, plan


@pytest.mark.parametrize(
    "name",
    ["q_rp_lsh_ann", "q_embedding_neardup_lsh", "q_simhash_pairs"],
)
def test_lsh_paths_join_on_derived_keys(spark, name):
    """Every approximate-similarity path must generate candidates via
    equi-joins (hash-partitionable), never a nested-loop scan."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q18_semi_join_reduction(spark):
    """Q18's large-order filter must be a semi-join against the
    HAVING-filtered aggregate (small set), not a rejoin of two full
    fact scans followed by a late filter."""
    plan = plan_of(spark, "q18_large_orders")
    assert "LeftSemi" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q19_single_join_disjunction(spark):
    """Q19's three-branch OR predicate must evaluate inside ONE join of
    lineitem with part — not a union of three separate scans."""
    plan = plan_of(spark, "q19_disjunctive_revenue")
    assert plan.count("FileScan parquet") == 2, plan
    assert "Union" not in plan, plan


def test_q21_no_correlated_subplans(spark):
    """Q21's EXISTS/NOT-EXISTS semantics are decorrelated into aggregate
    joins: no nested-loop joins, and lineitem is scanned at most twice
    (once per aggregate level), never per-row."""
    plan = plan_of(spark, "q21_sole_latest_shipper")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    lineitem_scans = [ln for ln in scans if "lineitem" in ln]
    assert len(lineitem_scans) <= 2, plan


def test_q16_pruned_dimension_scan(spark):
    """Q16's part-side predicates (brand != / size <=) must be pushed
    into the part scan feeding the broadcast."""
    plan = plan_of(spark, "q16_supplier_part_counts")
    pushed = [ln for ln in plan.split("\n") if "PushedFilters" in ln and "p_size" in ln]
    assert pushed, plan


def test_skewed_theta_join_is_bucketed_equi(spark):
    """The skew-hardened interval self-join must be an equi-join on
    (user_id, time bucket) with the range predicate as a residual —
    never a nested-loop over the hot key."""
    plan = plan_of(spark, "q_theta_join_skewed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_bkt" in plan  # the time bucket is part of the join key


def test_decontaminate_is_equi_join_on_shingle(spark):
    plan = plan_of(spark, "q_decontaminate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_redaction_no_shuffle_before_agg(spark):
    """The scrub itself is a pure row-map: the plan's exchanges are only
    the aggregation machinery — distinct-agg on (source, digest), final
    agg on source, output-order range partitioning — never a shuffle of
    the raw/redacted text itself."""
    plan = plan_of(spark, "q_pii_redaction")
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 3, plan
    # the pre-aggregation map stage carries no exchange below the first
    # hashpartitioning (scan feeds the partial agg directly)
    below = plan.split("Exchange hashpartitioning")[-1]
    assert "Exchange" not in below, below


def test_argmax_is_single_shuffle_partial_agg(spark):
    """argMax-style keep-latest must compile to partial aggregation +
    ONE shuffle — the scale rationale for max_by over a row_number
    window (which would sort-shuffle every raw row)."""
    plan = plan_of(spark, "q_argmax_latest")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_max" in plan or "HashAggregate" in plan, plan
    assert "Window" not in plan


def test_gapfill_spine_join_is_broadcast(spark):
    """The calendar-spine gap-fill must broadcast the pre-aggregated
    daily counts (post-aggregation cardinality == spine size) and keep
    the only nested-loop where it is provably tiny: the 1-row span ×
    distinct-types cross."""
    plan = plan_of(spark, "q_gapfill_daily")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_time_rollup_single_pass(spark):
    """ROLLUP(type, month, day) must compute every granularity in one
    Expand + aggregation, not one scan per level."""
    plan = plan_of(spark, "q_time_rollup_hierarchy")
    assert plan.count("FileScan parquet") == 1, plan
    assert "Expand" in plan


def test_sql_surface_same_optimizer(spark):
    """SQL text entering via spark.sql must get the same physical
    treatment as DataFrame plans: filter pushed to the parquet scan,
    window top-k partition-local, no cartesian products."""
    plan = plan_of(spark, "q_sql_top_orders_month")
    assert "PushedFilters: [" in plan
    pushed = [ln for ln in plan.split("\n") if "PushedFilters" in ln][0]
    assert "o_orderdate" in pushed, pushed
    assert "CartesianProduct" not in plan


def test_segment_overlap_is_equi_join(spark):
    plan = plan_of(spark, "q_segment_overlap")
    # distinct-pair self-join must be an equi join on user_id with the
    # type inequality as a residual — never a cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_topk_operator(spark):
    plan = plan_of(spark, "q_bigram_counts")
    assert "TakeOrderedAndProject" in plan, (
        "top-20 bigrams must compile to the top-k operator, not a global sort"
    )


def test_mixture_resample_broadcasts_rates(spark):
    plan = plan_of(spark, "q_mixture_resample")
    # per-language rates (tiny post-agg frame) must broadcast back onto
    # the corpus scan — a shuffle join here would re-shuffle the corpus
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_packing_slims_before_python(spark):
    plan = plan_of(spark, "q_sequence_packing")
    # only (shard cols, order, tokens) may cross into the Python worker:
    # the text column must be projected away before the Arrow exchange
    import re

    m = re.search(r"FlatMapGroupsInPandas.*", plan)
    assert m is not None
    assert "text" not in m.group(0)


def test_pagerank_broadcasts_rank_vector(spark):
    # pagerank returns its checkpoint (a truncated plan), so read the
    # plan its materializing execution ran from the SQL status store;
    # the gate-off side (threshold -1 or below the estimate) is pinned
    # in tests/test_graph.py
    from pyspark.sql import functions as F

    from clickbom_spark.ext.graph import pagerank
    from clickbom_spark.session import read_table
    from tests.test_graph import sql_plans

    li = read_table(spark, SF_CORRECT, "lineitem")
    p = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    edges = li.select(p.alias("src"), s.alias("dst")).union(
        li.select(s.alias("src"), p.alias("dst"))
    )
    _, plans = sql_plans(spark, lambda: pagerank(edges, iterations=2))
    assert len(plans) == 1, plans
    assert "BroadcastHashJoin" in plans[0]
    assert "CartesianProduct" not in plans[0]


def test_dpp_subquery_on_partitioned_scan(spark):
    plan = plan_of(spark, "q_dynamic_partition_pruning")
    # the fact scan's partition filter must be runtime-derived
    assert "dynamicpruning" in plan.lower(), plan[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "q_histogram_equi_height",
        "q_gini_concentration",
        "q_shuffle_order",
        "q_percent_rank_suppliers",
    ],
)
def test_rank_queries_have_no_full_table_global_window(spark, name):
    """The exact-rank queries must rank via the distributed bucketed
    plan: the table-sized window is partitioned by the value bucket
    (_bkt); no NTILE and no row_number over an unpartitioned window of
    the base relation.  (The only permitted unpartitioned window is the
    cumulative offset over the per-bucket count frame — O(buckets)
    rows.)"""
    plan = plan_of(spark, name)
    assert "ntile(" not in plan, plan
    # the partition-local row_number must be keyed by the value bucket
    rn_lines = [ln for ln in plan.split("\n") if "row_number()" in ln]
    assert rn_lines, plan
    assert all("_bkt" in ln for ln in rn_lines), rn_lines


def test_resize_media_single_corpus_scan(spark):
    """The codec gate must not cost a plan-build pass over the corpus:
    with formats declared, q_resize_media's plan scans the documents
    table exactly once."""
    plan = plan_of(spark, "q_resize_media")
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) == 1, plan


def test_bigram_lm_score_equi_joins_only(spark):
    """The LM train+score joins (bigram counts, unigram counts) must be
    equi-joins; the only nested-loop is the 1-row vocabulary-size
    scalar broadcast."""
    plan = plan_of(spark, "q_bigram_lm_score")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_bench_core13_names_are_bench_registry_entries():
    """bench.py's frozen core13 subset must remain a subset of the
    bench-flagged registry — a rename would silently zero core13_total."""
    import bench

    bench_set = {n for n, s in REGISTRY.items() if s.bench}
    missing = [n for n in bench.CORE13 if n not in bench_set]
    assert not missing, missing
    assert len(bench.CORE13) == 13


def test_gopher_repetition_single_scan_no_join(spark):
    """All nine Gopher repetition signals are per-doc expressions off
    ONE tokenization: the plan must scan documents exactly once and
    contain no join (a positions-join formulation would shuffle ~9x
    the token count; the oracle does that, the engine must not)."""
    plan = plan_of(spark, "q_gopher_repetition")
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) == 1, plan
    assert "Join" not in plan, plan


def test_substring_dedup_equi_join_no_global_window(spark):
    """Substring dedup must stay a postings equi-join (hash on the
    window digest) plus a PER-DOC islands window — never a cross
    product, never an unpartitioned window over the postings."""
    plan = plan_of(spark, "q_substring_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # islands = lag + running-sum windows, both PARTITIONED BY doc_id
    # (an unpartitioned window over the postings would serialize)
    win_lines = [
        ln for ln in plan.split("\n")
        if "lag(" in ln or ("windowspecdefinition" in ln.lower())
    ]
    assert win_lines, plan
    assert all("doc_id" in ln for ln in win_lines), win_lines


def test_semdedup_pairwise_is_equi_join_on_cluster(spark):
    """SemDeDup's pairwise stage must be an equi-join on list_id (per-
    cluster-bounded cost); the only nested-loop joins are the k-row
    centroid broadcasts.  No global cross product may ever form."""
    plan = plan_of(spark, "q_semdedup")
    assert "CartesianProduct" not in plan
    for ln in plan.split("\n"):
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln:
            # pairwise stage keys on list_id; the prior-max merge-back
            # keys on the vector id — both equi, nothing else allowed
            assert "list_id" in ln or "[id#" in ln, ln


def test_bm25_uses_topk_operator_no_global_window(spark):
    """BM25's global top-K must compile to TakeOrderedAndProject (no
    full sort, no unpartitioned window), and the df/avgdl joins must
    not introduce a cross product beyond the scalar broadcasts."""
    plan = plan_of(spark, "q_bm25_search")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, plan


def test_dsir_topk_operator_and_equi_joins(spark):
    """DSIR selection is a TakeOrderedAndProject over per-doc scores;
    the two LM count joins are equi-joins on the token (the only
    nested-loops are the 1-row scalar broadcasts)."""
    plan = plan_of(spark, "q_dsir_resample")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, plan


def test_runtime_bloom_filter_join_pruning_available(spark):
    """Catalyst's runtime Bloom-filter join pruning (InjectRuntimeFilter)
    must fire on the selective-dimension ⋈ fact shape when the scan-size
    thresholds allow: the fact side gets a might_contain() filter fed by
    a bloom aggregate over the selective side — at 100 TB this prunes
    fact rows BEFORE the join shuffle.  Default thresholds (10 GB
    application side) keep it off at test scale, so the test lowers
    them for its own query only and restores the session confs."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
        sel = orders.where(F.col("o_orderpriority") == "1-URGENT").where(
            F.col("o_totalprice") > 150000
        )
        j = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy()
            .agg(F.sum("l_quantity"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# ---- plan shapes for queries/staged.py ----


def test_triangle_count_no_cartesian_wedge(spark):
    """The wedge-close must be hash equi-joins; the only cross joins
    allowed are the three 1-row count frames at the very top."""
    plan = plan_of(spark, "q_triangle_count", collect=True)
    assert "CartesianProduct" not in plan.replace(
        "CartesianProduct", "", 3
    ), plan  # > 3 cross joins means the wedge join degenerated
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_heavy_hitters_candidate_join_is_broadcast(spark):
    """The recount pass must broadcast the tiny candidate set (never
    shuffle the corpus against it)."""
    from clickbom_spark.ext.sketches import heavy_hitters
    from clickbom_spark.session import read_table

    events = read_table(spark, SF_CORRECT, "events")
    plan = (
        heavy_hitters(events, "event_type", k=6)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_hll_registers_single_aggregate_plus_broadcast_spine(spark):
    """Registers: one hash aggregate pair (partial+final) over the
    corpus and a broadcast spine join — no extra shuffles."""
    from clickbom_spark.ext.sketches import hll_registers
    from clickbom_spark.session import read_table

    orders = read_table(spark, SF_CORRECT, "orders")
    plan = (
        hll_registers(orders, "o_orderkey", p=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_sequence_and_funnel_single_aggregate_no_window(spark):
    """The automaton/funnel folds are per-key hash aggregates — no
    window operator, no join, no global sort."""
    for name in ("q_sequence_count", "q_window_funnel"):
        plan = plan_of(spark, name)
        body = plan.split("TakeOrderedAndProject")[-1]
        assert "Window" not in body, (name, plan)
        assert "Join" not in body, (name, plan)


def test_train_quality_lr_gradient_is_partial_aggregated(spark):
    """Each GD epoch must be a partial (map-side) + final aggregate —
    one row per partition crosses the wire, no shuffle of rows."""
    from clickbom_spark.ext.learn import logreg_train_gd
    from clickbom_spark.session import read_table
    from pyspark.sql import functions as F
    from clickbom_spark.ext.text import punct_ratio, token_count

    docs = read_table(spark, SF_CORRECT, "documents")
    feats = docs.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.lit(1.0).alias("x0"),
        (F.col("n_chars").cast("double") / 500.0).alias("x1"),
    )
    # capture the epoch aggregate's plan by building it the same way
    from clickbom_spark.ext.learn import dot, fast_sigmoid

    err = fast_sigmoid(dot([0.0, 0.0], ["x0", "x1"])) - F.col("y")
    agg = feats.agg(
        (
            F.sum(F.round(err * F.col("x0"), 9).cast("decimal(22,9)")).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("g0")
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "partial" in plan.lower(), plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_cow_probe_pushes_predicate_to_scan(spark, tmp_path):
    """The mutation probe's scan must push the predicate into the
    parquet reader (zone maps then skip non-matching row groups) —
    the property that makes COW cost scale with the mutation.  The
    probe has the shape of VersionedLake._rewrite_matching's: tag each
    row with its file, then filter."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "probe_lake")
    spark.range(1000).select(
        F.col("id"), (F.col("id") * 2.0).alias("val")
    ).repartitionByRange(4, "id").write.parquet(path)
    probe = (
        spark.read.parquet(path)
        .withColumn("_f", F.input_file_name())
        .where(F.col("id") < 50)
        .select("_f")
        .distinct()
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.split("\n") if "PushedFilters" in ln]
    assert pushed and ("LessThan" in pushed[0] or "id" in pushed[0]), plan


@pytest.mark.parametrize("name", ["q_weighted_quantiles", "q_model_auc"])
def test_prefix_sum_consumers_have_no_global_data_window(spark, name):
    """Weighted quantiles and AUC rank via the bucketed prefix sum:
    every running-sum window over data rows must be partitioned by the
    value bucket; the only unpartitioned window is the O(buckets)
    offsets frame."""
    plan = plan_of(spark, name)
    win_lines = [ln for ln in plan.split("\n") if "windowspecdefinition" in ln]
    assert win_lines, plan
    # windows lacking a _bkt partition key may only be the offsets
    # frame, which is fed by a SinglePartition exchange of the
    # per-bucket aggregate (bounded rows) — identified by _val
    for ln in win_lines:
        assert "_bkt" in ln or "_val" in ln, ln


def test_edit_distance_join_no_unbounded_cross_product(spark):
    """The long-string candidate path must be a hash equi-join on the
    exploded q-gram, never a cross product — the only cross join
    allowed is the alphabet-bounded broadcast short-string fallback."""
    plan = plan_of(spark, "q_edit_distance_join")
    # exactly the one broadcast nested loop from the short-string
    # bucket is tolerated; any more means the q-gram filter degenerated
    assert plan.count("CartesianProduct") == 0, plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan


def test_incremental_minhash_is_posting_equi_join(spark):
    """Candidate generation in the incremental dedup must equi-join the
    posting lists on (band, bucket) — no cross product anywhere."""
    plan = plan_of(spark, "q_incremental_minhash_dedup")
    assert "CartesianProduct" not in plan, plan


def test_time_weighted_avg_single_user_shuffle(spark):
    """One window over user + one hash aggregate: the plan must carry
    no more than two Exchanges (window partitioning + final orderBy
    range partitioning) over the events scan."""
    plan = plan_of(spark, "q_time_weighted_avg")
    # window partition + agg reuse the same hash partitioning; the
    # orderBy adds one range exchange
    assert plan.count("Exchange") <= 3, plan

def test_weighted_quantiles_by_group_no_per_group_data_window(spark):
    """Per-group weighted quantiles must window data rows by
    (group, value-bucket), never by group alone: with few heavy groups
    a group-partitioned running sum funnels each group through one
    task.  The only window without the bucket in its PARTITION spec is
    the O(groups x buckets) offsets frame (identified by _val)."""
    from clickbom_spark.queries import REGISTRY

    plan = REGISTRY["q_weighted_quantiles_by_group"].fn(
        spark, SF_CORRECT
    )._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.split("\n") if "windowspecdefinition" in ln]
    assert win_lines, plan
    for ln in win_lines:
        assert "_bkt" in ln or "_val" in ln, ln


def test_containment_join_is_posting_equi_join(spark):
    """Candidate generation must be a hash equi-join on the prefix
    token — never a cartesian product over the corpus."""
    plan = plan_of(spark, "q_containment_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan


def test_ks_test_no_global_data_window(spark):
    """The KS ECDFs must accumulate in bucket-partitioned windows; the
    only unpartitioned window is the O(buckets) offsets frame."""
    plan = plan_of(spark, "q_ks_test")
    win_lines = [ln for ln in plan.split("\n") if "windowspecdefinition" in ln]
    assert win_lines, plan
    for ln in win_lines:
        assert "_bkt" in ln or "_sa" in ln or "_sb" in ln, ln


def test_link_prediction_no_cartesian(spark):
    """Common-neighbor generation must be the wedge equi-join on the
    shared neighbor; the only tolerated nested loop is none."""
    plan = plan_of(spark, "q_link_prediction")
    assert "CartesianProduct" not in plan, plan


def test_anova_and_cuped_are_single_aggregate_plans(spark):
    """The statistics queries collapse to hash aggregates — no joins,
    no windows, no shuffle beyond the aggregate exchanges."""
    for name in ("q_anova_f", "q_cuped_ab"):
        plan = plan_of(spark, name)
        assert "windowspecdefinition" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_spearman_windows_are_group_partitioned(spark):
    """rankCorr's ranks must come from event_type-partitioned windows
    (parallel across groups); no unpartitioned global sort of the fact
    table, and the final reduce is a hash aggregate."""
    plan = plan_of(spark, "q_spearman_corr")
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert "event_type" in ln, ln


def test_bitmap_ops_intersection_is_equi_join(spark):
    """groupBitmapAnd candidate generation must be the hash equi-join
    on user_id; the only tolerated nested-loop is the 5x5 totals grid
    (constant-sized)."""
    plan = plan_of(spark, "q_bitmap_ops")
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan


def test_interval_union_single_user_partitioning(spark):
    """Gaps-and-islands must run entirely inside user_id partitions —
    both windows and the island aggregate reuse one shuffle; no global
    window."""
    plan = plan_of(spark, "q_interval_union_length")
    for ln in plan.split("\n"):
        if "windowspecdefinition" in ln:
            assert "user_id" in ln, ln


def test_max_intersections_sweep_is_type_partitioned(spark):
    plan = plan_of(spark, "q_max_intersections")
    for ln in plan.split("\n"):
        if "windowspecdefinition" in ln:
            assert "event_type" in ln, ln


def test_cramers_v_no_fact_table_window(spark):
    """The chi-square marginals run over the CELLS frame (r x c rows),
    never over the fact table: every window partitions by a cell
    coordinate, and the plan carries no per-row window on events."""
    plan = plan_of(spark, "q_cramers_v")
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert "event_type" in ln or " b#" in ln or "b#" in ln, ln


def test_geo_distance_is_scan_projection(spark):
    """greatCircleDistance is one narrow projection: no joins, no
    windows, no aggregates — scan-bound at scale."""
    plan = plan_of(spark, "q_geo_distance")
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_dialect_final_collapses_to_one_aggregate(spark):
    """FROM t FINAL must become ONE keep-latest hash aggregate on the
    engine key — not a window + filter over the whole table."""
    plan = plan_of(spark, "q_dialect_final")
    assert "max_by" in plan or "HashAggregate" in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_with_totals_is_single_pass_expand(spark):
    """The WITH TOTALS lowering must compute per-group rows and the
    totals row in ONE aggregation pass (Expand + HashAggregate), not a
    union of two scans."""
    plan = plan_of(spark, "q_dialect_with_totals")
    assert "Expand" in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_dialect_array_join_pushes_filter_to_scan(spark):
    """The translated ARRAY JOIN query's lang filter must reach the
    parquet scan as a pushed filter, not run post-explode."""
    plan = plan_of(spark, "q_dialect_array_join")
    assert "PushedFilters" in plan and "lang" in plan.split(
        "PushedFilters", 1)[1][:200], plan


def test_dialect_sample_is_filtered_scan(spark):
    """SAMPLE k must compile to a hash-threshold FILTER over one scan —
    no join, no window, no second pass."""
    plan = plan_of(spark, "q_dialect_sample")
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_multi_array_join_is_one_generator(spark):
    """Multi-array ARRAY JOIN (zip) must be ONE Generate over the
    inline(transform(...)) expression — never two explodes joined on
    position, never a cartesian."""
    plan = plan_of(spark, "q_dialect_multi_array_join")
    assert plan.count("Generate") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_aliasless_array_join_is_one_generator(spark):
    plan = plan_of(spark, "q_dialect_aliasless_array_join")
    assert plan.count("Generate") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_dialect_combo_window_is_group_partitioned(spark):
    """FINAL collapses via max_by aggregate; the LIMIT n BY window runs
    over the (already collapsed) frame partitioned by event_type."""
    plan = plan_of(spark, "q_dialect_combo")
    assert "max_by" in plan, plan
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert "event_type" in ln, ln


def test_bh_windows_never_touch_fact_rows(spark):
    """Benjamini-Hochberg's rank/count windows run over the per-nation
    AGGREGATE frame (<= nation-count rows at any SF) — the raw cents
    column must never appear in a window."""
    plan = plan_of(spark, "q_benjamini_hochberg")
    for ln in plan.split("\n"):
        if "windowspecdefinition" in ln:
            assert "cents" not in ln, ln


def test_multi_touch_windows_are_user_partitioned(spark):
    plan = plan_of(spark, "q_multi_touch_attribution")
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert "user_id" in ln, ln


def test_url_canonical_dedup_is_scan_aggregate(spark):
    """URL canonicalization is one scan -> narrow projection -> hash
    aggregate: no joins, no windows, no Python boundary."""
    plan = plan_of(spark, "q_url_canonical_dedup")
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_label_propagation_no_cartesian(spark):
    """LPA rounds are edge equi-joins + hash aggregates; nothing in the
    final frame's plan may be a nested-loop product."""
    plan = plan_of(spark, "q_label_propagation")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_asof_join_is_equi_join_with_partitioned_window(spark):
    """The compiled ASOF JOIN must be a keyed join (sort-merge or
    shuffled-hash on user_id), never a nested-loop product; its lead()
    window must be partitioned by the equality key."""
    plan = plan_of(spark, "q_dialect_asof_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert "user_id" in ln, ln


def test_dialect_retention_is_single_scan_two_aggregates(spark):
    """retention() compiles to gated max(CASE) aggregates: one scan,
    no joins, no windows."""
    plan = plan_of(spark, "q_dialect_retention")
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_dialect_combinators_single_pass(spark):
    """The -If combinator family is one scan -> one aggregate pass
    (plus the exact-median sort inside percentile): no joins, no
    windows, no second scan."""
    plan = plan_of(spark, "q_dialect_combinators")
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_kcore_no_cartesian(spark):
    """k-core rounds are degree aggregates + survivor equi-joins;
    nothing in the final frame may be a nested-loop product."""
    plan = plan_of(spark, "q_kcore_decomposition")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_kmv_merge_window_sits_on_sketch_not_data(spark):
    """The per-group rank windows must be partitioned by event_type;
    the ONLY unpartitioned window is the merge re-rank whose input is
    the unioned bottom-k sketch (<= k x groups rows by construction),
    i.e. it must sit above a rn <= k filter, never above the raw
    distinct-hash frame."""
    from clickbom_spark.queries.staged_r10 import _KMV_K

    plan = plan_of(spark, "q_kmv_distinct")
    assert "CartesianProduct" not in plan, plan
    # the merged frame is distinct-of-bottom-k: the plan must contain
    # the rn <= K filter BELOW the global window's exchange
    assert "rn#" in plan and f"<= {_KMV_K}" in plan, plan
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    unpart = [ln for ln in win_lines if "event_type" not in ln]
    # exactly one window family (rank + its count twin share a line
    # per column) may be unpartitioned: the sketch-merge re-rank
    assert len(unpart) <= 1, plan


def test_paragraph_dedup_one_generator_keyed_window(spark):
    """Chunking is ONE Generate (posexplode of the transform array);
    keep-first runs in a window PARTITIONED by the paragraph text."""
    plan = plan_of(spark, "q_paragraph_dedup")
    assert plan.count("Generate") == 1, plan
    assert "CartesianProduct" not in plan, plan
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert "para" in ln, ln


def test_token_budget_windows_are_source_partitioned(spark):
    plan = plan_of(spark, "q_domain_token_budget")
    assert "Join" not in plan, plan
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert "source" in ln, ln


def test_eval_metric_windows_are_user_partitioned(spark):
    """MRR and NDCG rank within per-user partitions — a global ranking
    would single-partition the fact table."""
    for name in ("q_mrr_eval", "q_ndcg_eval"):
        plan = plan_of(spark, name)
        win_lines = [
            ln for ln in plan.split("\n") if "windowspecdefinition" in ln
        ]
        assert win_lines, plan
        for ln in win_lines:
            assert "user_id" in ln, (name, ln)


def test_seasonal_window_sits_on_hourly_aggregate(spark):
    """The 25-point moving average runs over the HOURLY aggregate
    frame (calendar-bounded), never over raw event rows: no raw
    `value` column may appear inside a window line."""
    plan = plan_of(spark, "q_seasonal_decompose")
    for ln in plan.split("\n"):
        if "windowspecdefinition" in ln:
            assert "value#" not in ln, ln
    assert plan.count("Scan parquet") == 1, plan


def test_winsorized_mean_broadcasts_boundaries(spark):
    """Boundary extraction windows are nation-partitioned and the
    clamp join broadcasts the 25-row boundary side."""
    plan = plan_of(spark, "q_winsorized_mean")
    assert "BroadcastHashJoin" in plan, plan
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert "nation" in ln, ln


def test_bootstrap_windows_partitioned_and_single_generator(spark):
    """The Poisson bootstrap explode is ONE Generate feeding partial
    aggregation (B rows per partition cross the shuffle, never B data
    copies); the CI rank window is event_type-partitioned."""
    plan = plan_of(spark, "q_bootstrap_ci")
    assert plan.count("Generate") == 1, plan
    assert "CartesianProduct" not in plan, plan
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert "event_type" in ln, ln


# ---- queries/staged_r11.py: the plans the 100 TB designs claim ----


def test_dictget_rt_broadcasts_every_lookup(spark):
    """Each dictGet correlated subquery must come back as a BROADCAST
    join of the dictionary view — never a shuffle of the fact side."""
    plan = plan_of(spark, "q_dialect_dictget")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_with_ties_rt_is_top_k_not_window(spark):
    """Single-key WITH TIES compiles to the distributed cutoff: a
    TakeOrderedAndProject top-k feeding a filter, with NO window."""
    plan = plan_of(spark, "q_dialect_with_ties")
    assert "TakeOrderedAndProject" in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_with_fill_rt_single_scan_per_leg(spark):
    """The fill compiles to ONE full-outer join of the base against
    the generated spine (round-11 rewrite, ADVICE r10): the base is
    read exactly once and NOTHING is persisted — the old persist
    leaked cached partitions for the session lifetime."""
    plan = plan_of(spark, "q_dialect_with_fill_int")
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) == 1, plan
    assert "InMemoryTableScan" not in plan, plan
    assert "FullOuter" in plan, plan


def test_funnel_pair_modes_are_one_aggregate(spark):
    """The pair-state funnel folds are one hash aggregate per user —
    no window, no join, no per-event shuffle beyond the groupBy."""
    for name in ("q_window_funnel_dedup", "q_window_funnel_increase"):
        plan = plan_of(spark, name)
        assert "windowspecdefinition" not in plan, plan
        assert "Join" not in plan, plan
        assert plan.count("Exchange") <= 2, plan


def test_keyness_joins_are_broadcast_scalars(spark):
    """chi2 keyness: the focus-source and totals frames are 1-row
    broadcasts; candidate generation never goes cartesian-wide."""
    plan = plan_of(spark, "q_chi2_keyness")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan, plan  # top-10 is top-k


def test_ngram_redundancy_is_postings_not_pairs(spark):
    """Redundancy counts flow through (source, shingle) postings —
    one generator, hash aggregates, never a document-pair join."""
    plan = plan_of(spark, "q_ngram_redundancy")
    assert plan.count("Generate") == 1, plan
    assert "Join" not in plan, plan


def test_reservoir_window_is_group_partitioned(spark):
    plan = plan_of(spark, "q_reservoir_group_sample")
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert "source" in ln and "lang" in ln, ln


def test_stratified_sample_broadcasts_strata_counts(spark):
    plan = plan_of(spark, "q_stratified_equal_alloc")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_quantiles_by_group_windows_never_partition_by_group_alone(spark):
    """The DATA-ROW window (the one ordering by the value column) must
    partition by (group, bucket) — a group-only partition funnels a
    heavy group through one task.  The tiny offsets-frame windows
    don't touch the value column, so anchoring on it pins the right
    window."""
    plan = plan_of(spark, "q_quantiles_weighted_by_group")
    data_wins = [
        ln
        for ln in plan.split("\n")
        if "windowspecdefinition" in ln and "l_extendedprice" in ln
    ]
    assert data_wins, plan
    for ln in data_wins:
        assert "_bkt" in ln, ln


# ---------------------------------------------------------------------------
# queries/staged_r13.py: scale-shape guards (same lens as the r11/r12
# guards above — no cartesian candidate generation, windows only over
# bounded frames, single-scan aggregates where the op allows it).
# ---------------------------------------------------------------------------


def test_state_merge_rt_is_pure_aggregation(spark):
    """The -State/-Merge round-trip is two aggregation levels over
    ONE scan — no join, no window; Spark's partial aggregation IS
    the state algebra."""
    plan = plan_of(spark, "q_dialect_state_merge")
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) == 1, plan
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_fill_interpolate_single_scan_carry(spark):
    """INTERPOLATE keeps the round-11 fill shape: ONE base scan into
    a full-outer spine join, nothing persisted, plus exactly one
    window (the last-real-row carry)."""
    plan = plan_of(spark, "q_dialect_fill_interpolate")
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) == 1, plan
    assert "FullOuter" in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    assert plan.count("windowspecdefinition") == 1, plan


def test_hierarchy_lookups_broadcast(spark):
    """Every hierarchical dictionary traversal must come back as a
    broadcast of the (dictionary-sized) closure views — never a
    shuffle of the fact side, never a cartesian recursion."""
    plan = plan_of(spark, "q_dialect_hierarchy")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ties_paging_windows_not_cartesian(spark):
    """The comma-offset WITH TIES path is the rank + row_number
    window pair over one scan — no cutoff-subquery join tree and no
    cartesian."""
    plan = plan_of(spark, "q_dialect_ties_paging")
    assert "windowspecdefinition" in plan, plan
    assert "CartesianProduct" not in plan, plan
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) == 1, plan


def test_ewma_scatter_bounds_scans(spark):
    """The EWMA scatter form costs TWO passes over the daily
    aggregate (contributions + observed-day join) — a lag-per-tap
    self-join chain would scan events once per tap."""
    plan = plan_of(spark, "q_ewma_daily")
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) <= 2, plan
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_shingle_novelty_is_postings_join(spark):
    """Novelty flows through (shingle → first_doc) postings — ONE
    generator (the per-doc-distinct explode feeding the first-seen
    aggregate; per-doc shingle counts are a map-side size()), hash
    aggregates, and a doc-keyed join of two narrow per-doc frames;
    never a document pair product and never a second explode of the
    posting list."""
    plan = plan_of(spark, "q_shingle_novelty")
    assert plan.count("Generate") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_token_pmi_candidates_bounded(spark):
    """PMI pair generation joins the top-k word postings on doc_id
    (k is a literal driver-pinned frame): equality join plus at most
    the 1-row N broadcast — no cartesian vocabulary product."""
    plan = plan_of(spark, "q_token_pmi")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_pareto_windows_over_distinct_values(spark):
    """The Pareto crossing runs windows over DISTINCT activity
    values — bounded by value cardinality — never a global
    per-user ranking window."""
    plan = plan_of(spark, "q_pareto_coverage")
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    assert all("user_id" not in ln for ln in win_lines), plan
    assert "CartesianProduct" not in plan, plan


def test_markov_window_is_user_partitioned(spark):
    """The transition-pair lag window must be PARTITIONED by user —
    an unpartitioned event ordering would serialize the corpus."""
    import re

    plan = plan_of(spark, "q_event_markov_matrix")
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    # user_id must be a PARTITION column (followed by a comma in the
    # spec), not merely an ORDER column (followed by ASC/DESC) — a
    # substring check alone is vacuous (the r10 plan-guard lesson)
    lag_lines = [ln for ln in win_lines if "lag(" in ln]
    assert lag_lines, plan
    for ln in lag_lines:
        assert re.search(
            r"windowspecdefinition\(user_id#\d+L?,", ln
        ), ln
    # the only other window is the row-total sum over the transition
    # AGGREGATE (≤ |event_type|² rows), partitioned by prev — never a
    # window over raw event rows
    for ln in win_lines:
        if ln in lag_lines:
            continue
        assert re.search(r"windowspecdefinition\(prev#\d+", ln), ln


def test_embedding_norms_jvm_only_single_scan(spark):
    """The norm quantization is a built-in array fold — no Python
    UDF boundary, one scan of embeddings."""
    plan = plan_of(spark, "q_embedding_norms")
    assert "BatchEvalPython" not in plan, plan
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) == 1, plan


# ---------------------------------------------------------------------------
# queries/staged_r14.py: scale-shape guards.
# ---------------------------------------------------------------------------


def test_hier_where_filter_broadcasts(spark):
    """dictIsIn in WHERE must broadcast the chain closure against
    the fact scan — a subtree filter, not a recursive join."""
    plan = plan_of(spark, "q_dialect_hier_where")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_abc_window_over_buckets_not_parts(spark):
    """The ABC cumulative runs over the fixed 1000-bucket grid —
    never a ranking window over individual parts."""
    plan = plan_of(spark, "q_abc_classification")
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    assert all("l_partkey" not in ln for ln in win_lines), plan
    assert "CartesianProduct" not in plan, plan


def test_centroid_shift_jvm_only(spark):
    """The centroid statistics are built-in posexplode + hash
    aggregates — no Python UDF boundary; the postings generator
    appears once per consumer (per-label + global), never more."""
    plan = plan_of(spark, "q_embedding_centroid_shift")
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Generate") <= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_top_bigrams_window_partitioned_by_source(spark):
    import re

    plan = plan_of(spark, "q_top_bigrams")
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert re.search(r"windowspecdefinition\(source#\d+,", ln), ln


def test_interarrival_window_partitioned_by_user(spark):
    import re

    plan = plan_of(spark, "q_interarrival_cv")
    win_lines = [
        ln for ln in plan.split("\n") if "windowspecdefinition" in ln
    ]
    assert win_lines, plan
    for ln in win_lines:
        assert re.search(r"windowspecdefinition\(user_id#\d+L?,", ln), ln


def test_log2_histogram_single_scan_no_libm_udf(spark):
    """The log2 bucketing is string/integer ops over one scan; the
    only nested-loop is the 1-row total broadcast."""
    plan = plan_of(spark, "q_price_log2_histogram")
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) <= 2, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_quantile_gk_is_single_scan_aggregate(spark):
    """quantileGK compiles to percentile_approx — one hash-aggregate
    pass over ONE fact scan, no joins, no window, no Python."""
    plan = plan_of(spark, "q_dialect_quantile_gk")
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_snowflake_ids_is_single_scan_aggregate(spark):
    """The snowflake-ID round-trip is map-local bit arithmetic under
    a plain min/max hash aggregate — one scan, no joins, no Python."""
    plan = plan_of(spark, "q_dialect_snowflake_ids")
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Join" not in plan, plan


def test_neg_substrings_is_single_scan_aggregate(spark):
    """Negative-length left/right + stringCompare fold map-locally
    into one grouped aggregate over the documents scan."""
    plan = plan_of(spark, "q_dialect_neg_substrings")
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Join" not in plan, plan


def test_uniq_state_mv_is_pure_aggregation(spark):
    """The uniqState/uniqMerge MV round-trip is two hash-aggregate
    levels over ONE fact scan — bounded collect_set states, no joins,
    no Python boundary, no window."""
    plan = plan_of(spark, "q_dialect_uniq_state_mv")
    scans = [ln for ln in plan.split("\n") if "FileScan parquet" in ln]
    assert len(scans) == 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_dialect_scalar_with_is_subquery_broadcast(spark):
    """The scalar WITH expansion must land as Catalyst scalar
    subqueries (one-row broadcast results reused across the plan) —
    never a per-row rescan join of orders, and the duplicated
    substitution text must be deduped by ReuseSubquery (one subquery
    scan, not one per alias occurrence)."""
    plan = plan_of(spark, "q_dialect_scalar_with")
    assert "Subquery" in plan, plan
    # no join of orders against itself — the alias lands as a scalar
    # subquery, not a correlated rescan
    assert "Join" not in plan, plan
    # every subquery scan is pruned to the ONE aggregated column
    for seg in plan.split("ReadSchema: ")[1:]:
        schema = seg.split("\n", 1)[0]
        assert "o_comment" not in schema and "o_clerk" not in schema, (
            plan
        )


def test_dialect_colon_cast_pushes_filter(spark):
    """(l_orderkey % 7) = 0 from the ::-cast query must reach the
    scan as a pushed/partial filter, and the scan must prune to the
    three referenced columns."""
    plan = plan_of(spark, "q_dialect_colon_cast")
    assert "l_orderkey" in plan
    low = plan.lower()
    assert "filter" in low, plan
    # column pruning: the wide lineitem table reads only the three
    # referenced columns (ReadSchema names them)
    m = low.split("readschema:")[-1]
    for col in ("l_returnflag", "l_quantity", "l_extendedprice"):
        assert col in m, plan
    assert "l_comment" not in m, plan
