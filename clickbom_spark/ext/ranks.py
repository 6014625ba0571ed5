"""Distributed exact global rank — the scale-safe total order.

A total-order window (``Window.orderBy`` with no ``partitionBy``)
funnels the entire relation through ONE task: correct at test scale,
the textbook killer at 100 TB.  This module computes the same exact
1-indexed global rank with a two-pass range-bucket plan that stays
partition-parallel end to end:

1. a cheap boundary pass derives value cut points for the leading
   order column via ``approxQuantile`` — one bucket per ~32 MB of the
   input's plan-size estimate (:func:`_default_buckets`).  The
   approximation only moves rows between buckets (load balance), it can
   never change a row's rank, because
2. rows are assigned a bucket BY VALUE (a deterministic expression, so
   re-executing the plan is safe — no reliance on physical partition
   ids), per-bucket counts roll into cumulative offsets (a tiny frame,
   one row per bucket, broadcast back), and the exact rank is
   ``bucket offset + partition-local row_number``.

Ties on the leading column always land in the same bucket, so any
tie-break columns in ``order_cols`` are resolved entirely inside the
partition-local window — the composite order is exact.

The only single-partition work is the window over the per-bucket count
frame (≤ ``_MAX_BUCKETS`` rows) — O(buckets), not O(rows).

Requirements: the leading order column must be numeric and non-null.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clickbom_spark.ext.scale import plan_size_bytes

# Hard cap on the bucket count.  Bucket assignment evaluates one
# array-membership scan of the boundary list per row, so the per-row
# cost is O(buckets); 256 buckets is plenty of parallelism for the
# rank pass (each bucket still splits across tasks for everything
# except the partition-local window) while keeping the expression tiny
# and codegen-safe.  The cap affects load BALANCE only, never the rank
# values — ties and ordering are exact regardless of bucketing.
_MAX_BUCKETS = 256

#: Target input bytes per value bucket.  One bucket per ~32 MB keeps
#: per-bucket window state small; the 256-bucket cap saturates at ~8 GB
#: of input.
_BUCKET_TARGET_BYTES = 32 * 1024 * 1024

#: Floor on the derived count: small inputs keep a handful of REAL
#: buckets so the bucketed shape (and the plan guards that pin it)
#: stays intact — a single constant bucket would constant-fold the
#: _bkt attribute out of the window spec and degenerate the
#: partition-local window into a global one.
_MIN_BUCKETS = 8


def _default_buckets(df: DataFrame) -> int:
    """Scale-ADAPTIVE bucket count: derived from the input's plan-stat
    size estimate (no job), not from the local core count.

    defaultParallelism was the wrong default on both ends: at bench
    scale it forced 31 boundary quantiles + a 32-leaf bucket tree over
    megabytes of input (pure overhead, and it made the 8-core and
    32-core plans differ, muddying the driver's scaling measurement);
    on a big cluster it under-bucketed relative to data volume.  Bucket
    count is a balance knob only — results are exact at any value.
    """
    size = plan_size_bytes(df)
    if size is None:
        return min(df.sparkSession.sparkContext.defaultParallelism,
                   _MAX_BUCKETS)
    return max(
        _MIN_BUCKETS, min(-(-size // _BUCKET_TARGET_BYTES), _MAX_BUCKETS)
    )


def _temp_names(df: DataFrame, bases: Sequence[str]) -> list[str]:
    """Collision-proof working-column names: each base gets underscores
    appended until it is absent from ``df`` (so an input that already
    has a ``_bkt``/``_off``/``_total`` column is never clobbered)."""
    taken = set(df.columns)
    out: list[str] = []
    for base in bases:
        name = base
        while name in taken:
            name += "_"
        taken.add(name)
        out.append(name)
    return out


def _bucket_boundaries(
    df: DataFrame, order_col: str, num_buckets: int, rel_err: float = 0.001
) -> list[float]:
    """Interior quantile cut points of ``order_col``, deduplicated
    ascending (skewed data may collapse cut points — buckets then merge,
    which costs balance, never correctness)."""
    if num_buckets <= 1:
        # single bucket — no cut points, and no boundary job at all
        return []
    probs = [i / num_buckets for i in range(1, num_buckets)]
    vals = df.select(F.col(order_col).cast("double").alias("_ord")).stat.approxQuantile(
        "_ord", probs, rel_err
    )
    out: list[float] = []
    for v in vals:
        if not out or v > out[-1]:
            out.append(v)
    return out


def _bucket_expr(lead_d, bounds: Sequence[float]):
    """Bucket index = number of sorted cut points ``<= lead_d``, as a
    balanced CASE-WHEN binary-search tree: per-row cost is
    O(log buckets) thanks to WHEN short-circuiting (not the O(buckets)
    chained-comparison sum, which also bloats whole-stage codegen
    linearly).  Plain comparisons only — no higher-order functions,
    whose outer-column lambdas Catalyst mis-binds when the expression
    is substituted through an aggregate.

    NULL lead values sort FIRST (Spark's ascending default) and must
    land in bucket 0: every NULL ``>=`` comparison is not-true, so the
    tree walks to the leftmost leaf and yields exactly 0 — never a NULL
    bucket, so the downstream offset equi-join cannot drop those rows.
    """
    if not bounds:
        return F.lit(0)
    mid = len(bounds) // 2
    left = _bucket_expr(lead_d, bounds[:mid])
    right = _bucket_expr(lead_d, bounds[mid + 1:])
    return F.when(
        lead_d >= F.lit(float(bounds[mid])), F.lit(mid + 1) + right
    ).otherwise(left)


def _bucketed_with_offsets(
    df: DataFrame,
    order_cols: Sequence[str],
    per_bucket_agg,
    include_total: bool,
):
    """Shared scaffold of the global-order primitives: attach the value
    bucket, aggregate ``per_bucket_agg`` per bucket, roll cumulative
    offsets over the tiny per-bucket frame (the only single-partition
    window — O(buckets)), and broadcast-join them back.

    Returns ``(joined, c_bkt, c_off, c_total_or_None)``; callers add
    their partition-local window (row_number for rank, running sum for
    prefix) and drop the temp columns.
    """
    lead = order_cols[0]
    c_bkt, c_val, c_off, c_total = _temp_names(
        df, ["_bkt", "_val", "_off", "_total"]
    )
    bounds = _bucket_boundaries(df, lead, _default_buckets(df))
    lead_d = F.col(lead).cast("double")
    bucketed = df.withColumn(c_bkt, _bucket_expr(lead_d, bounds))

    vals = bucketed.groupBy(c_bkt).agg(per_bucket_agg.alias(c_val))
    w_off = Window.orderBy(c_bkt).rowsBetween(Window.unboundedPreceding, -1)
    cols = [
        F.col(c_bkt),
        F.coalesce(F.sum(c_val).over(w_off), F.lit(0)).alias(c_off),
    ]
    if include_total:
        w_all = Window.orderBy(c_bkt).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cols.append(F.sum(c_val).over(w_all).alias(c_total))
    offs = vals.select(*cols)
    joined = bucketed.join(F.broadcast(offs), c_bkt)
    return joined, c_bkt, c_off, (c_total if include_total else None)


def with_global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    rank_col: str = "_rank",
    total_col: str | None = None,
) -> DataFrame:
    """Add an exact 1-indexed global rank over ``order_cols`` (ascending)
    without a single-partition sort.

    Optionally also adds ``total_col`` = total row count (useful for
    rank-derived statistics like NTILE or percent_rank).  When the
    input is unpersisted it is scanned three times — the boundary pass,
    the per-bucket count pass, and the rank probe pass — so persist
    upstream frames that are expensive to recompute.
    """
    joined, c_bkt, c_off, c_total = _bucketed_with_offsets(
        df, order_cols, F.count(F.lit(1)), include_total=True
    )
    w_loc = Window.partitionBy(c_bkt).orderBy(*[F.col(c) for c in order_cols])
    out = joined.withColumn(
        rank_col, (F.col(c_off) + F.row_number().over(w_loc)).cast("long")
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col(c_total))
    return out.drop(c_bkt, c_off, c_total)


def ntile_expr(rank, total, k: int):
    """Exact SQL ``NTILE(k)`` bucket for a 1-indexed global ``rank`` out
    of ``total`` rows, as a pure Column expression: the first
    ``total % k`` tiles hold ``total div k + 1`` rows, the rest
    ``total div k`` — identical to DuckDB/Spark NTILE semantics, but
    computable from a distributed rank instead of a total-order window.
    """
    i = rank
    q = F.floor(total / F.lit(k)).cast("long")
    r = (total % F.lit(k)).cast("long")
    big_span = r * (q + F.lit(1))
    tile_big = F.floor((i + q) / (q + F.lit(1)))
    tile_small = r + F.floor((i - big_span + q - F.lit(1)) / q)
    return F.when(i <= big_span, tile_big).otherwise(tile_small).cast("long")


def with_global_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    prefix_col: str = "_prefix",
) -> DataFrame:
    """Add the exact inclusive global prefix sum of ``value_col`` in
    ``order_cols`` order (ascending) — same value-bucketed shape as
    :func:`with_global_rank`, so no single-partition window ever forms:
    per-bucket sums roll into broadcast offsets, and a partition-local
    running-sum window finishes the job.

    ``value_col`` should be integral (token counts, byte sizes): the
    sums are exact, so the result is engine-portable without a float
    contract.  ``order_cols`` must be a total order for the prefix to
    be deterministic (same contract as ``with_global_rank``).

    This is the primitive behind token-balanced shard assignment
    (`shard_by_budget`): a 100 TB corpus gets carved into
    ~budget-token output shards with one boundary pass, one per-bucket
    aggregate, and one bounded local window — never a global sort.
    """
    joined, c_bkt, c_off, _ = _bucketed_with_offsets(
        df,
        order_cols,
        F.sum(F.col(value_col)).cast("long"),
        include_total=False,
    )
    w_loc = (
        Window.partitionBy(c_bkt)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = joined.withColumn(
        prefix_col,
        (F.col(c_off) + F.sum(F.col(value_col)).over(w_loc)).cast("long"),
    )
    return out.drop(c_bkt, c_off)


def shard_by_budget(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    budget: int,
    shard_col: str = "shard",
) -> DataFrame:
    """Token-balanced shard assignment: rows (whole, never split) go to
    shard floor((prefix - 1) / budget) of their inclusive global prefix
    sum — every shard carries ~``budget`` of ``value_col`` (± one row's
    worth), deterministically under any partitioning.

    The standard output-sharding step of a pretraining pipeline
    ("write ~1 GiB / ~B-token files"): downstream writers partition by
    ``shard_col`` and each file lands within a row of the budget.
    Zero-valued leading rows belong to shard 0 (prefix 0 → greatest()
    clamp).
    """
    pc = _temp_names(df, ["_prefix"])[0]
    out = with_global_prefix_sum(df, order_cols, value_col, prefix_col=pc)
    shard = F.floor(
        F.greatest(F.col(pc) - 1, F.lit(0)) / F.lit(budget)
    ).cast("long")
    return out.withColumn(shard_col, shard).drop(pc)


def exact_weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    probs: Sequence[float],
) -> DataFrame:
    """Exact weighted quantiles (ClickHouse ``quantileExactWeighted``)
    with NO global sort: the smallest value whose cumulative weight
    reaches p·W, for each p — computed as a distinct-value weight
    aggregate, the value-bucketed exact prefix sum, and one final
    conditional-min aggregate.

    Weights must be integral and positive (rows with null/non-positive
    weight are excluded, matching the ClickHouse function); the prefix
    sums are then exact, so results are engine-portable with no float
    contract beyond the single p·W threshold product.  One row out,
    one column ``q{100p}`` per prob.

    100 TB shape: one boundary pass over the raw (value, weight)
    projection, then ONE lineage — bucket assignment, the distinct-
    value collapse as a (bucket, value) hash aggregate (map-side
    combine, so duplicated values still collapse before the exchange),
    the bucket-local prefix window, and the final conditional-min.
    The per-bucket offset frame consumes the SAME (bucket, value)
    exchange (AQE reuses the shuffle stage at runtime), so nothing is
    rematerialized and no checkpoint write/read sits on the critical
    path — one full-data shuffle total.  Total weight W falls out of
    the same tiny per-bucket offset frame (the sum over all buckets),
    so there is no separate total aggregate and no crossJoin; the
    prefix machinery is the same no-single-partition-window path as
    shard_by_budget.  Contrast with a naive ``ORDER BY`` +
    running-sum window, which serializes the corpus through one
    partition.
    """
    w = F.col(weight_col).cast("long")
    src = df.where(
        F.col(value_col).isNotNull() & w.isNotNull() & (w > 0)
    ).select(F.col(value_col), w.alias("_w"))
    c_bkt, c_val, c_off, c_total = _temp_names(
        src, ["_bkt", "_val", "_off", "_total"]
    )
    bounds = _bucket_boundaries(src, value_col, _default_buckets(src))
    bucketed = src.withColumn(
        c_bkt, _bucket_expr(F.col(value_col).cast("double"), bounds)
    )
    agg = bucketed.groupBy(c_bkt, value_col).agg(F.sum("_w").alias("_w"))
    vals = agg.groupBy(c_bkt).agg(F.sum("_w").cast("long").alias(c_val))
    w_off = Window.orderBy(c_bkt).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy(c_bkt).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = vals.select(
        F.col(c_bkt),
        F.coalesce(F.sum(c_val).over(w_off), F.lit(0)).alias(c_off),
        F.sum(c_val).over(w_all).alias(c_total),
    )
    joined = agg.join(F.broadcast(offs), c_bkt)
    w_loc = (
        Window.partitionBy(c_bkt)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (F.col(c_off) + F.sum("_w").over(w_loc)).cast("long")
    out = joined.withColumn("_cum", cum)
    sel = [
        F.min(
            F.when(
                F.col("_cum") >= F.lit(float(p)) * F.col(c_total),
                F.col(value_col),
            )
        ).alias(f"q{int(round(p * 100))}")
        for p in probs
    ]
    return out.agg(*sel)


def ks_2sample(
    df: DataFrame,
    value_col: str,
    flag: "F.Column",
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic, distributed-exact:
    ``D = max_v |F_a(v) - F_b(v)|`` where ``flag`` (boolean Column)
    splits rows into sample a (true) / b (false).

    Scale shape: collapse to distinct values with per-side counts (one
    hash aggregate, materialized once), then the SAME value-bucket
    prefix machinery as :func:`exact_weighted_quantiles` — per-bucket
    count sums roll into broadcast offsets, both ECDFs accumulate in a
    bucket-partitioned window, and D is one max aggregate.  No global
    sort, no single-partition window over data rows.

    Exactness contract: cumulative counts are integers; each row's
    ``|cum_a/n_a - cum_b/n_b|`` is one fixed IEEE expression, and max
    is order-independent — so the statistic is bit-identical in any
    engine (the SQL oracle recomputes it with a window over distinct
    values).  One row out: ``d_stat``, ``n_a``, ``n_b``.
    """
    v = F.col(value_col)
    src = df.where(v.isNotNull()).select(
        v.alias("_v"),
        F.when(flag, 1).otherwise(0).alias("_a"),
        F.when(flag, 0).otherwise(1).alias("_b"),
    )
    c_bkt, c_offa, c_offb = _temp_names(src, ["_bkt", "_offa", "_offb"])
    bounds = _bucket_boundaries(src, "_v", _default_buckets(src))
    # distinct-value collapse in the SAME lineage as the prefix window
    # (bucket first, then (bucket, value) hash aggregate with map-side
    # combine): the offsets branch reuses the aggregate's shuffle stage
    # under AQE, so no checkpoint write/read sits on the critical path
    agg = (
        src.withColumn(
            c_bkt, _bucket_expr(F.col("_v").cast("double"), bounds)
        )
        .groupBy(c_bkt, "_v")
        .agg(F.sum("_a").alias("_ca"), F.sum("_b").alias("_cb"))
    )
    bucketed = agg
    vals = bucketed.groupBy(c_bkt).agg(
        F.sum("_ca").alias("_sa"), F.sum("_cb").alias("_sb")
    )
    w_off = Window.orderBy(c_bkt).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy(c_bkt).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = vals.select(
        F.col(c_bkt),
        F.coalesce(F.sum("_sa").over(w_off), F.lit(0)).alias(c_offa),
        F.coalesce(F.sum("_sb").over(w_off), F.lit(0)).alias(c_offb),
        F.sum("_sa").over(w_all).alias("_na"),
        F.sum("_sb").over(w_all).alias("_nb"),
    )
    joined = bucketed.join(F.broadcast(offs), c_bkt)
    w_loc = (
        Window.partitionBy(c_bkt)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_a = (F.col(c_offa) + F.sum("_ca").over(w_loc)).cast("double")
    cum_b = (F.col(c_offb) + F.sum("_cb").over(w_loc)).cast("double")
    gap = F.abs(
        cum_a / F.col("_na").cast("double")
        - cum_b / F.col("_nb").cast("double")
    )
    return joined.select(
        gap.alias("_gap"), "_na", "_nb"
    ).agg(
        F.max("_gap").alias("d_stat"),
        F.max("_na").cast("long").alias("n_a"),
        F.max("_nb").cast("long").alias("n_b"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    flag: "F.Column",
) -> DataFrame:
    """Mann–Whitney U with exact midrank tie handling, distributed —
    the ClickHouse ``mannWhitneyUTest`` rank computation without a
    global sort.

    Everything stays INTEGER until the caller's final z formula:
    per distinct value v with side counts (c_a, c_b), the doubled
    rank-sum contribution of sample a is
    ``c_a · (2·cum_before(v) + c(v) + 1)`` (midranks scaled by 2), so
    ``r1_x2 = Σ`` of those, ``u1_x2 = 2·n_a·n_b + n_a·(n_a+1) -
    r1_x2``, and the tie-correction term ``Σ (t³ - t)`` accumulates
    per distinct value — all exact longs, order-independent.  The
    cumulative pooled count comes from the same value-bucket prefix
    machinery as :func:`ks_2sample` (broadcast per-bucket offsets +
    bucket-partitioned windows; no single-partition window over data
    rows).

    One row out: ``u1_x2, n_a, n_b, tie_term`` (longs).
    """
    v = F.col(value_col)
    src = df.where(v.isNotNull()).select(
        v.alias("_v"),
        F.when(flag, 1).otherwise(0).alias("_a"),
        F.when(flag, 0).otherwise(1).alias("_b"),
    )
    c_bkt, c_off = _temp_names(src, ["_bkt", "_off"])
    bounds = _bucket_boundaries(src, "_v", _default_buckets(src))
    # same single-lineage collapse as ks_2sample (AQE stage reuse
    # replaces the checkpoint)
    bucketed = (
        src.withColumn(
            c_bkt, _bucket_expr(F.col("_v").cast("double"), bounds)
        )
        .groupBy(c_bkt, "_v")
        .agg(F.sum("_a").alias("_ca"), F.sum("_b").alias("_cb"))
    )
    vals = bucketed.groupBy(c_bkt).agg(
        F.sum(F.col("_ca") + F.col("_cb")).alias("_s")
    )
    w_off = Window.orderBy(c_bkt).rowsBetween(Window.unboundedPreceding, -1)
    offs = vals.select(
        F.col(c_bkt),
        F.coalesce(F.sum("_s").over(w_off), F.lit(0)).alias(c_off),
    )
    joined = bucketed.join(F.broadcast(offs), c_bkt)
    w_loc = (
        Window.partitionBy(c_bkt)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = F.col("_ca") + F.col("_cb")
    cum_before = (
        F.col(c_off) + F.coalesce(F.sum(c).over(w_loc), F.lit(0))
    ).cast("long")
    contrib = F.col("_ca") * (2 * cum_before + c + 1)
    tie = c * c * c - c
    stats = joined.select(
        contrib.alias("_r1x2"),
        tie.alias("_tie"),
        F.col("_ca"),
        F.col("_cb"),
    ).agg(
        F.sum("_r1x2").cast("long").alias("r1_x2"),
        F.sum("_tie").cast("long").alias("tie_term"),
        F.sum("_ca").cast("long").alias("n_a"),
        F.sum("_cb").cast("long").alias("n_b"),
    )
    u1_x2 = (
        2 * F.col("n_a") * F.col("n_b")
        + F.col("n_a") * (F.col("n_a") + 1)
        - F.col("r1_x2")
    )
    return stats.select(
        u1_x2.cast("long").alias("u1_x2"), "n_a", "n_b", "tie_term"
    )


def exact_weighted_quantiles_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    probs: Sequence[float],
) -> DataFrame:
    """Per-group exact weighted quantiles (ClickHouse
    ``quantileExactWeighted … GROUP BY``) with NO per-group
    single-partition window over data rows.

    The naive shape — ``Window.partitionBy(group)`` running sum — is
    only scale-safe when groups are many and small; with FEW HEAVY
    groups (flags, languages, sources: a handful of groups holding the
    whole corpus) each group funnels through one task.  This uses the
    same value-bucket machinery as :func:`exact_weighted_quantiles`,
    with per-(group, bucket) offsets:

    1. collapse to distinct (group, bucket, value) weights — one hash
       aggregate with map-side combine, in the same lineage as the
       prefix window (AQE reuses the aggregate's shuffle stage for the
       offsets branch, so nothing is checkpointed or rematerialized);
    2. assign the value bucket (global boundaries from one raw-input
       pass: sharing cut points across groups costs balance only,
       never correctness);
    3. per-(group, bucket) sums roll into per-group cumulative
       offsets and the group total W over the TINY offsets frame
       (≤ groups × buckets rows; its window partitions by group over
       ≤ ``_MAX_BUCKETS`` rows — O(buckets), not O(rows));
    4. broadcast the offsets back; the data-row window partitions by
       (group, bucket) — bounded splits even when one group holds
       everything;
    5. one conditional-min aggregate per group.

    One row per group, one ``q{100p}`` column per prob.  Weights must
    be integral and positive (rows with null/non-positive weight are
    excluded, matching ClickHouse), so prefix sums are exact.
    """
    w = F.col(weight_col).cast("long")
    src = df.where(
        F.col(value_col).isNotNull()
        & F.col(group_col).isNotNull()
        & w.isNotNull()
        & (w > 0)
    ).select(F.col(group_col), F.col(value_col), w.alias("_w"))
    c_bkt, c_val, c_off, c_total = _temp_names(
        src, ["_bkt", "_val", "_off", "_total"]
    )
    bounds = _bucket_boundaries(src, value_col, _default_buckets(src))
    bucketed = src.withColumn(
        c_bkt, _bucket_expr(F.col(value_col).cast("double"), bounds)
    )
    agg = bucketed.groupBy(group_col, c_bkt, value_col).agg(
        F.sum("_w").alias("_w")
    )
    vals = agg.groupBy(group_col, c_bkt).agg(F.sum("_w").alias(c_val))
    w_off = (
        Window.partitionBy(group_col)
        .orderBy(c_bkt)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(group_col).orderBy(c_bkt).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = vals.select(
        group_col,
        F.col(c_bkt),
        F.coalesce(F.sum(c_val).over(w_off), F.lit(0)).alias(c_off),
        F.sum(c_val).over(w_tot).alias(c_total),
    )
    joined = agg.join(F.broadcast(offs), [group_col, c_bkt])
    w_loc = (
        Window.partitionBy(group_col, c_bkt)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (F.col(c_off) + F.sum("_w").over(w_loc)).cast("long")
    out = joined.withColumn("_cum", cum)
    sel = [
        F.min(
            F.when(
                F.col("_cum") >= F.lit(float(p)) * F.col(c_total),
                F.col(value_col),
            )
        ).alias(f"q{int(round(p * 100))}")
        for p in probs
    ]
    return out.groupBy(group_col).agg(*sel)
