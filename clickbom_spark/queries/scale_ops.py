"""Scale-technique queries: skew-safe aggregation and sketch aggregates.

The salted aggregation is oracle-checked against the PLAIN group-by SQL
— salting is a physical-distribution technique and must be value-
invisible.  The HLL sketch is approximate by construction (rows-only
driver check; accuracy bounded in tests/test_scale.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickbom_spark.ext import layout as L
from clickbom_spark.ext.scale import salted_agg
from clickbom_spark.queries import dec, load, query


@query(
    "q_salted_agg_events",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    description="Two-phase salted aggregation for skewed keys — value-"
    "identical to the plain group-by (the oracle IS the plain form).",
)
def q_salted_agg_events(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    out = salted_agg(
        events,
        ["event_type"],
        {"n": ("count", F.lit(1)), "total_value": ("sum", dec("value"))},
        salt_buckets=16,
    )
    return out.select(
        "event_type", "n", F.col("total_value").cast("double").alias("total_value")
    ).orderBy("event_type")


@query(
    "q_approx_quantiles",
    # Same contract pattern as q_approx_distinct: the sketch value is
    # engine-specific, its error bound is not.  approx_percentile with
    # accuracy 10000 must land within 0.5% (relative) of the exact
    # percentile — emitted as a checkable flag next to the exact value.
    oracle="""
SELECT l_returnflag,
       round(round(quantile_cont(l_extendedprice, 0.5), 6), 2) AS exact_p50,
       round(round(quantile_cont(l_extendedprice, 0.99), 6), 2) AS exact_p99,
       true AS approx_within_tol
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    description="approx_percentile (GK sketch) for quantiles at 100 TB "
    "scale, checked to land within 0.5% of the exact interpolated "
    "percentile.",
)
def q_approx_quantiles(spark, sf_dir):
    (lineitem,) = load(spark, sf_dir, "lineitem")
    exact_p50 = F.expr("percentile(l_extendedprice, 0.5)")
    exact_p99 = F.expr("percentile(l_extendedprice, 0.99)")
    approx = F.expr(
        "approx_percentile(l_extendedprice, array(0.5, 0.99), 10000)"
    )
    tol = (
        (F.abs(F.element_at(approx, 1) - exact_p50) <= 0.005 * exact_p50)
        & (F.abs(F.element_at(approx, 2) - exact_p99) <= 0.005 * exact_p99)
    )
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            # double-round: engines interpolate midpoints an ulp apart
            # around exact .xx5 boundaries; round(·,6) collapses both to
            # the same double before the 2-decimal boundary decision
            F.round(F.round(exact_p50, 6), 2).alias("exact_p50"),
            F.round(F.round(exact_p99, 6), 2).alias("exact_p99"),
            tol.alias("approx_within_tol"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_approx_distinct",
    # The raw HLL estimate is engine-specific, but its ERROR BOUND is
    # checkable: the query emits the exact distinct count alongside a
    # within-2%-of-exact flag for the sketch (HLL union is commutative,
    # so the estimate is deterministic regardless of partitioning).  The
    # oracle computes the exact counts and asserts the flag is true —
    # a real correctness contract for a sketch aggregate.
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       true AS approx_within_2pct
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    description="approx_count_distinct (HyperLogLog++) — the sketch "
    "aggregate for cardinality at 100 TB; rsd 0.01, checked to land "
    "within 2% of the exact count.",
)
def q_approx_distinct(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    approx = F.approx_count_distinct("user_id", rsd=0.01)
    exact = F.countDistinct("user_id")
    return (
        events.groupBy("event_type")
        .agg(
            exact.alias("exact_users"),
            (F.abs(approx - exact) <= 0.02 * exact).alias("approx_within_2pct"),
        )
        .orderBy("event_type")
    )


_Z_BITS = 8  # 2 dims x 8 bits -> 16-bit z-value, 16 top-level buckets
_Z_SQL = L.interleave_bits_sql(["qx", "qy"], _Z_BITS)


@query(
    "q_zorder_cluster",
    # The z-value is exact integer arithmetic (equi-width quantization
    # + Morton bit interleave), so the oracle recomputes it verbatim in
    # SQL: every engine derives the identical bucket for every row.
    # The per-bucket min/max box widths are the data-skipping contract:
    # each z-bucket owns a bounded (custkey x orderdate) box, which is
    # exactly why per-file footer stats prune box predicates after
    # ext.layout.write_zordered lays files out along this curve.
    oracle=f"""
WITH o AS (
  SELECT o_custkey AS ck,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dy
  FROM orders
),
s AS (
  SELECT min(ck) AS mnc, max(ck) AS mxc, min(dy) AS mnd, max(dy) AS mxd FROM o
),
q AS (
  SELECT ck, dy,
         ((ck - mnc) * {1 << _Z_BITS}) // (mxc - mnc + 1) AS qx,
         ((dy - mnd) * {1 << _Z_BITS}) // (mxd - mnd + 1) AS qy
  FROM o, s
),
z AS (SELECT ck, dy, {_Z_SQL} AS zv FROM q)
SELECT CAST(zv // 4096 AS BIGINT) AS zbucket,
       COUNT(*) AS n_orders,
       CAST(min(ck) AS BIGINT) AS min_cust, CAST(max(ck) AS BIGINT) AS max_cust,
       CAST(min(dy) AS BIGINT) AS min_day, CAST(max(dy) AS BIGINT) AS max_day
FROM z GROUP BY zbucket ORDER BY zbucket
""",
    description="Z-order (Morton) clustering key over (custkey, "
    "orderdate): equi-width integer quantization + bit interleave, "
    "bucketed to show every z-range owns a bounded multi-dim box — the "
    "layout ext.layout.write_zordered uses for file-level data skipping.",
)
def q_zorder_cluster(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_custkey").cast("long").alias("ck"),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1970-01-01"))
        ).cast("long").alias("dy"),
    )
    s = o.agg(
        F.min("ck").alias("mnc"), F.max("ck").alias("mxc"),
        F.min("dy").alias("mnd"), F.max("dy").alias("mxd"),
    )
    q = o.join(F.broadcast(s)).select(
        "ck", "dy",
        L.quantize_int(F.col("ck"), F.col("mnc"), F.col("mxc"), _Z_BITS).alias("qx"),
        L.quantize_int(F.col("dy"), F.col("mnd"), F.col("mxd"), _Z_BITS).alias("qy"),
    )
    z = q.select("ck", "dy", L.interleave_bits([F.col("qx"), F.col("qy")], _Z_BITS).alias("zv"))
    return (
        z.groupBy(F.floor(F.col("zv") / 4096).cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("ck").alias("min_cust"), F.max("ck").alias("max_cust"),
            F.min("dy").alias("min_day"), F.max("dy").alias("max_day"),
        )
        .orderBy("zbucket")
    )


@query(
    "q_partition_pruned_scan",
    oracle="""
SELECT CAST(DATE_TRUNC('day', ts) AS VARCHAR)[1:10] AS dt,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-08'
GROUP BY 1
ORDER BY 1
""",
    description="Hive-partitioned layout + partition pruning: events "
    "re-laid out as dt=YYYY-MM-DD/ directories (ext.layout."
    "write_time_partitioned), then a 3-day predicate on the partition "
    "column scans only those directories (directory-level pruning "
    "before any file footer is read) — verified against the same "
    "filter on the unpartitioned original.",
)
def q_partition_pruned_scan(spark, sf_dir):
    from clickbom_spark.queries import scratch_path

    (events,) = load(spark, sf_dir, "events")
    path = scratch_path("events_by_day")
    L.write_time_partitioned(events, "ts", path)
    back = spark.read.parquet(path)
    return (
        back.where(F.col("dt").between("2024-01-05", "2024-01-07"))
        .groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("dt")
    )


@query(
    "q_dynamic_partition_pruning",
    # Monday events via a FILTERED DATE DIMENSION join, not a static
    # predicate: the set of matching partitions is only known at
    # runtime, so the partitioned fact scan must carry a
    # dynamicpruning subquery (asserted in tests/test_plans.py) and
    # read only the matching dt= directories.
    oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS dt,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE isodow(ts) = 1
GROUP BY 1
ORDER BY 1
""",
    description="Dynamic partition pruning: events in the dt=-"
    "partitioned layout joined to a date dimension filtered to Mondays "
    "— the partition list is runtime-derived (broadcast-reused DPP "
    "subquery on the fact scan), the 100 TB pattern where the hot "
    "partition set comes from a dim filter, not a literal.",
)
def q_dynamic_partition_pruning(spark, sf_dir):
    from clickbom_spark.queries import scratch_path

    (events,) = load(spark, sf_dir, "events")
    fact_path = scratch_path("events_by_day")
    dim_path = scratch_path("date_dim")
    L.write_time_partitioned(events, "ts", fact_path)
    fact = spark.read.parquet(fact_path)
    dim = (
        fact.select("dt")
        .distinct()
        .withColumn("dow", F.dayofweek(F.to_date("dt")))
    )
    dim.write.mode("overwrite").parquet(dim_path)
    dim_monday = spark.read.parquet(dim_path).where(F.col("dow") == 2)
    return (
        fact.join(dim_monday.select("dt"), "dt")
        .groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("dt")
    )
