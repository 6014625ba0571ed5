"""Window functions, multi-dim aggregation, set ops, scalar functions.

Covers the general engine surface SURVEY.md §2.9 declares (windows,
sorts, limits, top-k), §2.5's grouping extensions (rollup/cube/
grouping-id), §2.7 set operations, and §2.4's scalar-function families
(string/date/JSON) re-expressed over the synthetic corpus.

Scale notes:
- Window functions shuffle once on the partition key and sort within
  partitions; partition keys here (custkey/user_id) are high-cardinality,
  so no single-partition bottleneck (no global ORDER BY without
  partitioning in any window spec).
- Running/window sums use exact decimal accumulation so results are
  order-of-evaluation independent (DuckDB's segment-tree window agg vs
  Spark's running accumulation would drift in float).
- The band join is a broadcast nested-loop against a 4-row dimension —
  constant cost regardless of fact size.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from clickbom_spark.queries import dec, dsum, epoch_us, load, query
from clickbom_spark.session import local_frame


@query(
    "q_window_rank_orders",
    oracle="""
SELECT c_custkey, o_orderkey, o_totalprice, rnk, drnk
FROM (
  SELECT c_custkey, o_orderkey, o_totalprice,
         RANK() OVER w AS rnk,
         DENSE_RANK() OVER w AS drnk,
         ROW_NUMBER() OVER (PARTITION BY c_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
  WINDOW w AS (PARTITION BY c_custkey ORDER BY o_totalprice DESC)
) t
WHERE rn <= 3
ORDER BY c_custkey, rn
""",
    description="Ranking windows (rank/dense_rank/row_number) + top-N per "
    "group (SURVEY §2.9).",
    bench=True,
)
def q_window_rank_orders(spark, sf_dir):
    orders, cust = load(spark, sf_dir, "orders", "customer")
    w = Window.partitionBy("c_custkey").orderBy(F.desc("o_totalprice"))
    wn = Window.partitionBy("c_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    # row_number + filter FIRST, ranks over the survivors: every row
    # priced above a kept row has a smaller rn and is therefore also
    # kept, so rank/dense_rank over the filtered frame equal the
    # full-frame values on the kept rows.  Ordering this way lets the
    # planner run WindowGroupLimit BELOW the exchange (partial top-3
    # per map task), so the shuffle carries <=3 rows per customer per
    # map partition instead of every order.
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") <= 3)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            "rn",
        )
        .select("c_custkey", "o_orderkey", "o_totalprice", "rnk", "drnk")
        .orderBy("c_custkey", "rn")
    )


@query(
    "q_window_running_value",
    oracle="""
SELECT user_id, event_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
       / CAST(COUNT(*)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS moving_avg_5
FROM events
ORDER BY user_id, ts, event_id
""",
    description="Running sum + sliding frame (ROWS BETWEEN) — exact decimal "
    "accumulation for cross-engine determinism (SURVEY §2.9).",
)
def q_window_running_value(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(dec("value"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_value"),
        (
            F.sum(dec("value"))
            .over(w.rowsBetween(-4, Window.currentRow))
            .cast("double")
            / F.count(F.lit(1))
            .over(w.rowsBetween(-4, Window.currentRow))
            .cast("double")
        ).alias("moving_avg_5"),
    ).orderBy("user_id", "ts", "event_id")


@query(
    "q_window_lag_gaps",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_gaps,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us
FROM (
  SELECT user_id,
         date_diff('microsecond',
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap_us
  FROM events
) t
WHERE gap_us IS NOT NULL
GROUP BY user_id
ORDER BY user_id
""",
    description="lag() inter-event gaps per user — the sessionization "
    "primitive (SURVEY §2.9, §2.10).",
)
def q_window_lag_gaps(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_us("ts") - epoch_us(F.lag("ts").over(w))
    return (
        events.select("user_id", gap.alias("gap_us"))
        .where(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.max("gap_us").alias("max_gap_us"),
            F.min("gap_us").alias("min_gap_us"),
        )
        .orderBy("user_id")
    )


@query(
    "q_rollup_region_nation",
    oracle="""
SELECT r_name, n_name,
       GROUPING(r_name, n_name) AS grp_id,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
ORDER BY grp_id, r_name, n_name
""",
    description="ROLLUP hierarchy totals + grouping_id (SURVEY §2.5 general "
    "surface).",
)
def q_rollup_region_nation(spark, sf_dir):
    cust, nation, region = load(spark, sf_dir, "customer", "nation", "region")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.grouping_id().alias("grp_id"),
            F.count(F.lit(1)).alias("n_customers"),
            dsum(dec("c_acctbal"), "total_bal"),
        )
        .orderBy("grp_id", "r_name", "n_name")
    )


@query(
    "q_cube_flags",
    oracle="""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS grp_id,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
ORDER BY grp_id, l_returnflag, l_linestatus
""",
    description="CUBE over flag dimensions (SURVEY §2.5 general surface).",
)
def q_cube_flags(spark, sf_dir):
    (li,) = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("grp_id"),
            F.count(F.lit(1)).alias("n_items"),
            dsum(dec("l_quantity"), "total_qty"),
        )
        .orderBy("grp_id", "l_returnflag", "l_linestatus")
    )


@query(
    "q_set_ops_custkeys",
    oracle="""
SELECT 'only_1996' AS bucket, COUNT(*) AS n FROM (
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  EXCEPT
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
) a
UNION ALL
SELECT 'both_years' AS bucket, COUNT(*) AS n FROM (
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  INTERSECT
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
) b
UNION ALL
SELECT 'either_year' AS bucket, COUNT(*) AS n FROM (
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  UNION
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
) c
ORDER BY bucket
""",
    description="EXCEPT / INTERSECT / UNION-distinct over yearly customer "
    "sets (SURVEY §2.7).",
)
def q_set_ops_custkeys(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")

    def year(y):
        return orders.where(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    y96, y97 = year(1996), year(1997)
    only = y96.exceptAll(y97).distinct().agg(F.count(F.lit(1)).alias("n"))
    # exceptAll then distinct != EXCEPT (set) in general; use subtract:
    only = y96.distinct().subtract(y97.distinct()).agg(F.count(F.lit(1)).alias("n"))
    both = y96.intersect(y97).agg(F.count(F.lit(1)).alias("n"))
    either = y96.union(y97).distinct().agg(F.count(F.lit(1)).alias("n"))
    return (
        only.select(F.lit("only_1996").alias("bucket"), "n")
        .unionByName(both.select(F.lit("both_years").alias("bucket"), "n"))
        .unionByName(either.select(F.lit("either_year").alias("bucket"), "n"))
        .orderBy("bucket")
    )


@query(
    "q_string_functions",
    oracle="""
SELECT p_partkey,
       UPPER(p_brand) AS brand_upper,
       LENGTH(p_name) AS name_len,
       SUBSTRING(p_name, 1, 10) AS name_prefix,
       CONCAT_WS('|', p_brand, p_type) AS brand_type,
       regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
       REPLACE(p_type, ' ', '_') AS type_snake,
       TRIM(LPAD(p_brand, 12, ' ')) AS brand_trim
FROM part
WHERE p_name LIKE '%re%' AND p_size BETWEEN 5 AND 40
ORDER BY p_partkey
""",
    description="String function suite — the sanitizer-family primitives "
    "(SURVEY §2.4 F1-F9) over part names.",
)
def q_string_functions(spark, sf_dir):
    (part,) = load(spark, sf_dir, "part")
    return (
        part.where(
            F.col("p_name").like("%re%")
            & (F.col("p_size") >= 5)
            & (F.col("p_size") <= 40)
        )
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_upper"),
            F.length("p_name").cast("long").alias("name_len"),
            F.substring("p_name", 1, 10).alias("name_prefix"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
            F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
            F.trim(F.lpad("p_brand", 12, " ")).alias("brand_trim"),
        )
        .orderBy("p_partkey")
    )


@query(
    "q_date_functions",
    oracle="""
SELECT date_trunc('month', o_orderdate) AS order_month,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS order_quarter,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY 1, 2, 3
ORDER BY order_month
""",
    description="Temporal bucketing: date_trunc/year/quarter monthly revenue "
    "(SURVEY §2.4 F14 family).",
)
def q_date_functions(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    return (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("order_month"),
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec("o_totalprice"), "month_revenue"),
        )
        .orderBy("order_month")
    )


@query(
    "q_json_extract_events",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    description="Semi-structured JSON column access — the engine's "
    "schema-on-read primitive (SURVEY §1.2, jq-path equivalent).",
)
def q_json_extract_events(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "q_case_when_bands",
    oracle="""
SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
            WHEN o_totalprice < 250000 THEN 'medium'
            WHEN o_totalprice < 400000 THEN 'large'
            ELSE 'jumbo' END AS price_band,
       o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS band_total
FROM orders
GROUP BY 1, 2
ORDER BY price_band, o_orderstatus
""",
    description="CASE WHEN bucketing + aggregate (SURVEY §2.3 P4 "
    "format-detection analog: conditional classification).",
)
def q_case_when_bands(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 250000, "medium")
        .when(F.col("o_totalprice") < 400000, "large")
        .otherwise("jumbo")
    )
    return (
        orders.groupBy(band.alias("price_band"), F.col("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec("o_totalprice"), "band_total"),
        )
        .orderBy("price_band", "o_orderstatus")
    )


@query(
    "q_band_range_join",
    oracle="""
SELECT v.band_name, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS band_revenue
FROM orders
JOIN (VALUES ('p0_low', 0.0, 150000.0),
             ('p1_mid', 150000.0, 300000.0),
             ('p2_high', 300000.0, 450000.0),
             ('p3_top', 450000.0, 1000000.0)) AS v(band_name, lo, hi)
  ON o_totalprice >= v.lo AND o_totalprice < v.hi
GROUP BY v.band_name
ORDER BY v.band_name
""",
    description="Non-equi (range/band) join against a tiny broadcast "
    "dimension — broadcast nested loop (SURVEY §2.6 general surface).",
)
def q_band_range_join(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    bands = local_frame(
        spark,
        [
            ("p0_low", 0.0, 150000.0),
            ("p1_mid", 150000.0, 300000.0),
            ("p2_high", 300000.0, 450000.0),
            ("p3_top", 450000.0, 1000000.0),
        ],
        "band_name string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec("o_totalprice"), "band_revenue"),
        )
        .orderBy("band_name")
    )


@query(
    "q_theta_join_event_pairs",
    oracle="""
SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.ts < b.ts
 AND b.ts <= a.ts + INTERVAL 2 MINUTE
 AND a.event_id <> b.event_id
GROUP BY a.event_type, b.event_type
ORDER BY type_a, type_b
""",
    description="Self theta-join: event pairs within a 2-minute window per "
    "user — equi on user_id (shuffle key) + range residual; the as-of/"
    "interval-join building block.",
    bench=True,
)
def q_theta_join_event_pairs(spark, sf_dir):
    # Same time-bucketed join shape as q_theta_join_skewed: join key
    # is (user, 2-minute bucket) with the probe side posted to its own
    # and previous bucket, so each event only meets its time-neighbor
    # candidates (linear in qualifying pairs) instead of every event
    # of the same user across all history (O(per-user²) residual
    # evaluation).  b.ts ∈ (a.ts, a.ts + 2min] ⇒ bucket(b) ∈
    # {bucket(a), bucket(a)+1}, so each qualifying pair meets on
    # exactly one posted key — no dedup needed, results identical.
    window_us = 120_000_000  # 2 minutes
    (events,) = load(spark, sf_dir, "events")
    bucket = lambda ts: F.floor(epoch_us(ts) / F.lit(window_us))  # noqa: E731
    a = events.select(
        "user_id",
        F.col("ts").alias("ts_a"),
        F.col("event_id").alias("eid_a"),
        F.col("event_type").alias("type_a"),
    ).withColumn("_bkt", bucket(F.col("ts_a")))
    b = (
        events.select(
            "user_id",
            F.col("ts").alias("ts_b"),
            F.col("event_id").alias("eid_b"),
            F.col("event_type").alias("type_b"),
        )
        .withColumn("_b0", bucket(F.col("ts_b")))
        .withColumn("_bkt", F.explode(F.array(F.col("_b0"), F.col("_b0") - 1)))
        .drop("_b0")
    )
    return (
        a.join(b, ["user_id", "_bkt"])
        .where(
            (F.col("ts_a") < F.col("ts_b"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 2 MINUTE"))
            & (F.col("eid_a") != F.col("eid_b"))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("type_a", "type_b")
    )


@query(
    "q_theta_join_skewed",
    # Deterministic skew fixture: ~30% of events remap onto one hot
    # user, then the same 2-minute pair join runs through the
    # ext.scale salted-join pattern (side A salted, side B replicated
    # per salt) — the documented escape hatch when AQE skew-split is
    # not enough.  Salting is distribution-only, so the plain SQL
    # oracle is unchanged by it.
    oracle="""
WITH se AS (
  SELECT CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id END AS user_id,
         event_id, event_type, ts
  FROM events
)
SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_pairs
FROM se a JOIN se b
  ON a.user_id = b.user_id
 AND a.ts < b.ts
 AND b.ts <= a.ts + INTERVAL 2 MINUTE
 AND a.event_id <> b.event_id
GROUP BY a.event_type, b.event_type
ORDER BY type_a, type_b
""",
    description="Skew-hardened self theta-join via TIME-BUCKETING: join "
    "key is (user, 2-minute bucket) with the probe side posted to its "
    "own and previous bucket, so candidates are only time-neighbors "
    "(linear, not O(hot²)) and the hot user spreads across buckets — "
    "content-based salting that also bounds the pair blow-up.  Plain "
    "key-salting cannot fix a hot key here: every hot pair still meets "
    "in some reducer (measured 247 s vs 1.5 s at sf0.1).",
    bench=True,
)
def q_theta_join_skewed(spark, sf_dir):
    window_us = 120_000_000  # 2 minutes
    (events,) = load(spark, sf_dir, "events")
    se = events.withColumn(
        "user_id",
        F.when(F.pmod(F.col("user_id"), F.lit(10)) < 3, F.lit(0)).otherwise(
            F.col("user_id")
        ),
    )
    bucket = lambda ts: F.floor(epoch_us(ts) / F.lit(window_us))  # noqa: E731
    a = se.select(
        "user_id",
        F.col("ts").alias("ts_a"),
        F.col("event_id").alias("eid_a"),
        F.col("event_type").alias("type_a"),
    ).withColumn("_bkt", bucket(F.col("ts_a")))
    # b.ts ∈ (a.ts, a.ts + 2min] ⇒ bucket(b) ∈ {bucket(a), bucket(a)+1},
    # so b posts to (own bucket) and (own bucket - 1); each qualifying
    # pair meets on exactly one posted key — no dedup needed.
    b = (
        se.select(
            "user_id",
            F.col("ts").alias("ts_b"),
            F.col("event_id").alias("eid_b"),
            F.col("event_type").alias("type_b"),
        )
        .withColumn("_b0", bucket(F.col("ts_b")))
        .withColumn("_bkt", F.explode(F.array(F.col("_b0"), F.col("_b0") - 1)))
        .drop("_b0")
    )
    return (
        a.join(b, ["user_id", "_bkt"])
        .where(
            (F.col("ts_a") < F.col("ts_b"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 2 MINUTE"))
            & (F.col("eid_a") != F.col("eid_b"))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("type_a", "type_b")
    )


@query(
    "q_first_order_per_customer",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(first_price AS DECIMAL(18,2))) AS DOUBLE) AS sum_first_price
FROM (
  SELECT c_mktsegment, o_totalprice AS first_price,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
) t
WHERE rn = 1
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    description="First-event-per-key via row_number (deduplicate-to-first, "
    "the reference's 'first JSON in archive' pattern §2.9 generalized).",
)
def q_first_order_per_customer(spark, sf_dir):
    orders, cust = load(spark, sf_dir, "orders", "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(dec("o_totalprice"), "sum_first_price"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_ab_test",
    oracle="""
WITH assign AS (
  SELECT user_id, user_id % 2 AS variant,
         MAX(CASE WHEN event_type = 'purchase' AND value > 80
             THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), arms AS (
  SELECT variant,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_converted
  FROM assign GROUP BY variant
), wide AS (
  SELECT
    MAX(CASE WHEN variant = 0 THEN n_users END) AS n0,
    MAX(CASE WHEN variant = 0 THEN n_converted END) AS c0,
    MAX(CASE WHEN variant = 1 THEN n_users END) AS n1,
    MAX(CASE WHEN variant = 1 THEN n_converted END) AS c1
  FROM arms
)
SELECT n0, c0, n1, c1,
       round(
         (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
         / sqrt(
             (CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
             * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
             * (1.0 / n0 + 1.0 / n1)
           ),
         6) AS z_score
FROM wide
""",
    description="Two-proportion A/B z-test (experimentation "
    "analytics): per-user conversion flags (a high-value purchase), "
    "exact per-arm counts, and "
    "the pooled z statistic computed by ONE identical double formula "
    "over exact integers on both engines (rounded past the noise "
    "floor) — two hash aggregates and a 4-value pivot, nothing "
    "corpus-sized past the first shuffle.",
)
def q_ab_test(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    assign = events.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 80), 1
            ).otherwise(0)
        ).alias("converted")
    ).select(
        (F.col("user_id") % 2).alias("variant"), "converted"
    )
    arms = assign.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("c1"),
    )
    p_pool = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = (
        F.col("c1").cast("double") / F.col("n1")
        - F.col("c0").cast("double") / F.col("n0")
    ) / F.sqrt(
        p_pool * (1.0 - p_pool) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    return wide.select(
        "n0", "c0", "n1", "c1", F.round(z, 6).alias("z_score")
    )


@query(
    "q_rfm_segments",
    oracle="""
WITH base AS (
  SELECT o_custkey AS c,
         MAX(o_orderdate) - DATE '1970-01-01' AS r_days,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS m_cents
  FROM orders GROUP BY o_custkey
), q AS (
  SELECT c,
         NTILE(5) OVER (ORDER BY r_days, c) AS r_q,
         NTILE(5) OVER (ORDER BY n_orders, c) AS f_q,
         NTILE(5) OVER (ORDER BY m_cents, c) AS m_q
  FROM base
)
SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
       CAST(m_q AS BIGINT) AS m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""",
    description="RFM segmentation (recency / frequency / monetary "
    "quintiles per customer, the classic marketing-analytics cube): "
    "one hash aggregate per customer, then THREE exact NTILE(5) "
    "assignments — each via the distributed bucketed global rank + "
    "closed-form ntile expression (ext/ranks.py), so no metric ever "
    "rides a single-partition window; ties broken by customer key for "
    "engine-identical tiles.  Monetary is exact integer cents.",
)
def q_rfm_segments(spark, sf_dir):
    from clickbom_spark.ext.ranks import ntile_expr, with_global_rank

    (orders,) = load(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.datediff(F.max("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("r_days"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("m_cents"),
    )
    # The three quintiles were CHAINED (each with_global_rank consumed
    # the previous one's output), so every pass re-planned the whole
    # prior rank machinery and the orders aggregate — the before-plan
    # shows 8 parquet scans / 30 exchanges.  Each metric's tile depends
    # only on base, so: materialize base once (one row per customer),
    # rank the three metrics INDEPENDENTLY over it, and assemble by
    # customer key.
    base = base.localCheckpoint(eager=False)
    out = base.select("c")
    for metric, alias in (
        ("r_days", "r_q"),
        ("n_orders", "f_q"),
        ("m_cents", "m_q"),
    ):
        ranked = with_global_rank(
            base.select("c", metric), [metric, "c"],
            rank_col="_rk", total_col="_tt",
        )
        tile = ranked.select(
            "c", ntile_expr(F.col("_rk"), F.col("_tt"), 5).alias(alias)
        )
        out = out.join(tile, "c")
    return (
        out.groupBy("r_q", "f_q", "m_q")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_q", "f_q", "m_q")
    )


_AR_MIN_PAIR = 5  # min co-occurrence support for an emitted rule


@query(
    "q_association_rules",
    oracle=f"""
WITH ok AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING COUNT(DISTINCT l_partkey) <= 1024
), b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_orderkey IN (SELECT l_orderkey FROM ok)
), n AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_orders FROM ok
), item AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
  FROM b GROUP BY l_partkey
), pair AS (
  SELECT a.l_partkey AS antecedent, c.l_partkey AS consequent,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM b a JOIN b c
    ON a.l_orderkey = c.l_orderkey AND a.l_partkey <> c.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_AR_MIN_PAIR}
)
SELECT p.antecedent, p.consequent, p.n_both,
       round(CAST(p.n_both AS DOUBLE) / ia.n_item, 6) AS confidence_r,
       round(CAST(p.n_both AS DOUBLE) * n.n_orders
             / (CAST(ia.n_item AS DOUBLE) * ic.n_item), 6) AS lift_r
FROM pair p
JOIN item ia ON ia.l_partkey = p.antecedent
JOIN item ic ON ic.l_partkey = p.consequent, n
ORDER BY antecedent, consequent
""",
    description="Market-basket association rules (support / confidence "
    "/ lift — the 'frequently bought together' recommender core): "
    "directed pair counts from per-order distinct part sets with the "
    "same 1024-item basket cap as q_triangle_count (pair expansion "
    "bounded at cap² per order, JVM array explode, no self-join "
    "shuffle), item supports one hash aggregate, confidence and lift "
    "exact-integer ratios rounded past the noise floor.",
)
def q_association_rules(spark, sf_dir):
    (lineitem,) = load(spark, sf_dir, "lineitem")
    baskets = (
        lineitem.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("_ps"))
        .where(F.size("_ps") <= 1024)
    )
    # baskets feeds FOUR consumers (n_orders, items×2 via ia/ic, the
    # pair triangle) and three of them sit under broadcast exchanges,
    # which AQE's shuffle-stage reuse does not bridge — the r15
    # before-plan shows the scan + collect_set aggregate planned four
    # times.  Materialize the basket arrays once; the working set is
    # the per-order distinct part sets, the algorithm's own size.
    baskets = baskets.localCheckpoint(eager=False)
    n_orders = baskets.agg(
        F.count(F.lit(1)).cast("double").alias("n_orders")
    )
    items = baskets.select(F.explode("_ps").alias("p")).groupBy("p").agg(
        F.count(F.lit(1)).alias("n_item")
    )
    # n_both is SYMMETRIC — both directions of an unordered pair count
    # the same orders — so generate each unordered pair ONCE as the
    # upper triangle of the sorted basket (cap²/2 structs per order
    # instead of the cap² double-explode), aggregate, and emit both
    # directions map-side after the aggregate.  Halves the pair
    # fan-out AND the (antecedent, consequent) shuffle bytes.
    sp = F.col("_sp")
    tri = F.flatten(
        F.transform(
            sp,
            lambda x, i: F.transform(
                F.slice(sp, i + F.lit(2), F.size(sp)),
                lambda y: F.struct(x.alias("lo"), y.alias("hi")),
            ),
        )
    )
    half = (
        baskets.select(F.array_sort("_ps").alias("_sp"))
        .select(F.explode(tri).alias("pr"))
        .groupBy(F.col("pr.lo").alias("lo"), F.col("pr.hi").alias("hi"))
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= _AR_MIN_PAIR)
    )
    pairs = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("lo").alias("a"), F.col("hi").alias("c")
                ),
                F.struct(
                    F.col("hi").alias("a"), F.col("lo").alias("c")
                ),
            )
        ).alias("pr"),
        "n_both",
    ).select(
        F.col("pr.a").alias("antecedent"),
        F.col("pr.c").alias("consequent"),
        "n_both",
    )
    ia = items.select(
        F.col("p").alias("antecedent"), F.col("n_item").alias("n_a")
    )
    ic = items.select(
        F.col("p").alias("consequent"), F.col("n_item").alias("n_c")
    )
    return (
        pairs.join(ia, "antecedent")
        .join(ic, "consequent")
        .join(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.round(
                F.col("n_both").cast("double") / F.col("n_a"), 6
            ).alias("confidence_r"),
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_orders")
                / (F.col("n_a").cast("double") * F.col("n_c")),
                6,
            ).alias("lift_r"),
        )
        .orderBy("antecedent", "consequent")
    )
