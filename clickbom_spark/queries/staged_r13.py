"""Registry queries, round-13 batch — new operator surface.

Every query is checked bit-exact against its DuckDB oracle by
``tests/test_parity.py``; the strict-parity sweep covers sf0.1.

Round-13 themes:

* **Dialect round-trips for the round-11 compilations** — the
  ``-State``/``-Merge`` simple-aggregate algebra (the
  AggregatingMergeTree materialized-view pattern, both the grouped
  round-trip and an incremental two-batch merge), ``LIMIT m, n WITH
  TIES`` (positional offset inside a tie group), ``WITH FILL …
  INTERPOLATE`` (stair-step carry), the hierarchical dictionary
  family (``dictGetHierarchy`` / ``dictIsIn`` / ``dictGetChildren`` /
  ``dictGetDescendants`` over a nation→region→root hierarchy built
  from the corpus), and a DDL-driven capstone composing FINAL +
  SAMPLE + WITH FILL INTERPOLATE in one statement.
* **Time-series statistics** — fixed-coefficient EWMA over daily
  revenue, daily anomaly z-scores, lag-1 autocorrelation, one-sided
  CUSUM drift via prefix-sum/running-min, Fano-factor burstiness,
  and a per-user event-type Markov transition matrix.
* **Corpus / embedding audits** — first-seen 3-gram novelty,
  within-doc token co-occurrence PMI, quality by length decile,
  exact integer-quantized embedding norms, and session-duration
  log-buckets.
* **Relational / audit ops** — per-column null/blank audit,
  Herfindahl brand concentration, Pareto coverage via distinct-value
  prefix sums, and order→ship latency statistics.
* **Aggregate-state MV idioms** — the ``uniqState/uniqMerge`` MV
  idiom round-trip (the round-12 headline dialect compile) and the
  outer-join-fed ``countMerge/sumMerge`` NULL→0 ADVICE-fix round-trip.

Float determinism policy (same as the registry): exact integer /
decimal aggregates first, then ONE fixed IEEE expression per surfaced
double — the identical expression text on both engines — and
``round(x, 6)`` on surfaced statistics.  ln() appears only over small
positive INTEGERS (libm-safe cross-engine).  EWMA coefficients are
powers of 1/2, exact in binary, applied in one left-associated
expression on both sides.  Date-like keys surface as integers or
strings (the DuckDB pandas bridge widens DATE to datetime64).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickbom_spark.dialect import _UNIQ_STATE_SCALE
from clickbom_spark.queries import load, query
from clickbom_spark.session import local_frame


_CENTS = "toInt64(round(value * 100))"
_CENTS_DUCK = "CAST(round(value * 100) AS BIGINT)"


# ---------------------------------------------------------------------------
# Dialect round-trip: the -State/-Merge simple-aggregate algebra
# (round-11 compilation, dialect._STATE_ALGEBRA).  ClickHouse's
# AggregatingMergeTree materialized-view pattern: partial states at a
# fine grain, merged on read — must equal the direct rescan.  States
# compile to named-struct partial folds; -Merge re-aggregates them,
# so Spark's partial aggregation IS the persisted algebra.
# ---------------------------------------------------------------------------

_CH_STATE_MERGE = f"""
SELECT event_type,
       sumMerge(ss) AS cents,
       countMerge(cs) AS n,
       round(avgMerge(avs), 6) AS avg_cents,
       minMerge(ms) AS lo,
       maxMerge(xs) AS hi
FROM (
  SELECT event_type, user_id,
         sumState({_CENTS}) AS ss,
         countState() AS cs,
         avgState({_CENTS}) AS avs,
         minState({_CENTS}) AS ms,
         maxState({_CENTS}) AS xs
  FROM events GROUP BY event_type, user_id
) GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_dialect_state_merge",
    oracle=f"""
SELECT event_type,
       CAST(sum({_CENTS_DUCK}) AS BIGINT) AS cents,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum({_CENTS_DUCK}) AS DOUBLE) / count(value), 6)
         AS avg_cents,
       min({_CENTS_DUCK}) AS lo,
       max({_CENTS_DUCK}) AS hi
FROM events GROUP BY event_type ORDER BY event_type
""",
    description="ClickHouse -State/-Merge combinators run verbatim "
    "through the dialect shim (dialect._STATE_ALGEBRA): sum/count/"
    "avg/min/max states materialized per (event_type, user_id) as "
    "named-struct partial folds, then -Merge re-aggregated per "
    "event_type — the AggregatingMergeTree materialized-view "
    "pattern.  Merged results must equal the direct rescan "
    "aggregate (the oracle).  avgState keeps (sum, count) so the "
    "merged average is total-sum / total-count in one IEEE division "
    "on both engines.",
)
def q_dialect_state_merge(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_STATE_MERGE, sf_dir)
    return out.select(
        "event_type",
        F.col("cents").cast("long").alias("cents"),
        F.col("n").cast("long").alias("n"),
        F.col("avg_cents").cast("double").alias("avg_cents"),
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: incremental MV maintenance with -State/-Merge.
# Two independent batches (first/second half of the month) each
# produce per-type states — exactly what an AggregatingMergeTree MV
# stores per insert block — then a single -Merge over the UNION of
# state rows must equal the full rescan.  This is the exactly-once
# refresh contract of ClickHouse MVs, replayed through the shim.
# ---------------------------------------------------------------------------

_CH_STATE_MERGE_INC = f"""
SELECT event_type,
       sumMerge(ss) AS cents,
       countMerge(cs) AS n,
       maxMerge(xs) AS hi
FROM (
  SELECT event_type, sumState({_CENTS}) AS ss, countState() AS cs,
         maxState({_CENTS}) AS xs
  FROM events WHERE toDayOfMonth(ts) < 16 GROUP BY event_type
  UNION ALL
  SELECT event_type, sumState({_CENTS}) AS ss, countState() AS cs,
         maxState({_CENTS}) AS xs
  FROM events WHERE toDayOfMonth(ts) >= 16 GROUP BY event_type
) GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_dialect_state_merge_incremental",
    oracle=f"""
SELECT event_type,
       CAST(sum({_CENTS_DUCK}) AS BIGINT) AS cents,
       CAST(count(*) AS BIGINT) AS n,
       max({_CENTS_DUCK}) AS hi
FROM events GROUP BY event_type ORDER BY event_type
""",
    description="Incremental materialized-view maintenance through "
    "the -State/-Merge shim: two disjoint insert batches (days 1-15 "
    "and 16+) each fold their own per-type states; merging the "
    "unioned state rows equals the full rescan — the refresh "
    "contract an AggregatingMergeTree gives ClickHouse MV users "
    "(reference tie-in: the MergeTree table at entrypoint.sh:220-229 "
    "is the kind fed by such MVs).",
)
def q_dialect_state_merge_incremental(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_STATE_MERGE_INC, sf_dir)
    return out.select(
        "event_type",
        F.col("cents").cast("long").alias("cents"),
        F.col("n").cast("long").alias("n"),
        F.col("hi").cast("long").alias("hi"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: LIMIT m, n WITH TIES (round-11 compilation).
# The positional offset lands INSIDE the qty=1 tie group (l_quantity
# is integer 1..50, thousands of rows per value), so the rewrite
# must keep exactly the rows at sorted positions m+1..m+n plus the
# tail tie extension.  Only the order key is surfaced: the multiset
# of key values at those positions is deterministic even though
# WHICH physical row fills a tied position is not (same as
# ClickHouse).
# ---------------------------------------------------------------------------

_CH_TIES_PAGING = """
SELECT q FROM (SELECT toInt64(l_quantity) AS q FROM lineitem)
ORDER BY q LIMIT 100, 50 WITH TIES
"""


@query(
    "q_dialect_ties_paging",
    oracle="""
WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem),
     w AS (SELECT q, rank() OVER (ORDER BY q) AS rk,
                  row_number() OVER (ORDER BY q) AS rn FROM b)
SELECT q FROM w WHERE rn > 100 AND rk <= 150 ORDER BY q
""",
    description="ClickHouse `LIMIT 100, 50 WITH TIES` run verbatim "
    "through the dialect shim (dialect._rewrite_with_ties, comma-"
    "offset path): compiles to rank() <= m+n (tail ties kept — a "
    "tied group's rank is its first position) AND row_number() > m "
    "(the positional skip), replayed by the identical window pair "
    "in DuckDB.  The offset boundary falls inside a tie group, the "
    "case a naive rank-only rewrite gets wrong.",
)
def q_dialect_ties_paging(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_TIES_PAGING, sf_dir)
    return out.select(F.col("q").cast("long").alias("q"))


# ---------------------------------------------------------------------------
# Dialect round-trip: ORDER BY … WITH FILL … INTERPOLATE (round-11
# compilation).  Sparse daily aggregate (purchase events over value
# 90) on an odd-day STEP-2 spine: filled grid points take n = 0
# (type default) while cents CARRIES the last real day's value —
# the stair-step interpolation ClickHouse's INTERPOLATE(col) does.
# Grid points before the first real day fall back to the type
# default, also matching ClickHouse.
# ---------------------------------------------------------------------------

_CH_FILL_INTERP = f"""
SELECT d, n, cents FROM (
  SELECT toInt64(toDayOfMonth(ts)) AS d, count() AS n,
         sum({_CENTS}) AS cents
  FROM events WHERE event_type = 'purchase' AND value > 90
  GROUP BY d)
ORDER BY d WITH FILL FROM 1 TO 32 STEP 2 INTERPOLATE (cents)
"""


@query(
    "q_dialect_fill_interpolate",
    oracle=f"""
WITH base AS (
  SELECT CAST(day(ts) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_CENTS_DUCK}) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' AND value > 90
  GROUP BY 1),
     spine AS (SELECT CAST(x AS BIGINT) AS d FROM range(1, 32, 2) t(x)),
     fills AS (
  SELECT s.d, CAST(0 AS BIGINT) AS n,
         CAST(coalesce((SELECT b.cents FROM base b WHERE b.d <= s.d
                        ORDER BY b.d DESC LIMIT 1), 0) AS BIGINT)
           AS cents
  FROM spine s WHERE s.d NOT IN (SELECT d FROM base))
SELECT d, n, cents FROM base
UNION ALL
SELECT d, n, cents FROM fills
ORDER BY d
""",
    description="ClickHouse `ORDER BY d WITH FILL FROM 1 TO 32 STEP "
    "2 INTERPOLATE (cents)` run verbatim through the dialect shim "
    "(dialect._run_with_fill): the dense odd-day spine full-outer-"
    "joins the sparse base (one scan, nothing persisted), filled "
    "rows take n = 0 but CARRY the last real day's cents via a "
    "marker-gated last_value window — ClickHouse's stair-step "
    "INTERPOLATE.  The DuckDB oracle replays the carry as a "
    "correlated last-at-or-before lookup per missing grid point.",
)
def q_dialect_fill_interpolate(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_FILL_INTERP, sf_dir)
    return out.select(
        F.col("d").cast("long").alias("d"),
        F.col("n").cast("long").alias("n"),
        F.col("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: the hierarchical dictionary family (round-11
# compilation).  A nation→region→root hierarchy is registered from
# the corpus itself (nation ids offset by 100, region ids by 1, root
# parent 0); every traversal compiles to an equality-correlated
# lookup against the driver-materialized ancestor-chain closure —
# never a recursive join at query time.
# ---------------------------------------------------------------------------

_CH_HIERARCHY = """
SELECT nk,
       arrayStringConcat(dictGetHierarchy('r13_geo', nk + 100), ',')
         AS chain,
       toInt64(dictIsIn('r13_geo', nk + 100, toInt64(1))) AS in_r1,
       arrayStringConcat(dictGetChildren('r13_geo', toInt64(0)), ',')
         AS roots,
       arrayStringConcat(
         dictGetDescendants('r13_geo', toInt64(nk % 5 + 1)), ',')
         AS region_members
FROM (SELECT DISTINCT toInt64(s_nationkey) AS nk FROM supplier)
ORDER BY nk
"""


def _register_r13_geo():
    from clickbom_spark.dialect import register_dictionary

    register_dictionary(
        "r13_geo",
        "SELECT toInt64(n_nationkey + 100) AS g_id, "
        "toInt64(n_regionkey + 1) AS g_parent, n_name AS g_name "
        "FROM nation "
        "UNION ALL "
        "SELECT toInt64(r_regionkey + 1) AS g_id, toInt64(0) AS "
        "g_parent, r_name AS g_name FROM region",
        key="g_id",
        defaults={"g_name": "''"},
        hierarchical="g_parent",
    )


@query(
    "q_dialect_hierarchy",
    oracle="""
WITH nk AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nk
            FROM supplier),
     roots AS (
       SELECT array_to_string(list_sort(list(CAST(r_regionkey + 1
                AS BIGINT))), ',') AS roots FROM region)
SELECT nk.nk AS nk,
       CAST(nk.nk + 100 AS VARCHAR) || ',' ||
         CAST((SELECT n_regionkey + 1 FROM nation
               WHERE n_nationkey = nk.nk) AS VARCHAR) AS chain,
       CAST(CASE WHEN (SELECT n_regionkey + 1 FROM nation
                       WHERE n_nationkey = nk.nk) = 1
                 THEN 1 ELSE 0 END AS BIGINT) AS in_r1,
       (SELECT roots FROM roots) AS roots,
       (SELECT array_to_string(list_sort(list(CAST(n_nationkey + 100
                 AS BIGINT))), ',')
        FROM nation WHERE n_regionkey + 1 = nk.nk % 5 + 1)
         AS region_members
FROM nk ORDER BY nk
""",
    description="ClickHouse hierarchical dictionary traversals run "
    "verbatim through the dialect shim (dialect._dict_get_hierarchy "
    "family): dictGetHierarchy walks nation→region→root chains, "
    "dictIsIn tests region membership through the chain, "
    "dictGetChildren(0) lists the roots, dictGetDescendants lists a "
    "region's nations — all equality-correlated lookups against the "
    "ancestor-chain closure views (__chains / __hier_pairs) "
    "materialized driver-side from the dictionary (bounded by its "
    "own in-RAM size).  Arrays surface as comma-joined strings; the "
    "shim returns children/descendants SORTED (documented delta — "
    "ClickHouse's load order is unobservable).",
)
def q_dialect_hierarchy(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    _register_r13_geo()
    out = run_clickhouse_sql(spark, _CH_HIERARCHY, sf_dir)
    return out.select(
        F.col("nk").cast("long").alias("nk"),
        "chain",
        F.col("in_r1").cast("long").alias("in_r1"),
        "roots",
        "region_members",
    )


# ---------------------------------------------------------------------------
# Dialect capstone: FINAL + SAMPLE + WITH FILL INTERPOLATE composed
# in ONE statement, all metadata wired from a verbatim ClickHouse
# CREATE TABLE via register_table_ddl.  ClickHouse applies SAMPLE at
# storage read, FINAL collapses versions next, the aggregate runs
# over the survivors, and the fill pads the calendar last — the
# oracle replays exactly that order.
# ---------------------------------------------------------------------------

_R13_DDL = """
CREATE TABLE events_r13 (
    event_id   UInt64,
    ts         DateTime,
    user_id    UInt64,
    event_type String,
    value      Float64
) ENGINE = ReplacingMergeTree(event_id)
ORDER BY (user_id, event_type)
SAMPLE BY user_id
"""

_CH_FILL_COMPOSED = f"""
SELECT d, n, cents FROM (
  SELECT toInt64(toDayOfMonth(ts)) AS d, count() AS n,
         sum({_CENTS}) AS cents
  FROM events_r13 FINAL SAMPLE 0.5
  GROUP BY d)
ORDER BY d WITH FILL FROM 1 TO 31 INTERPOLATE (cents)
"""


@query(
    "q_dialect_fill_composed",
    oracle=f"""
WITH sampled AS (
  SELECT * FROM events
  WHERE CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
              1, 8)) AS BIGINT) / 4294967296.0 < 0.5),
     latest AS (
  SELECT user_id, event_type, arg_max(ts, event_id) AS ts,
         arg_max(value, event_id) AS value
  FROM sampled GROUP BY user_id, event_type),
     base AS (
  SELECT CAST(day(ts) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_CENTS_DUCK}) AS BIGINT) AS cents
  FROM latest GROUP BY 1),
     spine AS (SELECT CAST(x AS BIGINT) AS d FROM range(1, 31) t(x)),
     fills AS (
  SELECT s.d, CAST(0 AS BIGINT) AS n,
         CAST(coalesce((SELECT b.cents FROM base b WHERE b.d <= s.d
                        ORDER BY b.d DESC LIMIT 1), 0) AS BIGINT)
           AS cents
  FROM spine s WHERE s.d NOT IN (SELECT d FROM base))
SELECT d, n, cents FROM base
UNION ALL
SELECT d, n, cents FROM fills
ORDER BY d
""",
    description="Dialect capstone, round 13: one statement composing "
    "every piece of DDL-driven metadata — register_table_ddl parses "
    "the ClickHouse CREATE TABLE (ReplacingMergeTree(event_id) + "
    "ORDER BY → FINAL keys; SAMPLE BY user_id → sampling key), then "
    "FINAL + SAMPLE 0.5 + GROUP BY day + ORDER BY … WITH FILL "
    "INTERPOLATE (cents) run together: hash-threshold sample at "
    "read, keep-latest dedup, daily aggregate, dense calendar spine "
    "with stair-step cents carry.  After FINAL's collapse to one "
    "row per (user, type) the daily frame is sparse, so the fill "
    "path does real work.",
)
def q_dialect_fill_composed(spark, sf_dir):
    from clickbom_spark.dialect import (
        register_table_ddl, run_clickhouse_sql,
    )
    from clickbom_spark.session import read_table

    read_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_r13"
    )
    register_table_ddl(_R13_DDL)
    out = run_clickhouse_sql(spark, _CH_FILL_COMPOSED, sf_dir)
    return out.select(
        F.col("d").cast("long").alias("d"),
        F.col("n").cast("long").alias("n"),
        F.col("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# Time-series statistics over the daily revenue series.  Shared
# shape: ONE events scan → (type?, day, integer cents) aggregate —
# a calendar-bounded frame (≤31 rows per type) every later window or
# self-join operates on, so the "global" windows below are bounded
# by the calendar, not the data (the scale lens from
# tests/test_plans.py).
# ---------------------------------------------------------------------------

@query(
    "q_ewma_daily",
    oracle=f"""
WITH daily AS (
  SELECT event_type AS et, CAST(day(ts) AS BIGINT) AS d,
         CAST(sum({_CENTS_DUCK}) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
     contrib AS (
  SELECT et, d + j AS t,
         CAST(cents * (8 >> j) AS BIGINT) AS w
  FROM daily, (SELECT unnest([0, 1, 2, 3]) AS j)),
     smoothed AS (
  SELECT et, t, CAST(sum(w) AS BIGINT) AS S
  FROM contrib GROUP BY et, t)
SELECT daily.et AS et, daily.d AS d, daily.cents AS cents,
       round(CAST(S AS DOUBLE) / 15, 6) AS ewma
FROM daily JOIN smoothed ON smoothed.et = daily.et
                        AND smoothed.t = daily.d
ORDER BY et, d
""",
    description="Fixed-coefficient EWMA (alpha = 1/2, 4-tap) over "
    "each event type's daily revenue, computed SCATTER-style: each "
    "daily total contributes cents·(8 >> j) to days d..d+3 (integer "
    "weights 8/4/2/1 — the power-of-two kernel scaled by 8 so every "
    "partial stays an EXACT integer), one re-aggregation per target "
    "day, and a single division by 15 (= 8·1.875) round(6).  "
    "Missing prior days contribute nothing, matching the "
    "zero-padded kernel.  TWO passes over the calendar-bounded "
    "daily aggregate (scatter + the observed-day join) instead of "
    "the four self-join scans a lag-per-tap formulation costs.",
)
def q_ewma_daily(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")

    def daily_frame():
        return (
            events.groupBy(
                F.col("event_type").alias("et"),
                F.dayofmonth("ts").cast("long").alias("d"),
            )
            .agg(
                F.sum(F.round(F.col("value") * 100).cast("long"))
                .cast("long")
                .alias("cents")
            )
        )

    daily = daily_frame()
    taps = spark.range(4).select(F.col("id").cast("long").alias("j"))
    contrib = daily.crossJoin(F.broadcast(taps)).select(
        "et",
        (F.col("d") + F.col("j")).alias("t"),
        (F.col("cents") * F.expr("shiftright(8, CAST(j AS INT))"))
        .cast("long")
        .alias("w"),
    )
    smoothed = contrib.groupBy("et", "t").agg(
        F.sum("w").cast("long").alias("S")
    )
    base = daily_frame().alias("daily")
    return (
        base.join(
            smoothed,
            (smoothed["et"] == base["et"]) & (smoothed["t"] == base["d"]),
        )
        .select(
            base["et"].alias("et"), base["d"].alias("d"),
            base["cents"].alias("cents"),
            F.round(F.col("S").cast("double") / 15, 6).alias("ewma"),
        )
        .orderBy("et", "d")
    )


_Z_EXPR = (
    "round((CAST(c AS DOUBLE) - CAST(S AS DOUBLE) / n) / "
    "sqrt((CAST(Q AS DOUBLE) - CAST(S AS DOUBLE) * S / n) / (n - 1)),"
    " 6)"
)


@query(
    "q_daily_anomaly_zscore",
    oracle=f"""
WITH daily AS (
  SELECT CAST(day(ts) AS BIGINT) AS d,
         CAST(sum({_CENTS_DUCK}) AS BIGINT) AS c
  FROM events GROUP BY 1),
     stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS S,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS Q
  FROM daily)
SELECT d, c, {_Z_EXPR} AS z,
       CAST(CASE WHEN abs({_Z_EXPR}) > 2 THEN 1 ELSE 0 END AS BIGINT)
         AS is_anomaly
FROM daily, stats ORDER BY d
""",
    description="Daily revenue anomaly flags via z-scores computed "
    "from EXACT integer power sums: n, S = Σc, Q = Σc² (decimal — "
    "Q exceeds 2^53 at scale) in one aggregate over the ≤31-row "
    "daily frame, broadcast back as a 1-row cross join; mean and "
    "sample std collapse into ONE shared IEEE expression (sqrt is "
    "exactly rounded) evaluated identically on both engines, "
    "round(6).  |z| > 2 flags the anomalous days.",
)
def q_daily_anomaly_zscore(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.dayofmonth("ts").cast("long").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("c")
    )
    stats = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("S"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("Q"),
    )
    z = F.expr(_Z_EXPR)
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            "d", "c", z.alias("z"),
            F.when(F.abs(z) > 2, 1).otherwise(0).cast("long")
            .alias("is_anomaly"),
        )
        .orderBy("d")
    )


_CORR_EXPR = (
    "round((CAST(n AS DOUBLE) * CAST(Sxy AS DOUBLE) - "
    "CAST(Sx AS DOUBLE) * CAST(Sy AS DOUBLE)) / "
    "sqrt((CAST(n AS DOUBLE) * CAST(Sxx AS DOUBLE) - "
    "CAST(Sx AS DOUBLE) * CAST(Sx AS DOUBLE)) * "
    "(CAST(n AS DOUBLE) * CAST(Syy AS DOUBLE) - "
    "CAST(Sy AS DOUBLE) * CAST(Sy AS DOUBLE))), 6)"
)


@query(
    "q_autocorr_lag1",
    oracle=f"""
WITH daily AS (
  SELECT CAST(day(ts) AS BIGINT) AS d,
         CAST(sum({_CENTS_DUCK}) AS BIGINT) AS c
  FROM events GROUP BY 1),
     pairs AS (
  SELECT a.c AS x, b.c AS y
  FROM daily a JOIN daily b ON b.d = a.d + 1),
     sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS Sx, CAST(sum(y) AS BIGINT) AS Sy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
           AS Sxy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
           AS Sxx,
         CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
           AS Syy
  FROM pairs)
SELECT n AS n_pairs, {_CORR_EXPR} AS r FROM sums
""",
    description="Lag-1 autocorrelation of the daily revenue series: "
    "consecutive-day pairs come from a calendar self-join on d+1 "
    "(gaps drop out, matching the definition over observed adjacent "
    "days), Pearson r from EXACT integer/decimal power sums (n, Sx, "
    "Sy, Sxy, Sxx, Syy) collapsed through ONE shared IEEE "
    "expression, round(6) — the same power-sum discipline as "
    "q_pearson_exact, composed through a time shift.",
)
def q_autocorr_lag1(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.dayofmonth("ts").cast("long").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("c")
    )
    pairs = (
        daily.alias("a")
        .join(
            daily.select(
                F.col("d").alias("d2"), F.col("c").alias("y")
            ),
            F.col("d2") == F.col("d") + 1,
        )
        .select(F.col("c").alias("x"), "y")
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    sums = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("Sx"),
        F.sum("y").cast("long").alias("Sy"),
        F.sum(dec("x") * F.col("y")).cast("decimal(38,0)").alias("Sxy"),
        F.sum(dec("x") * F.col("x")).cast("decimal(38,0)").alias("Sxx"),
        F.sum(dec("y") * F.col("y")).cast("decimal(38,0)").alias("Syy"),
    )
    return sums.select(
        F.col("n").alias("n_pairs"), F.expr(_CORR_EXPR).alias("r")
    )


@query(
    "q_cusum_drift",
    oracle=f"""
WITH daily AS (
  SELECT CAST(day(ts) AS BIGINT) AS d,
         CAST(sum({_CENTS_DUCK}) AS BIGINT) AS c
  FROM events GROUP BY 1),
     tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(c) AS BIGINT) AS S FROM daily),
     scaled AS (
  SELECT d, CAST(n * c - S AS BIGINT) AS x FROM daily, tot),
     pre AS (
  SELECT d, CAST(sum(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS p
  FROM scaled)
SELECT d,
       CAST(p - least(CAST(0 AS BIGINT),
              min(p) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW)) AS BIGINT) AS cusum
FROM pre ORDER BY d
""",
    description="One-sided CUSUM drift statistic over daily revenue, "
    "kept EXACT by working in n-scaled integers: x_d = n·c_d - S "
    "(the mean-adjusted deviation times n, so no division), then "
    "the classic recurrence S_t = max(0, S_{t-1} + x_t) rewritten "
    "in closed form as P_t - min(0, min_{j<=t} P_j) — a prefix sum "
    "plus a running min, two windows over the ≤31-row calendar "
    "frame instead of an inexpressible sequential fold.  Pure "
    "integer arithmetic end-to-end.",
)
def q_cusum_drift(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.dayofmonth("ts").cast("long").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("c")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("S"),
    )
    scaled = daily.crossJoin(F.broadcast(tot)).select(
        "d", (F.col("n") * F.col("c") - F.col("S")).cast("long").alias("x")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = scaled.select(
        "d", F.sum("x").over(w).cast("long").alias("p")
    )
    return pre.select(
        "d",
        (
            F.col("p")
            - F.least(F.lit(0).cast("long"), F.min("p").over(w))
        )
        .cast("long")
        .alias("cusum"),
    ).orderBy("d")


_FANO_EXPR = (
    "round(((CAST(Q AS DOUBLE) - CAST(S AS DOUBLE) * S / K) / (K - 1))"
    " / (CAST(S AS DOUBLE) / K), 6)"
)


@query(
    "q_burstiness_fano",
    oracle=f"""
WITH daily AS (
  SELECT event_type AS et, CAST(day(ts) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1, 2),
     span AS (
  SELECT CAST(max(day(ts)) - min(day(ts)) + 1 AS BIGINT) AS K
  FROM events),
     sums AS (
  SELECT et, CAST(sum(n_ev) AS BIGINT) AS S,
         CAST(sum(CAST(n_ev AS DECIMAL(38,0)) * n_ev)
              AS DECIMAL(38,0)) AS Q
  FROM daily GROUP BY et)
SELECT et, S AS n_events, {_FANO_EXPR} AS fano
FROM sums, span ORDER BY et
""",
    description="Fano-factor burstiness (variance-to-mean ratio of "
    "daily event counts) per event type over the FULL calendar span "
    "K = max(day) - min(day) + 1 — days with zero events contribute "
    "0 to every power sum by construction, so no dense spine is "
    "needed: S = Σn_d and Q = Σn_d² over present days already equal "
    "the dense-series sums.  Sample variance and mean collapse into "
    "ONE shared IEEE expression over exact integer sums, round(6).  "
    "Fano ≈ 1 is Poisson; > 1 is bursty.",
)
def q_burstiness_fano(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("event_type").alias("et"),
        F.dayofmonth("ts").cast("long").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_ev"))
    span = events.agg(
        (
            F.max(F.dayofmonth("ts")) - F.min(F.dayofmonth("ts")) + 1
        )
        .cast("long")
        .alias("K")
    )
    sums = daily.groupBy("et").agg(
        F.sum("n_ev").cast("long").alias("S"),
        F.sum(F.col("n_ev").cast("decimal(38,0)") * F.col("n_ev"))
        .cast("decimal(38,0)")
        .alias("Q"),
    )
    return (
        sums.crossJoin(F.broadcast(span))
        .select(
            "et",
            F.col("S").alias("n_events"),
            F.expr(_FANO_EXPR).alias("fano"),
        )
        .orderBy("et")
    )


@query(
    "q_event_markov_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
     trans AS (
  SELECT prev, event_type AS cur, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
     tot AS (
  SELECT prev, CAST(sum(n) AS BIGINT) AS row_n FROM trans GROUP BY 1)
SELECT t.prev AS prev, t.cur AS cur, t.n AS n,
       round(CAST(t.n AS DOUBLE) / row_n, 6) AS p
FROM trans t JOIN tot USING (prev)
ORDER BY prev, cur
""",
    description="Per-user event-type Markov transition matrix: "
    "consecutive pairs via lag() partitioned by user (ordered by "
    "ts, event_id — a per-user window, shuffle-bounded by the "
    "grouping like every sessionization op), bigram counts, and "
    "row-normalized transition probabilities as one exact-integer "
    "division round(6).  The 5x5 output is the behavioral "
    "fingerprint mined for next-event prediction features.",
)
def q_event_markov_matrix(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "event_type",
        F.lag("event_type").over(w).alias("prev"),
    ).where(F.col("prev").isNotNull())
    trans = seq.groupBy(
        "prev", F.col("event_type").alias("cur")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    # row totals as a window over the TINY transition frame: the old
    # trans⋈tot join made trans (and its events-wide lag-window
    # lineage) a two-consumer subtree — the whole per-user window ran
    # twice.  sum(n) over (partition by prev) is the same exact long
    # total on one lineage; the window frame is ≤ |event_type|² rows.
    row_n = F.sum("n").over(Window.partitionBy("prev")).cast("long")
    return (
        trans.select(
            "prev", "cur", "n",
            F.round(F.col("n").cast("double") / row_n, 6).alias("p"),
        )
        .orderBy("prev", "cur")
    )


# ---------------------------------------------------------------------------
# Corpus / embedding audits.  Candidate generation stays postings
# equi-joins (shingle→min-doc, word→doc) — never document pairs —
# and the embedding scan is map-only integer quantization.
# ---------------------------------------------------------------------------


@query(
    "q_shingle_novelty",
    oracle="""
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                 for i in range(1, len(l) - 1)]) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS l
        FROM documents WHERE text IS NOT NULL)),
     firsts AS (
  SELECT g, CAST(min(doc_id) AS BIGINT) AS first_doc FROM sh
  GROUP BY g)
SELECT s.doc_id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(*) FILTER (WHERE f.first_doc = s.doc_id) AS BIGINT)
         AS n_novel,
       round(CAST(count(*) FILTER (WHERE f.first_doc = s.doc_id)
                  AS DOUBLE) / count(*), 6) AS novelty
FROM sh s JOIN firsts f USING (g)
GROUP BY s.doc_id ORDER BY s.doc_id
""",
    description="First-seen 3-gram novelty per document: the "
    "fraction of a doc's DISTINCT shingles whose corpus-wide first "
    "appearance (min doc_id over the shingle's posting list) is "
    "this doc — the ingestion-order novelty signal dedup pipelines "
    "use to rank near-duplicate clusters.  Shape: one shingle "
    "generator, a (shingle → first_doc) hash aggregate, and a "
    "postings equi-join back — never a doc-pair product.  Exact "
    "integer counts, one division round(6).",
)
def q_shingle_novelty(spark, sf_dir):
    # SELECT DISTINCT (doc_id, g) ≡ per-doc array_distinct of the
    # shingle array (shingles of different docs are distinct rows by
    # the doc_id key alone), so the corpus-wide distinct EXCHANGE is a
    # map-side dedup.  With that, n_shingles is size(gs) per doc (no
    # aggregate at all) and n_novel per doc is a count over the TINY
    # (g, first_doc) frame grouped by first_doc — every shingle is
    # counted toward exactly the doc that owns its corpus-wide min,
    # and that doc always contains the shingle, so the counts equal
    # the old postings-join-back.  The fat sh⋈firsts join (a second
    # full shuffle of the posting list) disappears; what is left is
    # one partial-aggregated exchange on g, two narrow per-doc frames
    # and a doc-keyed join.
    (docs,) = load(spark, sf_dir, "documents")
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("l")
    )
    gs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("l") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at("l", i),
                F.element_at("l", i + 1),
                F.element_at("l", i + 2),
            ),
        )
    )
    # only docs with ≥3 tokens shingle at all; filtering on size(l)
    # BEFORE computing gs keeps the pushed-down filter from
    # re-evaluating the whole gram pipeline as its predicate
    # (n_shingles > 0 ⟺ size(l) ≥ 3: a len-k doc has k−2 ≥ 1 grams
    # and array_distinct keeps at least one)
    shingled = toks.where(F.size("l") >= 3)
    sh = shingled.select(
        "doc_id", F.explode(gs).alias("g")
    )
    firsts = sh.groupBy("g").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    counts = shingled.select(
        "doc_id", F.size(gs).cast("long").alias("n_shingles")
    )
    return (
        counts.join(novel, "doc_id", "left")
        .select(
            "doc_id", "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id", "n_shingles", "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_shingles"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


_PMI_TOP_WORDS = 40
_PMI_TOP_PAIRS = 20


@query(
    "q_token_pmi",
    oracle=f"""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL),
     nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS N
            FROM dw),
     wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY w),
     top AS (
  SELECT w, df FROM wf ORDER BY df DESC, w LIMIT {_PMI_TOP_WORDS}),
     pairs AS (
  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS n_xy
  FROM (SELECT doc_id, w FROM dw WHERE w IN (SELECT w FROM top)) a
  JOIN (SELECT doc_id, w FROM dw WHERE w IN (SELECT w FROM top)) b
    ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2)
SELECT w1, w2, n_xy,
       round(ln(CAST(N * n_xy AS DOUBLE)) -
             ln(CAST(t1.df * t2.df AS DOUBLE)), 6) AS pmi
FROM pairs JOIN top t1 ON t1.w = pairs.w1
           JOIN top t2 ON t2.w = pairs.w2, nd
ORDER BY n_xy DESC, w1, w2 LIMIT {_PMI_TOP_PAIRS}
""",
    description="Within-document co-occurrence PMI for the "
    f"{_PMI_TOP_WORDS} highest-document-frequency words: "
    "PMI(x,y) = ln(N·n_xy) - ln(df_x·df_y) over document "
    "frequencies — both ln arguments are EXACT small integers "
    "(products < 2^53), the one libm form that is bit-stable "
    "across engines, differenced then round(6).  Candidate "
    "generation joins the word→doc postings of the top words only "
    "(a broadcast-bounded vocabulary), ordered w1 < w2 — bounded "
    "pair fan-out, never a full vocabulary product.  Top "
    f"{_PMI_TOP_PAIRS} pairs by count with a total deterministic "
    "tie-break.",
)
def q_token_pmi(spark, sf_dir):
    # SELECT DISTINCT (doc_id, w) ≡ per-doc array_distinct (same
    # map-side-dedup argument as q_shingle_novelty): the corpus-wide
    # distinct exchange disappears and the document-frequency
    # aggregate runs straight off the exploded per-doc-distinct
    # words.  With the top-k vocabulary pinned driver-side, the pair
    # counts need NO postings self-join at all — each doc's top-word
    # set is intersected with the (40-word) literal vocabulary and
    # its sorted upper triangle is generated in the same map stage
    # (exactly the oracle's a.w < b.w per-doc pair set), leaving one
    # tiny (w1, w2) aggregate where the old plan shuffled the
    # postings twice through an equi-join.
    (docs,) = load(spark, sf_dir, "documents")
    words = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ws")
    )
    dw = words.select("doc_id", F.explode("ws").alias("w"))
    # every non-null-text doc yields ≥1 word (split of '' is ['']),
    # so distinct-doc count over the exploded frame == distinct-doc
    # count over words — no explode needed for N
    nd = words.agg(
        F.countDistinct("doc_id").cast("long").alias("N")
    )
    wf = dw.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # the top-k vocabulary is BOUNDED (k rows) by construction — pin
    # it driver-side once so the downstream joins broadcast a literal
    # frame instead of re-deriving the postings scan each (the
    # k-row-collect rule the sketch operators follow)
    top_rows = (
        wf.orderBy(F.col("df").desc(), "w").limit(_PMI_TOP_WORDS).collect()
    )
    top = local_frame(spark, [(r.w, r.df) for r in top_rows], "w string, df long")
    top_lit = F.array(*[F.lit(r.w) for r in top_rows])
    pairs = (
        words.select(
            F.array_sort(F.array_intersect("ws", top_lit)).alias("tw")
        )
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("tw"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("tw"), i + F.lit(2), F.size("tw")
                            ),
                            lambda y: F.struct(
                                x.alias("w1"), y.alias("w2")
                            ),
                        ),
                    )
                )
            ).alias("pr")
        )
        .groupBy(
            F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
    )
    return (
        pairs.join(
            F.broadcast(
                top.select(F.col("w").alias("w1"), F.col("df").alias("df1"))
            ),
            "w1",
        )
        .join(
            F.broadcast(
                top.select(F.col("w").alias("w2"), F.col("df").alias("df2"))
            ),
            "w2",
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "w1", "w2", "n_xy",
            F.round(
                F.log((F.col("N") * F.col("n_xy")).cast("double"))
                - F.log((F.col("df1") * F.col("df2")).cast("double")),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("n_xy").desc(), "w1", "w2")
        .limit(_PMI_TOP_PAIRS)
    )


@query(
    "q_length_band_quality",
    oracle="""
SELECT CAST(n_chars // 200 AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars_total,
       round(CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE) / count(*),
             6) AS avg_chars,
       round(CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                  AS DOUBLE) / count(*), 6) AS avg_words
FROM documents WHERE text IS NOT NULL
GROUP BY band ORDER BY band
""",
    description="Document quality profile by fixed 200-char length "
    "band (integer division — no global ntile window, so the "
    "banding is a map-side expression that scales to any corpus "
    "size, unlike decile ranking): doc counts, exact char totals, "
    "and average words per doc (single-space tokenization, the "
    "corpus convention) as exact-integer sums with one division "
    "each, round(6).  The length-quality curve drives the min/max "
    "length gates in filter cascades.",
)
def q_length_band_quality(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    return (
        docs.where(F.col("text").isNotNull())
        .groupBy(
            (F.col("n_chars").cast("long") / F.lit(200))
            .cast("long")
            .alias("band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).cast("long")
            .alias("chars_total"),
            F.round(
                F.sum(F.col("n_chars").cast("long")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_chars"),
            F.round(
                F.sum(F.size(F.split("text", " ")).cast("long"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_words"),
        )
        .orderBy("band")
    )


@query(
    "q_embedding_norms",
    oracle="""
WITH q AS (
  SELECT label,
         list_sum(list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS qnorm2
  FROM embeddings)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(qnorm2) AS BIGINT) AS qnorm2_total,
       round(CAST(sum(qnorm2) AS DOUBLE) / count(*), 6)
         AS avg_qnorm2,
       CAST(max(qnorm2) AS BIGINT) AS max_qnorm2
FROM q GROUP BY label ORDER BY label
""",
    description="Embedding L2-norm audit per label with EXACT "
    "integer quantization: each element contributes "
    "floor(x²·10⁶) as a bigint (floor, not round — round's half-tie "
    "direction differs between engines and x²·10⁶ DOES land on "
    "exact halves in this corpus), folded with an integer array "
    "aggregate — order-independent, so the map-side fold is "
    "bit-stable on any partitioning (a raw double Σx² would be "
    "association-dependent).  Per label: vector count, total and "
    "average quantized squared norm (one division, round(6)), and "
    "the max.  Norm drift per label is the standard embedding-"
    "pipeline health check before ANN indexing.",
)
def q_embedding_norms(spark, sf_dir):
    (emb,) = load(spark, sf_dir, "embeddings")
    qnorm = F.aggregate(
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * x.cast("double") * 1000000
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        emb.select("label", qnorm.alias("qnorm2"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("qnorm2").cast("long").alias("qnorm2_total"),
            F.round(
                F.sum("qnorm2").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_qnorm2"),
            F.max("qnorm2").cast("long").alias("max_qnorm2"),
        )
        .orderBy("label")
    )


_SESSION_GAP_US = 30 * 60 * 1_000_000
_SESSION_BUCKET_US = 5 * 60 * 1_000_000


@query(
    "q_session_duration_buckets",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   > {_SESSION_GAP_US} OR
                   lag(epoch_us(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
     sess AS (
  SELECT user_id, t,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND
                          CURRENT ROW) AS sid
  FROM ev),
     durs AS (
  SELECT CAST(max(t) - min(t) AS BIGINT) AS dur_us
  FROM sess GROUP BY user_id, sid)
SELECT CAST(least(12, dur_us // {_SESSION_BUCKET_US}) AS BIGINT)
         AS bucket,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(dur_us) AS BIGINT) AS total_us
FROM durs GROUP BY bucket ORDER BY bucket
""",
    description="Session-duration histogram in capped 5-minute "
    "buckets: 30-minute-gap sessionization (the classic flag + "
    "running-sum pair of per-user windows — shuffle bounded by the "
    "user partitioning), exact integer microsecond durations per "
    "session, then a fixed integer bucketing (least(12, dur DIV "
    "5min)) — no quantile windows, map-side after the session "
    "aggregate.  The duration mix is the engagement profile "
    "funnels and timeout tuning read.",
)
def q_session_duration_buckets(spark, sf_dir):
    from pyspark.sql import Window

    from clickbom_spark.queries import epoch_us

    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = events.select(
        "user_id", "event_id", epoch_us("ts").alias("t"),
        F.when(
            (
                epoch_us("ts") - F.lag(epoch_us("ts")).over(w)
                > _SESSION_GAP_US
            )
            | F.lag(epoch_us("ts")).over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    # the running sum must share the new_s flag's (t, event_id)
    # tie-break — ordering by t alone would split/merge sessions
    # nondeterministically on duplicate timestamps (review finding)
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = ev.select(
        "user_id", "t", F.sum("new_s").over(w2).alias("sid")
    )
    durs = sess.groupBy("user_id", "sid").agg(
        (F.max("t") - F.min("t")).cast("long").alias("dur_us")
    )
    return (
        durs.groupBy(
            F.least(
                F.lit(12),
                (F.col("dur_us") / F.lit(_SESSION_BUCKET_US)).cast(
                    "long"
                ),
            )
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("dur_us").cast("long").alias("total_us"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# The round-12 headline dialect feature — the uniqState/uniqMerge MV
# idiom — and the countMerge/sumMerge NULL→0 ADVICE-fix round-trip.
# ---------------------------------------------------------------------------

# DuckDB replay of the dialect's portable HLL finalize (the same
# register algebra the q_hll_distinct oracle pins): bucket-max rho per
# group over the 60-bit md5 hash, decimal-exact harmonic sum,
# linear-counting correction, round to integer.  ``{src}`` supplies
# (grp, h) rows; ``{grp}`` the group column name.
_HLL_MERGE_DUCK = f"""
r AS (
  SELECT grp, h % 256 AS bucket,
         MAX(CASE WHEN (h >> 8) = 0 THEN 53
             ELSE length(bin((h >> 8) & (-(h >> 8)))) END) AS rho
  FROM h GROUP BY grp, bucket
), sv AS (
  SELECT grp,
         CAST(SUM((1::BIGINT << (62 - rho))::DECIMAL(38,0))
              AS DECIMAL(38,0)) AS sp,
         CAST(count(*) AS BIGINT) AS np
  FROM r GROUP BY grp
), est AS (
  SELECT grp,
         CAST(ROUND(CASE WHEN {_UNIQ_STATE_SCALE!r} /
                (CAST(sp AS DOUBLE) + CAST(256 - np AS DOUBLE)
                 * {float(1 << 62)!r}) <= {2.5 * 256!r}
                AND (256 - np) > 0
           THEN {256.0!r} * ln({256.0!r} / CAST(256 - np AS DOUBLE))
           ELSE {_UNIQ_STATE_SCALE!r} /
                (CAST(sp AS DOUBLE) + CAST(256 - np AS DOUBLE)
                 * {float(1 << 62)!r}) END) AS BIGINT) AS uniq_est
  FROM sv
)"""


# ---------------------------------------------------------------------------
# Dialect round-trip: the uniqState/uniqMerge materialized-view idiom
# (round-12 compile).  Per-(priority, month) approximate-distinct
# states — an AggregatingMergeTree MV — merged per priority on read,
# next to the exact twin.  Merge of partial states == state of the
# whole input EXACTLY (set-union law), so the DuckDB oracle replays
# the register algebra over the whole table per priority.
# ---------------------------------------------------------------------------

_CH_UNIQ_STATE_MV = """
SELECT o_orderpriority AS pri,
       uniqMerge(us) AS uniq_cust,
       uniqExactMerge(es) AS exact_cust
FROM (
  SELECT o_orderpriority, toStartOfMonth(o_orderdate) AS m,
         uniqState(o_custkey) AS us,
         uniqExactState(o_custkey) AS es
  FROM orders GROUP BY o_orderpriority, m
) GROUP BY o_orderpriority ORDER BY pri
"""


@query(
    "q_dialect_uniq_state_mv",
    oracle=f"""
WITH h AS (
  SELECT o_orderpriority AS grp,
         CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),
                                 1, 15)) AS BIGINT) AS h
  FROM orders WHERE o_custkey IS NOT NULL
), {_HLL_MERGE_DUCK}
SELECT est.grp AS pri, est.uniq_est AS uniq_cust, x.exact_cust
FROM est JOIN (SELECT o_orderpriority AS grp,
                      CAST(count(DISTINCT o_custkey) AS BIGINT)
                        AS exact_cust
               FROM orders GROUP BY 1) x USING (grp)
ORDER BY pri
""",
    description="ClickHouse's most common MV idiom after sums, run "
    "verbatim through the shim: per-(priority, month) uniqState "
    "partials (round-12 compile — bounded portable HLL code sets, "
    "dialect.py _uniq_state_expr) merged per priority on read, next "
    "to the uniqExactState twin.  Merge = set union is EXACT (merge "
    "of parts == state of whole), so the DuckDB oracle replays the "
    "same register algebra over the whole table — value-identical "
    "estimates, and the exact twin equals count(DISTINCT).",
)
def q_dialect_uniq_state_mv(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_UNIQ_STATE_MV, sf_dir)
    return out.select(
        "pri",
        F.col("uniq_cust").cast("long").alias("uniq_cust"),
        F.col("exact_cust").cast("long").alias("exact_cust"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: outer-join-fed -Merge.  A status spine LEFT
# JOINed to the per-status state MV feeds countMerge/sumMerge NULL
# state columns for the synthetic 'X' status — ClickHouse returns 0
# there, and since round 12 (ADVICE r11 fix) so does the shim.
# ---------------------------------------------------------------------------

_CH_MERGE_NULL = """
SELECT s.st AS st, countMerge(cs) AS n, sumMerge(ss) AS cents
FROM (
  SELECT 'F' AS st UNION ALL SELECT 'O' UNION ALL
  SELECT 'P' UNION ALL SELECT 'X'
) AS s
LEFT JOIN (
  SELECT o_orderstatus AS st, countState() AS cs,
         sumState(toInt64(round(o_totalprice * 100))) AS ss
  FROM orders GROUP BY o_orderstatus
) AS m ON s.st = m.st
GROUP BY s.st ORDER BY st
"""


@query(
    "q_dialect_merge_null_zero",
    oracle="""
WITH s(st) AS (VALUES ('F'), ('O'), ('P'), ('X')),
     m AS (
  SELECT o_orderstatus AS st, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1)
SELECT s.st AS st, CAST(coalesce(m.n, 0) AS BIGINT) AS n,
       CAST(coalesce(m.cents, 0) AS BIGINT) AS cents
FROM s LEFT JOIN m USING (st) ORDER BY st
""",
    description="countMerge/sumMerge over an OUTER-JOIN-fed state "
    "MV: the synthetic 'X' status row carries NULL state columns, "
    "where ClickHouse's merge returns 0 — the ADVICE r11 "
    "coalesce-to-zero fix round-tripped (dialect.py summerge/"
    "countmerge).  Real statuses aggregate their struct partials "
    "exactly.",
)
def q_dialect_merge_null_zero(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_MERGE_NULL, sf_dir)
    return out.select(
        "st",
        F.col("n").cast("long").alias("n"),
        F.col("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# Relational / audit operators.  Every scalar total is a 1-row
# broadcast cross join; the Pareto scan runs over DISTINCT activity
# values (bounded cardinality), never a global per-user window.
# ---------------------------------------------------------------------------


@query(
    "q_column_null_audit",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE o_orderstatus IS NULL OR
              trim(o_orderstatus) = '') AS BIGINT) AS bad_status,
       CAST(count(*) FILTER (WHERE o_totalprice IS NULL OR
              o_totalprice <= 0) AS BIGINT) AS bad_price,
       CAST(count(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT)
         AS null_date,
       CAST(count(*) FILTER (WHERE o_orderpriority IS NULL OR
              trim(o_orderpriority) = '') AS BIGINT) AS bad_priority,
       round(CAST(count(*) FILTER (WHERE o_totalprice IS NULL OR
              o_totalprice <= 0) AS DOUBLE) / count(*), 6)
         AS bad_price_rate
FROM orders
""",
    description="Single-scan data-quality audit of the orders "
    "table: null/blank status and priority, non-positive or null "
    "prices, null dates — the completeness gate a pipeline runs "
    "before trusting a snapshot (the engine's counterpart of the "
    "reference's per-file validation gate, S10, applied to "
    "columns).  All conditional counts ride ONE aggregate over ONE "
    "scan; one division for the headline bad rate, round(6).",
)
def q_column_null_audit(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    bad_price = F.sum(
        F.when(
            F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0),
            1,
        ).otherwise(0)
    ).cast("long")
    return orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.when(
                F.col("o_orderstatus").isNull()
                | (F.trim("o_orderstatus") == ""),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("bad_status"),
        bad_price.alias("bad_price"),
        F.sum(
            F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("null_date"),
        F.sum(
            F.when(
                F.col("o_orderpriority").isNull()
                | (F.trim("o_orderpriority") == ""),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("bad_priority"),
        F.round(
            bad_price.cast("double") / F.count(F.lit(1)), 6
        ).alias("bad_price_rate"),
    )


@query(
    "q_brand_hhi",
    oracle="""
WITH brand AS (
  SELECT p_brand,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_brand)
SELECT CAST(count(*) AS BIGINT) AS n_brands,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       round(CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents)
                  AS DOUBLE) /
             (CAST(sum(cents) AS DOUBLE) * sum(cents)), 6) AS hhi
FROM brand
""",
    description="Herfindahl-Hirschman revenue concentration across "
    "part brands: per-brand exact cents via the lineitem-part "
    "equi-join, then HHI = Σc_i² / (Σc_i)² computed from EXACT "
    "decimal power sums with ONE final division — the share-"
    "squaring never touches per-brand floating divisions, so the "
    "result is bit-stable on any partitioning.  HHI near 1/n is "
    "competitive, near 1 is concentrated.",
)
def q_brand_hhi(spark, sf_dir):
    lineitem, part = load(spark, sf_dir, "lineitem", "part")
    brand = (
        lineitem.join(
            part, part["p_partkey"] == lineitem["l_partkey"]
        )
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    return brand.agg(
        F.count(F.lit(1)).cast("long").alias("n_brands"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.round(
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
            .cast("double")
            / (
                F.sum("cents").cast("double") * F.sum("cents")
            ),
            6,
        ).alias("hhi"),
    )


@query(
    "q_pareto_coverage",
    oracle="""
WITH uc AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id),
     vals AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_users
  FROM uc GROUP BY c),
     cum AS (
  SELECT c, n_users,
         CAST(sum(c * n_users) OVER (ORDER BY c DESC ROWS BETWEEN
              UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_ev,
         CAST(sum(n_users) OVER (ORDER BY c DESC ROWS BETWEEN
              UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_users
  FROM vals),
     tot AS (SELECT CAST(count(*) AS BIGINT) AS total_ev,
                    CAST(count(DISTINCT user_id) AS BIGINT)
                      AS total_users
             FROM events),
     sel AS (
  SELECT cum.* FROM cum, tot
  WHERE cum_ev >= (8 * total_ev + 9) // 10
  ORDER BY c DESC LIMIT 1)
SELECT total_ev, total_users,
       CAST(cum_users - n_users +
            ((8 * total_ev + 9) // 10 - (cum_ev - c * n_users)
             + c - 1) // c AS BIGINT) AS k_users_80,
       round(CAST(cum_users - n_users +
            ((8 * total_ev + 9) // 10 - (cum_ev - c * n_users)
             + c - 1) // c AS DOUBLE) / total_users, 6)
         AS user_share
FROM sel, tot
""",
    description="Pareto 80/20 coverage: the smallest number of "
    "top-activity users whose events reach 80% of the total — "
    "computed WITHOUT ranking individual users: per-user counts "
    "collapse to (activity value, user count) pairs, cumulative "
    "sums run over the DISTINCT VALUES in descending order (a "
    "window bounded by value cardinality, not user cardinality), "
    "and the crossing row yields the exact user count via integer "
    "ceil arithmetic ((T - prev + c - 1) div c).  The threshold "
    "T = ceil(0.8·total) is pure integer math, so the whole "
    "statistic is exact.",
)
def q_pareto_coverage(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    uc = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    vals = uc.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    w = (
        Window.orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = vals.select(
        "c", "n_users",
        F.sum(F.col("c") * F.col("n_users")).over(w).cast("long")
        .alias("cum_ev"),
        F.sum("n_users").over(w).cast("long").alias("cum_users"),
    )
    tot = events.agg(
        F.count(F.lit(1)).cast("long").alias("total_ev"),
        F.countDistinct("user_id").cast("long").alias("total_users"),
    )
    t_expr = "(8 * total_ev + 9) DIV 10"
    sel = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cum_ev") >= F.expr(t_expr))
        .orderBy(F.col("c").desc())
        .limit(1)
    )
    k = F.expr(
        f"cum_users - n_users + ({t_expr} - (cum_ev - c * n_users)"
        " + c - 1) DIV c"
    ).cast("long")
    return sel.select(
        "total_ev", "total_users", k.alias("k_users_80"),
        F.round(k.cast("double") / F.col("total_users"), 6)
        .alias("user_share"),
    )


@query(
    "q_ship_latency_stats",
    oracle="""
WITH lat AS (
  SELECT o_orderpriority AS priority,
         CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT)
           AS days
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
SELECT priority, CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(sum(days) AS DOUBLE) / count(*), 6) AS avg_days,
       quantile_cont(days, 0.5) AS median_days,
       CAST(max(days) AS BIGINT) AS max_days
FROM lat GROUP BY priority ORDER BY priority
""",
    description="Order-to-ship latency profile per order priority: "
    "exact integer day gaps from the order-lineitem equi-join, "
    "average as one exact-sum division round(6), interpolated "
    "median (exact on integers — (a+b)/2 of day counts is an exact "
    "half in both engines), and the max tail.  The priority-class "
    "latency gap is the fulfillment SLA readout.",
)
def q_ship_latency_stats(spark, sf_dir):
    lineitem, orders = load(spark, sf_dir, "lineitem", "orders")
    lat = lineitem.join(
        orders, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate").cast("long")
        .alias("days"),
    )
    return (
        lat.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.round(
                F.sum("days").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_days"),
            F.expr("percentile(days, 0.5)").alias("median_days"),
            F.max("days").cast("long").alias("max_days"),
        )
        .orderBy("priority")
    )
