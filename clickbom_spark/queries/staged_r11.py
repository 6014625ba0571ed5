"""Registry queries, round-11 batch — new operator surface.

Every query is checked bit-exact against its DuckDB oracle by
``tests/test_parity.py``; the strict-parity sweep covers sf0.1.

Round-11 themes:

* **Dialect round-trips for the round-10 clause compilations** —
  the ``dictGet`` family (registered-dictionary broadcast lookups),
  ``LIMIT n WITH TIES`` (both the distributed single-key cutoff path
  and the multi-key rank-window path), ``ORDER BY … WITH FILL``
  (integer and date spines), the integer ``SAMPLE n`` row-target
  form, and a composed statement driven entirely from the
  reference's own CREATE TABLE via ``register_table_ddl`` (FINAL +
  SAMPLE + dictGet in one query).
* **windowFunnel mode completion** — ``strict_deduplication`` and
  ``strict_increase``, replicating ClickHouse's per-level
  (chain-first, last-step) pair state faithfully (public
  AggregateFunctionWindowFunnel semantics, including the
  early-return of the DUPLICATE's condition number on a
  deduplication interruption), each replayed by a DuckDB
  list_reduce oracle.
* **ClickHouse aggregate parity** — ``quantilesExactWeighted``
  (plural multi-quantile), ``simpleLinearRegression`` via exact
  integer power sums, ``entropy()`` over integer counts,
  ``neighbor``/``runningDifference`` via calendar-bounded lag,
  ``groupArraySorted``, and arrayCumSum/arrayDifference folds.
* **Corpus-statistics text ops** — type-token ratio + hapax rate,
  Good–Turing frequency-of-frequencies, Zipf log-log slope,
  chi-square keyness between sources, shard-balance audit,
  derandomized stratified and per-group uniform samples, and an
  intra-source n-gram redundancy audit.

Float determinism policy (same as the registry): exact integer /
decimal aggregates first, then ONE fixed IEEE expression per surfaced
double — the identical expression text on both engines — and
``round(x, 6)`` on surfaced statistics.  ln()/log2() appear only over
small positive INTEGERS (libm-safe cross-engine), pre-rounded to 9
digits before any decimal sum.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickbom_spark.queries import load, query


# ---------------------------------------------------------------------------
# Dialect round-trip: the dictGet family.  The round-10 compilation
# turns each lookup into a correlated scalar subquery against the
# registered dictionary view, which Catalyst rewrites into a
# broadcast left join — the reference's license-map awk hash join
# (entrypoint.sh:253-266) stated declaratively.  The DuckDB oracle
# inlines the same dictionary as a CTE with the same correlated
# subqueries, so hit, miss-with-registered-default, OrDefault and
# dictHas paths all match row-for-row.
# ---------------------------------------------------------------------------

_CH_DICTGET = """
SELECT dictGetString('r11_nation', 'nat_name', s_nationkey) AS nation,
       dictGet('r11_nation', 'nat_name', s_nationkey + 100)
         AS missing_nation,
       dictGetOrDefault('r11_nation', 'nat_region', s_nationkey, -1)
         AS region_k,
       countIf(dictHas('r11_nation', s_nationkey)) AS hits,
       count() AS n,
       sum(toInt64(round(s_acctbal * 100))) AS cents
FROM supplier
GROUP BY nation, missing_nation, region_k
ORDER BY nation
"""


def _register_r11_nation():
    from clickbom_spark.dialect import register_dictionary

    register_dictionary(
        "r11_nation",
        "SELECT n_nationkey AS nat_key, n_name AS nat_name, "
        "n_regionkey AS nat_region FROM nation",
        key="nat_key",
        defaults={"nat_name": "'NONE'", "nat_region": "-1"},
    )


@query(
    "q_dialect_dictget",
    oracle="""
WITH d AS (SELECT n_nationkey AS nat_key, n_name AS nat_name,
                  n_regionkey AS nat_region FROM nation)
SELECT coalesce(CAST((SELECT max(nat_name) FROM d
                      WHERE nat_key = s_nationkey) AS VARCHAR), '')
         AS nation,
       coalesce((SELECT max(nat_name) FROM d
                 WHERE nat_key = s_nationkey + 100), 'NONE')
         AS missing_nation,
       CAST(coalesce((SELECT max(nat_region) FROM d
                 WHERE nat_key = s_nationkey), -1) AS BIGINT)
         AS region_k,
       count(*) FILTER (WHERE EXISTS
         (SELECT 1 FROM d WHERE nat_key = s_nationkey)) AS hits,
       count(*) AS n,
       CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM supplier
GROUP BY nation, missing_nation, region_k
ORDER BY nation
""",
    description="ClickHouse dictGet family run verbatim through the "
    "dialect shim (dialect.register_dictionary + _dict_lookup): "
    "dictGetString hit path, untyped dictGet miss path returning the "
    "registered attribute default, dictGetOrDefault with a caller "
    "default, and dictHas — each a correlated scalar subquery that "
    "Catalyst rewrites into a BROADCAST left join (the reference's "
    "awk hash join over license-mappings.json, J1, stated "
    "declaratively; plan-guarded by test_dictget_broadcasts).",
)
def q_dialect_dictget(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    _register_r11_nation()
    out = run_clickhouse_sql(spark, _CH_DICTGET, sf_dir)
    return out.select(
        "nation", "missing_nation",
        F.col("region_k").cast("long").alias("region_k"),
        F.col("hits").cast("long").alias("hits"),
        F.col("n").cast("long").alias("n"),
        F.col("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: LIMIT n WITH TIES, single-key (the distributed
# cutoff-filter path: n-th value via TakeOrderedAndProject, then a
# plain filter — no global window).  Tie-richness comes from ranking
# customers by ORDER COUNT, where the 8th-largest count is shared by
# many customers.
# ---------------------------------------------------------------------------

_CH_TIES = """
SELECT o_custkey, count() AS n_orders
FROM orders GROUP BY o_custkey
ORDER BY n_orders DESC LIMIT 8 WITH TIES
"""


@query(
    "q_dialect_with_ties",
    oracle="""
WITH b AS (SELECT o_custkey, count(*) AS n_orders
           FROM orders GROUP BY o_custkey)
SELECT o_custkey, n_orders
FROM (SELECT b.*, rank() OVER (ORDER BY n_orders DESC) AS rk FROM b)
WHERE rk <= 8 ORDER BY n_orders DESC, o_custkey
""",
    description="ClickHouse `LIMIT 8 WITH TIES` run verbatim through "
    "the dialect shim (dialect._rewrite_with_ties, single-key path): "
    "compiles to a distributed top-k cutoff — the 8th value from a "
    "LIMIT 1 OFFSET 7 scalar subquery (TakeOrderedAndProject) — plus "
    "a filter keeping every row tying it; the DuckDB oracle states "
    "the equivalent rank() <= 8 window.",
)
def q_dialect_with_ties(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_TIES, sf_dir)
    return out.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("n_orders").cast("long").alias("n_orders"),
    ).orderBy(F.desc("n_orders"), "o_custkey")


# ---------------------------------------------------------------------------
# Dialect round-trip: LIMIT n WITH TIES, multi-key (the rank-window
# fallback — the honest cost of a composite tie definition).
# ---------------------------------------------------------------------------

_CH_TIES_MULTI = """
SELECT l_returnflag, l_linestatus, toInt32(l_quantity) AS qty,
       count() AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus, qty
ORDER BY l_returnflag, l_linestatus LIMIT 4 WITH TIES
"""


@query(
    "q_dialect_with_ties_multi",
    oracle="""
WITH b AS (SELECT l_returnflag, l_linestatus,
                  CAST(l_quantity AS INT) AS qty, count(*) AS n
           FROM lineitem
           GROUP BY l_returnflag, l_linestatus,
                    CAST(l_quantity AS INT))
SELECT l_returnflag, l_linestatus, qty, n
FROM (SELECT b.*, rank() OVER
        (ORDER BY l_returnflag, l_linestatus) AS rk FROM b)
WHERE rk <= 4
ORDER BY l_returnflag, l_linestatus, qty
""",
    description="ClickHouse `LIMIT 4 WITH TIES` over a composite "
    "ORDER BY (dialect._rewrite_with_ties, multi-key path): compiles "
    "to the rank() <= n window wrap with ClickHouse NULL placement "
    "injected; every (returnflag, linestatus) group tying the 4th "
    "rank survives in full.",
)
def q_dialect_with_ties_multi(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_TIES_MULTI, sf_dir)
    return out.select(
        "l_returnflag", "l_linestatus",
        F.col("qty").cast("int").alias("qty"),
        F.col("n").cast("long").alias("n"),
    ).orderBy("l_returnflag", "l_linestatus", "qty")


# ---------------------------------------------------------------------------
# Dialect round-trip: ORDER BY … WITH FILL, integer spine.  Round 10
# compiles the fill inside run_clickhouse_sql (the only path that can
# resolve the output schema): FROM inclusive, TO exclusive, generated
# rows take type defaults, existing rows never duplicated.
# ---------------------------------------------------------------------------

_CH_FILL_INT = """
SELECT toInt64(s_nationkey * 3) AS bucket, count() AS n,
       max(s_name) AS top_name
FROM supplier GROUP BY bucket
ORDER BY bucket WITH FILL FROM 0 TO 75 STEP 3
"""


@query(
    "q_dialect_with_fill_int",
    oracle="""
WITH b AS (SELECT CAST(s_nationkey * 3 AS BIGINT) AS bucket,
                  count(*) AS n, max(s_name) AS top_name
           FROM supplier GROUP BY s_nationkey * 3),
     s AS (SELECT range AS bucket FROM range(0, 75, 3))
SELECT bucket, n, top_name FROM b
UNION ALL
SELECT s.bucket, 0 AS n, '' AS top_name FROM s
WHERE s.bucket NOT IN (SELECT bucket FROM b)
ORDER BY bucket
""",
    description="ClickHouse `ORDER BY bucket WITH FILL FROM 0 TO 75 "
    "STEP 3` run through run_clickhouse_sql (dialect._run_with_fill): "
    "dense integer spine via sequence(), TO exclusive, count/name "
    "columns of generated rows take their type defaults (0 / ''), "
    "existing rows pass through untouched.",
)
def q_dialect_with_fill_int(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_FILL_INT, sf_dir)
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n").cast("long").alias("n"),
        "top_name",
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: WITH FILL over a DATE key with implicit bounds
# (min/max of the data) and the default daily step.
# ---------------------------------------------------------------------------

_CH_FILL_DATE = """
SELECT toDate(ts) AS d, uniqExact(user_id) AS users, count() AS n
FROM events WHERE event_type = 'purchase'
GROUP BY d ORDER BY d WITH FILL
"""


@query(
    "q_dialect_with_fill_date",
    oracle="""
WITH b AS (SELECT CAST(ts AS DATE) AS d,
                  count(DISTINCT user_id) AS users, count(*) AS n
           FROM events WHERE event_type = 'purchase'
           GROUP BY CAST(ts AS DATE)),
     bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM b),
     s AS (SELECT CAST(unnest(generate_series(
                    (SELECT lo FROM bounds),
                    (SELECT hi FROM bounds),
                    INTERVAL 1 DAY)) AS DATE) AS d)
SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS d, users, n FROM (
  SELECT d, users, n FROM b
  UNION ALL
  SELECT s.d, 0 AS users, 0 AS n FROM s
  WHERE s.d NOT IN (SELECT d FROM b)
) ORDER BY d
""",
    description="ClickHouse `ORDER BY d WITH FILL` over a date key "
    "with implicit bounds (dialect._run_with_fill): the spine runs "
    "from the data's min to max day inclusive at the default "
    "INTERVAL 1 DAY step; missing purchase days appear with 0 "
    "users / 0 events.",
)
def q_dialect_with_fill_date(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_FILL_DATE, sf_dir)
    return out.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.col("users").cast("long").alias("users"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: integer SAMPLE n (row target).  The round-10
# compilation resolves the fraction n/total at plan-build from the
# registered row count — the statistic a VersionedLake manifest
# carries exactly — and clamps over-asks to the whole table.  The
# oracle computes the SAME IEEE division in SQL, so membership
# matches bit-for-bit at every scale factor (including the sf0.001
# clamp, where 2500 rows exceed the 500-doc corpus).
# ---------------------------------------------------------------------------

_SAMPLE_ROWS_TARGET = 2500


@query(
    "q_dialect_sample_rows",
    oracle=f"""
SELECT source, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
           AS BIGINT) / 4294967296.0
      < LEAST(1.0, CAST({_SAMPLE_ROWS_TARGET} AS DOUBLE)
                   / (SELECT count(*) FROM documents))
GROUP BY source ORDER BY source
""",
    description=f"ClickHouse `SAMPLE {_SAMPLE_ROWS_TARGET}` (integer "
    "row target) run through the dialect shim "
    "(dialect.register_sampling_rowcount): the fraction n/total "
    "resolves at plan-build from the registered row count — the "
    "manifest statistic a VersionedLake carries (row_count()) — and "
    "over-asks clamp to the whole table; the DuckDB oracle computes "
    "the identical IEEE division, so hash membership matches "
    "row-for-row at every scale.",
)
def q_dialect_sample_rows(spark, sf_dir):
    from clickbom_spark.dialect import (
        register_sampling_rowcount, run_clickhouse_sql,
    )

    (docs,) = load(spark, sf_dir, "documents")
    register_sampling_rowcount("documents", docs.count())
    out = run_clickhouse_sql(
        spark,
        f"SELECT source, count() AS n, sum(n_chars) AS chars "
        f"FROM documents SAMPLE {_SAMPLE_ROWS_TARGET} "
        f"GROUP BY source ORDER BY source",
        sf_dir,
    )
    return out.select(
        "source",
        F.col("n").cast("long").alias("n"),
        F.col("chars").cast("long").alias("chars"),
    )


# ---------------------------------------------------------------------------
# Dialect capstone: one statement composed entirely from the
# reference's own DDL.  register_table_ddl parses a ClickHouse CREATE
# TABLE verbatim (ReplacingMergeTree version + ORDER BY → FINAL keys,
# SAMPLE BY → sampling key), and the query then uses FINAL + SAMPLE +
# dictGet together — the full metadata chain a reference user brings.
# ---------------------------------------------------------------------------

_R11_DDL = """
CREATE TABLE events_r11 (
    event_id   UInt64,
    ts         DateTime,
    user_id    UInt64,
    event_type String,
    value      Float64
) ENGINE = ReplacingMergeTree(event_id)
ORDER BY (user_id, event_type)
SAMPLE BY user_id
"""

_CH_DDL_COMPOSED = """
SELECT dictGetString('r11_nation', 'nat_name',
                     toInt32(user_id % 25)) AS nation,
       count() AS n,
       uniqExact(user_id) AS users
FROM events_r11 FINAL SAMPLE 0.5
GROUP BY nation ORDER BY nation
"""


@query(
    "q_dialect_ddl_composed",
    oracle="""
WITH d AS (SELECT n_nationkey AS nat_key, n_name AS nat_name
           FROM nation),
     sampled AS (
       SELECT * FROM events
       WHERE CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                   1, 8)) AS BIGINT) / 4294967296.0 < 0.5
     ),
     latest AS (
       SELECT user_id, event_type,
              arg_max(event_id, event_id) AS event_id
       FROM sampled GROUP BY user_id, event_type
     )
SELECT coalesce(CAST((SELECT max(nat_name) FROM d
                      WHERE nat_key = CAST(user_id % 25 AS INT))
                     AS VARCHAR), '') AS nation,
       count(*) AS n,
       count(DISTINCT user_id) AS users
FROM latest GROUP BY nation ORDER BY nation
""",
    description="Dialect capstone: the reference-user metadata chain "
    "in one statement — register_table_ddl parses a ClickHouse "
    "CREATE TABLE verbatim (ReplacingMergeTree(event_id) + ORDER BY "
    "→ FINAL keys; SAMPLE BY user_id → sampling key), then FINAL + "
    "SAMPLE 0.5 + dictGetString compose in a single query: "
    "keep-latest dedup inside the hash-threshold sample, nation "
    "names via the broadcast dictionary lookup.  ClickHouse applies "
    "SAMPLE at storage-read (before FINAL collapses versions), so "
    "the oracle samples first, then keeps the max-version row per "
    "key.",
)
def q_dialect_ddl_composed(spark, sf_dir):
    from clickbom_spark.dialect import (
        register_table_ddl, run_clickhouse_sql,
    )
    from clickbom_spark.session import read_table

    _register_r11_nation()
    read_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_r11"
    )
    register_table_ddl(_R11_DDL)
    out = run_clickhouse_sql(spark, _CH_DDL_COMPOSED, sf_dir)
    return out.select(
        "nation",
        F.col("n").cast("long").alias("n"),
        F.col("users").cast("long").alias("users"),
    )


# ---------------------------------------------------------------------------
# windowFunnel strict_deduplication / strict_increase — the two modes
# that need ClickHouse's own per-level (chain-first, last-step) PAIR
# state (ext/sequences._window_funnel_pairs).  The DuckDB oracles
# replay the identical 7-slot fold ([f1,l1,f2,l2,f3,l3,frozen]) with
# list_reduce, so every per-user depth matches bit-for-bit.
# ---------------------------------------------------------------------------

_WFP_WINDOW_US = 30 * 60 * 1_000_000
_WFP_NEG = -(10 ** 18)


def _wfp_oracle(mode: str) -> str:
    W, NEG = _WFP_WINDOW_US, _WFP_NEG
    # two DuckDB-1.0 lambda-vectorization landmines, both reproduced
    # on this corpus (correct on 3 users, corrupted accumulators at
    # 150): a whole-list `CASE WHEN frozen THEN acc ELSE [...] END`
    # branch, and a non-constant list index (acc[x[2]*2-1]).  The fold
    # therefore uses only per-slot CASEs with static indices — the
    # construction the green r9 strict_order oracle already uses.
    stop = (
        f"((x[2] = 2 AND acc[3] > {NEG}) OR (x[2] = 3 AND acc[5] > {NEG}))"
        if mode == "strict_deduplication" else "FALSE"
    )
    frz = "acc[7] >= 0"
    inc1 = " AND acc[2] < x[1]" if mode == "strict_increase" else ""
    inc2 = " AND acc[4] < x[1]" if mode == "strict_increase" else ""
    return f"""
WITH lev AS (
  SELECT user_id, epoch_us(ts) AS t, event_id,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                         WHEN 'purchase' THEN 3 ELSE 0 END AS l
  FROM events
), folded AS (
  SELECT user_id,
         list_reduce(
           list_prepend([{NEG}::BIGINT, {NEG}::BIGINT, {NEG}::BIGINT,
                         {NEG}::BIGINT, {NEG}::BIGINT, {NEG}::BIGINT,
                         (-1)::BIGINT],
             list([t, CAST(l AS BIGINT)] ORDER BY t, event_id)),
           (acc, x) -> [
             CASE WHEN {frz} OR ({stop}) THEN acc[1]
                  WHEN x[2] = 1 THEN x[1] ELSE acc[1] END,
             CASE WHEN {frz} OR ({stop}) THEN acc[2]
                  WHEN x[2] = 1 THEN x[1] ELSE acc[2] END,
             CASE WHEN {frz} OR ({stop}) THEN acc[3]
                  WHEN x[2] = 2 AND acc[1] > {NEG}
                       AND x[1] <= acc[1] + {W}{inc1}
                  THEN acc[1] ELSE acc[3] END,
             CASE WHEN {frz} OR ({stop}) THEN acc[4]
                  WHEN x[2] = 2 AND acc[1] > {NEG}
                       AND x[1] <= acc[1] + {W}{inc1}
                  THEN x[1] ELSE acc[4] END,
             CASE WHEN {frz} OR ({stop}) THEN acc[5]
                  WHEN x[2] = 3 AND acc[3] > {NEG}
                       AND x[1] <= acc[3] + {W}{inc2}
                  THEN acc[3] ELSE acc[5] END,
             CASE WHEN {frz} OR ({stop}) THEN acc[6]
                  WHEN x[2] = 3 AND acc[3] > {NEG}
                       AND x[1] <= acc[3] + {W}{inc2}
                  THEN x[1] ELSE acc[6] END,
             CASE WHEN {frz} THEN acc[7]
                  WHEN ({stop}) THEN x[2] ELSE acc[7] END
           ]) AS acc
  FROM lev WHERE l > 0 GROUP BY user_id
)
SELECT user_id,
       CAST(CASE WHEN acc[7] >= 0 THEN acc[7] ELSE
         (CASE WHEN acc[1] > {NEG} THEN 1 ELSE 0 END)
       + (CASE WHEN acc[3] > {NEG} THEN 1 ELSE 0 END)
       + (CASE WHEN acc[5] > {NEG} THEN 1 ELSE 0 END) END
       AS BIGINT) AS funnel_level
FROM folded ORDER BY user_id
"""


def _wfp_query(mode: str):
    def fn(spark, sf_dir):
        from clickbom_spark.ext.sequences import window_funnel_level
        from clickbom_spark.queries import epoch_us

        (events,) = load(spark, sf_dir, "events")
        lev = (
            F.when(F.col("event_type") == "view", 1)
            .when(F.col("event_type") == "click", 2)
            .when(F.col("event_type") == "purchase", 3)
            .otherwise(0)
        )
        return window_funnel_level(
            events, ["user_id"], epoch_us("ts"), F.col("event_id"),
            lev, n_levels=3, window_us=_WFP_WINDOW_US, mode=mode,
        ).orderBy("user_id")

    return fn


query(
    "q_window_funnel_dedup",
    oracle=_wfp_oracle("strict_deduplication"),
    description="windowFunnel(30 min, 'strict_deduplication')(view, "
    "click, purchase) per user: an event whose condition slot is "
    "already set interrupts further processing and the achieved depth "
    "is final — ClickHouse's public AggregateFunctionWindowFunnel "
    "pair-state semantics, replicated as a pure integer fold "
    "(ext/sequences._window_funnel_pairs) and replayed verbatim by "
    "the DuckDB list_reduce oracle; truth table in "
    "tests/test_r11_ops.py.",
)(_wfp_query("strict_deduplication"))

query(
    "q_window_funnel_increase",
    oracle=_wfp_oracle("strict_increase"),
    description="windowFunnel(30 min, 'strict_increase')(view, click, "
    "purchase) per user: a step only advances when the previous "
    "step's LAST event time is strictly before this event "
    "(equal-timestamp chains stall) — the (chain-first, last-step) "
    "pair state ClickHouse itself keeps, as one hash aggregate per "
    "user; truth table in tests/test_r11_ops.py.",
)(_wfp_query("strict_increase"))


# ---------------------------------------------------------------------------
# quantilesExactWeighted — the PLURAL multi-quantile form, per group
# (ClickHouse quantilesExactWeighted(0.25, 0.5, 0.9)(price, qty) GROUP
# BY flag).  ext/ranks.exact_weighted_quantiles_by_group: distinct
# (group, value) weight aggregate, per-(group, bucket) exact prefix
# offsets, one conditional-min per group — no per-group
# single-partition window even when one group holds the corpus.
# ---------------------------------------------------------------------------

@query(
    "q_quantiles_weighted_by_group",
    bench=True,
    oracle="""
WITH agg AS (
  SELECT l_returnflag AS g, l_extendedprice AS v,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND CAST(l_quantity AS BIGINT) > 0
  GROUP BY l_returnflag, l_extendedprice
), c AS (
  SELECT g, v,
         SUM(w) OVER (PARTITION BY g ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER (PARTITION BY g) AS W
  FROM agg
)
SELECT g AS l_returnflag,
       MIN(CASE WHEN cum >= 0.25 * W THEN v END) AS q25,
       MIN(CASE WHEN cum >= 0.5 * W THEN v END) AS q50,
       MIN(CASE WHEN cum >= 0.9 * W THEN v END) AS q90
FROM c GROUP BY g ORDER BY l_returnflag
""",
    description="ClickHouse quantilesExactWeighted(0.25, 0.5, 0.9)"
    "(l_extendedprice, l_quantity) GROUP BY l_returnflag — the plural "
    "multi-quantile form (ext/ranks.exact_weighted_quantiles_by_group): "
    "distinct-(group, value) weight aggregate, per-(group, bucket) "
    "exact prefix offsets, one conditional-min per group; the data-row "
    "window partitions by (group, bucket), never by group alone, so a "
    "single heavy group cannot funnel the corpus through one task.",
)
def q_quantiles_weighted_by_group(spark, sf_dir):
    from clickbom_spark.ext.ranks import exact_weighted_quantiles_by_group

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return (
        exact_weighted_quantiles_by_group(
            lineitem, "l_returnflag", "l_extendedprice", "l_quantity",
            [0.25, 0.5, 0.9],
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# simpleLinearRegression(x, y) — ClickHouse's OLS pair aggregate,
# computed from exact integer power sums (n, Σx, Σy, Σxy, Σx²) with
# ONE fixed IEEE expression per surfaced coefficient.  x and y are
# small integers (quantity 1..50, discount-cents 0..10), so every sum
# and cross-product stays far below 2^63 at corpus scale.
# ---------------------------------------------------------------------------

@query(
    "q_simple_linreg",
    oracle="""
WITH s AS (
  SELECT l_returnflag AS g,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
           AS sy,
         CAST(SUM(CAST(l_quantity AS BIGINT)
                  * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
           AS sxy,
         CAST(SUM(CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx
  FROM lineitem GROUP BY l_returnflag
)
SELECT g AS l_returnflag, n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS slope,
       round((CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
         AS intercept
FROM s ORDER BY l_returnflag
""",
    description="ClickHouse simpleLinearRegression(l_quantity, "
    "discount-cents) per returnflag: exact integer power sums (n, Σx, "
    "Σy, Σxy, Σx² — one map-side-combined hash aggregate), then the "
    "closed-form OLS slope/intercept as ONE fixed IEEE expression "
    "rounded to 6 digits; no per-row float accumulation anywhere.",
)
def q_simple_linreg(spark, sf_dir):
    (lineitem,) = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_discount") * 100).cast("long")
    s = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(x * x).cast("long").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    return s.select(
        "l_returnflag", "n",
        F.round(slope, 6).alias("slope"),
        F.round((syd - slope * sxd) / nd, 6).alias("intercept"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# entropy() — ClickHouse's Shannon-entropy aggregate, H =
# log2(N) - Σ c·log2(c) / N over the value distribution.  log2 runs
# ONLY on exact positive integers (per-value counts and N — the
# libm-safe discipline), each term pre-rounded to 9 digits before the
# exact decimal sum, final H rounded to 6.
# ---------------------------------------------------------------------------

@query(
    "q_entropy_shannon",
    oracle="""
WITH c AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, user_id
), terms AS (
  SELECT event_type,
         CAST(SUM(c) AS BIGINT) AS n,
         SUM(CAST(round(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)), 9)
                  AS DECIMAL(38, 9))) AS t
  FROM c GROUP BY event_type
)
SELECT event_type, n,
       round(log2(CAST(n AS DOUBLE))
             - CAST(t AS DOUBLE) / CAST(n AS DOUBLE), 6) AS entropy
FROM terms ORDER BY event_type
""",
    description="ClickHouse entropy(user_id) per event_type: Shannon "
    "entropy H = log2(N) - Σ c·log2(c)/N over the per-user count "
    "distribution — log2 only ever sees exact positive INTEGERS "
    "(libm-safe cross-engine), each c·log2(c) term is rounded to 9 "
    "digits and summed in decimal (order-independent), and the final "
    "H is one fixed IEEE expression rounded to 6.",
)
def q_entropy_shannon(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    c = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    terms = c.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(
            F.round(
                F.col("c").cast("double") * F.log2(F.col("c").cast("double")),
                9,
            ).cast("decimal(38,9)")
        ).alias("t"),
    )
    return terms.select(
        "event_type", "n",
        F.round(
            F.log2(F.col("n").cast("double"))
            - F.col("t").cast("double") / F.col("n").cast("double"),
            6,
        ).alias("entropy"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# neighbor(value, -1) / runningDifference — ClickHouse's
# previous-row functions, expressed as a lag window over the DAILY
# aggregate frame (calendar-bounded: ≤366 rows per type at any data
# scale — the scale-shape rule for ordered windows).
# ---------------------------------------------------------------------------

@query(
    "q_neighbor_deltas",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS d, cents,
       CAST(coalesce(cents - lag(cents) OVER
         (PARTITION BY event_type ORDER BY d), 0) AS BIGINT) AS delta
FROM daily ORDER BY event_type, d
""",
    description="ClickHouse neighbor(cents, -1) / runningDifference "
    "over the per-type daily revenue series: lag window over the "
    "DAILY aggregate frame (calendar-bounded — ≤366 rows per type at "
    "any data scale, never a window over raw events), first row "
    "deltas 0 like runningDifference.",
)
def q_neighbor_deltas(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long").alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        "cents",
        F.coalesce(
            F.col("cents") - F.lag("cents").over(w), F.lit(0)
        ).cast("long").alias("delta"),
    ).orderBy("event_type", "d")


# ---------------------------------------------------------------------------
# groupArraySorted(5) — ClickHouse's first-N-in-sorted-order
# aggregate.  The distributed shape is a per-group rank window over
# value order (bounded output per group), NOT collect_list of the
# whole group; the five smallest cents per type surface as one CSV
# string (identical tie VALUES make the output deterministic).
# ---------------------------------------------------------------------------

@query(
    "q_group_array_sorted",
    oracle="""
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(round(value * 100) AS BIGINT),
                                     event_id) AS rn
  FROM events WHERE value IS NOT NULL
)
SELECT event_type,
       string_agg(CAST(cents AS VARCHAR), ',' ORDER BY rn) AS smallest5,
       CAST(COUNT(*) AS BIGINT) AS k
FROM v WHERE rn <= 5 GROUP BY event_type ORDER BY event_type
""",
    description="ClickHouse groupArraySorted(5)(cents) per event_type: "
    "the five smallest values in sorted order, computed as a "
    "per-group rank window (bounded per-group output) rather than "
    "collecting whole groups — the deterministic (value, event_id) "
    "order makes tie selection stable, and equal values render "
    "identically in the CSV either way.",
)
def q_group_array_sorted(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    v = (
        events.where(F.col("value").isNotNull())
        .select("event_type", "event_id", cents.alias("cents"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "cents"))
                    ),
                    lambda s: s["cents"].cast("string"),
                ),
                ",",
            ).alias("smallest5"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# arrayCumSum / arrayDifference / arrayCompact — ClickHouse's array
# folds, exercised over the per-type smallest-5 array from the same
# bounded rank window.  Spark side: genuine array higher-order
# functions (aggregate-based running fold, zip-with-shift difference,
# adjacent-dedup compact); DuckDB replays with window prefix sums —
# two independent constructions of the same integers.
# ---------------------------------------------------------------------------

@query(
    "q_array_cum_funcs",
    oracle="""
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(round(value * 100) AS BIGINT),
                                     event_id) AS rn
  FROM events WHERE value IS NOT NULL
), top5 AS (
  SELECT event_type, cents, rn,
         SUM(cents) OVER (PARTITION BY event_type ORDER BY rn
                          ROWS UNBOUNDED PRECEDING) AS cum,
         cents - coalesce(lag(cents) OVER
           (PARTITION BY event_type ORDER BY rn), cents) AS diff,
         CASE WHEN lag(cents) OVER (PARTITION BY event_type
                                    ORDER BY rn) IS DISTINCT FROM cents
              THEN 1 ELSE 0 END AS keep
  FROM v WHERE rn <= 5
)
SELECT event_type,
       string_agg(CAST(cum AS VARCHAR), ',' ORDER BY rn) AS cumsum,
       string_agg(CAST(diff AS VARCHAR), ',' ORDER BY rn) AS diffs,
       CAST(SUM(keep) AS BIGINT) AS compact_len
FROM top5 GROUP BY event_type ORDER BY event_type
""",
    description="ClickHouse arrayCumSum / arrayDifference / "
    "arrayCompact over the per-type smallest-5 cents array: the Spark "
    "side builds the array from the bounded rank window and applies "
    "REAL array folds (aggregate() running-sum state, "
    "shift-and-subtract transform, adjacent-dedup filter), while the "
    "DuckDB oracle reconstructs the same integers with window prefix "
    "sums — two independent constructions, bit-equal.",
)
def q_array_cum_funcs(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    v = (
        events.where(F.col("value").isNotNull())
        .select("event_type", "event_id", cents.alias("cents"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
    )
    arr = v.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "cents"))),
            lambda s: s["cents"],
        ).alias("a")
    )
    a = F.col("a")
    # arrayCumSum: running fold via aggregate() with an array state
    cum = F.aggregate(
        a,
        F.array().cast("array<bigint>"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.coalesce(F.try_element_at(acc, F.lit(-1)), F.lit(0)) + x
            ),
        ),
    )
    # arrayDifference: a[i] - a[i-1], first element 0
    diff = F.transform(
        a,
        lambda x, i: x - F.coalesce(
            F.try_element_at(a, F.when(i > 0, i).otherwise(F.lit(None))), x
        ),
    )
    # arrayCompact: drop adjacent duplicates (count survivors)
    compact_len = F.size(
        F.filter(
            a,
            lambda x, i: (i == 0)
            | (
                x
                != F.try_element_at(
                    a, F.when(i > 0, i).otherwise(F.lit(None))
                )
            ),
        )
    )
    return arr.select(
        "event_type",
        F.array_join(F.transform(cum, lambda x: x.cast("string")), ",")
        .alias("cumsum"),
        F.array_join(F.transform(diff, lambda x: x.cast("string")), ",")
        .alias("diffs"),
        compact_len.cast("long").alias("compact_len"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Derandomized stratified sampling — equal-allocation design (K docs
# per source stratum): each stratum's fraction LEAST(1, K/n_s)
# resolves from the per-stratum count INSIDE the query, and
# membership is the repo's md5-prefix uniform over doc_id — so both
# engines compute the identical IEEE threshold and the identical
# member set, at any scale factor (small strata clamp to 1.0).
# ---------------------------------------------------------------------------

_STRAT_K = 50


@query(
    "q_stratified_equal_alloc",
    oracle=f"""
WITH sz AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_stratum
  FROM documents GROUP BY source
)
SELECT d.source, sz.n_stratum,
       CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(d.n_chars) AS BIGINT) AS chars_sampled
FROM documents d JOIN sz ON sz.source = d.source
WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
           AS BIGINT) / 4294967296.0
      < LEAST(1.0, CAST({_STRAT_K} AS DOUBLE)
                   / CAST(sz.n_stratum AS DOUBLE))
GROUP BY d.source, sz.n_stratum ORDER BY d.source
""",
    description=f"Derandomized stratified sampling, equal allocation "
    f"(~{_STRAT_K} docs per source): per-stratum fraction "
    "LEAST(1, K/n_s) resolved from the stratum count inside the "
    "query, membership by the shared md5-prefix uniform — the "
    "training-data curation sampler whose member set is "
    "bit-reproducible in any engine; the count join broadcasts "
    "(strata are few).",
)
def q_stratified_sample(spark, sf_dir):
    from clickbom_spark.dialect import _sample_frac_expr

    (docs,) = load(spark, sf_dir, "documents")
    sz = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_stratum")
    )
    frac = F.least(
        F.lit(1.0),
        F.lit(float(_STRAT_K)) / F.col("n_stratum").cast("double"),
    )
    h = F.expr(_sample_frac_expr("doc_id"))
    return (
        docs.join(F.broadcast(sz), "source")
        .where(h < frac)
        .groupBy("source", "n_stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("chars_sampled"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Per-group uniform k-sample without replacement — the derandomized
# reservoir: rank rows inside each (source, lang) group by their
# md5-prefix hash and keep the k smallest.  Uniform because the hash
# order is independent of every attribute; deterministic because the
# hash is a pure function of doc_id.
# ---------------------------------------------------------------------------

@query(
    "q_reservoir_group_sample",
    oracle="""
WITH ranked AS (
  SELECT source, lang, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source, lang
           ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                          1, 8)) AS BIGINT), doc_id) AS rn
  FROM documents
)
SELECT source, lang, CAST(count(*) AS BIGINT) AS k,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS chars
FROM ranked WHERE rn <= 5
GROUP BY source, lang ORDER BY source, lang
""",
    description="Per-(source, lang) uniform 5-sample without "
    "replacement — the derandomized reservoir (rank by md5-prefix "
    "hash, keep the k smallest; Vitter's reservoir made "
    "deterministic): hash order is independent of every document "
    "attribute, so the sample is uniform, and a pure function of "
    "doc_id, so both engines select the identical documents.",
)
def q_reservoir_group_sample(spark, sf_dir):
    from pyspark.sql import Window

    (docs,) = load(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    w = Window.partitionBy("source", "lang").orderBy(
        h.asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .orderBy("source", "lang")
    )


# ---------------------------------------------------------------------------
# Type-token ratio + hapax rate — the lexical-diversity quality
# signals (corpus-linguistics standard).  One explode, two hash
# aggregates; the ratios are single fixed IEEE divisions rounded 6.
# ---------------------------------------------------------------------------

@query(
    "q_ttr_stats",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL
), tf AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE w <> '' GROUP BY source, w
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS tokens,
       CAST(count(*) AS BIGINT) AS types,
       CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS hapax,
       round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
         AS ttr,
       round(CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS hapax_rate
FROM tf GROUP BY source ORDER BY source
""",
    description="Type-token ratio and hapax-legomenon rate per source "
    "— the standard lexical-diversity quality signals for "
    "training-data curation: one whitespace explode, one (source, "
    "term) hash aggregate, one per-source rollup; TTR and hapax rate "
    "are single fixed IEEE divisions rounded to 6.",
)
def q_ttr_stats(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    tok = (
        docs.where(F.col("text").isNotNull())
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )
    tf = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    types = F.count(F.lit(1)).cast("long")
    hapax = F.sum((F.col("c") == 1).cast("int")).cast("long")
    tokens = F.sum("c").cast("long")
    return (
        tf.groupBy("source")
        .agg(
            tokens.alias("tokens"),
            types.alias("types"),
            hapax.alias("hapax"),
            F.round(
                types.cast("double") / tokens.cast("double"), 6
            ).alias("ttr"),
            F.round(
                hapax.cast("double") / types.cast("double"), 6
            ).alias("hapax_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Good–Turing frequency-of-frequencies — N1/N2/N3 and the unseen-mass
# estimate p0 = N1/N (Good 1953), the vocabulary-coverage signal for
# corpus sizing.  Two hash aggregates over the term-frequency table.
# ---------------------------------------------------------------------------

@query(
    "q_good_turing",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL
), tf AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE w <> '' GROUP BY source, w
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS tokens,
       CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n1,
       CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS n2,
       CAST(count(*) FILTER (WHERE c = 3) AS BIGINT) AS n3,
       round(CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE)
             / CAST(sum(c) AS DOUBLE), 6) AS p_unseen
FROM tf GROUP BY source ORDER BY source
""",
    description="Good–Turing frequency-of-frequencies per source: N1 "
    "(hapax), N2, N3 and the Good (1953) unseen-mass estimate "
    "p0 = N1/N — the vocabulary-coverage signal that tells a corpus "
    "curator how much of the language each source has yet to show; "
    "pure integer counting plus one division.",
)
def q_good_turing(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    tf = (
        docs.where(F.col("text").isNotNull())
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )

    def n_eq(k):
        return F.sum((F.col("c") == k).cast("int")).cast("long")

    return (
        tf.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("tokens"),
            n_eq(1).alias("n1"),
            n_eq(2).alias("n2"),
            n_eq(3).alias("n3"),
            F.round(
                n_eq(1).cast("double") / F.sum("c").cast("double"), 6
            ).alias("p_unseen"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Zipf log-log slope — OLS fit of ln(freq) on ln(rank) over the
# corpus's top-100 terms (Zipf's law exponent, the classic
# natural-language sanity check on a training corpus).  ln() only
# ever sees exact positive integers (ranks, frequencies — libm-safe);
# every per-point term is rounded to 9 digits before the exact
# decimal sums, and the closed-form slope is one fixed IEEE
# expression rounded to 6.
# ---------------------------------------------------------------------------

@query(
    "q_zipf_slope",
    oracle="""
WITH tf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(string_split(text, ' ')) AS w
    FROM documents WHERE text IS NOT NULL
  ) WHERE w <> '' GROUP BY w
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r
  FROM tf ORDER BY c DESC, w LIMIT 100
), pts AS (
  SELECT round(ln(CAST(r AS DOUBLE)), 9) AS x,
         round(ln(CAST(c AS DOUBLE)), 9) AS y
  FROM ranked
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(x AS DECIMAL(38, 9))) AS sx,
         SUM(CAST(y AS DECIMAL(38, 9))) AS sy,
         SUM(CAST(round(x * y, 9) AS DECIMAL(38, 9))) AS sxy,
         SUM(CAST(round(x * x, 9) AS DECIMAL(38, 9))) AS sxx
  FROM pts
)
SELECT n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS zipf_slope
FROM s
""",
    description="Zipf's-law exponent: OLS slope of ln(freq) on "
    "ln(rank) over the corpus's top-100 terms (rank ties broken by "
    "term for determinism) — the standard power-law sanity check on "
    "natural-language training data; ln() only of exact positive "
    "integers, per-point terms rounded to 9 and decimal-summed, one "
    "fixed closed-form expression rounded to 6.",
)
def q_zipf_slope(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    tf = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    from pyspark.sql import Window

    # the window runs over the ALREADY-LIMITED 100-row frame — a
    # bounded single partition, not a global sort of the term table
    ranked = (
        tf.orderBy(F.desc("c"), "w")
        .limit(100)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), "w"))
            .alias("r"),
        )
    )
    x = F.round(F.log(F.col("r").cast("double")), 9)
    y = F.round(F.log(F.col("c").cast("double")), 9)
    pts = ranked.select(x.alias("x"), y.alias("y"))
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,9)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,9)")).alias("sy"),
        F.sum(
            F.round(F.col("x") * F.col("y"), 9).cast("decimal(38,9)")
        ).alias("sxy"),
        F.sum(
            F.round(F.col("x") * F.col("x"), 9).cast("decimal(38,9)")
        ).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    return s.select(
        "n",
        F.round(
            (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Chi-square keyness — which terms are most distinctive of ONE source
# versus the rest of the corpus (the corpus-linguistics keyness test,
# chi-square flavor).  The focus source is the lexicographic minimum
# (deterministic); all four contingency cells are exact integers and
# the statistic is one fixed IEEE expression.
# ---------------------------------------------------------------------------

@query(
    "q_chi2_keyness",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL
), tf AS (
  SELECT w,
         CAST(count(*) FILTER (WHERE source =
           (SELECT min(source) FROM documents)) AS BIGINT) AS a,
         CAST(count(*) FILTER (WHERE source <>
           (SELECT min(source) FROM documents)) AS BIGINT) AS b
  FROM tok WHERE w <> '' GROUP BY w
), tot AS (
  SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb
  FROM tf
)
SELECT w, a, b,
       round(CAST(ta + tb AS DOUBLE)
             * (CAST(a AS DOUBLE) * CAST(tb - b AS DOUBLE)
                - CAST(b AS DOUBLE) * CAST(ta - a AS DOUBLE))
             * (CAST(a AS DOUBLE) * CAST(tb - b AS DOUBLE)
                - CAST(b AS DOUBLE) * CAST(ta - a AS DOUBLE))
             / (CAST(a + b AS DOUBLE)
                * CAST((ta - a) + (tb - b) AS DOUBLE)
                * CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)), 6)
         AS chi2
FROM tf, tot WHERE a + b >= 5
ORDER BY chi2 DESC, w LIMIT 10
""",
    description="Chi-square keyness: the 10 terms most distinctive of "
    "the lexicographically-first source versus the rest of the corpus "
    "(corpus-linguistics keyness, chi-square flavor) — contingency "
    "cells are exact integer counts from one (term, source-split) "
    "aggregate, the statistic is one fixed IEEE expression rounded to "
    "6, and the top-10 ordering tie-breaks by term.",
)
def q_chi2_keyness(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    focus = docs.agg(F.min("source").alias("focus"))
    tok = (
        docs.where(F.col("text").isNotNull())
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .crossJoin(F.broadcast(focus))
    )
    tf = tok.groupBy("w").agg(
        F.sum((F.col("source") == F.col("focus")).cast("int"))
        .cast("long").alias("a"),
        F.sum((F.col("source") != F.col("focus")).cast("int"))
        .cast("long").alias("b"),
    )
    tot = tf.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("b").cast("long").alias("tb"),
    )
    j = tf.crossJoin(F.broadcast(tot)).where(F.col("a") + F.col("b") >= 5)
    ad, bd = F.col("a").cast("double"), F.col("b").cast("double")
    tad, tbd = F.col("ta").cast("double"), F.col("tb").cast("double")
    num = ad * (tbd - bd) - bd * (tad - ad)
    chi2 = F.round(
        (tad + tbd) * num * num
        / ((ad + bd) * ((tad - ad) + (tbd - bd)) * tad * tbd),
        6,
    )
    return (
        j.select("w", "a", "b", chi2.alias("chi2"))
        .orderBy(F.desc("chi2"), "w")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Hash-shard balance audit — assign documents to 64 shards by the
# md5-prefix hash and report the skew: the operational check before
# writing training shards (a bad key shows up here as max/avg >> 1).
# ---------------------------------------------------------------------------

@query(
    "q_shard_balance",
    oracle="""
WITH sh AS (
  SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 64 AS shard,
         CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY shard
)
SELECT CAST(count(*) AS BIGINT) AS n_shards,
       CAST(min(n) AS BIGINT) AS min_n,
       CAST(max(n) AS BIGINT) AS max_n,
       CAST(sum(n) AS BIGINT) AS total,
       round(CAST(max(n) AS DOUBLE)
             / (CAST(sum(n) AS DOUBLE) / 64.0), 6) AS skew
FROM sh
""",
    description="Hash-shard balance audit: 64-way md5-prefix shard "
    "assignment of documents, reporting occupied shards, min/max "
    "shard size, and max/avg skew — the operational pre-write check "
    "for training-shard output (ext/shards.py); a skewed key would "
    "surface here before any tar is written.",
)
def q_shard_balance(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16, 10,
        ).cast("long") % 64
    )
    sh = docs.groupBy(shard.alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return sh.agg(
        F.count(F.lit(1)).cast("long").alias("n_shards"),
        F.min("n").cast("long").alias("min_n"),
        F.max("n").cast("long").alias("max_n"),
        F.sum("n").cast("long").alias("total"),
        F.round(
            F.max("n").cast("double")
            / (F.sum("n").cast("double") / F.lit(64.0)),
            6,
        ).alias("skew"),
    )


# ---------------------------------------------------------------------------
# Intra-source n-gram redundancy — per source, the fraction of 3-gram
# shingle OCCURRENCES whose shingle appears in more than one distinct
# document of that source (the repetition signal CCNet/RefinedWeb
# filter on, stated as pure counting).  Shingles are built from the
# raw single-space split with IDENTICAL position arithmetic in both
# engines.
# ---------------------------------------------------------------------------

@query(
    "q_ngram_redundancy",
    bench=True,
    oracle="""
WITH sh AS (
  SELECT source, doc_id,
         unnest([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                 for i in range(1, len(l) - 1)]) AS g
  FROM (SELECT source, doc_id, string_split(text, ' ') AS l
        FROM documents WHERE text IS NOT NULL)
), gc AS (
  SELECT source, g, CAST(count(*) AS BIGINT) AS occ,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS docs
  FROM sh GROUP BY source, g
)
SELECT source,
       CAST(sum(occ) AS BIGINT) AS occurrences,
       CAST(count(*) AS BIGINT) AS distinct_shingles,
       CAST(sum(CASE WHEN docs >= 2 THEN occ ELSE 0 END) AS BIGINT)
         AS cross_doc_occ,
       round(CAST(sum(CASE WHEN docs >= 2 THEN occ ELSE 0 END)
                  AS DOUBLE) / CAST(sum(occ) AS DOUBLE), 6)
         AS redundancy
FROM gc GROUP BY source ORDER BY source
""",
    description="Intra-source 3-gram redundancy: per source, the "
    "share of shingle occurrences whose shingle appears in >= 2 "
    "distinct documents of that source — the cross-document "
    "repetition signal behind CCNet/RefinedWeb-style filters, as one "
    "explode plus two hash aggregates (shingle postings, never "
    "document pairs).",
)
def q_ngram_redundancy(spark, sf_dir):
    from clickbom_spark.ext.text import fan_out

    (docs,) = load(spark, sf_dir, "documents")
    # The 3-gram explode is the dominant per-row CPU and runs fused
    # into the scan stage; an under-partitioned source (one row-group
    # parquet file -> one task) serializes it.  fan_out is a no-op
    # whenever file splits already provide >= default parallelism.
    docs = fan_out(docs)
    toks = F.split("text", " ")
    sh = (
        docs.where(F.col("text").isNotNull())
        .select("source", "doc_id", toks.alias("l"))
        .select(
            "source", "doc_id",
            F.explode(
                # < 3 tokens -> NO shingles: sequence(1, 0) would count
                # DOWN in Spark and index out of range, so gate on size
                F.when(
                    F.size("l") >= 3,
                    F.transform(
                        F.sequence(F.lit(1), F.size("l") - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at("l", i),
                            F.element_at("l", i + 1),
                            F.element_at("l", i + 2),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("g"),
        )
    )
    # docs is consumed ONLY as the `docs >= 2` cross-document test, and
    # a shingle occurs in >= 2 distinct docs iff its min and max doc_id
    # differ — so min/max replace countDistinct.  That removes the
    # two-level distinct rewrite (partial-agg on (source, g, doc_id),
    # exchange, re-aggregate, second exchange): min/max are fully
    # map-side combinable, so the ONE exchange carries one row per
    # in-partition (source, g) instead of one per (source, g, doc_id).
    gc = sh.groupBy("source", "g").agg(
        F.count(F.lit(1)).cast("long").alias("occ"),
        (F.min("doc_id") != F.max("doc_id")).alias("multi_doc"),
    )
    red = F.sum(F.when(F.col("multi_doc"), F.col("occ")).otherwise(0))
    return (
        gc.groupBy("source")
        .agg(
            F.sum("occ").cast("long").alias("occurrences"),
            F.count(F.lit(1)).cast("long").alias("distinct_shingles"),
            red.cast("long").alias("cross_doc_occ"),
            F.round(
                red.cast("double") / F.sum("occ").cast("double"), 6
            ).alias("redundancy"),
        )
        .orderBy("source")
    )
