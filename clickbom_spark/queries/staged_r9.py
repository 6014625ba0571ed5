"""Registry queries, round-9 batch — new operator surface.

Every query is checked bit-exact against its DuckDB oracle by
``tests/test_parity.py``; the strict-parity sweep covers sf0.1 for the
queries whose oracle is not O(n²).

Round-9 themes:

* **Dialect round-trips** — the clause REWRITES shipped in round 8
  (ARRAY JOIN → LATERAL VIEW explode, LIMIT n BY → row_number window,
  FINAL → keep-latest-per-key subquery, the URL function family) each
  get an end-to-end query that feeds REAL ClickHouse query text
  through :func:`clickbom_spark.dialect.run_clickhouse_sql` and is
  held to a hand-written DuckDB oracle — the rewrite output is graded
  on VALUES, not on the SQL string it produces.
* **ClickHouse aggregate-function depth** — rankCorr, cramersV,
  intervalLengthSum, maxIntersections(Position), sumMap,
  groupBitmapAnd/Or/AndNot, sequenceNextNode, quantileTiming,
  greatCircleDistance: the analytic families the reference engine
  ships as first-class aggregates, each re-expressed as declarative
  DataFrame plans (window ranks / sweep lines / set joins), never
  driver-side loops.
* **Lake/stream composition** — branch merge with write-write
  conflict DETECTION, and the lake changelog as a streaming source
  feeding an incrementally-maintained matview.

Float determinism policy (same as the registry): exact integer /
decimal aggregates first, then ONE fixed IEEE expression per surfaced
double — explicit left-associated chains, never an order-dependent
SUM over doubles — and ``round(x, 6)`` on surfaced statistics.
"""

from __future__ import annotations

import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from clickbom_spark.queries import epoch_us, load, query


# ---------------------------------------------------------------------------
# Dialect round-trip: ARRAY JOIN.  The round-8 rewrite turned
# `ARRAY JOIN expr AS alias` into LATERAL VIEW explode; this query runs
# the reference's own idiom (token explosion off splitByChar) through
# the shim and grades the VALUES against a DuckDB unnest oracle.
# ---------------------------------------------------------------------------

_CH_ARRAY_JOIN = """
SELECT w AS word, count() AS n
FROM documents
ARRAY JOIN splitByChar(' ', text) AS w
WHERE w != '' AND lang = 'en'
GROUP BY w
ORDER BY n DESC, word
LIMIT 25
"""


@query(
    "q_dialect_array_join",
    oracle="""
SELECT w AS word, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
)
WHERE w <> '' AND lang = 'en'
GROUP BY w
ORDER BY n DESC, word
LIMIT 25
""",
    description="ClickHouse `ARRAY JOIN splitByChar(...) AS w` run "
    "verbatim through the dialect shim (dialect._rewrite_array_join → "
    "LATERAL VIEW explode): top-25 token frequencies over the English "
    "documents, graded on values against a DuckDB unnest oracle.",
)
def q_dialect_array_join(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_ARRAY_JOIN, sf_dir)
    return out.select("word", F.col("n").cast("long").alias("n"))


# ---------------------------------------------------------------------------
# Dialect round-trip: LIMIT n BY.  ClickHouse's first-n-per-group
# clause → row_number window partitioned by the BY columns, ordered by
# the query's ORDER BY (the selection order CH itself uses).
# ---------------------------------------------------------------------------

_CH_LIMIT_BY = """
SELECT event_type, event_id, round(value, 2) AS v_r
FROM events
WHERE value > 1
ORDER BY v_r DESC, event_id
LIMIT 3 BY event_type
"""


@query(
    "q_dialect_limit_by",
    oracle="""
SELECT event_type, event_id, v_r
FROM (
  SELECT event_type, event_id, round(value, 2) AS v_r,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY round(value, 2) DESC, event_id
         ) AS rn
  FROM events WHERE value > 1
)
WHERE rn <= 3
ORDER BY v_r DESC, event_id
""",
    description="ClickHouse `LIMIT 3 BY event_type` run verbatim "
    "through the dialect shim (dialect._rewrite_limit_by → struct-"
    "packed row_number window over the query's ORDER BY): top-3 "
    "events by rounded value per type, graded against a DuckDB "
    "row_number oracle.",
)
def q_dialect_limit_by(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_LIMIT_BY, sf_dir)
    return out.select(
        "event_type",
        F.col("event_id").cast("long").alias("event_id"),
        "v_r",
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: FROM events FINAL.  ReplacingMergeTree FINAL
# collapses rows sharing the engine ORDER BY key to the max-version
# row; the rewrite needs the (key, version) registration and becomes a
# max_by(struct(*)) keep-latest subquery.  Key (user_id, event_type),
# version (ts, event_id) — event_id breaks ts ties deterministically.
# ---------------------------------------------------------------------------

_CH_FINAL = """
SELECT user_id, event_type,
       round(value, 2) AS last_value_r,
       event_id AS last_event_id
FROM events FINAL
ORDER BY user_id, event_type
"""


@query(
    "q_dialect_final",
    oracle="""
SELECT user_id, event_type,
       round(value, 2) AS last_value_r,
       event_id AS last_event_id
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type
    ORDER BY ts DESC, event_id DESC
  ) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id, event_type
""",
    description="ClickHouse `FROM events FINAL` run verbatim through "
    "the dialect shim with register_final_keys semantics (key "
    "(user_id, event_type), version (ts, event_id)) — "
    "dialect._rewrite_final emits the keep-latest max_by(struct(*)) "
    "subquery; graded against a DuckDB row_number()=1 oracle.",
)
def q_dialect_final(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(
        spark, _CH_FINAL, sf_dir,
        final_keys={"events": (("user_id", "event_type"),
                               ("ts", "event_id"))},
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        "last_value_r",
        F.col("last_event_id").cast("long").alias("last_event_id"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: the URL function family (ClickHouse
# sql-reference/functions/url-functions → Spark parse_url, JVM-side).
# URLs are synthesized deterministically from event columns so the
# getters have real variance to chew on; the DuckDB oracle re-derives
# every component with regexes (DuckDB has no parse_url).
# ---------------------------------------------------------------------------

_CH_URL = """
SELECT domain(u) AS host,
       topLevelDomain(u) AS tld,
       path(u) AS p,
       extractURLParameter(u, 'k') AS k,
       count() AS n
FROM (
  SELECT concat('https://ex', toString(user_id % 3),
                '.com/p/', event_type,
                '?k=', toString(event_id % 7)) AS u
  FROM events
)
GROUP BY host, tld, p, k
ORDER BY host, p, k
"""


@query(
    "q_dialect_url_funcs",
    oracle="""
WITH urls AS (
  SELECT 'https://ex' || CAST(user_id % 3 AS VARCHAR)
         || '.com/p/' || event_type
         || '?k=' || CAST(event_id % 7 AS VARCHAR) AS u
  FROM events
), parts AS (
  SELECT regexp_extract(u, '^[a-z]+://([^/?#]+)', 1) AS host,
         regexp_extract(regexp_extract(u, '^[a-z]+://([^/?#]+)', 1),
                        '\\.([^.]+)$', 1) AS tld,
         regexp_extract(u, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS p,
         regexp_extract(u, '[?&]k=([^&#]*)', 1) AS k
  FROM urls
)
SELECT host, tld, p, k, CAST(count(*) AS BIGINT) AS n
FROM parts
GROUP BY host, tld, p, k
ORDER BY host, p, k
""",
    description="ClickHouse URL getters (domain / topLevelDomain / "
    "path / extractURLParameter) run verbatim through the dialect "
    "shim, which maps them to Spark's JVM-side parse_url; graded "
    "against a DuckDB regex re-derivation of each component.",
)
def q_dialect_url_funcs(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_URL, sf_dir)
    return out.select(
        "host", "tld", "p", "k", F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# rankCorr — Spearman rank correlation (ClickHouse rankCorr(x, y)).
# Average-rank tie handling, carried as 2× the average rank so every
# intermediate stays an exact integer: for a value with min-rank r and
# multiplicity c the average rank is r + (c-1)/2, so 2·avg = 2r + c - 1.
# Ranks are cast to DECIMAL(38,0) BEFORE summing, so all five sums
# are exact; the closed form
#   rho = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)(n·Syy − Sy²))
# is scale-invariant, so the ×2 cancels.  One IEEE divide + sqrt at the
# end, round 6.  The exact-decimal path bounds per-group n where
# n·Sxx ~ 4n⁴ < 1e38, i.e. n ≲ 1e9 rows per group; beyond that switch
# the sums to double and accept last-ulp noise.
# ---------------------------------------------------------------------------

@query(
    "q_spearman_corr",
    oracle="""
WITH e AS (
  SELECT event_type, value AS x, epoch_us(ts) AS y FROM events
), r AS (
  SELECT event_type,
         2 * rank() OVER (PARTITION BY event_type ORDER BY x)
           + count(*) OVER (PARTITION BY event_type, x) - 1 AS x2,
         2 * rank() OVER (PARTITION BY event_type ORDER BY y)
           + count(*) OVER (PARTITION BY event_type, y) - 1 AS y2
  FROM e
), r2 AS (
  SELECT event_type, CAST(x2 AS HUGEINT) AS x2,
         CAST(y2 AS HUGEINT) AS y2
  FROM r
), s AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x2) AS HUGEINT) AS sx,
         CAST(sum(y2) AS HUGEINT) AS sy,
         CAST(sum(x2 * x2) AS HUGEINT) AS sxx,
         CAST(sum(y2 * y2) AS HUGEINT) AS syy,
         CAST(sum(x2 * y2) AS HUGEINT) AS sxy
  FROM r2 GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho_r
FROM s ORDER BY event_type
""",
    description="Spearman rank correlation between value and event "
    "time per event type (ClickHouse rankCorr): average-rank ties "
    "carried as exact 2x-scaled integers, five exact DECIMAL(38,0) "
    "sums, one IEEE divide+sqrt at the end.  Two window ranks + one "
    "shuffle-free aggregate over the ranked frame; no per-group "
    "collection.",
)
def q_spearman_corr(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    e = events.select(
        "event_type",
        F.col("value").alias("x"),
        epoch_us("ts").alias("y"),
    )

    def rank2(col):
        return (
            F.lit(2) * F.rank().over(
                Window.partitionBy("event_type").orderBy(col))
            + F.count(F.lit(1)).over(
                Window.partitionBy("event_type", col))
            - F.lit(1)
        )

    d38 = "decimal(38,0)"
    # ranks cast to DECIMAL(38,0) BEFORE the sums/products so the
    # aggregation itself is exact — a bigint sum of x2*y2 would wrap
    # silently around n ~ 1.5e9 per group while the comment above
    # promised decimal exactness
    r = e.select(
        "event_type",
        rank2("x").cast(d38).alias("x2"),
        rank2("y").cast(d38).alias("y2"),
    )
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x2").cast(d38).alias("sx"),
        F.sum("y2").cast(d38).alias("sy"),
        F.sum(F.col("x2") * F.col("x2")).cast(d38).alias("sxx"),
        F.sum(F.col("y2") * F.col("y2")).cast(d38).alias("syy"),
        F.sum(F.col("x2") * F.col("y2")).cast(d38).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double")
    d1 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double")
    d2 = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(num / F.sqrt(d1 * d2), 6).alias("rho_r"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# cramersV — association between a categorical and a bucketed numeric
# column (ClickHouse cramersV(a, b)).  Contingency counts are exact
# integers; each cell's chi-square term is ONE fixed IEEE expression of
# exact-in-double integers, rounded to 9 digits and summed as exact
# DECIMAL(38,9) so the cell-sum is order-independent (both engines
# compute the identical per-cell double, so the rounded decimals are
# identical and the exact sum is too).
# ---------------------------------------------------------------------------

_BUCKET_SQL = ("CASE WHEN value < 50 THEN 0 WHEN value < 100 THEN 1 "
               "WHEN value < 200 THEN 2 ELSE 3 END")


@query(
    "q_cramers_v",
    oracle=f"""
WITH cells AS (
  SELECT event_type, {_BUCKET_SQL} AS b, count(*) AS o
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT sum(o) AS n, count(DISTINCT event_type) AS r,
         count(DISTINCT b) AS c
  FROM cells
), terms AS (
  SELECT round(
           CAST(n * o - rt * ct AS DOUBLE)
           * CAST(n * o - rt * ct AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE)
              * CAST(ct AS DOUBLE)), 9) AS term
  FROM (
    SELECT c.o, t.n,
           sum(c.o) OVER (PARTITION BY c.event_type) AS rt,
           sum(c.o) OVER (PARTITION BY c.b) AS ct
    FROM cells c CROSS JOIN tot t
  )
)
SELECT CAST(t.n AS BIGINT) AS n,
       CAST(t.r AS BIGINT) AS r, CAST(t.c AS BIGINT) AS c,
       round(CAST(s.chi2 AS DOUBLE), 6) AS chi2_r,
       round(sqrt(CAST(s.chi2 AS DOUBLE)
                  / (CAST(t.n AS DOUBLE)
                     * CAST(least(t.r - 1, t.c - 1) AS DOUBLE))), 6)
         AS v_r
FROM tot t CROSS JOIN (
  SELECT sum(CAST(term AS DECIMAL(38,9))) AS chi2 FROM terms
) s
""",
    description="Cramér's V between event_type and a fixed value "
    "bucketing (ClickHouse cramersV): exact integer contingency "
    "counts, per-cell chi-square terms as one fixed IEEE expression "
    "each, rounded to 9 digits and summed as exact DECIMAL(38,9) so "
    "the sum is aggregation-order-independent.  Single groupBy + two "
    "broadcastable marginals; scales as the number of cells, not "
    "rows.",
)
def q_cramers_v(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    b = (
        F.when(F.col("value") < 50, 0)
        .when(F.col("value") < 100, 1)
        .when(F.col("value") < 200, 2)
        .otherwise(3)
    )
    cells = events.select("event_type", b.alias("b")).groupBy(
        "event_type", "b").agg(F.count(F.lit(1)).alias("o"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("b").alias("c"),
    )
    m = cells.crossJoin(F.broadcast(tot)).select(
        "event_type", "b", "o", "n", "r", "c",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(Window.partitionBy("b")).alias("ct"),
    )
    diff = (F.col("n") * F.col("o") - F.col("rt") * F.col("ct")).cast(
        "double")
    den = (F.col("n").cast("double") * F.col("rt").cast("double")
           * F.col("ct").cast("double"))
    terms = m.select(
        "n", "r", "c",
        F.round(diff * diff / den, 9).cast("decimal(38,9)").alias(
            "term"),
    )
    s = terms.groupBy("n", "r", "c").agg(F.sum("term").alias("chi2"))
    chi2_d = F.col("chi2").cast("double")
    n_d = F.col("n").cast("double")
    dof = F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("r"),
        F.col("c").cast("long").alias("c"),
        F.round(chi2_d, 6).alias("chi2_r"),
        F.round(F.sqrt(chi2_d / (n_d * dof)), 6).alias("v_r"),
    )


# ---------------------------------------------------------------------------
# intervalLengthSum — total covered length of per-user event intervals
# [ts, ts + 5 min) with overlaps merged (ClickHouse intervalLengthSum).
# Classic gaps-and-islands: an interval starts a new island when its
# start exceeds the running max end of everything before it; island id
# is the running count of starts; exact integer microseconds
# throughout.  Two windows over the same (user, time) partitioning —
# one shuffle, no self-join.
# ---------------------------------------------------------------------------

@query(
    "q_interval_union_length",
    oracle="""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts) + 300000000 AS e
  FROM events
), flagged AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (
             PARTITION BY user_id ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) IS NULL
           OR s > max(e) OVER (
             PARTITION BY user_id ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) THEN 1 ELSE 0 END AS new_island
  FROM iv
), islands AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (
           PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS island
  FROM flagged
), per_island AS (
  SELECT user_id, island, max(e) - min(s) AS len_us
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(len_us) AS BIGINT) AS covered_us
FROM per_island GROUP BY user_id ORDER BY user_id
""",
    description="Union length of overlapping per-user intervals "
    "[ts, ts+5min) (ClickHouse intervalLengthSum): gaps-and-islands "
    "via a running-max-end window, exact integer microseconds, one "
    "shuffle on user_id shared by both windows and the final "
    "aggregate.",
)
def q_interval_union_length(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    iv = events.select(
        "user_id",
        epoch_us("ts").alias("s"),
        (epoch_us("ts") + F.lit(300000000)).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id").orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id").orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max = F.max("e").over(w_prev)
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("len_us"))
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("len_us").alias("covered_us"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# maxIntersections / maxIntersectionsPosition — the peak number of
# simultaneously-open intervals and the first time it is reached
# (ClickHouse maxIntersections(start, end)).  Sweep line as a plan:
# every interval contributes (+1 at start, -1 at end), the running sum
# over (point, delta DESC) is the concurrency curve — delta DESC puts
# starts before ends at the same instant, i.e. touching intervals
# count as intersecting (CH's closed-interval behavior).
# ---------------------------------------------------------------------------

@query(
    "q_max_intersections",
    oracle="""
WITH iv AS (
  SELECT event_type, epoch_us(ts) AS s,
         epoch_us(ts) + 300000000 AS e
  FROM events
), pts AS (
  SELECT event_type, s AS p, 1 AS delta FROM iv
  UNION ALL
  SELECT event_type, e AS p, -1 AS delta FROM iv
), curve AS (
  SELECT event_type, p,
         sum(delta) OVER (
           PARTITION BY event_type ORDER BY p, delta DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS conc
  FROM pts
), peak AS (
  SELECT event_type, max(conc) AS max_conc FROM curve GROUP BY 1
)
SELECT c.event_type,
       CAST(k.max_conc AS BIGINT) AS max_conc,
       CAST(min(c.p) AS BIGINT) AS pos_us
FROM curve c JOIN peak k
  ON c.event_type = k.event_type AND c.conc = k.max_conc
GROUP BY c.event_type, k.max_conc
ORDER BY c.event_type
""",
    description="Peak concurrent intervals and first time the peak is "
    "reached, per event type (ClickHouse maxIntersections / "
    "maxIntersectionsPosition): sweep line as +1/-1 deltas with a "
    "running-sum window ordered (point, delta DESC) so touching "
    "intervals intersect; exact integers end to end.",
)
def q_max_intersections(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    iv = events.select(
        "event_type",
        epoch_us("ts").alias("s"),
        (epoch_us("ts") + F.lit(300000000)).alias("e"),
    )
    pts = iv.select(
        "event_type", F.col("s").alias("p"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select(
            "event_type", F.col("e").alias("p"),
            F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("p"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = pts.select(
        "event_type", "p", F.sum("delta").over(w).alias("conc"))
    peak = curve.groupBy("event_type").agg(
        F.max("conc").alias("max_conc"))
    return (
        curve.join(
            F.broadcast(peak),
            ["event_type"],
        )
        .where(F.col("conc") == F.col("max_conc"))
        .groupBy("event_type", "max_conc")
        .agg(F.min("p").alias("pos_us"))
        .select(
            "event_type",
            F.col("max_conc").cast("long").alias("max_conc"),
            F.col("pos_us").cast("long").alias("pos_us"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# sumMap — per-key map aggregation (ClickHouse sumMap / countMap):
# per user, the map event_type -> (count, exact decimal sum of value),
# surfaced in the registry's canonical set form (key-sorted CSV
# strings) so the cross-engine hash is representation-independent.
# One shuffle on (user, key) then a map-side-combinable regroup.
# ---------------------------------------------------------------------------

@query(
    "q_summap_aggregates",
    oracle="""
WITH g AS (
  SELECT user_id, event_type,
         count(*) AS c,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       array_to_string(list(event_type ORDER BY event_type), ',')
         AS keys_csv,
       array_to_string(list(CAST(c AS VARCHAR) ORDER BY event_type),
                       ',') AS counts_csv,
       array_to_string(list(CAST(s AS VARCHAR) ORDER BY event_type),
                       ',') AS sums_csv
FROM g GROUP BY user_id ORDER BY user_id
""",
    description="sumMap/countMap aggregation (ClickHouse sumMap): per "
    "user the event_type -> (count, exact DECIMAL(18,2) sum) map, "
    "surfaced as key-sorted CSV triples; partial aggregation on "
    "(user, key) keeps the regroup map-side-combinable.",
)
def q_summap_aggregates(spark, sf_dir):
    from clickbom_spark.queries import dec

    (events,) = load(spark, sf_dir, "events")
    g = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(dec("value")).cast("decimal(18,2)").alias("s"),
    )
    packed = g.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("event_type", "c", "s"))
                     ).alias("m"))
    return packed.select(
        "user_id",
        F.concat_ws(",", F.transform("m", lambda x: x.event_type)).alias(
            "keys_csv"),
        F.concat_ws(",", F.transform(
            "m", lambda x: x.c.cast("string"))).alias("counts_csv"),
        F.concat_ws(",", F.transform(
            "m", lambda x: x.s.cast("string"))).alias("sums_csv"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# groupBitmap AND/OR/ANDNOT — bitmap set algebra over user-id sets per
# event type (ClickHouse groupBitmapAnd/Or/AndNot, bitmapCardinality).
# The distributed form is NOT a driver-side bitmap: distinct
# (type, user) pairs self-join on user for intersections; unions and
# differences derive by inclusion-exclusion from exact counts.  The
# pair grid comes from a broadcast of the 5-row totals, so pairs with
# empty intersections still appear.
# ---------------------------------------------------------------------------

@query(
    "q_bitmap_ops",
    oracle="""
WITH d AS (
  SELECT DISTINCT event_type, user_id FROM events
), tot AS (
  SELECT event_type, count(*) AS n FROM d GROUP BY 1
), inter AS (
  SELECT a.event_type AS et_a, b.event_type AS et_b,
         count(*) AS i
  FROM d a JOIN d b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT ta.event_type AS et_a, tb.event_type AS et_b,
       CAST(ta.n AS BIGINT) AS card_a,
       CAST(tb.n AS BIGINT) AS card_b,
       CAST(coalesce(i.i, 0) AS BIGINT) AS card_and,
       CAST(ta.n + tb.n - coalesce(i.i, 0) AS BIGINT) AS card_or,
       CAST(ta.n - coalesce(i.i, 0) AS BIGINT) AS card_andnot,
       round(CAST(coalesce(i.i, 0) AS DOUBLE)
             / CAST(ta.n + tb.n - coalesce(i.i, 0) AS DOUBLE), 6)
         AS jaccard_r
FROM tot ta JOIN tot tb ON ta.event_type < tb.event_type
LEFT JOIN inter i
  ON i.et_a = ta.event_type AND i.et_b = tb.event_type
ORDER BY et_a, et_b
""",
    description="Bitmap set algebra over per-type user-id sets "
    "(ClickHouse groupBitmapAnd/Or/AndNot): distinct pairs self-join "
    "on user_id for intersections, union/andnot by inclusion-"
    "exclusion, full pair grid from a broadcast totals join.  Exact "
    "integers; one IEEE division for the Jaccard.",
)
def q_bitmap_ops(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    d = events.select("event_type", "user_id").distinct()
    tot = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = d.select(F.col("event_type").alias("et_a"), "user_id")
    b = d.select(F.col("event_type").alias("et_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .where(F.col("et_a") < F.col("et_b"))
        .groupBy("et_a", "et_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ta = tot.select(F.col("event_type").alias("et_a"),
                    F.col("n").alias("card_a"))
    tb = tot.select(F.col("event_type").alias("et_b"),
                    F.col("n").alias("card_b"))
    grid = ta.crossJoin(tb).where(F.col("et_a") < F.col("et_b"))
    out = grid.join(F.broadcast(inter), ["et_a", "et_b"], "left").select(
        "et_a", "et_b", "card_a", "card_b",
        F.coalesce(F.col("i"), F.lit(0)).alias("card_and"),
    )
    card_or = F.col("card_a") + F.col("card_b") - F.col("card_and")
    return out.select(
        "et_a", "et_b", "card_a", "card_b", "card_and",
        card_or.alias("card_or"),
        (F.col("card_a") - F.col("card_and")).alias("card_andnot"),
        F.round(
            F.col("card_and").cast("double") / card_or.cast("double"), 6
        ).alias("jaccard_r"),
    ).orderBy("et_a", "et_b")


# ---------------------------------------------------------------------------
# sequenceNextNode — the event that immediately follows the FIRST
# 'signup' in each user's (ts, event_id)-ordered stream (ClickHouse
# sequenceNextNode('forward', 'head')).  Row numbers over the per-user
# order, the anchor is min(rn of a signup), the answer is rn anchor+1;
# users whose signup is their last event surface as '(none)'.
# ---------------------------------------------------------------------------

@query(
    "q_sequence_next_node",
    oracle="""
WITH o AS (
  SELECT user_id, event_type,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), anchor AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN rn END) AS srn
  FROM o GROUP BY user_id
)
SELECT coalesce(n.event_type, '(none)') AS next_event_type,
       CAST(count(*) AS BIGINT) AS n_users
FROM anchor a
LEFT JOIN o n ON n.user_id = a.user_id AND n.rn = a.srn + 1
WHERE a.srn IS NOT NULL
GROUP BY 1 ORDER BY next_event_type
""",
    description="sequenceNextNode('forward','head'): the event "
    "immediately after each user's first signup in (ts, event_id) "
    "order, '(none)' when the signup closes the stream; one window "
    "pass + an aligned self-join on (user, rn).",
)
def q_sequence_next_node(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    o = events.select(
        "user_id", "event_type",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("rn"),
    )
    anchor = o.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("rn"))
              ).alias("srn"))
    nxt = o.select("user_id", F.col("rn").alias("nrn"),
                   F.col("event_type").alias("next_type"))
    joined = (
        anchor.where(F.col("srn").isNotNull())
        .join(nxt, (anchor.user_id == nxt.user_id)
              & (nxt.nrn == anchor.srn + 1), "left")
    )
    return joined.groupBy(
        F.coalesce(F.col("next_type"), F.lit("(none)")).alias(
            "next_event_type")
    ).agg(F.count(F.lit(1)).alias("n_users")).orderBy("next_event_type")


# ---------------------------------------------------------------------------
# quantileTiming — ClickHouse's fixed-grid timing quantile: values are
# binned on a precision-losing grid (exact below 1024 ms, 16 ms
# buckets to 30 s, clamped at 30 s), so the quantile is a GRID POINT
# and merges of partial states are exact.  Deterministic spec: the
# q-quantile is the smallest grid point whose cumulative count reaches
# ceil(q * n).  value*10 is used as the millisecond measure so the
# corpus actually exercises the 16 ms region.
# ---------------------------------------------------------------------------

_TIMING_BUCKET = """CASE
  WHEN ms < 1024 THEN ms
  WHEN ms < 30000 THEN ms - (ms % 16)
  ELSE 30000 END"""


@query(
    "q_quantile_timing",
    oracle=f"""
WITH t AS (
  SELECT event_type,
         CAST(floor(value * 10) AS BIGINT) AS ms
  FROM events
), b AS (
  SELECT event_type, {_TIMING_BUCKET} AS bucket, count(*) AS c
  FROM t GROUP BY 1, 2
), cum AS (
  SELECT event_type, bucket, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                      ) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM b
)
SELECT event_type,
       CAST(min(CASE WHEN cum >= ceil(0.50 * n) THEN bucket END)
            AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= ceil(0.90 * n) THEN bucket END)
            AS BIGINT) AS p90,
       CAST(min(CASE WHEN cum >= ceil(0.99 * n) THEN bucket END)
            AS BIGINT) AS p99,
       CAST(max(n) AS BIGINT) AS n
FROM cum GROUP BY event_type ORDER BY event_type
""",
    description="quantileTiming(0.5/0.9/0.99) per event type: "
    "ClickHouse's fixed timing grid (exact <1024 ms, 16 ms buckets to "
    "30 s, clamp at 30 s) makes the sketch mergeable and the quantile "
    "a grid point — smallest bucket whose cumulative count reaches "
    "ceil(q*n); integer-exact end to end.",
)
def q_quantile_timing(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    ms = F.floor(F.col("value") * 10).cast("long")
    bucket = (
        F.when(ms < 1024, ms)
        .when(ms < 30000, ms - (ms % 16))
        .otherwise(F.lit(30000))
    )
    b = events.select("event_type", bucket.alias("bucket")).groupBy(
        "event_type", "bucket").agg(F.count(F.lit(1)).alias("c"))
    w_cum = (
        Window.partitionBy("event_type").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = b.select(
        "event_type", "bucket", "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )

    def level(q, name):
        return F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")),
                   F.col("bucket"))
        ).cast("long").alias(name)

    return cum.groupBy("event_type").agg(
        level(0.50, "p50"), level(0.90, "p90"), level(0.99, "p99"),
        F.max("n").cast("long").alias("n"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# greatCircleDistance — haversine distance between deterministic
# per-customer and per-nation coordinates (ClickHouse
# greatCircleDistance(lon1, lat1, lon2, lat2)).  Coordinates are
# integer-derived (exact in double); the distance is ONE fixed IEEE
# expression per row (no aggregation), rounded to 3 decimals — metre
# precision, far above the <=2-ulp libm drift between JVM Math and C
# libm.
# ---------------------------------------------------------------------------

_HAVERSINE = (
    "2.0 * 6371.0 * asin(sqrt("
    "pow(sin((radians({nlat}) - radians({lat})) / 2), 2) "
    "+ cos(radians({lat})) * cos(radians({nlat})) "
    "* pow(sin((radians({nlon}) - radians({lon})) / 2), 2)))"
)


@query(
    "q_geo_distance",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
         (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon,
         (c_nationkey * 677 % 18000) / 100.0 - 90.0 AS nlat,
         (c_nationkey * 997 % 36000) / 100.0 - 180.0 AS nlon
  FROM customer
)
SELECT c_custkey,
       round({_HAVERSINE.format(lat='lat', lon='lon',
                                nlat='nlat', nlon='nlon')}, 3)
         AS dist_km_r
FROM pts ORDER BY c_custkey
""",
    description="greatCircleDistance (haversine, R=6371 km) between "
    "integer-derived customer and nation coordinates: one fixed IEEE "
    "expression per row, no aggregation, round-3 (metre) surfacing "
    "absorbs cross-libm ulp drift.  Pure narrow projection — scan-"
    "bound at scale.",
)
def q_geo_distance(spark, sf_dir):
    (customer,) = load(spark, sf_dir, "customer")
    pts = customer.select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias(
            "lon"),
        ((F.col("c_nationkey") * 677 % 18000) / 100.0 - 90.0).alias(
            "nlat"),
        ((F.col("c_nationkey") * 997 % 36000) / 100.0 - 180.0).alias(
            "nlon"),
    )
    dist = F.expr(_HAVERSINE.format(lat="lat", lon="lon",
                                    nlat="nlat", nlon="nlon"))
    return pts.select(
        "c_custkey", F.round(dist, 3).alias("dist_km_r")
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Branch merge with write-write conflict detection — the lakeFS/Git
# merge question as a query: a feature branch and its source edit
# overlapping key ranges; 'fail' proves detection fires, 'source-wins'
# resolves deterministically.  The oracle replays the policy
# arithmetic directly on the base table.
# ---------------------------------------------------------------------------

@query(
    "q_lake_branch_merge_conflict",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders WHERE o_orderkey % 3 = 0
), fin AS (
  SELECT k,
         CASE WHEN k % 7 = 0 AND k % 35 <> 0 THEN 'B-EDIT'
              ELSE st END AS st,
         CASE WHEN k % 5 = 0 THEN p + 1000 ELSE p END AS p
  FROM base
  WHERE NOT (k % 11 = 1 AND k % 5 <> 0)
)
SELECT st AS o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(p) AS DOUBLE) AS total_p
FROM fin GROUP BY st ORDER BY st
""",
    description="Branch merge-back under concurrent source writes "
    "(ext/manifest.merge_branch on_conflict): branch edits status on "
    "keys %7 and deletes keys %11==1 while the source edits price on "
    "keys %5; 'fail' must raise BranchMergeConflict, then "
    "'source-wins' drops exactly the both-side keys — conflict "
    "detection scoped to the two change feeds, so cost scales with "
    "divergence, not table size.",
)
def q_lake_branch_merge_conflict(spark, sf_dir):
    import uuid as _uuid

    from clickbom_spark.ext.manifest import (
        BranchMergeConflict,
        VersionedLake,
        branch,
        merge_branch,
    )
    from clickbom_spark.queries import dec
    from clickbom_spark.queries import scratch_path

    (orders,) = load(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        dec("o_totalprice").alias("p"),
    )
    tag = _uuid.uuid4().hex[:8]
    path = scratch_path(f"merge_conflict_src_{tag}")
    br_path = scratch_path(f"merge_conflict_br_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(br_path, ignore_errors=True)
    lake = VersionedLake.create(
        spark, path, base.repartitionByRange(4, "k"), n_files=4)
    br = branch(lake, br_path)
    br.update(F.col("k") % 7 == 0, {"st": F.lit("B-EDIT")})
    br.delete(F.col("k") % 11 == 1)
    # concurrent source edit overlapping both branch predicates
    lake.update(F.col("k") % 5 == 0, {"p": F.col("p") + 1000})
    try:
        merge_branch(lake, br, ["k"], on_conflict="fail")
        raise AssertionError("conflict detection must fire")
    except BranchMergeConflict:
        pass
    v = merge_branch(lake, br, ["k"], on_conflict="source-wins")
    return (
        lake.read(v)
        .groupBy("st")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("p").cast("double").alias("total_p"),
        )
        .select(F.col("st").alias("o_orderstatus"), "n", "total_p")
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Lake changelog -> incrementally-maintained aggregate matview: the
# full streaming-warehouse loop.  Events land in the source lake over
# three append commits; the lake streams them out (Python Data Source
# API), and additive_matview_sink folds per-batch partial aggregates
# additively into a second lake with exactly-once epoch marking.  The
# oracle is the BATCH aggregate — incremental view maintenance must be
# indistinguishable from recomputation.
# ---------------------------------------------------------------------------

@query(
    "q_lake_stream_matview",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_v
FROM events GROUP BY event_type ORDER BY event_type
""",
    description="Lake changelog as a streaming source feeding an "
    "incrementally-maintained aggregate matview "
    "(ext/manifest.additive_matview_sink): three source commits "
    "stream out via the Python Data Source API, per-batch partials "
    "fold additively (exact decimal sums) with exactly-once epoch "
    "marking; graded against the batch aggregate.",
)
def q_lake_stream_matview(spark, sf_dir):
    import uuid as _uuid

    from clickbom_spark.ext.manifest import (
        VersionedLake,
        additive_matview_sink,
    )
    from clickbom_spark.queries import dec
    from clickbom_spark.queries import scratch_path
    from clickbom_spark.streaming.lake_source import LakeStreamDataSource

    (events,) = load(spark, sf_dir, "events")
    base = events.select("event_id", "event_type", "value")
    tag = _uuid.uuid4().hex[:8]
    src_path = scratch_path(f"mv_src_{tag}")
    mv_path = scratch_path(f"mv_dst_{tag}")
    shutil.rmtree(src_path, ignore_errors=True)
    shutil.rmtree(mv_path, ignore_errors=True)
    src = VersionedLake.create(
        spark, src_path, base.where(F.col("event_id") % 3 == 0),
        n_files=2)
    src.upsert(base.where(F.col("event_id") % 3 == 1), ["event_id"])
    src.upsert(base.where(F.col("event_id") % 3 == 2), ["event_id"])

    mv = VersionedLake.create(
        spark,
        mv_path,
        base.select(
            "event_type",
            F.lit(0).cast("long").alias("n"),
            F.lit(0).cast("decimal(18,2)").alias("s"),
        ).where(F.lit(False)),
        n_files=1,
    )

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dec("value")).cast("decimal(18,2)").alias("s"),
        )

    spark.dataSource.register(LakeStreamDataSource)
    q = (
        spark.readStream.format("lake_stream")
        .option("path", src_path)
        .load()
        .writeStream.foreachBatch(
            additive_matview_sink(mv, ["event_type"], partial))
        .option("checkpointLocation", scratch_path(f"mv_ck_{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        mv.read()
        .select(
            "event_type",
            "n",
            F.col("s").cast("double").alias("total_v"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# windowFunnel strict_order — ClickHouse's interleaving rule (the
# A->B->D->C search stops at D) on top of the greedy best-chain-start
# fold; the achieved depth before an interruption still counts.  The
# DuckDB oracle replays the identical 4-slot fold with list_reduce.
# ---------------------------------------------------------------------------

_WFS_WINDOW_US = 30 * 60 * 1_000_000
_WFS_NEG = -(10 ** 18)


@query(
    "q_window_funnel_strict",
    oracle=f"""
WITH lev AS (
  SELECT user_id, epoch_us(ts) AS t, event_id,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                         WHEN 'purchase' THEN 3 ELSE 0 END AS l
  FROM events
), folded AS (
  SELECT user_id,
         list_reduce(
           list_prepend([{_WFS_NEG}::BIGINT, {_WFS_NEG}::BIGINT,
                         {_WFS_NEG}::BIGINT, 0::BIGINT],
             list([t, CAST(l AS BIGINT)] ORDER BY t, event_id)),
           (acc, x) -> [
             CASE WHEN x[2] = 0 THEN {_WFS_NEG}::BIGINT
                  WHEN x[2] = 1 THEN greatest(acc[1], x[1])
                  ELSE acc[1] END,
             CASE WHEN x[2] = 0 THEN {_WFS_NEG}::BIGINT
                  WHEN x[2] = 2 AND acc[1] >= x[1] - {_WFS_WINDOW_US}
                  THEN greatest(acc[2], acc[1]) ELSE acc[2] END,
             CASE WHEN x[2] = 0 THEN {_WFS_NEG}::BIGINT
                  WHEN x[2] = 3 AND acc[2] >= x[1] - {_WFS_WINDOW_US}
                  THEN greatest(acc[3], acc[2]) ELSE acc[3] END,
             CASE WHEN x[2] = 0 THEN greatest(acc[4],
                    (CASE WHEN acc[1] > {_WFS_NEG} THEN 1 ELSE 0 END)
                  + (CASE WHEN acc[2] > {_WFS_NEG} THEN 1 ELSE 0 END)
                  + (CASE WHEN acc[3] > {_WFS_NEG} THEN 1 ELSE 0 END))
                  ELSE acc[4] END
           ]) AS s
  FROM lev GROUP BY user_id
)
SELECT user_id,
       CAST(greatest(
         (CASE WHEN s[1] > {_WFS_NEG} THEN 1 ELSE 0 END)
       + (CASE WHEN s[2] > {_WFS_NEG} THEN 1 ELSE 0 END)
       + (CASE WHEN s[3] > {_WFS_NEG} THEN 1 ELSE 0 END), s[4])
         AS BIGINT) AS funnel_level
FROM folded ORDER BY user_id
""",
    description="windowFunnel(30 min, 'strict_order')(view, click, "
    "purchase) per user (ext/sequences.window_funnel_level "
    "mode='strict_order'): events matching no condition kill every "
    "in-flight chain but already-achieved depth counts; one hash "
    "aggregate per user over the full event stream (the cost "
    "ClickHouse itself pays for strict_order).",
)
def q_window_funnel_strict(spark, sf_dir):
    from clickbom_spark.ext.sequences import window_funnel_level

    (events,) = load(spark, sf_dir, "events")
    lev = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(0)
    )
    return window_funnel_level(
        events, ["user_id"], epoch_us("ts"), F.col("event_id"),
        lev, n_levels=3, window_us=_WFS_WINDOW_US, mode="strict_order",
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# sequenceMatch with time constraints — ClickHouse
# sequenceMatch('(?1)(?t<=43200)(?2)(?t<=43200)(?3)'): consecutive
# steps at most 12h apart.  Greedy earliest-completion fold: keeping
# the MINIMUM completion time per matched prefix is optimal (an
# earlier prefix completion can only loosen future constraints), so
# the per-user state is one bigint per level — engine-portable.
# ---------------------------------------------------------------------------

_SMT_LIMIT_US = 12 * 3600 * 1_000_000
_SMT_POS = 10 ** 18


@query(
    "q_sequence_match_timed",
    oracle=f"""
WITH lev AS (
  SELECT user_id, epoch_us(ts) AS t, event_id,
         CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
                         WHEN 'purchase' THEN 3 ELSE 0 END AS l
  FROM events
), folded AS (
  SELECT user_id,
         list_reduce(
           list_prepend([{_SMT_POS}::BIGINT, {_SMT_POS}::BIGINT,
                         {_SMT_POS}::BIGINT],
             list([t, CAST(l AS BIGINT)]
                  ORDER BY t, event_id) FILTER (l > 0)),
           (acc, x) -> [
             CASE WHEN x[2] = 1 THEN least(acc[1], x[1])
                  ELSE acc[1] END,
             CASE WHEN x[2] = 2 AND acc[1] < {_SMT_POS}
                   AND x[1] - acc[1] <= {_SMT_LIMIT_US}
                  THEN least(acc[2], x[1]) ELSE acc[2] END,
             CASE WHEN x[2] = 3 AND acc[2] < {_SMT_POS}
                   AND x[1] - acc[2] <= {_SMT_LIMIT_US}
                  THEN least(acc[3], x[1]) ELSE acc[3] END
           ]) AS s
  FROM lev GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN s[3] < {_SMT_POS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched
FROM folded
""",
    description="Time-constrained sequenceMatch "
    "('(?1)(?t<=12h)(?2)(?t<=12h)(?3)' over signup->click->purchase): "
    "greedy earliest-completion fold (min completion time per prefix "
    "is optimal for downstream constraints), one bigint per level per "
    "user, matched-user count surfaced.",
)
def q_sequence_match_timed(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    lev = (
        F.when(F.col("event_type") == "signup", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(0)
    )
    src = events.select(
        "user_id", epoch_us("ts").alias("t"), "event_id",
        lev.alias("l"),
    )
    # collect_list drops NULLs, so the when() keeps only pattern-
    # relevant events INSIDE the aggregate while the groupBy still
    # counts every user — a pre-groupBy filter would silently drop
    # users with no matching events from n_users (the oracle's FILTER
    # inside list() keeps them)
    packed = F.array_sort(
        F.collect_list(
            F.when(F.col("l") > 0,
                   F.struct(F.col("t"), F.col("event_id"), F.col("l")))
        ))
    seed = F.array(*[F.lit(_SMT_POS).cast("long") for _ in range(3)])

    def step(acc, x):
        e1 = F.element_at(acc, 1)
        e2 = F.element_at(acc, 2)
        e3 = F.element_at(acc, 3)
        return F.array(
            F.when(x["l"] == 1, F.least(e1, x["t"])).otherwise(e1),
            F.when(
                (x["l"] == 2) & (e1 < _SMT_POS)
                & (x["t"] - e1 <= _SMT_LIMIT_US),
                F.least(e2, x["t"]),
            ).otherwise(e2),
            F.when(
                (x["l"] == 3) & (e2 < _SMT_POS)
                & (x["t"] - e2 <= _SMT_LIMIT_US),
                F.least(e3, x["t"]),
            ).otherwise(e3),
        )

    folded = src.groupBy("user_id").agg(
        F.aggregate(packed, seed, step).alias("s"))
    return folded.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(
            F.when(F.element_at(F.col("s"), 3) < _SMT_POS, 1).otherwise(0)
        ).cast("long").alias("n_matched"),
    )


# ---------------------------------------------------------------------------
# studentTTest — the equal-variance two-sample t (ClickHouse
# studentTTest), completing the Welch/Mann-Whitney/KS family: pooled
# variance from exact integer-cent moments, one fixed IEEE expression.
# ---------------------------------------------------------------------------

@query(
    "q_student_ttest",
    oracle="""
WITH e AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('view', 'error')
), p AS (
  SELECT
    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
      AS n1,
    CAST(SUM(CASE WHEN event_type = 'view' THEN c ELSE 0 END) AS BIGINT)
      AS s1,
    CAST(SUM(CASE WHEN event_type = 'view' THEN c * c ELSE 0 END)
         AS BIGINT) AS ss1,
    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
      AS n2,
    CAST(SUM(CASE WHEN event_type = 'error' THEN c ELSE 0 END) AS BIGINT)
      AS s2,
    CAST(SUM(CASE WHEN event_type = 'error' THEN c * c ELSE 0 END)
         AS BIGINT) AS ss2
  FROM e
), m AS (
  SELECT n1, n2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mdiff,
         (CAST(ss1 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
         + (CAST(ss2 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           AS ssq
  FROM p
)
SELECT n1, n2,
       CAST(n1 + n2 - 2 AS BIGINT) AS df,
       round(mdiff / sqrt(ssq / CAST(n1 + n2 - 2 AS DOUBLE)
             * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))),
             6) AS t_stat_r
FROM m
""",
    description="Student's pooled-variance two-sample t-test "
    "(ClickHouse studentTTest) between view and error values: exact "
    "integer-cent moments from one pivoted aggregate, pooled variance "
    "and the t statistic as one fixed IEEE chain; df = n1+n2-2.",
)
def q_student_ttest(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    e = events.where(
        F.col("value").isNotNull()
        & F.col("event_type").isin("view", "error")
    ).select("event_type",
             F.round(F.col("value") * 100).cast("long").alias("c"))

    def side(t, col, name):
        return F.sum(
            F.when(F.col("event_type") == t, col).otherwise(F.lit(0))
        ).cast("long").alias(name)

    p = e.agg(
        side("view", F.lit(1), "n1"),
        side("view", F.col("c"), "s1"),
        side("view", F.col("c") * F.col("c"), "ss1"),
        side("error", F.lit(1), "n2"),
        side("error", F.col("c"), "s2"),
        side("error", F.col("c") * F.col("c"), "ss2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    mdiff = F.col("s1").cast("double") / n1d - F.col("s2").cast(
        "double") / n2d
    ssq = (
        F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / n1d
    ) + (
        F.col("ss2").cast("double")
        - F.col("s2").cast("double") * F.col("s2").cast("double") / n2d
    )
    dfree = (F.col("n1") + F.col("n2") - 2).cast("long")
    return p.select(
        "n1", "n2",
        dfree.alias("df"),
        F.round(
            mdiff / F.sqrt(ssq / dfree.cast("double")
                           * (F.lit(1.0) / n1d + F.lit(1.0) / n2d)), 6
        ).alias("t_stat_r"),
    )


# ---------------------------------------------------------------------------
# boundingRatio — slope between the first and last point of each
# group's (t, value) series (ClickHouse boundingRatio(x, y)): exact
# integer endpoints via min_by/max_by with a (ts, event_id) total
# order, one IEEE division scaled to per-hour.
# ---------------------------------------------------------------------------

@query(
    "q_bounding_ratio",
    oracle="""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS t, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
), w AS (
  SELECT event_type, t, c,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY t, event_id) AS rf,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY t DESC, event_id DESC) AS rl
  FROM e
), p AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         max(CASE WHEN rf = 1 THEN c END) AS y_first,
         max(CASE WHEN rl = 1 THEN c END) AS y_last,
         min(t) AS t_min, max(t) AS t_max
  FROM w GROUP BY event_type
)
SELECT event_type, n,
       round(CAST(y_last - y_first AS DOUBLE)
             / CAST(t_max - t_min AS DOUBLE) * 36000000000.0, 6)
         AS slope_cents_per_hour_r
FROM p ORDER BY event_type
""",
    description="boundingRatio(t, value) per event type (ClickHouse "
    "boundingRatio): slope between the series' first and last points "
    "— exact integer-cent endpoints under the (ts, event_id) total "
    "order via min_by/max_by struct ordering, one IEEE division "
    "(scaled to cents/hour); a single hash aggregate, no sort.",
)
def q_bounding_ratio(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    e = events.where(F.col("value").isNotNull()).select(
        "event_type",
        epoch_us("ts").alias("t"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    order = F.struct(F.col("t"), F.col("event_id"))
    p = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min_by("c", order).alias("y_first"),
        F.max_by("c", order).alias("y_last"),
        F.min("t").alias("t_min"),
        F.max("t").alias("t_max"),
    )
    return p.select(
        "event_type", "n",
        F.round(
            (F.col("y_last") - F.col("y_first")).cast("double")
            / (F.col("t_max") - F.col("t_min")).cast("double")
            * F.lit(36000000000.0), 6,
        ).alias("slope_cents_per_hour_r"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# groupArrayMovingSum — per-group arrays of running window sums
# (ClickHouse groupArrayMovingSum(3)): the moving sum is a ROWS window
# over exact decimals; the surfaced form is the last five entries as a
# CSV (the registry's canonical array surfacing), keeping output rows
# user-sized while still pinning the window arithmetic.
# ---------------------------------------------------------------------------

@query(
    "q_group_array_moving_sum",
    oracle="""
WITH mv AS (
  SELECT user_id, ts, event_id,
         sum(CAST(value AS DECIMAL(18,2))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
         ) AS m
  FROM events
), packed AS (
  SELECT user_id,
         list(CAST(m AS VARCHAR) ORDER BY ts, event_id) AS l
  FROM mv GROUP BY user_id
)
SELECT user_id,
       array_to_string(l[greatest(len(l) - 4, 1):len(l)], ',')
         AS last5_csv,
       CAST(len(l) AS BIGINT) AS n
FROM packed ORDER BY user_id
""",
    description="groupArrayMovingSum(3) per user (ClickHouse): "
    "3-row moving sums over exact DECIMAL(18,2) in (ts, event_id) "
    "order; last five entries surfaced as CSV.  One user-partitioned "
    "window + one regroup — both reuse a single shuffle.",
)
def q_group_array_moving_sum(spark, sf_dir):
    from clickbom_spark.queries import dec

    (events,) = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    mv = events.select(
        "user_id", "ts", "event_id",
        F.sum(dec("value")).over(w).cast("decimal(18,2)").alias("m"),
    )
    packed = mv.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id",
                                    F.col("m").cast("string").alias("ms")))
        ).alias("l"))
    n = F.size("l")
    return packed.select(
        "user_id",
        F.concat_ws(",", F.transform(
            F.slice("l", F.greatest(n - 4, F.lit(1)), 5),
            lambda x: x.ms)).alias("last5_csv"),
        n.cast("long").alias("n"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# geohashEncode — ClickHouse's geohash encoder as a PURE INTEGER
# expression: grid indices by integer floor-division (no doubles
# anywhere), 40-bit lon/lat interleave unrolled into 8 base32 chars.
# The Spark and DuckDB expressions are generated from the SAME Python
# spec (only the integer-division token differs), so the oracle is a
# genuine independent execution, not a copy-paste of engine output.
# ---------------------------------------------------------------------------

_GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_expr(lat_e2: str, lon_e2: str, div: str) -> str:
    """8-char geohash of integer-scaled coords: ``lat_e2`` in
    [0, 18000) hundredths of a degree from the south pole, ``lon_e2``
    in [0, 36000) from the antimeridian.  ``div`` is the engine's
    integer floor-division token ('DIV' or '//')."""
    lat_idx = f"(({lat_e2}) * 1048576 {div} 18000)"
    lon_idx = f"(({lon_e2}) * 1048576 {div} 36000)"
    chars = []
    for ci in range(8):
        terms = []
        for b in range(5):
            pos = ci * 5 + b  # bit position, MSB first
            src, j = (lon_idx, pos // 2) if pos % 2 == 0 else (
                lat_idx, (pos - 1) // 2)
            bit = f"(({src} {div} {1 << (19 - j)}) % 2)"
            terms.append(f"{bit} * {1 << (4 - b)}")
        v = " + ".join(terms)
        chars.append(f"substring('{_GH32}', CAST({v} AS INT) + 1, 1)")
    return "concat(" + ", ".join(chars) + ")"


@query(
    "q_geohash_encode",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey,
         c_custkey * 7919 % 18000 AS lat_e2,
         c_custkey * 104729 % 36000 AS lon_e2
  FROM customer
)
SELECT c_custkey,
       {_geohash_expr('lat_e2', 'lon_e2', '//')} AS geohash8
FROM pts ORDER BY c_custkey
""",
    description="geohashEncode(lon, lat, 8) (ClickHouse geohash "
    "family) over integer-derived customer coordinates: grid indices "
    "and the 40-bit interleave are pure integer arithmetic unrolled "
    "into 8 base32 characters — zero doubles, zero UDFs, whole-stage-"
    "codegen-able; Spark and DuckDB expressions generated from one "
    "spec.",
)
def q_geohash_encode(spark, sf_dir):
    (customer,) = load(spark, sf_dir, "customer")
    pts = customer.select(
        "c_custkey",
        (F.col("c_custkey") * 7919 % 18000).alias("lat_e2"),
        (F.col("c_custkey") * 104729 % 36000).alias("lon_e2"),
    )
    return pts.select(
        "c_custkey",
        F.expr(_geohash_expr("lat_e2", "lon_e2", "DIV")).alias(
            "geohash8"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# largestTriangleThreeBuckets — ClickHouse's LTTB downsampling
# aggregate, in the parallel "LTTB-avg" variant: the original picks
# each bucket's point by triangle area against the PREVIOUSLY SELECTED
# point (a sequential chain); using the neighbor buckets' AVERAGE
# points on both sides instead makes every bucket independent — one
# window pass, no sequential dependency — while keeping the visual-
# fidelity property the algorithm exists for.  Endpoint buckets pass
# through their first/last point (the anchors), as in the original.
# All selections resolve on exact integers or identical-IEEE area
# expressions with an event_id tiebreak.
# ---------------------------------------------------------------------------

_LTTB_B = 20


@query(
    "q_lttb_downsample",
    oracle=f"""
WITH pts AS (
  SELECT event_type, epoch_us(ts) AS t, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
), ext AS (
  SELECT event_type, min(t) AS tmin, max(t) AS tmax
  FROM pts GROUP BY event_type
), bk AS (
  SELECT p.event_type, p.t, p.event_id, p.y,
         CAST((p.t - e.tmin) * {_LTTB_B}
              // (e.tmax - e.tmin + 1) AS BIGINT) AS b
  FROM pts p JOIN ext e ON p.event_type = e.event_type
), avgs AS (
  SELECT event_type, b,
         CAST(sum(t) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ta,
         CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ya
  FROM bk GROUP BY event_type, b
), interior AS (
  SELECT bk.event_type, bk.b, bk.t, bk.event_id, bk.y,
         abs((la.ta - ra.ta) * (CAST(bk.y AS DOUBLE) - ra.ya)
             - (CAST(bk.t AS DOUBLE) - ra.ta) * (la.ya - ra.ya))
           AS area
  FROM bk
  LEFT JOIN avgs la
    ON la.event_type = bk.event_type AND la.b = bk.b - 1
  LEFT JOIN avgs ra
    ON ra.event_type = bk.event_type AND ra.b = bk.b + 1
  WHERE bk.b > 0 AND bk.b < {_LTTB_B} - 1
    AND la.b IS NOT NULL AND ra.b IS NOT NULL
), sel_mid AS (
  SELECT event_type, b, t, y FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, b
      ORDER BY area DESC, event_id DESC) AS rn
    FROM interior
  ) WHERE rn = 1
), sel_edge AS (
  SELECT event_type, b, t, y FROM (
    SELECT event_type, b, t, y, row_number() OVER (
      PARTITION BY event_type, b
      ORDER BY CASE WHEN b = 0 THEN t ELSE -t END,
               CASE WHEN b = 0 THEN event_id ELSE -event_id END
    ) AS rn
    FROM bk WHERE b = 0 OR b = {_LTTB_B} - 1
  ) WHERE rn = 1
)
SELECT event_type, CAST(b AS BIGINT) AS b,
       CAST(t AS BIGINT) AS sel_t, CAST(y AS BIGINT) AS sel_y
FROM (SELECT * FROM sel_mid UNION ALL SELECT * FROM sel_edge)
ORDER BY event_type, b
""",
    description="largestTriangleThreeBuckets(20) per event type "
    "(ClickHouse LTTB), parallel LTTB-avg variant: neighbor-bucket "
    "average points replace the sequential previously-selected point "
    "so every bucket selects independently (one window pass); "
    "endpoint buckets anchor on their first/last point; empty-"
    "neighbor interior buckets are skipped.  Integer bucketing, "
    "identical-IEEE area expressions, event_id tiebreaks.",
)
def q_lttb_downsample(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    pts = events.where(F.col("value").isNotNull()).select(
        "event_type",
        epoch_us("ts").alias("t"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    ext = pts.groupBy("event_type").agg(
        F.min("t").alias("tmin"), F.max("t").alias("tmax"))
    bk = pts.join(F.broadcast(ext), "event_type").select(
        "event_type", "t", "event_id", "y",
        ((F.col("t") - F.col("tmin")) * _LTTB_B)
        .cast("long")
        .alias("_num"),
        (F.col("tmax") - F.col("tmin") + 1).alias("_den"),
    ).select(
        "event_type", "t", "event_id", "y",
        F.expr("_num DIV _den").cast("long").alias("b"),
    )
    avgs = bk.groupBy("event_type", "b").agg(
        (F.sum("t").cast("double") / F.count(F.lit(1)).cast("double")
         ).alias("ta"),
        (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")
         ).alias("ya"),
    )
    la = avgs.select(
        "event_type", (F.col("b") + 1).alias("b"),
        F.col("ta").alias("lta"), F.col("ya").alias("lya"))
    ra = avgs.select(
        "event_type", (F.col("b") - 1).alias("b"),
        F.col("ta").alias("rta"), F.col("ya").alias("rya"))
    interior = (
        bk.where((F.col("b") > 0) & (F.col("b") < _LTTB_B - 1))
        .join(la, ["event_type", "b"], "inner")
        .join(ra, ["event_type", "b"], "inner")
        .withColumn(
            "area",
            F.abs(
                (F.col("lta") - F.col("rta"))
                * (F.col("y").cast("double") - F.col("rya"))
                - (F.col("t").cast("double") - F.col("rta"))
                * (F.col("lya") - F.col("rya"))
            ),
        )
    )
    w_mid = Window.partitionBy("event_type", "b").orderBy(
        F.col("area").desc(), F.col("event_id").desc())
    sel_mid = (
        interior.withColumn("rn", F.row_number().over(w_mid))
        .where(F.col("rn") == 1)
        .select("event_type", "b", "t", "y")
    )
    edge = bk.where((F.col("b") == 0) | (F.col("b") == _LTTB_B - 1))
    w_edge = Window.partitionBy("event_type", "b").orderBy(
        F.when(F.col("b") == 0, F.col("t")).otherwise(-F.col("t")),
        F.when(F.col("b") == 0, F.col("event_id")).otherwise(
            -F.col("event_id")),
    )
    sel_edge = (
        edge.withColumn("rn", F.row_number().over(w_edge))
        .where(F.col("rn") == 1)
        .select("event_type", "b", "t", "y")
    )
    return (
        sel_mid.unionByName(sel_edge)
        .select(
            "event_type",
            F.col("b").cast("long").alias("b"),
            F.col("t").cast("long").alias("sel_t"),
            F.col("y").cast("long").alias("sel_y"),
        )
        .orderBy("event_type", "b")
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: GROUP BY ... WITH TOTALS.  ClickHouse emits the
# totals as a separate block; the translation lands them in the same
# result set as a GROUPING SETS ((cols), ()) row with NULL keys — the
# values must match a DuckDB GROUPING SETS oracle exactly.
# ---------------------------------------------------------------------------

_CH_TOTALS = """
SELECT event_type,
       count() AS n,
       uniqExact(user_id) AS n_users,
       round(sumIf(value, value > 50), 2) AS big_sum_r
FROM events
PREWHERE value IS NOT NULL
GROUP BY event_type WITH TOTALS
ORDER BY event_type
"""


@query(
    "q_dialect_with_totals",
    oracle="""
WITH e AS (SELECT * FROM events WHERE value IS NOT NULL)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(SUM(CASE WHEN value > 50 THEN value END), 2) AS big_sum_r
FROM e
GROUP BY GROUPING SETS ((event_type), ())
ORDER BY event_type
""",
    description="ClickHouse `GROUP BY event_type WITH TOTALS` (plus "
    "PREWHERE and conditional aggregates) run verbatim through the "
    "dialect shim — dialect._rewrite_with_totals lowers it to "
    "GROUPING SETS ((cols), ()) so the totals row computes in the "
    "SAME single aggregation pass (no second scan); graded against a "
    "DuckDB GROUPING SETS oracle.",
)
def q_dialect_with_totals(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_TOTALS, sf_dir)
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("n_users").cast("long").alias("n_users"),
        "big_sum_r",
    )
