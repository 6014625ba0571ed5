"""Registry queries, round-12 batch — new operator surface.

Every query is checked bit-exact against its DuckDB oracle by
``tests/test_parity.py``; the strict-parity sweep covers sf0.1.

Round-12 themes (the wave is COMPLETE at 23 queries):

* **Dialect round-trips for the late round-10 additions** — the JSON
  extraction family over ``events.props``, ``formatDateTime``,
  ``extractAll``/``countMatches``, per-group paging (``LIMIT m, n
  BY``), the plain comma ``LIMIT m, n``, ``untuple``/tuple-IN, the
  run-path ``* REPLACE / * APPLY`` chain, ``transform()`` value
  mapping, positional ordinals, NULL/math scalars,
  ``arrayPartialSort``, and string/calendar shaping.
* **Corpus text analytics** — lexical density / stopword ratio,
  Heaps'-law vocabulary curve, unigram cross-entropy vs the corpus
  LM, vocabulary-overlap Jaccard, exact Pearson from power sums,
  fixed-width histograms, quantileExactLow/High.
* **Event-stream folds** — timed sequenceCount
  (restart-after-match), inter-event gap statistics, and a
  runningAccumulate analog over the daily frame.

Float determinism policy (same as the registry): exact integer /
decimal aggregates first, then ONE fixed IEEE expression per surfaced
double — the identical expression text on both engines — and
``round(x, 6)`` on surfaced statistics.  ln() appears only over
small positive INTEGERS (libm-safe cross-engine), pre-rounded to 9
digits before any decimal sum.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickbom_spark.queries import load, query


# ---------------------------------------------------------------------------
# Dialect round-trip: the JSON extraction family over events.props —
# the ClickHouse log-analytics idiom (typed extraction with type
# defaults on a miss, existence tests, monthly rollup via
# formatDateTime).  get_json_object on the Spark side, DuckDB's json
# extension as the independent oracle.
# ---------------------------------------------------------------------------

_CH_JSON = """
SELECT formatDateTime(ts, '%Y-%m') AS ym,
       countIf(JSONHas(props, 'k')) AS with_k,
       countIf(JSONExtractInt(props, 'k') >= 50) AS k_big,
       sum(JSONExtractInt(props, 'k')) AS k_sum,
       uniqExact(JSONExtractString(props, 'k')) AS k_distinct,
       count() AS n
FROM events GROUP BY ym ORDER BY ym
"""


@query(
    "q_dialect_json_props",
    oracle="""
SELECT strftime(ts, '%Y-%m') AS ym,
       count(*) FILTER (WHERE json_extract_string(props, '$.k')
                        IS NOT NULL) AS with_k,
       count(*) FILTER (WHERE coalesce(CAST(json_extract_string(
         props, '$.k') AS BIGINT), 0) >= 50) AS k_big,
       CAST(sum(coalesce(CAST(json_extract_string(props, '$.k')
                              AS BIGINT), 0)) AS BIGINT) AS k_sum,
       count(DISTINCT coalesce(json_extract_string(props, '$.k'), ''))
         AS k_distinct,
       count(*) AS n
FROM events GROUP BY strftime(ts, '%Y-%m') ORDER BY ym
""",
    description="ClickHouse JSON family run verbatim through the "
    "dialect shim over the events props column (JSONExtractInt/"
    "String with ClickHouse type defaults on a miss, JSONHas, "
    "formatDateTime month keys) — the log-analytics idiom a reference "
    "user brings first; all paths resolve to get_json_object at "
    "translate time, single scan, one hash aggregate.",
)
def q_dialect_json_props(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_JSON, sf_dir)
    return out.select(
        "ym",
        F.col("with_k").cast("long").alias("with_k"),
        F.col("k_big").cast("long").alias("k_big"),
        F.col("k_sum").cast("long").alias("k_sum"),
        F.col("k_distinct").cast("long").alias("k_distinct"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: extractAll / countMatches — regex extraction
# whose group index is decided from the literal pattern at translate
# time (capture group present → group 1).
# ---------------------------------------------------------------------------

_CH_EXTRACT = r"""
SELECT source,
       sum(countMatches(text, '\\bdata\\w*')) AS data_words,
       sum(length(extractAll(text, '(\\w+)ing\\b'))) AS ing_stems,
       count() AS docs
FROM documents WHERE text IS NOT NULL
GROUP BY source ORDER BY source
"""


@query(
    "q_dialect_extract_all",
    oracle=r"""
SELECT source,
       CAST(sum(len(regexp_extract_all(text, '\bdata\w*'))) AS BIGINT)
         AS data_words,
       CAST(sum(len(regexp_extract_all(text, '(\w+)ing\b', 1)))
            AS BIGINT) AS ing_stems,
       count(*) AS docs
FROM documents WHERE text IS NOT NULL
GROUP BY source ORDER BY source
""",
    description="ClickHouse extractAll / countMatches run verbatim "
    "through the dialect shim: countMatches counts non-overlapping "
    "whole matches, extractAll extracts capture group 1 when the "
    "literal pattern has one (decided at translate time by the shared "
    "group scanner — escapes, character classes, lookarounds and "
    "named groups handled); single scan, one aggregate.",
)
def q_dialect_extract_all(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_EXTRACT, sf_dir)
    return out.select(
        "source",
        F.col("data_words").cast("long").alias("data_words"),
        F.col("ing_stems").cast("long").alias("ing_stems"),
        F.col("docs").cast("long").alias("docs"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: per-group paging — LIMIT m, n BY (skip m, keep
# n within each group) plus the plain comma LIMIT for the final page.
# ---------------------------------------------------------------------------

_CH_PAGING = """
SELECT event_type, user_id, cents
FROM (
  SELECT event_type, user_id,
         sum(toInt64(round(value * 100))) AS cents
  FROM events GROUP BY event_type, user_id
)
ORDER BY cents DESC, user_id
LIMIT 2, 3 BY event_type
"""


@query(
    "q_dialect_limit_by_paging",
    oracle="""
WITH per_user AS (
  SELECT event_type, user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY event_type, user_id
), ranked AS (
  SELECT event_type, user_id, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents DESC, user_id) AS rn
  FROM per_user
)
SELECT event_type, user_id, cents
FROM ranked WHERE rn > 2 AND rn <= 5
ORDER BY cents DESC, user_id
""",
    description="ClickHouse per-group paging `LIMIT 2, 3 BY "
    "event_type` run verbatim through the dialect shim "
    "(dialect._rewrite_limit_by, comma form): skip the 2 highest-"
    "spending users per type, keep the next 3 — compiles to the "
    "row_number window filter 2 < rn <= 5 in the query's own "
    "(cents DESC, user_id) selection order.",
)
def q_dialect_limit_by_paging(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_PAGING, sf_dir)
    return out.select(
        "event_type",
        F.col("user_id").cast("long").alias("user_id"),
        F.col("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: the run-path star chain — EXCEPT + REPLACE +
# APPLY(max) in one statement, compiled over the resolved schema.
# ---------------------------------------------------------------------------

_CH_STAR = """
SELECT * EXCEPT (o_orderpriority)
       REPLACE (toInt64(round(o_totalprice * 100)) AS o_totalprice)
       APPLY (max)
FROM orders
"""


@query(
    "q_dialect_star_chain",
    oracle="""
SELECT max(o_orderkey) AS "max(o_orderkey)",
       max(o_custkey) AS "max(o_custkey)",
       max(o_orderstatus) AS "max(o_orderstatus)",
       max(CAST(round(o_totalprice * 100) AS BIGINT))
         AS "max(o_totalprice)",
       strftime(CAST(max(o_orderdate) AS DATE), '%Y-%m-%d')
         AS "max(o_orderdate)"
FROM orders
""",
    description="The run-path star chain compiled over the resolved "
    "schema (dialect._run_star_replace_apply): * EXCEPT (o_orderpriority) "
    "REPLACE (cents AS o_totalprice) APPLY (max) — ClickHouse's "
    "select-list sugar as post-projections, aggregate APPLY turning "
    "the expansion into one global aggregate with ClickHouse-style "
    "output names.",
)
def q_dialect_star_chain(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_STAR, sf_dir)
    # date columns surface as strings for cross-engine stability
    cols = []
    for c in out.columns:
        if c == "max(o_orderdate)":
            cols.append(F.date_format(F.col("`max(o_orderdate)`"),
                                      "yyyy-MM-dd").alias(c))
        else:
            cols.append(F.col(f"`{c}`"))
    return out.select(*cols)


# ---------------------------------------------------------------------------
# Lexical density / stopword ratio per source — the content-word
# share and function-word share of each source, standard
# corpus-quality signals (a fixed public stopword list; pure counting
# plus two fixed divisions).
# ---------------------------------------------------------------------------

_STOPWORDS = (
    "the", "a", "an", "and", "or", "but", "of", "to", "in", "on",
    "at", "by", "for", "with", "is", "are", "was", "were", "be",
    "been", "it", "its", "as", "that", "this", "these", "those",
    "from", "not", "no",
)


@query(
    "q_lexical_density",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL
), flags AS (
  SELECT source, w,
         CASE WHEN w IN ({", ".join(repr(w) for w in _STOPWORDS)})
              THEN 1 ELSE 0 END AS is_stop
  FROM tok WHERE w <> ''
)
SELECT source,
       CAST(count(*) AS BIGINT) AS tokens,
       CAST(sum(is_stop) AS BIGINT) AS stop_tokens,
       round(CAST(sum(is_stop) AS DOUBLE) / CAST(count(*) AS DOUBLE),
             6) AS stopword_ratio,
       round(CAST(count(*) - sum(is_stop) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS lexical_density
FROM flags GROUP BY source ORDER BY source
""",
    description="Lexical density and stopword ratio per source — the "
    "content-word share vs function-word share over a fixed public "
    "stopword list (the classic readability/quality pair a curation "
    "pipeline thresholds on): one explode, one hash aggregate, two "
    "fixed IEEE divisions rounded to 6.",
)
def q_lexical_density(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    tok = (
        docs.where(F.col("text").isNotNull())
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )
    is_stop = F.col("w").isin(*_STOPWORDS).cast("int")
    tokens = F.count(F.lit(1)).cast("long")
    stops = F.sum(is_stop).cast("long")
    return (
        tok.groupBy("source")
        .agg(
            tokens.alias("tokens"),
            stops.alias("stop_tokens"),
            F.round(
                stops.cast("double") / tokens.cast("double"), 6
            ).alias("stopword_ratio"),
            F.round(
                (tokens - stops).cast("double") / tokens.cast("double"),
                6,
            ).alias("lexical_density"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# quantileExactLow / quantileExactHigh — ClickHouse's non-interpolated
# exact quantile pair (lower / upper order statistic at the quantile
# boundary), via the engine's bucketed exact-rank machinery: the
# k-th order statistic is a conditional-min over exact prefix counts,
# never a global sort.  low picks element floor((n-1)p)+1, high picks
# floor(n·p)+1 (1-based), matching the public ClickHouse definitions.
# ---------------------------------------------------------------------------


@query(
    "q_quantile_exact_bounds",
    oracle="""
WITH v AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
  WHERE value IS NOT NULL
), agg AS (
  SELECT c, count(*) AS w FROM v GROUP BY c
), cum AS (
  SELECT c, SUM(w) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cw,
         (SELECT count(*) FROM v) AS n
  FROM agg
)
SELECT CAST(min(CASE WHEN cw >= floor((n - 1) * 0.25) + 1 THEN c END)
            AS BIGINT) AS q25_low,
       CAST(min(CASE WHEN cw >= floor(n * 0.25) + 1 THEN c END)
            AS BIGINT) AS q25_high,
       CAST(min(CASE WHEN cw >= floor((n - 1) * 0.9) + 1 THEN c END)
            AS BIGINT) AS q90_low,
       CAST(min(CASE WHEN cw >= least(floor(n * 0.9) + 1, n) THEN c END)
            AS BIGINT) AS q90_high,
       CAST(min(n) AS BIGINT) AS n
FROM cum
""",
    description="ClickHouse quantileExactLow / quantileExactHigh "
    "(non-interpolated order statistics: element floor((n-1)p)+1 vs "
    "floor(n·p)+1, 1-based) over integer cents — distinct-value "
    "counts, exact prefix sums, conditional-min selection; no global "
    "sort, no interpolation, bit-exact in any engine.",
)
def q_quantile_exact_bounds(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    v = events.where(F.col("value").isNotNull()).select(
        F.round(F.col("value") * 100).cast("long").alias("c")
    )
    agg = v.groupBy("c").agg(F.count(F.lit(1)).alias("w"))
    # distinct cents values are bounded (≤ 10k for 2-decimal values in
    # [0, 100]) — the running sum over the DISTINCT-value frame is a
    # sketch-sized window, not a data window.  N is an IN-PLAN
    # broadcast scalar (house rule: never a driver-side .count()).
    wspec = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = agg.agg(F.sum("w").cast("long").alias("n"))
    cum = agg.select(
        "c", F.sum("w").over(wspec).alias("cw")
    ).crossJoin(F.broadcast(tot))

    def pick(thresh):
        return F.min(F.when(F.col("cw") >= thresh, F.col("c")))

    nd = F.col("n")
    return cum.agg(
        pick(F.floor((nd - 1) * 0.25) + 1).cast("long").alias("q25_low"),
        pick(F.floor(nd * 0.25) + 1).cast("long").alias("q25_high"),
        pick(F.floor((nd - 1) * 0.9) + 1).cast("long").alias("q90_low"),
        pick(F.least(F.floor(nd * 0.9) + 1, nd))
        .cast("long").alias("q90_high"),
        F.min("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: untuple + tuple — ClickHouse's struct pack /
# select-list unpack pair, and tuple IN membership.
# ---------------------------------------------------------------------------

_CH_UNTUPLE = """
SELECT l_returnflag, untuple(s) FROM (
  SELECT l_returnflag,
         tuple(count(), sum(toInt64(l_quantity))) AS s
  FROM lineitem
  WHERE (l_returnflag, l_linestatus) IN (('A', 'F'), ('R', 'F'))
  GROUP BY l_returnflag
) ORDER BY l_returnflag
"""


@query(
    "q_dialect_untuple",
    oracle="""
SELECT l_returnflag,
       count(*) AS "col1",
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS "col2"
FROM lineitem
WHERE (l_returnflag, l_linestatus) IN (('A', 'F'), ('R', 'F'))
GROUP BY l_returnflag ORDER BY l_returnflag
""",
    description="ClickHouse tuple()/untuple() round-trip: tuple packs "
    "aggregate pairs into a struct (Spark named_struct via the "
    "struct() mapping), untuple expands it in the select list "
    "(Spark's s.*), and composite-tuple IN membership filters "
    "(returnflag, linestatus) pairs — all verbatim through the shim.",
)
def q_dialect_untuple(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_UNTUPLE, sf_dir)
    cols = out.columns  # struct fields surface as col1/col2
    return out.select(
        "l_returnflag",
        F.col(cols[1]).cast("long").alias("col1"),
        F.col(cols[2]).cast("long").alias("col2"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Dialect round-trip: plain comma LIMIT — ClickHouse's offset-first
# page spelling, compiled to LIMIT n OFFSET m.
# ---------------------------------------------------------------------------

_CH_COMMA_LIMIT = """
SELECT o_custkey, count() AS n
FROM orders GROUP BY o_custkey
ORDER BY n DESC, o_custkey
LIMIT 5, 10
"""


@query(
    "q_dialect_comma_limit",
    oracle="""
SELECT o_custkey, count(*) AS n
FROM orders GROUP BY o_custkey
ORDER BY n DESC, o_custkey
LIMIT 10 OFFSET 5
""",
    description="ClickHouse's offset-first page spelling `LIMIT 5, "
    "10` run verbatim through the dialect shim "
    "(dialect._rewrite_limit_comma): compiles to LIMIT 10 OFFSET 5 "
    "over a fully-deterministic (count DESC, key) order, so the page "
    "is the same row set in both engines.",
)
def q_dialect_comma_limit(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_COMMA_LIMIT, sf_dir)
    return out.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: arrayPartialSort — ClickHouse's k-smallest
# prefix (added to the shim alongside this query).
# ---------------------------------------------------------------------------

_CH_PARTIAL_SORT = """
SELECT l_returnflag,
       arraySlice(arrayPartialSort(3,
                  groupArray(toInt64(l_quantity))), 1, 3) AS small3,
       length(arrayPartialSort(3,
              groupArray(toInt64(l_quantity)))) AS full_len
FROM lineitem
WHERE l_orderkey <= 100
GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query(
    "q_dialect_array_partial_sort",
    oracle="""
SELECT l_returnflag,
       array_to_string(list_sort(list(CAST(l_quantity AS BIGINT)))[1:3],
                       ',') AS small3,
       CAST(count(*) AS BIGINT) AS full_len
FROM lineitem
WHERE l_orderkey <= 100
GROUP BY l_returnflag ORDER BY l_returnflag
""",
    description="ClickHouse arrayPartialSort(3, arr): SIZE-PRESERVING "
    "with the first 3 elements sorted (the shim emits a full sort, "
    "which satisfies both halves of that contract) — the sliced "
    "k-prefix and the full length are both pinned; the groupArray "
    "input is bounded by the orderkey filter.",
)
def q_dialect_array_partial_sort(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_PARTIAL_SORT, sf_dir)
    # arrays hash-compare awkwardly across pandas bridges: surface CSV
    return out.select(
        "l_returnflag",
        F.array_join(
            F.transform("small3", lambda x: x.cast("string")), ","
        ).alias("small3"),
        F.col("full_len").cast("long").alias("full_len"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Dialect round-trip: toDayOfWeek weekday profile — ClickHouse's
# ISO Monday=1 convention (the shim shifts Spark's Sunday=1 dayofweek).
# ---------------------------------------------------------------------------

_CH_WEEKDAY = """
SELECT toDayOfWeek(ts) AS dow, event_type,
       count() AS n,
       sum(toInt64(round(value * 100))) AS cents
FROM events GROUP BY dow, event_type ORDER BY dow, event_type
"""


@query(
    "q_dialect_weekday_profile",
    oracle="""
SELECT isodow(ts) AS dow, event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY isodow(ts), event_type ORDER BY dow, event_type
""",
    description="Weekday activity profile via toDayOfWeek (ISO "
    "Monday=1 — the shim shifts Spark's Sunday-first dayofweek to "
    "ClickHouse's convention, pinned against DuckDB's isodow): one "
    "scan, one hash aggregate per (weekday, type).",
)
def q_dialect_weekday_profile(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_WEEKDAY, sf_dir)
    return out.select(
        F.col("dow").cast("long").alias("dow"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# runningAccumulate analog — cumulative daily revenue per type over
# the calendar-bounded daily frame (the ordered window is ≤366 rows
# per type at ANY data scale).
# ---------------------------------------------------------------------------


@query(
    "q_running_accumulate",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS d, cents,
       CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY d
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS running_cents
FROM daily ORDER BY event_type, d
""",
    description="ClickHouse runningAccumulate(sumState(cents)) "
    "analog: cumulative daily revenue per event type — the running "
    "sum window rides the DAILY aggregate frame (calendar-bounded, "
    "<=366 rows per type at any scale), never raw events; integer "
    "cents keep the prefix exact.",
)
def q_running_accumulate(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long").alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        "cents",
        F.sum("cents").over(w).cast("long").alias("running_cents"),
    ).orderBy("event_type", "d")


# ---------------------------------------------------------------------------
# Exact Pearson correlation from integer power sums — corr() itself
# is an order-dependent float fold that can differ across engines in
# the last ulps; the power-sum form is bit-stable (one fixed IEEE
# expression over exact integers).
# ---------------------------------------------------------------------------


@query(
    "q_pearson_exact",
    oracle="""
WITH s AS (
  SELECT l_returnflag AS g,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
           AS sy,
         CAST(sum(CAST(l_quantity AS BIGINT)
                  * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
           AS sxy,
         CAST(sum(CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
         CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                  * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
           AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT g AS l_returnflag, n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS pearson_r
FROM s ORDER BY l_returnflag
""",
    description="Exact Pearson correlation of (quantity, "
    "discount-cents) per returnflag from integer power sums (n, Σx, "
    "Σy, Σxy, Σx², Σy²) — corr() itself is an order-dependent float "
    "fold that differs across engines in the last ulps; this form is "
    "one map-side-combined hash aggregate and one fixed IEEE "
    "expression rounded to 6, bit-stable anywhere.",
)
def q_pearson_exact(spark, sf_dir):
    (lineitem,) = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_discount") * 100).cast("long")
    s = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd, syyd = F.col("sxx").cast("double"), F.col("syy").cast("double")
    r = (nd * sxyd - sxd * syd) / (
        F.sqrt(nd * sxxd - sxd * sxd) * F.sqrt(nd * syyd - syd * syd)
    )
    return s.select(
        "l_returnflag", "n", F.round(r, 6).alias("pearson_r")
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Fixed-width histogram — exact integer bucketing of event cents
# (width 1000 = $10 buckets), the deterministic companion to the
# equi-height q_histogram_equi_height.
# ---------------------------------------------------------------------------


@query(
    "q_histogram_fixed_width",
    oracle="""
SELECT CAST(floor(CAST(round(value * 100) AS BIGINT) / 1000) AS BIGINT)
         AS bucket,
       count(*) AS n,
       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS lo_cents,
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS hi_cents
FROM events WHERE value IS NOT NULL
GROUP BY bucket ORDER BY bucket
""",
    description="Fixed-width histogram of event value cents ($10 "
    "buckets via exact integer floor division) with per-bucket "
    "min/max — the deterministic companion to the equi-height "
    "histogram; one scan, one hash aggregate, no windows.",
)
def q_histogram_fixed_width(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.where(F.col("value").isNotNull())
        .groupBy(F.floor(cents / 1000).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(cents).cast("long").alias("lo_cents"),
            F.max(cents).cast("long").alias("hi_cents"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: transform() value mapping + the -Distinct
# combinators in one statement.
# ---------------------------------------------------------------------------

_CH_TRANSFORM = """
SELECT transform(event_type,
                 ['view', 'click', 'purchase'],
                 ['browse', 'engage', 'convert'],
                 'other') AS stage,
       sumDistinct(toInt64(round(value * 100))) AS distinct_cents,
       uniqExact(user_id) AS users,
       count() AS n
FROM events GROUP BY stage ORDER BY stage
"""


@query(
    "q_dialect_transform_map",
    oracle="""
SELECT CASE event_type WHEN 'view' THEN 'browse'
                       WHEN 'click' THEN 'engage'
                       WHEN 'purchase' THEN 'convert'
                       ELSE 'other' END AS stage,
       CAST(sum(DISTINCT CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS distinct_cents,
       count(DISTINCT user_id) AS users,
       count(*) AS n
FROM events GROUP BY stage ORDER BY stage
""",
    description="ClickHouse transform(x, [from], [to], default) — the "
    "per-value substitution map, compiled to a CASE chain at "
    "translate time — composed with the -Distinct combinator "
    "(sumDistinct over integer cents stays exact) and uniqExact; one "
    "scan, one hash aggregate.",
)
def q_dialect_transform_map(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_TRANSFORM, sf_dir)
    return out.select(
        "stage",
        F.col("distinct_cents").cast("long").alias("distinct_cents"),
        F.col("users").cast("long").alias("users"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: positional ordinals — ClickHouse enables
# positional arguments by default since 22.3, and Spark's
# groupByOrdinal/orderByOrdinal are the same convention, so the text
# passes through with IDENTICAL semantics (pinned here end-to-end).
# ---------------------------------------------------------------------------

_CH_ORDINALS = """
SELECT event_type, toDate(ts) AS d, count() AS n
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@query(
    "q_dialect_ordinals",
    oracle="""
SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
       count(*) AS n
FROM events GROUP BY 1, CAST(ts AS DATE) ORDER BY 1, 2
""",
    description="Positional GROUP BY 1, 2 / ORDER BY 1, 2 — "
    "ClickHouse (enable_positional_arguments, default since 22.3) "
    "and Spark (groupByOrdinal/orderByOrdinal, default on) share the "
    "convention, so the text passes through with identical "
    "semantics; pinned by execution rather than assumed.",
)
def q_dialect_ordinals(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_ORDINALS, sf_dir)
    return out.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: NULL-handling scalars + exactly-rounded math.
# sqrt is correctly rounded per IEEE-754 (safe cross-engine on exact
# integer inputs, unlike exp/ln); intDiv/modulo/abs are integer-exact.
# ---------------------------------------------------------------------------

_CH_NULL_MATH = """
SELECT l_returnflag,
       sum(ifNull(nullIf(toInt64(l_quantity), 1), 0)) AS qty_no_ones,
       countIf(isNull(nullIf(l_linestatus, 'F'))) AS f_rows,
       sum(intDiv(toInt64(l_quantity), 7)) AS weeks,
       sum(modulo(toInt64(l_quantity), 7)) AS rem,
       sum(abs(toInt64(l_quantity) - 25)) AS dev,
       round(sqrt(toFloat64(count())), 6) AS sqrt_n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query(
    "q_dialect_null_math",
    oracle="""
SELECT l_returnflag,
       CAST(sum(coalesce(nullif(CAST(l_quantity AS BIGINT), 1), 0))
            AS BIGINT) AS qty_no_ones,
       count(*) FILTER (WHERE nullif(l_linestatus, 'F') IS NULL)
         AS f_rows,
       CAST(sum(CAST(l_quantity AS BIGINT) // 7) AS BIGINT) AS weeks,
       CAST(sum(CAST(l_quantity AS BIGINT) % 7) AS BIGINT) AS rem,
       CAST(sum(abs(CAST(l_quantity AS BIGINT) - 25)) AS BIGINT) AS dev,
       round(sqrt(CAST(count(*) AS DOUBLE)), 6) AS sqrt_n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    description="NULL-handling scalars (ifNull/nullIf/isNull through "
    "the -If combinator) and exact math (intDiv -> DIV, modulo, abs; "
    "sqrt is IEEE-754 correctly rounded, so it is the one libm call "
    "that is safe cross-engine on exact integer inputs) — one scan, "
    "one aggregate per returnflag.",
)
def q_dialect_null_math(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_NULL_MATH, sf_dir)
    return out.select(
        "l_returnflag",
        F.col("qty_no_ones").cast("long").alias("qty_no_ones"),
        F.col("f_rows").cast("long").alias("f_rows"),
        F.col("weeks").cast("long").alias("weeks"),
        F.col("rem").cast("long").alias("rem"),
        F.col("dev").cast("long").alias("dev"),
        "sqrt_n",
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary curve — distinct vocabulary measured at
# doc_id-prefix checkpoints (25/50/75/100% of the id range): how fast
# the corpus keeps yielding new types, the companion to Good–Turing
# for corpus-sizing decisions.  Conditional distinct counts over ONE
# term table — no per-checkpoint rescans.
# ---------------------------------------------------------------------------


@query(
    "q_heaps_vocab_curve",
    oracle="""
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
     tf AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w
    FROM documents WHERE text IS NOT NULL
  ) WHERE w <> ''
)
SELECT CAST(count(DISTINCT CASE WHEN doc_id * 4 <= (SELECT m FROM mx)
                                THEN w END) AS BIGINT) AS v25,
       CAST(count(DISTINCT CASE WHEN doc_id * 2 <= (SELECT m FROM mx)
                                THEN w END) AS BIGINT) AS v50,
       CAST(count(DISTINCT CASE WHEN doc_id * 4 <= 3 * (SELECT m FROM mx)
                                THEN w END) AS BIGINT) AS v75,
       CAST(count(DISTINCT w) AS BIGINT) AS v100,
       CAST(count(*) AS BIGINT) AS tokens
FROM tf
""",
    description="Heaps'-law vocabulary growth: distinct types "
    "observed within the first 25/50/75/100% of the doc_id range — "
    "how fast the corpus keeps yielding NEW vocabulary, the "
    "corpus-sizing companion to Good-Turing; four conditional "
    "distinct aggregates over one exploded term table (integer "
    "threshold arithmetic, no per-checkpoint rescans).",
)
def q_heaps_vocab_curve(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    m = docs.agg(F.max("doc_id").alias("m"))
    tf = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .crossJoin(F.broadcast(m))
    )
    d, mm = F.col("doc_id"), F.col("m")

    def vocab(cond):
        return F.countDistinct(F.when(cond, F.col("w"))).cast("long")

    return tf.agg(
        vocab(d * 4 <= mm).alias("v25"),
        vocab(d * 2 <= mm).alias("v50"),
        vocab(d * 4 <= 3 * mm).alias("v75"),
        F.countDistinct("w").cast("long").alias("v100"),
        F.count(F.lit(1)).cast("long").alias("tokens"),
    )


# ---------------------------------------------------------------------------
# Unigram cross-entropy of each source against the corpus LM — the
# domain-shift signal curation pipelines threshold on.  ln() only of
# exact positive integers (term counts and corpus totals):
# H(p_s, q_corpus) = ln(N_corpus) - (1/N_s) Σ_w c_sw · ln(c_w),
# every ln pre-rounded to 9 digits and decimal-summed.
# ---------------------------------------------------------------------------


@query(
    "q_cross_entropy_unigram",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL
), tf AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE w <> '' GROUP BY source, w
), corpus AS (
  SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM tf GROUP BY w
), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tf)
SELECT tf.source,
       CAST(sum(tf.c) AS BIGINT) AS n_source,
       round(round(ln(CAST((SELECT n FROM tot) AS DOUBLE)), 9)
             - CAST(sum(CAST(round(CAST(tf.c AS DOUBLE)
                 * round(ln(CAST(corpus.cw AS DOUBLE)), 9), 9)
                 AS DECIMAL(38, 9))) AS DOUBLE)
               / CAST(sum(tf.c) AS DOUBLE), 6) AS cross_entropy
FROM tf JOIN corpus ON corpus.w = tf.w
GROUP BY tf.source ORDER BY tf.source
""",
    description="Unigram cross-entropy of each source against the "
    "whole-corpus language model, H(p_s, q) = ln(N) - (1/N_s) "
    "Σ c_sw·ln(c_w) — the domain-shift signal for mixture decisions; "
    "ln() only ever sees exact positive integers (libm-safe), each "
    "term is rounded to 9 digits before the decimal sum, and the "
    "(source-term, corpus-term) join is an equi-join on the term "
    "table, never on raw tokens.",
)
def q_cross_entropy_unigram(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    tf = (
        docs.where(F.col("text").isNotNull())
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    corpus = tf.groupBy("w").agg(F.sum("c").cast("long").alias("cw"))
    tot = tf.agg(F.sum("c").cast("long").alias("n"))
    j = tf.join(corpus, "w").crossJoin(F.broadcast(tot))
    term = F.round(
        F.col("c").cast("double")
        * F.round(F.log(F.col("cw").cast("double")), 9),
        9,
    ).cast("decimal(38,9)")
    return (
        j.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_source"),
            F.round(
                F.round(F.log(F.max("n").cast("double")), 9)
                - F.sum(term).cast("double")
                / F.sum("c").cast("double"),
                6,
            ).alias("cross_entropy"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# sequenceCount with a per-step time limit — the timed counting
# automaton: non-overlapping view→click→purchase completions where
# each step follows the previous within 12h (restart-after-match,
# ClickHouse's counting semantics).  Pure integer fold over the
# per-user sorted stream; DuckDB list_reduce replays it verbatim
# (per-slot CASEs, static indices — the DuckDB-1.0-safe shape).
# ---------------------------------------------------------------------------

_SCT_LIMIT_US = 12 * 3600 * 1_000_000


@query(
    "q_sequence_count_timed",
    oracle=f"""
WITH lev AS (
  SELECT user_id, epoch_us(ts) AS t, event_id,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                         WHEN 'purchase' THEN 3 ELSE 0 END AS l
  FROM events
), folded AS (
  SELECT user_id,
         list_reduce(
           list_prepend([0::BIGINT, 0::BIGINT, 0::BIGINT],
             list([t, CAST(l AS BIGINT)] ORDER BY t, event_id)),
           (acc, x) -> [
             CASE WHEN x[2] = acc[1] + 1
                       AND (acc[1] = 0
                            OR x[1] - acc[2] <= {_SCT_LIMIT_US})
                  THEN CASE WHEN x[2] = 3 THEN 0 ELSE x[2] END
                  ELSE acc[1] END,
             CASE WHEN x[2] = acc[1] + 1
                       AND (acc[1] = 0
                            OR x[1] - acc[2] <= {_SCT_LIMIT_US})
                  THEN x[1] ELSE acc[2] END,
             CASE WHEN x[2] = 3 AND acc[1] = 2
                       AND x[1] - acc[2] <= {_SCT_LIMIT_US}
                  THEN acc[3] + 1 ELSE acc[3] END
           ]) AS acc
  FROM lev WHERE l > 0 GROUP BY user_id
)
SELECT user_id, CAST(acc[3] AS BIGINT) AS n_funnels
FROM folded ORDER BY user_id
""",
    description="Timed sequenceCount: non-overlapping "
    "view→click→purchase completions per user where each step follows "
    "the previous within 12h (restart-after-match counting, the "
    "ClickHouse sequenceCount discipline, plus the (?t<=12h) "
    "constraint) — a 3-slot integer fold [stage, last_step_t, count] "
    "over the per-user (ts, event_id)-sorted stream, replayed "
    "verbatim by the DuckDB list_reduce oracle.",
)
def q_sequence_count_timed(spark, sf_dir):
    from clickbom_spark.queries import epoch_us

    (events,) = load(spark, sf_dir, "events")
    lev = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(0)
    )
    src = events.select(
        "user_id", epoch_us("ts").alias("t"),
        F.col("event_id").alias("tb"), lev.cast("int").alias("l"),
    ).where(F.col("l") > 0)
    packed = F.array_sort(
        F.collect_list(F.struct(F.col("t"), F.col("tb"), F.col("l")))
    )
    seed = F.array(
        F.lit(0).cast("long"), F.lit(0).cast("long"),
        F.lit(0).cast("long"),
    )
    lim = F.lit(_SCT_LIMIT_US)

    def step(acc, x):
        stage, last_t, cnt = (
            F.element_at(acc, 1), F.element_at(acc, 2),
            F.element_at(acc, 3),
        )
        advance = (x["l"] == stage + 1) & (
            (stage == 0) | (x["t"] - last_t <= lim)
        )
        done = advance & (x["l"] == 3)
        return F.array(
            F.when(advance, F.when(done, F.lit(0).cast("long"))
                   .otherwise(x["l"].cast("long"))).otherwise(stage),
            F.when(advance, x["t"]).otherwise(last_t),
            F.when(done, cnt + 1).otherwise(cnt),
        )

    state = F.aggregate(packed, seed, step)
    return (
        src.groupBy("user_id")
        .agg(F.element_at(state, 3).cast("long").alias("n_funnels"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Inter-event gap statistics — the per-user burstiness signal.  Mean
# gap is closed-form ((max-min)/(n-1)); MAX gap needs the fold over
# the sorted stream (2-slot state [prev_t, max_gap]).
# ---------------------------------------------------------------------------


@query(
    "q_interevent_gaps",
    oracle="""
WITH u AS (
  SELECT user_id, epoch_us(ts) AS t, event_id FROM events
), folded AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(max(t) - min(t) AS BIGINT) AS span_us,
         list_reduce(
           list_prepend([(-1)::BIGINT, 0::BIGINT],
             list([t] ORDER BY t, event_id)),
           (acc, x) -> [
             x[1],
             CASE WHEN acc[1] >= 0 AND x[1] - acc[1] > acc[2]
                  THEN x[1] - acc[1] ELSE acc[2] END
           ]) AS st
  FROM u GROUP BY user_id
)
SELECT user_id, n,
       CAST(span_us // (n - 1) AS BIGINT) AS mean_gap_us,
       CAST(st[2] AS BIGINT) AS max_gap_us
FROM folded WHERE n >= 2 ORDER BY user_id
""",
    description="Inter-event gap statistics per user (the burstiness "
    "signal): mean gap is the closed form span DIV (n-1); the MAX gap is "
    "a 2-slot integer fold [prev_t, max_gap] over the per-user sorted "
    "stream — one hash aggregate, and the surfaced gaps stay in exact "
    "integer microseconds (floored mean) — no float anywhere.",
)
def q_interevent_gaps(spark, sf_dir):
    from clickbom_spark.queries import epoch_us

    (events,) = load(spark, sf_dir, "events")
    u = events.select(
        "user_id", epoch_us("ts").alias("t"),
        F.col("event_id").alias("tb"),
    )
    packed = F.array_sort(
        F.collect_list(F.struct(F.col("t"), F.col("tb")))
    )
    seed = F.array(F.lit(-1).cast("long"), F.lit(0).cast("long"))

    def step(acc, x):
        prev, mg = F.element_at(acc, 1), F.element_at(acc, 2)
        gap = x["t"] - prev
        return F.array(
            x["t"],
            F.when((prev >= 0) & (gap > mg), gap).otherwise(mg),
        )

    st = F.aggregate(packed, seed, step)
    agg = u.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.max("t") - F.min("t")).cast("long").alias("span_us"),
        F.element_at(st, 2).cast("long").alias("max_gap_us"),
    )
    return (
        agg.where(F.col("n") >= 2)
        .select(
            "user_id", "n",
            F.expr("span_us DIV (n - 1)").cast("long")
            .alias("mean_gap_us"),
            F.col("max_gap_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: string shaping — pads, case, repeat, substring,
# trim variants in one statement.
# ---------------------------------------------------------------------------

_CH_STRINGS = """
SELECT doc_id,
       leftPad(upperUTF8(lang), 5, '.') AS lp,
       rightPad(source, 8, '-') AS rp,
       repeat(lang, 2) AS rep,
       substringUTF8(trimLeft(concatWithSeparator('  ', '', text)),
                     1, 12) AS head
FROM documents WHERE text IS NOT NULL
ORDER BY doc_id LIMIT 40
"""


@query(
    "q_dialect_string_shape",
    oracle="""
SELECT doc_id,
       lpad(upper(lang), 5, '.') AS lp,
       rpad(source, 8, '-') AS rp,
       repeat(lang, 2) AS rep,
       substring(ltrim('' || '  ' || text), 1, 12) AS head
FROM documents WHERE text IS NOT NULL
ORDER BY doc_id LIMIT 40
""",
    description="String shaping through the shim: leftPad/rightPad → "
    "lpad/rpad, upperUTF8, repeat (shared spelling), trimLeft → "
    "ltrim, substringUTF8 → substring, concatWithSeparator → "
    "concat_ws — the text-normalization combinators of an ETL "
    "select list, row-parallel, no aggregates.",
)
def q_dialect_string_shape(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    return run_clickhouse_sql(spark, _CH_STRINGS, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lp", "rp", "rep", "head",
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: calendar shaping — quarter truncation and
# month/quarter arithmetic in one statement.
# ---------------------------------------------------------------------------

_CH_CAL = """
SELECT toQuarter(ts) AS q,
       formatDateTime(toStartOfQuarter(ts), '%F') AS q0,
       formatDateTime(addMonths(toStartOfMonth(ts), 2), '%F') AS m_plus2,
       dateDiff('month', toDate('2023-11-15'), toDate(ts)) AS months_in,
       count() AS n
FROM events GROUP BY q, q0, m_plus2, months_in
ORDER BY q, q0, m_plus2, months_in
"""


@query(
    "q_dialect_calendar_shape",
    oracle="""
SELECT quarter(ts) AS q,
       strftime(CAST(date_trunc('quarter', ts) AS DATE), '%Y-%m-%d')
         AS q0,
       strftime(CAST(date_trunc('month', ts) + INTERVAL 2 MONTH
                     AS DATE), '%Y-%m-%d') AS m_plus2,
       date_diff('month', DATE '2023-11-15', CAST(ts AS DATE))
         AS months_in,
       count(*) AS n
FROM events GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4
""",
    description="Calendar shaping through the shim: toQuarter, "
    "toStartOfQuarter (session-tz local-midnight truncation), "
    "addMonths over month starts, and boundary-crossing "
    "dateDiff('month', ...) — the fiscal-rollup building blocks, "
    "formatted to strings for cross-engine date stability.",
)
def q_dialect_calendar_shape(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_CAL, sf_dir)
    return out.select(
        F.col("q").cast("long").alias("q"),
        "q0", "m_plus2",
        F.col("months_in").cast("long").alias("months_in"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# Vocabulary overlap between sources — exact Jaccard of the type sets
# of the lexicographically first and last sources (corpus-diversity
# check: near-1 overlap means redundant sources).
# ---------------------------------------------------------------------------


@query(
    "q_vocab_overlap",
    oracle="""
WITH b AS (SELECT min(source) AS lo, max(source) AS hi FROM documents),
     tf AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL
), v AS (
  SELECT w,
         max(CASE WHEN source = (SELECT lo FROM b) THEN 1 ELSE 0 END)
           AS in_lo,
         max(CASE WHEN source = (SELECT hi FROM b) THEN 1 ELSE 0 END)
           AS in_hi
  FROM tf WHERE w <> '' GROUP BY w
)
SELECT CAST(sum(CASE WHEN in_lo = 1 AND in_hi = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS both_v,
       CAST(sum(in_lo) AS BIGINT) AS v_lo,
       CAST(sum(in_hi) AS BIGINT) AS v_hi,
       round(CAST(sum(CASE WHEN in_lo = 1 AND in_hi = 1
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(sum(CASE WHEN in_lo = 1 OR in_hi = 1
                             THEN 1 ELSE 0 END) AS DOUBLE), 6)
         AS jaccard
FROM v
""",
    description="Exact vocabulary Jaccard between the first and last "
    "sources (corpus-diversity audit: near-1 overlap flags redundant "
    "sources): per-term membership flags from one hash aggregate over "
    "the term table, then one counting pass — set similarity without "
    "materializing either set.",
)
def q_vocab_overlap(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    b = docs.agg(F.min("source").alias("lo"), F.max("source").alias("hi"))
    tf = (
        docs.where(F.col("text").isNotNull())
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .crossJoin(F.broadcast(b))
    )
    v = tf.groupBy("w").agg(
        F.max((F.col("source") == F.col("lo")).cast("int")).alias("in_lo"),
        F.max((F.col("source") == F.col("hi")).cast("int")).alias("in_hi"),
    )
    both = F.sum(
        ((F.col("in_lo") == 1) & (F.col("in_hi") == 1)).cast("int")
    )
    either = F.sum(
        ((F.col("in_lo") == 1) | (F.col("in_hi") == 1)).cast("int")
    )
    return v.agg(
        both.cast("long").alias("both_v"),
        F.sum("in_lo").cast("long").alias("v_lo"),
        F.sum("in_hi").cast("long").alias("v_hi"),
        F.round(
            both.cast("double") / either.cast("double"), 6
        ).alias("jaccard"),
    )
