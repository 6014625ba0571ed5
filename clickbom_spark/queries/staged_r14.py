"""Registry queries, round-14 batch — new operator surface.

Every query is checked bit-exact against its DuckDB oracle by
``tests/test_parity.py``; the strict-parity sweep covers sf0.1.

Round-14 themes:

* **Dialect / lake round-trips** — ``dictIsIn`` used as a WHERE
  filter (hierarchical subtree selection), a two-column
  ``INTERPOLATE`` whose FROM bound precedes the first real row
  (default-before-carry path), a ``-SimpleState`` materialized-view
  round-trip, and a versioned-lake time-travel diff.
* **Corpus text ops** — keyword burst detection, template prefix
  clusters, exact-duplicate cluster sizes, top bigrams per source, and a character-class profile computed by
  length-difference counting (no regexp_count engine quirks).
* **Event analytics** — user lifecycle stages, weekly type-share
  drift, weekday×hour heatmap, Benford first-digit audit,
  inter-arrival coefficient of variation, reorder intervals.
* **Relational / embeddings** — ABC revenue classification via
  distinct-value prefix sums, an integer-exact log2 price histogram
  (binary-string length, no libm), brand revenue entropy (ln of
  integers only), monthly returns impact, nation median order value,
  per-label centroid shift and per-dimension variance top-k over
  integer-quantized embeddings.
* **Round-13 additions** (VERDICT r12 #8b/#8c) — oracle round-trips
  for the r13 approximate-spelling compiles: ``quantileGK`` in its
  exact regime (accuracy beyond the group cardinality) vs
  ``quantile_disc``, the Twitter-epoch snowflake-ID bit arithmetic,
  and negative-length ``left``/``right`` + ``stringCompare``; plus
  the reference's ALTER-migration path (``q_ddl_alter_migration``).

Float determinism policy (same as the registry): exact integer /
decimal aggregates first, then ONE fixed IEEE expression per surfaced
double — identical text on both engines — and ``round(x, 6)`` on
surfaced statistics.  ln() appears only over exact positive integers.
float32 embedding elements are CAST to double BEFORE any arithmetic
(engines promote float lambdas differently — round-11 lesson), and
quantization uses floor(), never round() (half-tie direction
differs).
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from clickbom_spark.queries import load, query
from clickbom_spark.session import local_frame


_CENTS = "toInt64(round(value * 100))"
_CENTS_DUCK = "CAST(round(value * 100) AS BIGINT)"


# ---------------------------------------------------------------------------
# Dialect round-trip: dictIsIn as a WHERE filter.  The hierarchical
# membership test compiles to array_contains over the broadcast
# chain lookup, so the subtree filter is a broadcast semi-filter on
# the fact scan — the idiomatic "WHERE region IN subtree" query a
# ClickHouse user writes against a geo dictionary.
# ---------------------------------------------------------------------------

_CH_HIER_WHERE = """
SELECT toInt64(s_nationkey) AS nk,
       count() AS n,
       sum(toInt64(round(s_acctbal * 100))) AS cents
FROM supplier
WHERE dictIsIn('r14_geo', toInt64(s_nationkey + 100), toInt64(2))
GROUP BY nk ORDER BY nk
"""


def _register_r14_geo():
    from clickbom_spark.dialect import register_dictionary

    register_dictionary(
        "r14_geo",
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
    "q_dialect_hier_where",
    oracle="""
SELECT CAST(s_nationkey AS BIGINT) AS nk,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM supplier
WHERE EXISTS (SELECT 1 FROM nation
              WHERE n_nationkey = s_nationkey
                AND n_regionkey + 1 = 2)
GROUP BY nk ORDER BY nk
""",
    description="ClickHouse `WHERE dictIsIn(...)` run verbatim "
    "through the dialect shim: the hierarchical membership test "
    "(is this supplier's nation inside region 2's subtree?) "
    "compiles to array_contains over the broadcast ancestor-chain "
    "lookup, filtering the fact scan without any recursive join — "
    "the subtree-filter idiom of geo/org dictionaries.  The oracle "
    "replays the depth-2 hierarchy as a plain EXISTS.",
)
def q_dialect_hier_where(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    _register_r14_geo()
    out = run_clickhouse_sql(spark, _CH_HIER_WHERE, sf_dir)
    return out.select(
        F.col("nk").cast("long").alias("nk"),
        F.col("n").cast("long").alias("n"),
        F.col("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: two-column INTERPOLATE with a FROM bound
# BEFORE the first real row.  Grid points below the first real day
# have no previous value to carry, so the carried columns fall back
# to their type defaults there — the default-before-carry edge of
# the round-11 compilation, exercised explicitly.
# ---------------------------------------------------------------------------

_CH_INTERP_MULTI = f"""
SELECT d, n, cents, hi FROM (
  SELECT toInt64(toDayOfMonth(ts)) AS d, count() AS n,
         sum({_CENTS}) AS cents, max({_CENTS}) AS hi
  FROM events WHERE event_type = 'signup' AND value > 80
  GROUP BY d)
ORDER BY d WITH FILL FROM 0 TO 33 STEP 3 INTERPOLATE (cents, hi)
"""


@query(
    "q_dialect_interpolate_multi",
    oracle=f"""
WITH base AS (
  SELECT CAST(day(ts) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_CENTS_DUCK}) AS BIGINT) AS cents,
         max({_CENTS_DUCK}) AS hi
  FROM events WHERE event_type = 'signup' AND value > 80
  GROUP BY 1),
     spine AS (SELECT CAST(x AS BIGINT) AS d FROM range(0, 33, 3) t(x)),
     fills AS (
  SELECT s.d, CAST(0 AS BIGINT) AS n,
         CAST(coalesce((SELECT b.cents FROM base b WHERE b.d <= s.d
                        ORDER BY b.d DESC LIMIT 1), 0) AS BIGINT)
           AS cents,
         CAST(coalesce((SELECT b.hi FROM base b WHERE b.d <= s.d
                        ORDER BY b.d DESC LIMIT 1), 0) AS BIGINT)
           AS hi
  FROM spine s WHERE s.d NOT IN (SELECT d FROM base))
SELECT d, n, cents, hi FROM base
UNION ALL
SELECT d, n, cents, hi FROM fills
ORDER BY d
""",
    description="Two-column `INTERPOLATE (cents, hi)` on a STEP-3 "
    "spine whose FROM 0 bound precedes every real day: day 0 (and "
    "any grid point before the first sparse match) takes the TYPE "
    "DEFAULT for the carried columns — there is no previous real "
    "row — while later gaps carry the last real values, two "
    "independent marker-gated last_value windows over one spine "
    "join.  Exercises the default-before-carry edge of the "
    "round-11 WITH FILL compilation explicitly.",
)
def q_dialect_interpolate_multi(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_INTERP_MULTI, sf_dir)
    return out.select(
        F.col("d").cast("long").alias("d"),
        F.col("n").cast("long").alias("n"),
        F.col("cents").cast("long").alias("cents"),
        F.col("hi").cast("long").alias("hi"),
    )


# ---------------------------------------------------------------------------
# Dialect round-trip: -SimpleState as a materialized view.
# SimpleAggregateFunction stores the UNWRAPPED value, so the MV
# stores per-day partial sums/maxes and the read side re-applies the
# plain aggregate — ClickHouse's lighter-weight MV pattern for
# functions whose states are their own values.
# ---------------------------------------------------------------------------

_CH_SIMPLE_STATE = f"""
SELECT event_type,
       sum(sv) AS cents,
       max(mv) AS hi,
       min(lv) AS lo
FROM (
  SELECT event_type, toInt64(toDayOfMonth(ts)) AS d,
         sumSimpleState({_CENTS}) AS sv,
         maxSimpleState({_CENTS}) AS mv,
         minSimpleState({_CENTS}) AS lv
  FROM events GROUP BY event_type, d
) GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_dialect_state_simple_rt",
    oracle=f"""
SELECT event_type,
       CAST(sum({_CENTS_DUCK}) AS BIGINT) AS cents,
       max({_CENTS_DUCK}) AS hi,
       min({_CENTS_DUCK}) AS lo
FROM events GROUP BY event_type ORDER BY event_type
""",
    description="ClickHouse -SimpleState combinators (round-11 "
    "compilation) as the lightweight MV pattern: "
    "SimpleAggregateFunction stores the unwrapped partial value, so "
    "per-(type, day) sumSimpleState/maxSimpleState/minSimpleState "
    "partials re-aggregate with the PLAIN functions on read and "
    "must equal the direct rescan — no struct states, the algebra "
    "sum/max/min are their own merge.",
)
def q_dialect_state_simple_rt(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_SIMPLE_STATE, sf_dir)
    return out.select(
        "event_type",
        F.col("cents").cast("long").alias("cents"),
        F.col("hi").cast("long").alias("hi"),
        F.col("lo").cast("long").alias("lo"),
    )


# ---------------------------------------------------------------------------
# Versioned-lake time travel: write days < 16 as v1, upsert the rest
# as v2, then diff the two versions per event type — the
# "what changed since the last snapshot" audit a lakehouse user runs
# after every refresh, answered from manifest metadata + two
# version-pinned reads, no external state.
# ---------------------------------------------------------------------------


@query(
    "q_lake_time_travel_diff",
    oracle=f"""
WITH v1 AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_CENTS_DUCK}) AS BIGINT) AS cents
  FROM events WHERE day(ts) < 16 GROUP BY event_type),
     v2 AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum({_CENTS_DUCK}) AS BIGINT) AS cents
  FROM events GROUP BY event_type)
SELECT v2.event_type AS event_type,
       v1.n AS n_v1, v2.n AS n_v2,
       CAST(v2.n - v1.n AS BIGINT) AS added_rows,
       CAST(v2.cents - v1.cents AS BIGINT) AS added_cents
FROM v2 JOIN v1 USING (event_type)
ORDER BY event_type
""",
    description="Versioned-lake time travel (ext/manifest.py "
    "VersionedLake): snapshot v1 holds the first half of the month, "
    "an upsert produces v2 with the rest; the query reads BOTH "
    "pinned versions and reports per-type row/revenue deltas — the "
    "post-refresh change audit.  Version reads are manifest-pruned "
    "file lists (metadata-only version resolution), so the diff "
    "costs two bounded scans, not a log replay.",
)
def q_lake_time_travel_diff(spark, sf_dir):
    import uuid as _uuid

    from clickbom_spark.ext.manifest import VersionedLake
    from clickbom_spark.queries import scratch_path

    (events,) = load(spark, sf_dir, "events")
    base = events.select(
        "event_id", "event_type",
        F.dayofmonth("ts").cast("long").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    tag = _uuid.uuid4().hex[:8]
    path = scratch_path(f"tt_diff_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    try:
        lake = VersionedLake.create(
            spark, path, base.where(F.col("d") < 16), n_files=2
        )
        lake.upsert(base.where(F.col("d") >= 16), ["event_id"])
        v1 = (
            lake.read(version=0)  # create commits land as v0
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_v1"),
                F.sum("cents").cast("long").alias("c_v1"),
            )
        )
        v2 = (
            lake.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_v2"),
                F.sum("cents").cast("long").alias("c_v2"),
            )
        )
        out = (
            v2.join(v1, "event_type")
            .select(
                "event_type", "n_v1", "n_v2",
                (F.col("n_v2") - F.col("n_v1")).cast("long")
                .alias("added_rows"),
                (F.col("c_v2") - F.col("c_v1")).cast("long")
                .alias("added_cents"),
            )
            .orderBy("event_type")
        )
        # materialize before the temp lake is cleaned up
        rows = out.collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_frame(
        spark, rows,
        "event_type string, n_v1 bigint, n_v2 bigint, "
        "added_rows bigint, added_cents bigint",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Corpus text operators.  All counts are exact integers off one
# tokenization; rankings carry total deterministic tie-breaks.
# ---------------------------------------------------------------------------


@query(
    "q_keyword_burst",
    oracle="""
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL),
     tot AS (SELECT CAST(count(*) AS BIGINT) AS N FROM w),
     per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS Ns FROM w GROUP BY 1),
     wf AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM w
            GROUP BY 1),
     ws AS (SELECT source, w, CAST(count(*) AS BIGINT) AS n_ws
            FROM w GROUP BY 1, 2)
SELECT ws.source AS source, ws.w AS word, n_ws, n_w,
       round(CAST(n_ws * N AS DOUBLE) / (n_w * Ns), 6) AS lift
FROM ws JOIN wf USING (w) JOIN per_src USING (source), tot
WHERE n_ws >= 3 AND 4 * n_ws * N > 5 * n_w * Ns
ORDER BY n_ws DESC, source, word LIMIT 20
""",
    description="Keyword burst detection across sources: a word "
    "bursts in a source when its in-source rate exceeds 1.25x its "
    "corpus rate — the gate 4*n_ws*N > 5*n_w*Ns is PURE integer "
    "arithmetic (no float threshold), the surfaced lift is one "
    "division over exact integer products, round(6).  Token "
    "postings feed three hash aggregates and equi-joins back; "
    "top-20 with a total (count, source, word) tie-break.",
)
def q_keyword_burst(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    w = docs.where(F.col("text").isNotNull()).select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    tot = w.agg(F.count(F.lit(1)).cast("long").alias("N"))
    per_src = w.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("Ns")
    )
    wf = w.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n_w"))
    ws = w.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n_ws")
    )
    return (
        ws.join(wf, "w")
        .join(per_src, "source")
        .crossJoin(F.broadcast(tot))
        .where(
            (F.col("n_ws") >= 3)
            & (
                4 * F.col("n_ws") * F.col("N")
                > 5 * F.col("n_w") * F.col("Ns")
            )
        )
        .select(
            "source", F.col("w").alias("word"), "n_ws", "n_w",
            F.round(
                (F.col("n_ws") * F.col("N")).cast("double")
                / (F.col("n_w") * F.col("Ns")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_ws").desc(), "source", "word")
        .limit(20)
    )


@query(
    "q_template_clusters",
    oracle="""
WITH pre AS (
  SELECT doc_id, source,
         md5(array_to_string(string_split(text, ' ')[1:5], ' '))
           AS prefix_h
  FROM documents WHERE text IS NOT NULL),
     cl AS (
  SELECT prefix_h, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(min(doc_id) AS BIGINT) AS first_doc
  FROM pre GROUP BY prefix_h)
SELECT prefix_h, n_docs, n_sources, first_doc
FROM cl WHERE n_docs >= 2
ORDER BY n_docs DESC, prefix_h LIMIT 20
""",
    description="Template detection by shared 5-token prefix: "
    "boilerplate families (scraped headers, form letters) group on "
    "the md5 of their opening tokens — one hash aggregate over a "
    "map-side digest, no pairwise comparison.  Clusters of >= 2 "
    "docs surface with size, source spread, and first-seen doc id; "
    "md5 is identical across engines so the digest IS the oracle "
    "join key.",
)
def q_template_clusters(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    pre = docs.where(F.col("text").isNotNull()).select(
        "doc_id", "source",
        F.md5(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5))
        ).alias("prefix_h"),
    )
    return (
        pre.groupBy("prefix_h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "prefix_h")
        .limit(20)
    )


@query(
    "q_dup_cluster_sizes",
    oracle="""
WITH cl AS (
  SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS sz
  FROM documents WHERE text IS NOT NULL GROUP BY 1)
SELECT sz AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs
FROM cl GROUP BY sz ORDER BY sz
""",
    description="Exact-duplicate cluster-size histogram: group by "
    "the text md5 (the same digest the exact-dedup operator keys "
    "on), then histogram the cluster sizes — the shape dedup "
    "reports lead with (how much of the corpus is singleton vs "
    "heavy duplicates).  Two hash aggregates, all integers.",
)
def q_dup_cluster_sizes(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    cl = (
        docs.where(F.col("text").isNotNull())
        .groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    return (
        cl.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@query(
    "q_top_bigrams",
    oracle="""
WITH bg AS (
  SELECT source,
         unnest([l[i] || ' ' || l[i+1] for i in range(1, len(l))])
           AS g
  FROM (SELECT source, string_split(text, ' ') AS l
        FROM documents WHERE text IS NOT NULL)),
     counts AS (
  SELECT source, g, CAST(count(*) AS BIGINT) AS n
  FROM bg GROUP BY 1, 2),
     ranked AS (
  SELECT source, g, n,
         row_number() OVER (PARTITION BY source
                            ORDER BY n DESC, g) AS rk
  FROM counts)
SELECT source, g AS bigram, n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3 ORDER BY source, rk
""",
    description="Top-3 bigrams per source: one bigram generator, a "
    "(source, bigram) hash aggregate, and a row_number window "
    "PARTITIONED by source with a (count DESC, bigram) total "
    "order — per-group top-k, no global ranking.  The dominant "
    "collocations expose source-level boilerplate the template "
    "detector's fixed prefix misses.",
)
def q_top_bigrams(spark, sf_dir):
    from pyspark.sql import Window

    (docs,) = load(spark, sf_dir, "documents")
    bg = (
        docs.where(F.col("text").isNotNull())
        .select("source", F.split("text", " ").alias("l"))
        .select(
            "source",
            F.explode(
                F.when(
                    F.size("l") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("l") - 1),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at("l", i),
                            F.element_at("l", i + 1),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("g"),
        )
    )
    counts = bg.groupBy("source", "g").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), "g")
    return (
        counts.select(
            "source", F.col("g").alias("bigram"), "n",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= 3)
        .orderBy("source", "rk")
    )


@query(
    "q_charclass_profile",
    oracle="""
SELECT source,
       CAST(sum(len(text)) AS BIGINT) AS chars,
       CAST(sum(len(text) -
            len(regexp_replace(text, '[0-9]', '', 'g'))) AS BIGINT)
         AS digits,
       CAST(sum(len(text) -
            len(regexp_replace(text, '[A-Z]', '', 'g'))) AS BIGINT)
         AS uppers,
       round(CAST(sum(len(text) -
             len(regexp_replace(text, '[0-9]', '', 'g'))) AS DOUBLE)
             / sum(len(text)), 6) AS digit_ratio
FROM documents WHERE text IS NOT NULL
GROUP BY source ORDER BY source
""",
    description="Character-class profile per source (digit and "
    "uppercase densities): counts come from LENGTH DIFFERENCES "
    "after class-stripping regexp_replace — the one regex "
    "operation with identical cross-engine semantics (DuckDB needs "
    "the explicit 'g' flag; Spark is global by default) — so the "
    "profile is exact integers plus one division round(6).  High "
    "digit density flags tables/logs, high uppercase flags "
    "shouting/boilerplate in quality triage.",
)
def q_charclass_profile(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    digits = F.length("text") - F.length(
        F.regexp_replace("text", "[0-9]", "")
    )
    uppers = F.length("text") - F.length(
        F.regexp_replace("text", "[A-Z]", "")
    )
    return (
        docs.where(F.col("text").isNotNull())
        .groupBy("source")
        .agg(
            F.sum(F.length("text")).cast("long").alias("chars"),
            F.sum(digits).cast("long").alias("digits"),
            F.sum(uppers).cast("long").alias("uppers"),
            F.round(
                F.sum(digits).cast("double") / F.sum(F.length("text")),
                6,
            ).alias("digit_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Event analytics.  Calendar-derived keys are integers; every window
# is partitioned by the entity (user/customer); scalar totals are
# 1-row broadcasts.
# ---------------------------------------------------------------------------


@query(
    "q_user_lifecycle",
    oracle="""
WITH u AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
         CAST(count(DISTINCT day(ts)) AS BIGINT) AS active_days
  FROM events GROUP BY user_id),
     staged AS (
  SELECT CASE WHEN n_ev = 1 THEN '1_one_shot'
              WHEN n_ev < 10 THEN '2_light'
              WHEN n_ev < 50 THEN '3_active'
              ELSE '4_power' END AS stage,
         n_ev, active_days
  FROM u)
SELECT stage, CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n_ev) AS BIGINT) AS n_events,
       round(CAST(sum(n_ev) AS DOUBLE) / count(*), 6) AS avg_events,
       round(CAST(sum(active_days) AS DOUBLE) / count(*), 6)
         AS avg_active_days
FROM staged GROUP BY stage ORDER BY stage
""",
    description="User lifecycle segmentation: per-user activity "
    "profile (event count, distinct active days) classified into one_shot / light / active / power bands "
    "with PURE integer event-count thresholds (1 / <10 / <50 / "
    "50+), then per-stage counts "
    "and exact-division averages round(6).  The lifecycle mix is "
    "the top-of-dashboard engagement readout.",
)
def q_user_lifecycle(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        F.countDistinct(F.dayofmonth("ts")).cast("long")
        .alias("active_days"),
    )
    stage = (
        F.when(F.col("n_ev") == 1, "1_one_shot")
        .when(F.col("n_ev") < 10, "2_light")
        .when(F.col("n_ev") < 50, "3_active")
        .otherwise("4_power")
    )
    return (
        u.select(stage.alias("stage"), "n_ev", "active_days")
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_ev").cast("long").alias("n_events"),
            F.round(
                F.sum("n_ev").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_events"),
            F.round(
                F.sum("active_days").cast("double") / F.count(F.lit(1)),
                6,
            ).alias("avg_active_days"),
        )
        .orderBy("stage")
    )


@query(
    "q_type_share_drift",
    oracle="""
WITH wk AS (
  SELECT CAST((day(ts) - 1) // 7 AS BIGINT) AS week, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
     tot AS (
  SELECT week, CAST(sum(n) AS BIGINT) AS wn FROM wk GROUP BY week),
     shares AS (
  SELECT wk.week AS week, event_type, n,
         CAST(n AS DOUBLE) / wn AS share
  FROM wk JOIN tot USING (week)),
     first_wk AS (
  SELECT event_type, share AS share0 FROM shares WHERE week = 0)
SELECT s.week AS week, s.event_type AS event_type, n,
       round(share, 6) AS share,
       round(share - share0, 6) AS drift
FROM shares s JOIN first_wk USING (event_type)
ORDER BY week, event_type
""",
    description="Weekly event-type mix drift: per-week type shares "
    "(one exact-integer division each) compared against week 0's "
    "share — the drift column is the difference of two identically-"
    "computed doubles, rounded once at the surface.  Mix drift is "
    "the first indicator of instrumentation changes or traffic "
    "shifts in event pipelines.",
)
def q_type_share_drift(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    wk = events.groupBy(
        ((F.dayofmonth("ts") - 1) / F.lit(7)).cast("long").alias("week"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = wk.groupBy("week").agg(F.sum("n").cast("long").alias("wn"))
    shares = wk.join(tot, "week").select(
        "week", "event_type", "n",
        (F.col("n").cast("double") / F.col("wn")).alias("share"),
    )
    first_wk = shares.where(F.col("week") == 0).select(
        "event_type", F.col("share").alias("share0")
    )
    return (
        shares.join(first_wk, "event_type")
        .select(
            "week", "event_type", "n",
            F.round("share", 6).alias("share"),
            F.round(F.col("share") - F.col("share0"), 6).alias("drift"),
        )
        .orderBy("week", "event_type")
    )


@query(
    "q_weekday_hour_heatmap",
    oracle="""
WITH g AS (
  SELECT CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hr,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
     tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
SELECT dow, hr, n, round(CAST(n AS DOUBLE) / total, 6) AS share
FROM g, tot ORDER BY dow, hr
""",
    description="Weekday×hour activity heatmap (ISO Monday=1 — the "
    "Sunday-first Spark dayofweek shifted to match DuckDB's isodow, "
    "the r12 weekday-profile convention): one scan, a (dow, hour) "
    "hash aggregate, a 1-row total broadcast, one exact division "
    "per cell round(6).  The 7×24 grid is the load-shape input for "
    "capacity planning and anomaly baselines.",
)
def q_weekday_hour_heatmap(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    g = events.groupBy(
        (((F.dayofweek("ts") + 5) % 7) + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = g.agg(F.sum("n").cast("long").alias("total"))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "dow", "hr", "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6)
            .alias("share"),
        )
        .orderBy("dow", "hr")
    )


@query(
    "q_benford_first_digit",
    oracle="""
WITH d AS (
  SELECT CAST(substring(CAST(CAST(round(value * 100) AS BIGINT)
                             AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM events WHERE round(value * 100) >= 1),
     tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d)
SELECT digit, CAST(count(*) AS BIGINT) AS n,
       round(CAST(count(*) AS DOUBLE) / total, 6) AS share
FROM d, tot GROUP BY digit, total ORDER BY digit
""",
    description="Benford first-digit audit of the value column "
    "(integer cents): the leading digit comes from string "
    "truncation of the exact integer — no log10 — counted and "
    "shared against a 1-row total broadcast, round(6).  Digit "
    "distributions far from Benford flag synthetic or manipulated "
    "financial data; here the uniform generator is the expected "
    "non-Benford signature the audit exposes.",
)
def q_benford_first_digit(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    d = (
        events.where(F.round(F.col("value") * 100) >= 1)
        .select(
            F.substring(
                F.round(F.col("value") * 100).cast("long").cast("string"),
                1, 1,
            )
            .cast("long")
            .alias("digit")
        )
    )
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit", "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6)
            .alias("share"),
        )
        .orderBy("digit")
    )


_CV_EXPR = (
    "round(sqrt((CAST(Q AS DOUBLE) - CAST(S AS DOUBLE) * S / n) /"
    " (n - 1)) / (CAST(S AS DOUBLE) / n), 6)"
)


@query(
    "q_interarrival_cv",
    oracle=f"""
WITH gaps AS (
  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM events),
     sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(g) AS BIGINT) AS S,
         CAST(sum(CAST(g AS DECIMAL(38,0)) * g) AS DECIMAL(38,0)) AS Q
  FROM gaps WHERE g IS NOT NULL)
SELECT n AS n_gaps,
       round(CAST(S AS DOUBLE) / n, 6) AS mean_us,
       {_CV_EXPR} AS cv
FROM sums
""",
    description="Inter-arrival coefficient of variation across all "
    "per-user event gaps: microsecond gaps from a user-partitioned "
    "lag window (with the (ts, event_id) tie-break), EXACT integer/"
    "decimal power sums (gap squares exceed 2^63, hence decimal), "
    "and CV = sample-std / mean collapsed into ONE shared IEEE "
    "expression round(6).  CV ≈ 1 is Poisson arrivals; higher means "
    "bursty sessions — the temporal twin of the Fano factor.",
)
def q_interarrival_cv(spark, sf_dir):
    from pyspark.sql import Window

    from clickbom_spark.queries import epoch_us

    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        (epoch_us("ts") - F.lag(epoch_us("ts")).over(w)).alias("g")
    ).where(F.col("g").isNotNull())
    sums = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g").cast("long").alias("S"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g"))
        .cast("decimal(38,0)")
        .alias("Q"),
    )
    return sums.select(
        F.col("n").alias("n_gaps"),
        F.round(F.col("S").cast("double") / F.col("n"), 6)
        .alias("mean_us"),
        F.expr(_CV_EXPR).alias("cv"),
    )


@query(
    "q_reorder_interval_stats",
    oracle="""
WITH gaps AS (
  SELECT CAST(date_diff('day',
           lag(o_orderdate) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey),
           o_orderdate) AS BIGINT) AS g
  FROM orders)
SELECT CAST(count(*) AS BIGINT) AS n_gaps,
       round(CAST(sum(g) AS DOUBLE) / count(*), 6) AS avg_days,
       quantile_cont(g, 0.5) AS median_days,
       CAST(max(g) AS BIGINT) AS max_days
FROM gaps WHERE g IS NOT NULL
""",
    description="Reorder-interval statistics: per-customer gaps "
    "between consecutive orders (customer-partitioned lag with an "
    "(orderdate, orderkey) tie-break), exact integer day counts, "
    "average as one exact-sum division round(6), interpolated "
    "median (exact halves on integers), and the max tail.  The "
    "repurchase cadence drives churn and inventory models.",
)
def q_reorder_interval_stats(spark, sf_dir):
    from pyspark.sql import Window

    (orders,) = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    gaps = orders.select(
        F.datediff(
            "o_orderdate", F.lag("o_orderdate").over(w)
        )
        .cast("long")
        .alias("g")
    ).where(F.col("g").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(
            F.sum("g").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_days"),
        F.expr("percentile(g, 0.5)").alias("median_days"),
        F.max("g").cast("long").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# Relational / embedding operators.  ABC classification reuses the
# Pareto distinct-value discipline through a fixed 1000-bucket value
# grid; the embedding statistics quantize float32 elements to exact
# integers (CAST to double FIRST — engines promote float lambdas
# differently) and divide exactly once at the surface.
# ---------------------------------------------------------------------------


@query(
    "q_abc_classification",
    oracle="""
WITH pr AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey),
     mx AS (SELECT CAST(max(cents) AS BIGINT) AS maxc,
                   CAST(sum(cents) AS BIGINT) AS T FROM pr),
     bk AS (
  SELECT CAST(cents * 1000 // (maxc + 1) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS n_parts,
         CAST(sum(cents) AS BIGINT) AS bc
  FROM pr, mx GROUP BY 1),
     cum AS (
  SELECT b, n_parts, bc,
         CAST(sum(bc) OVER (ORDER BY b DESC ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c
  FROM bk),
     classed AS (
  SELECT CASE WHEN 100 * (cum_c - bc) < 80 * T THEN 'A'
              WHEN 100 * (cum_c - bc) < 95 * T THEN 'B'
              ELSE 'C' END AS abc, n_parts, bc
  FROM cum, mx)
SELECT abc, CAST(sum(n_parts) AS BIGINT) AS n_parts,
       CAST(sum(bc) AS BIGINT) AS cents,
       round(CAST(sum(bc) AS DOUBLE) / (SELECT T FROM mx), 6)
         AS revenue_share
FROM classed GROUP BY abc ORDER BY abc
""",
    description="ABC revenue classification of parts WITHOUT a "
    "global per-part ranking: per-part cents collapse onto a fixed "
    "1000-bucket value grid (bucket = cents·1000 div (max+1)), the "
    "cumulative runs over the ≤1000 bucket rows in descending value "
    "order, and class boundaries are INTEGER comparisons "
    "(100·prior < 80·T → A, < 95·T → B, else C).  A bucket's parts "
    "share a class — the documented grid granularity — in exchange "
    "for a window bounded by 1000 rows at any scale.",
)
def q_abc_classification(spark, sf_dir):
    from pyspark.sql import Window

    (lineitem,) = load(spark, sf_dir, "lineitem")
    pr = lineitem.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    mx = pr.agg(
        F.max("cents").cast("long").alias("maxc"),
        F.sum("cents").cast("long").alias("T"),
    )
    bk = (
        pr.crossJoin(F.broadcast(mx))
        .groupBy(
            # exact integer floor division (DIV) — double `/` + cast
            # can round up across a bucket boundary near 2^53 where
            # DuckDB's `//` floors (review finding, a323ad0 class)
            F.expr("cents * 1000 DIV (maxc + 1)").cast("long").alias("b")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("bc"),
        )
    )
    w = (
        Window.orderBy(F.col("b").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = bk.select(
        "b", "n_parts", "bc",
        F.sum("bc").over(w).cast("long").alias("cum_c"),
    )
    classed = cum.crossJoin(F.broadcast(mx)).select(
        F.when(100 * (F.col("cum_c") - F.col("bc")) < 80 * F.col("T"), "A")
        .when(100 * (F.col("cum_c") - F.col("bc")) < 95 * F.col("T"), "B")
        .otherwise("C")
        .alias("abc"),
        "n_parts", "bc", "T",
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.sum("n_parts").cast("long").alias("n_parts"),
            F.sum("bc").cast("long").alias("cents"),
            F.round(
                F.sum("bc").cast("double") / F.first("T"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc")
    )


@query(
    "q_price_log2_histogram",
    oracle="""
WITH b AS (
  SELECT CAST(length(bin(CAST(round(o_totalprice * 100) AS BIGINT)))
              - 1 AS BIGINT) AS bucket
  FROM orders WHERE round(o_totalprice * 100) >= 1),
     tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM b)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       round(CAST(count(*) AS DOUBLE) / total, 6) AS share
FROM b, tot GROUP BY bucket, total ORDER BY bucket
""",
    description="Log2 histogram of order values computed WITHOUT "
    "libm: the bucket is floor(log2(cents)) obtained as the binary-"
    "string length minus one (Spark conv(x,10,2) / DuckDB bin(x), "
    "both unpadded) — pure integer/string ops, so power-of-two "
    "boundaries can never ulp-flip the way a float log2 could.  "
    "Counts and shares per doubling band, round(6).",
)
def q_price_log2_histogram(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    b = (
        orders.where(F.round(F.col("o_totalprice") * 100) >= 1)
        .select(
            (
                F.length(
                    F.conv(
                        F.round(F.col("o_totalprice") * 100)
                        .cast("long")
                        .cast("string"),
                        10, 2,
                    )
                )
                - 1
            )
            .cast("long")
            .alias("bucket")
        )
    )
    tot = b.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket", "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6)
            .alias("share"),
        )
        .orderBy("bucket")
    )


@query(
    "q_brand_entropy",
    oracle="""
WITH brand AS (
  SELECT p_brand,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_brand),
     sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n_brands,
         CAST(sum(cents) AS BIGINT) AS S,
         CAST(sum(CAST(round(cents * ln(CAST(cents AS DOUBLE)), 9)
                       AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS T
  FROM brand)
SELECT n_brands, S AS total_cents,
       round(ln(CAST(S AS DOUBLE)) - CAST(T AS DOUBLE) / S, 6)
         AS entropy_nats
FROM sums
""",
    description="Shannon entropy of the brand revenue mix in nats, "
    "float-safe: H = ln(S) - (Σ c_i·ln(c_i))/S needs ln ONLY of "
    "exact integers (per-brand cents and the total), each per-brand "
    "term rounded to 9 decimals BEFORE the decimal-exact sum — the "
    "registry's ln-of-integers discipline — then one division and "
    "one subtraction at the surface, round(6).  Low entropy = "
    "concentrated revenue (the log-domain twin of q_brand_hhi).",
)
def q_brand_entropy(spark, sf_dir):
    lineitem, part = load(spark, sf_dir, "lineitem", "part")
    brand = (
        lineitem.join(part, part["p_partkey"] == lineitem["l_partkey"])
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    sums = brand.agg(
        F.count(F.lit(1)).cast("long").alias("n_brands"),
        F.sum("cents").cast("long").alias("S"),
        F.sum(
            F.round(
                F.col("cents") * F.log(F.col("cents").cast("double")), 9
            ).cast("decimal(38,9)")
        )
        .cast("decimal(38,9)")
        .alias("T"),
    )
    return sums.select(
        "n_brands",
        F.col("S").alias("total_cents"),
        F.round(
            F.log(F.col("S").cast("double"))
            - F.col("T").cast("double") / F.col("S"),
            6,
        ).alias("entropy_nats"),
    )


@query(
    "q_returns_impact",
    oracle="""
WITH m AS (
  SELECT CAST(month(l_shipdate) AS BIGINT) AS mth, l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY 1, 2),
     tot AS (
  SELECT mth, CAST(sum(cents) AS BIGINT) AS mc FROM m GROUP BY mth)
SELECT m.mth AS mth, l_returnflag, n, cents,
       round(CAST(cents AS DOUBLE) / mc, 6) AS month_share
FROM m JOIN tot USING (mth)
ORDER BY mth, l_returnflag
""",
    description="Monthly revenue impact of returns: per-(month, "
    "returnflag) exact cents and counts, each flag's share of its "
    "month's revenue as one exact division round(6).  The R-flag "
    "share trend is the canonical returns-drag readout on the "
    "TPC-H-shaped schema.",
)
def q_returns_impact(spark, sf_dir):
    (lineitem,) = load(spark, sf_dir, "lineitem")
    m = lineitem.groupBy(
        F.month("l_shipdate").cast("long").alias("mth"),
        "l_returnflag",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    tot = m.groupBy("mth").agg(F.sum("cents").cast("long").alias("mc"))
    return (
        m.join(tot, "mth")
        .select(
            "mth", "l_returnflag", "n", "cents",
            F.round(F.col("cents").cast("double") / F.col("mc"), 6)
            .alias("month_share"),
        )
        .orderBy("mth", "l_returnflag")
    )


@query(
    "q_nation_median_order",
    oracle="""
WITH o AS (
  SELECT n_name,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey)
SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
       quantile_cont(cents, 0.5) AS median_cents,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM o GROUP BY n_name ORDER BY n_name
""",
    description="Median order value per customer nation: the "
    "orders→customer→nation join chain (bounded dims broadcast by "
    "AQE), exact integer cents, interpolated median per nation — "
    "exact on integers ((a+b)/2 halves are exact doubles in both "
    "engines).  The median, unlike the mean, is the fair cross-"
    "nation order-size comparison under heavy-tailed prices.",
)
def q_nation_median_order(spark, sf_dir):
    orders, customer, nation = load(
        spark, sf_dir, "orders", "customer", "nation"
    )
    o = (
        orders.join(
            customer, customer["c_custkey"] == orders["o_custkey"]
        )
        .join(nation, nation["n_nationkey"] == customer["c_nationkey"])
        .select(
            "n_name",
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("cents"),
        )
    )
    return (
        o.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.expr("percentile(cents, 0.5)").alias("median_cents"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("n_name")
    )


@query(
    "q_embedding_centroid_shift",
    oracle="""
WITH q AS (
  SELECT label, u.pos AS pos,
         CAST(floor(CAST(u.x AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings,
       LATERAL (SELECT generate_subscripts(embedding, 1) AS pos,
                       unnest(embedding) AS x) u),
     per_label AS (
  SELECT label, pos, CAST(sum(qv) AS BIGINT) AS sl,
         CAST(count(*) AS BIGINT) AS nl
  FROM q GROUP BY 1, 2),
     global_c AS (
  SELECT pos, CAST(sum(qv) AS BIGINT) AS sg,
         CAST(count(*) AS BIGINT) AS ng
  FROM q GROUP BY 1),
     diffs AS (
  SELECT label, nl,
         CAST(sl * ng - sg * nl AS DECIMAL(38,0)) AS num,
         CAST(nl * ng AS BIGINT) AS den
  FROM per_label JOIN global_c USING (pos))
SELECT label, CAST(max(nl) AS BIGINT) AS n_vecs,
       round(CAST(sum(num * num) AS DOUBLE) /
             (CAST(max(den) AS DOUBLE) * max(den)), 6) AS shift2
FROM diffs GROUP BY label ORDER BY label
""",
    description="Per-label embedding centroid shift: squared L2 "
    "distance between each label's centroid and the corpus "
    "centroid, kept EXACT until the last step by cross-multiplying "
    "instead of dividing per dimension — the per-dim difference "
    "sl/nl - sg/ng becomes the integer (sl·ng - sg·nl) over the "
    "common denominator nl·ng, squared and summed in decimal, ONE "
    "final double division round(6).  Elements quantize as "
    "floor(double(x)·10⁶) (the float32-promotion and round-half "
    "lessons).  Label drift against the corpus centroid is the "
    "embedding-collapse early warning.",
)
def q_embedding_centroid_shift(spark, sf_dir):
    (emb,) = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * 1000000).cast("long")
        .alias("qv"),
    )
    per_label = q.groupBy("label", "pos").agg(
        F.sum("qv").cast("long").alias("sl"),
        F.count(F.lit(1)).cast("long").alias("nl"),
    )
    global_c = q.groupBy("pos").agg(
        F.sum("qv").cast("long").alias("sg"),
        F.count(F.lit(1)).cast("long").alias("ng"),
    )
    diffs = per_label.join(global_c, "pos").select(
        "label", "nl",
        (F.col("sl") * F.col("ng") - F.col("sg") * F.col("nl"))
        .cast("decimal(38,0)")
        .alias("num"),
        (F.col("nl") * F.col("ng")).cast("long").alias("den"),
    )
    return (
        diffs.groupBy("label")
        .agg(
            F.max("nl").cast("long").alias("n_vecs"),
            F.round(
                F.sum(F.col("num") * F.col("num")).cast("double")
                / (
                    F.max("den").cast("double") * F.max("den")
                ),
                6,
            ).alias("shift2"),
        )
        .orderBy("label")
    )


_DIMVAR_EXPR = (
    "round((CAST(Q AS DOUBLE) - CAST(S AS DOUBLE) * S / n) / (n - 1),"
    " 6)"
)


@query(
    "q_dim_variance_topk",
    oracle=f"""
WITH q AS (
  SELECT u.pos AS pos,
         CAST(floor(CAST(u.x AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings,
       LATERAL (SELECT generate_subscripts(embedding, 1) AS pos,
                       unnest(embedding) AS x) u),
     sums AS (
  SELECT CAST(pos AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qv) AS BIGINT) AS S,
         CAST(sum(CAST(qv AS DECIMAL(38,0)) * qv) AS DECIMAL(38,0))
           AS Q
  FROM q GROUP BY pos)
SELECT dim, {_DIMVAR_EXPR} AS var_q
FROM sums ORDER BY var_q DESC, dim LIMIT 5
""",
    description="Top-5 highest-variance embedding dimensions: "
    "per-dimension sample variance from EXACT integer/decimal power "
    "sums over the floor-quantized elements (64 dimension rows "
    "total — the aggregate is the reduction, the top-k is over a "
    "bounded frame), one shared IEEE expression round(6) with a "
    "(variance DESC, dim) tie-break.  Dead or runaway dimensions "
    "are the standard embedding-health diagnostic.",
)
def q_dim_variance_topk(spark, sf_dir):
    (emb,) = load(spark, sf_dir, "embeddings")
    q = emb.select(F.posexplode("embedding").alias("pos0", "x")).select(
        (F.col("pos0") + 1).cast("long").alias("dim"),
        F.floor(F.col("x").cast("double") * 1000000).cast("long")
        .alias("qv"),
    )
    sums = q.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qv").cast("long").alias("S"),
        F.sum(F.col("qv").cast("decimal(38,0)") * F.col("qv"))
        .cast("decimal(38,0)")
        .alias("Q"),
    )
    return (
        sums.select("dim", F.expr(_DIMVAR_EXPR).alias("var_q"))
        .orderBy(F.col("var_q").desc(), "dim")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# The reference's table migration end-to-end: a lake created WITHOUT
# the source column, the reference's ALTER TABLE ADD COLUMN statement
# applied verbatim (apply_alter_ddl — metadata-only evolution), new
# rows written with real source values, and the read-back audit
# grouping by the evolved column.  Mirrors check_and_migrate_table
# (entrypoint.sh:130-161): probe → ALTER ... DEFAULT 'unknown' →
# subsequent ingests carry the real source.
# ---------------------------------------------------------------------------


@query(
    "q_ddl_alter_migration",
    oracle="""
SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'mend_batch'
            ELSE 'unknown' END AS source,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders GROUP BY 1 ORDER BY source
""",
    description="The reference's ALTER-migration path end-to-end "
    "(entrypoint.sh:130-161): a VersionedLake created from the "
    "pre-migration order slice (no source column), the reference's "
    "exact `ALTER TABLE ... ADD COLUMN source LowCardinality(String) "
    "DEFAULT 'unknown'` applied verbatim via apply_alter_ddl "
    "(metadata-only schema evolution — zero files rewritten), then a "
    "post-migration ingest carrying source='mend_batch'.  The "
    "read-back audit groups by the evolved column: pre-migration "
    "rows surface the DDL default, new rows their real value — "
    "byte-identical to recomputing the split from the base table.",
)
def q_ddl_alter_migration(spark, sf_dir):
    import uuid as _uuid

    from clickbom_spark.dialect import apply_alter_ddl
    from clickbom_spark.ext.manifest import VersionedLake
    from clickbom_spark.queries import scratch_path

    (orders,) = load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tag = _uuid.uuid4().hex[:8]
    path = scratch_path(f"alter_mig_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    try:
        lake = VersionedLake.create(
            spark, path, base.where(F.col("o_orderkey") % 3 != 0),
            n_files=2,
        )
        # the reference's migration statement, verbatim
        apply_alter_ddl(
            lake,
            "ALTER TABLE db.sbom_components ADD COLUMN source "
            "LowCardinality(String) DEFAULT 'unknown'",
        )
        lake.upsert(
            base.where(F.col("o_orderkey") % 3 == 0).withColumn(
                "source", F.lit("mend_batch")
            ),
            ["o_orderkey"],
        )
        out = (
            lake.read()
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("cents").cast("long").alias("cents"),
            )
            .orderBy("source")
        )
        rows = out.collect()  # materialize before cleanup
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return local_frame(
        spark, rows, "source string, n bigint, cents bigint"
    ).orderBy("source")



# ---------------------------------------------------------------------------
# Round-13 additions (VERDICT r12 next-round #8b): oracle round-trips
# for the approximate-spelling compiles landed in round 13.  The wave
# grows 23 -> 26; the parity test's size pin moves with it.
# ---------------------------------------------------------------------------

_CH_QUANTILE_GK = """
SELECT event_type,
       quantileGK(100000)(toInt64(round(value * 100))) AS med,
       quantileGK(100000, 0.9)(toInt64(round(value * 100))) AS p90
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_dialect_quantile_gk",
    oracle="""
SELECT event_type,
       quantile_disc(CAST(round(value * 100) AS BIGINT), 0.5) AS med,
       quantile_disc(CAST(round(value * 100) AS BIGINT), 0.9) AS p90
FROM events GROUP BY event_type ORDER BY event_type
""",
    description="quantileGK(accuracy[, level]) compiled to "
    "percentile_approx (round-13: Spark's approximate percentile IS "
    "a Greenwald-Khanna-family sketch, the accuracy parameter maps "
    "through).  With accuracy beyond the group cardinality the GK "
    "buffer retains every value and the sketch is EXACT, so the "
    "DuckDB quantile_disc oracle pins the discrete-quantile "
    "convention itself (verified identical at sf0.001/0.01/0.1 — "
    "group max ~20k rows vs accuracy 100k).",
)
def q_dialect_quantile_gk(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_QUANTILE_GK, sf_dir)
    return out.select(
        "event_type",
        F.col("med").cast("long").alias("med"),
        F.col("p90").cast("long").alias("p90"),
    )


# Twitter-epoch snowflake IDs: ms-since-1288834974657 in the top 41
# bits.  The round-trip ts -> ID -> DateTime64 -> unix ms is pure
# integer bit arithmetic — DuckDB replays it exactly.
_CH_SNOWFLAKE_RT = """
SELECT event_type,
       min(dateTimeToSnowflake(ts)) AS sid_min,
       max(dateTimeToSnowflake(ts)) AS sid_max,
       toUnixTimestamp64Milli(snowflakeToDateTime64(
         min(dateTimeToSnowflake(ts)))) AS ms_back
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(
    "q_dialect_snowflake_ids",
    oracle="""
SELECT event_type,
       CAST((epoch_ms(min(ts)) - 1288834974657) * 4194304 AS BIGINT)
         AS sid_min,
       CAST((epoch_ms(max(ts)) - 1288834974657) * 4194304 AS BIGINT)
         AS sid_max,
       CAST(epoch_ms(min(ts)) AS BIGINT) AS ms_back
FROM events GROUP BY event_type ORDER BY event_type
""",
    description="dateTimeToSnowflake / snowflakeToDateTime64 / "
    "toUnixTimestamp64Milli round-trip (round-13 compiles): the "
    "Twitter-epoch bit layout ((ms - epoch) << 22) is pure integer "
    "arithmetic, replayed in DuckDB as * 4194304; the recovered "
    "ms_back equals the original epoch milliseconds exactly.  min/"
    "max commute with the monotone ID map, so the aggregate "
    "round-trip is order-exact.",
)
def q_dialect_snowflake_ids(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_SNOWFLAKE_RT, sf_dir)
    return out.select(
        "event_type",
        F.col("sid_min").cast("long").alias("sid_min"),
        F.col("sid_max").cast("long").alias("sid_max"),
        F.col("ms_back").cast("long").alias("ms_back"),
    )


# ClickHouse left/right with NEGATIVE lengths drop from the other
# end; Spark's built-ins return '' there — the round-13 CASE compile
# holds both regimes.  stringCompare pins the -1/0/1 convention.
_CH_NEG_SUBSTRINGS = """
SELECT lang,
       sum(toInt64(length(left(text, -10)))) AS chars_body,
       sum(toInt64(length(right(text, -10)))) AS chars_tail,
       countIf(stringCompare(left(text, 5), right(text, 5)) = -1)
         AS head_lt_tail,
       countIf(stringCompare(left(text, 5), right(text, 5)) = 0)
         AS head_eq_tail
FROM documents GROUP BY lang ORDER BY lang
"""


@query(
    "q_dialect_neg_substrings",
    oracle="""
SELECT lang,
       CAST(sum(greatest(length(text) - 10, 0)) AS BIGINT)
         AS chars_body,
       CAST(sum(greatest(length(text) - 10, 0)) AS BIGINT)
         AS chars_tail,
       CAST(count(*) FILTER (WHERE
         substring(text, 1, 5) < substring(text,
           greatest(length(text) - 4, 1))) AS BIGINT) AS head_lt_tail,
       CAST(count(*) FILTER (WHERE
         substring(text, 1, 5) = substring(text,
           greatest(length(text) - 4, 1))) AS BIGINT) AS head_eq_tail
FROM documents GROUP BY lang ORDER BY lang
""",
    description="left/right with NEGATIVE lengths (drop n from the "
    "other end — the round-13 CASE compile; Spark's bare built-ins "
    "return '' there) plus stringCompare's -1/0/1 convention, "
    "round-tripped per lang.  The DuckDB oracle replays the "
    "drop-arithmetic with substring bounds; every count is exact "
    "integer.",
)
def q_dialect_neg_substrings(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_NEG_SUBSTRINGS, sf_dir)
    return out.select(
        "lang",
        F.col("chars_body").cast("long").alias("chars_body"),
        F.col("chars_tail").cast("long").alias("chars_tail"),
        F.col("head_lt_tail").cast("long").alias("head_lt_tail"),
        F.col("head_eq_tail").cast("long").alias("head_eq_tail"),
    )


# ---------------------------------------------------------------------------
# Round-13 clause compile round-trip: QUALIFY — ClickHouse's
# post-window filter (the top-N-per-group idiom).  Spark has no
# QUALIFY clause; the shim wraps the query head as a subquery and
# filters the window alias in an outer WHERE.  DuckDB supports
# QUALIFY natively, so the oracle runs the same clause.
# ---------------------------------------------------------------------------

_CH_QUALIFY_TOPN = """
SELECT event_type, user_id, count() AS n,
       row_number() OVER (PARTITION BY event_type
                          ORDER BY count() DESC, user_id) AS rn
FROM events GROUP BY event_type, user_id
QUALIFY rn <= 3
ORDER BY event_type, rn
"""


@query(
    "q_dialect_qualify_topn",
    oracle="""
SELECT event_type, CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(row_number() OVER (PARTITION BY event_type
            ORDER BY count(*) DESC, user_id) AS BIGINT) AS rn
FROM events GROUP BY event_type, user_id
QUALIFY rn <= 3
ORDER BY event_type, rn
""",
    description="ClickHouse QUALIFY run verbatim through the shim "
    "(round-13 clause compile): top-3 users per event type via the "
    "row_number alias idiom — the shim wraps the aggregate+window "
    "head as a subquery and filters the alias in an outer WHERE "
    "(dialect._rewrite_qualify); DuckDB's native QUALIFY is the "
    "oracle.  Deterministic tie-break (count DESC, user_id) keeps "
    "the hash exact.",
)
def q_dialect_qualify_topn(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_QUALIFY_TOPN, sf_dir)
    return out.select(
        "event_type",
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n").cast("long").alias("n"),
        F.col("rn").cast("long").alias("rn"),
    )
