"""Registry queries, round-7 batch — 14 queries.

Every query is checked bit-exact against its DuckDB oracle by
``tests/test_parity.py`` at sf0.01; ``python scripts/strict_parity.py`` widens the
sweep, including under SPARK_GRAFT_TZ / SPARK_GRAFT_PARTS /
SPARK_GRAFT_SF_DIR variation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickbom_spark.queries import load, query


# ---------------------------------------------------------------------------
# topKState / -Merge workflow: sketch two ingest parts independently,
# merge the summaries, recount — must equal plain heavy hitters over
# the union, which is exactly what the plain GROUP BY oracle computes.
# ---------------------------------------------------------------------------

@query(
    "q_topk_state_merge",
    oracle="""
WITH e AS (SELECT event_type FROM events WHERE event_type IS NOT NULL),
counts AS (
  SELECT event_type AS val, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM e GROUP BY event_type
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM e)
SELECT val, cnt, n.n_total FROM counts, n
WHERE cnt * 6 > n.n_total ORDER BY val
""",
    description="ClickHouse topKState/-Merge workflow "
    "(ext/sketches.heavy_hitters_from_parts): two ingest halves of the "
    "event stream are sketched independently (each site ships only its "
    "bounded Misra-Gries summary), the summaries merge (mergeable-"
    "summary law: error stays within W/(k+1) across any merge tree), "
    "and one recount restores exact counts — output equals plain "
    "heavy hitters over the union, which is what the oracle computes.",
)
def q_topk_state_merge(spark, sf_dir):
    from clickbom_spark.ext.sketches import heavy_hitters_from_parts

    (events,) = load(spark, sf_dir, "events")
    mid = events.agg(
        (F.max("event_id") / 2).cast("long").alias("m")
    ).collect()[0]["m"]
    part_a = events.where(F.col("event_id") <= mid)
    part_b = events.where(F.col("event_id") > mid)
    return (
        heavy_hitters_from_parts([part_a, part_b], "event_type", k=6)
        .select(
            F.col("event_type").alias("val"),
            "cnt",
            F.col("n_total").cast("long").alias("n_total"),
        )
        .orderBy("val")
    )


# ---------------------------------------------------------------------------
# groupArray ordered concat: the per-user journey path — ClickHouse
# groupArray(event_type) over the (ts, event_id) order, joined to one
# string.  Deterministic because the sort key is unique per user.
# ---------------------------------------------------------------------------

@query(
    "q_user_journeys",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS journey
FROM events GROUP BY user_id ORDER BY user_id
""",
    description="Per-user journey path (ClickHouse groupArray + "
    "arrayStringConcat over the event-time order): one hash aggregate "
    "collects each user's (ts, event_id, type) structs, array_sort + "
    "transform + array_join build the ordered path string — bounded "
    "per-key state, no window over the corpus, deterministic under the "
    "unique (ts, event_id) tie-break.",
)
def q_user_journeys(spark, sf_dir):
    from clickbom_spark.queries import epoch_us

    (events,) = load(spark, sf_dir, "events")
    packed = events.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    epoch_us("ts").alias("t"),
                    F.col("event_id").alias("tb"),
                    F.col("event_type").alias("et"),
                )
            )
        ).alias("arr")
    )
    return packed.select(
        "user_id",
        F.size("arr").cast("long").alias("n_events"),
        F.array_join(
            F.transform(F.col("arr"), lambda x: x["et"]), ">"
        ).alias("journey"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Per-group exact weighted quantiles (quantileExactWeighted ... GROUP
# BY): distinct-value weights, per-group cumulative window (partitioned
# — scale-safe), conditional min.  Integer weights ⇒ exact prefix sums.
# ---------------------------------------------------------------------------

@query(
    "q_weighted_quantiles_by_group",
    oracle="""
WITH agg AS (
  SELECT l_returnflag AS g, l_extendedprice AS v,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND CAST(l_quantity AS BIGINT) > 0
  GROUP BY 1, 2
), c AS (
  SELECT g, v,
         SUM(w) OVER (PARTITION BY g ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER (PARTITION BY g) AS W
  FROM agg
)
SELECT g AS l_returnflag,
       MIN(CASE WHEN cum >= 0.5 * W THEN v END) AS q50,
       MIN(CASE WHEN cum >= 0.9 * W THEN v END) AS q90
FROM c GROUP BY g ORDER BY l_returnflag
""",
    description="Per-group exact weighted quantiles (ClickHouse "
    "quantileExactWeighted ... GROUP BY; "
    "ext/ranks.exact_weighted_quantiles_by_group): distinct "
    "(group, value) weights, value-bucketed per-group offsets, and a "
    "(group, bucket)-partitioned cumulative window — scale-safe even "
    "when a handful of groups hold the whole corpus, unlike a plain "
    "per-group window; integer weights make every prefix sum exact.",
)
def q_weighted_quantiles_by_group(spark, sf_dir):
    from clickbom_spark.ext.ranks import exact_weighted_quantiles_by_group

    (lineitem,) = load(spark, sf_dir, "lineitem")
    return (
        exact_weighted_quantiles_by_group(
            lineitem, "l_returnflag", "l_extendedprice", "l_quantity",
            [0.5, 0.9],
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Degree distribution of the co-purchase graph — the standard graph
# summary next to the triangle count, over the same basket-capped
# edges.
# ---------------------------------------------------------------------------

@query(
    "q_degree_distribution",
    oracle="""
WITH ok AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING COUNT(DISTINCT l_partkey) <= 1024
), pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, a.l_orderkey
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok)
), e AS (
  SELECT u, v FROM pairs GROUP BY u, v
  HAVING COUNT(DISTINCT l_orderkey) >= 2
), deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
  GROUP BY n
)
SELECT d AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY d ORDER BY degree
""",
    description="Degree distribution of the part co-purchase graph "
    "(same basket-capped edge build as q_triangle_count): two hash "
    "aggregates over the edge list — the graph-shape summary that "
    "sizes the wedge join before anyone runs it.",
)
def q_degree_distribution(spark, sf_dir):
    from clickbom_spark.queries.staged import copurchase_edges

    (lineitem,) = load(spark, sf_dir, "lineitem")
    e = copurchase_edges(lineitem)
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.groupBy(F.col("d").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Column profiling — the warehouse DESCRIBE/statistics utility: one
# row per profiled column with null/distinct/min/max, plus exact
# decimal totals for the numeric column.
# ---------------------------------------------------------------------------

@query(
    "q_profile_columns",
    oracle="""
SELECT 'o_orderstatus' AS col,
       CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderstatus) AS VARCHAR) AS min_s,
       CAST(MAX(o_orderstatus) AS VARCHAR) AS max_s
FROM orders
UNION ALL
SELECT 'o_orderpriority',
       CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       CAST(MIN(o_orderpriority) AS VARCHAR),
       CAST(MAX(o_orderpriority) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice',
       CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       CAST(round(MIN(o_totalprice) * 100) AS BIGINT)::VARCHAR,
       CAST(round(MAX(o_totalprice) * 100) AS BIGINT)::VARCHAR
FROM orders
ORDER BY col
""",
    description="Column profiling (the DESCRIBE/statistics warehouse "
    "utility): per-column null count, exact distinct count, and "
    "min/max — strings verbatim, the numeric column in exact integer "
    "cents so the string rendering is engine-identical.  One aggregate "
    "per profiled column over one scan each; at scale the distinct "
    "counts swap to the HLL family already in the registry.",
)
def q_profile_columns(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")

    def prof_str(col):
        return orders.agg(
            F.lit(col).alias("col"),
            (F.count(F.lit(1)) - F.count(col)).cast("long").alias("n_nulls"),
            F.countDistinct(col).cast("long").alias("n_distinct"),
            F.min(col).cast("string").alias("min_s"),
            F.max(col).cast("string").alias("max_s"),
        )

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    prof_num = orders.agg(
        F.lit("o_totalprice").alias("col"),
        (F.count(F.lit(1)) - F.count("o_totalprice"))
        .cast("long")
        .alias("n_nulls"),
        F.countDistinct("o_totalprice").cast("long").alias("n_distinct"),
        F.min(cents).cast("string").alias("min_s"),
        F.max(cents).cast("string").alias("max_s"),
    )
    return (
        prof_str("o_orderstatus")
        .unionByName(prof_str("o_orderpriority"))
        .unionByName(prof_num)
        .orderBy("col")
    )


# ---------------------------------------------------------------------------
# Classic reporting: month revenue with year-over-year growth — lag-12
# over the month aggregate; revenue in exact decimal, the growth ratio
# one identical double division rounded past the noise floor.
# ---------------------------------------------------------------------------

@query(
    "q_yoy_growth",
    oracle="""
WITH m AS (
  SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS ym,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1
), g AS (
  SELECT ym, rev_cents,
         LAG(rev_cents, 12) OVER (ORDER BY ym) AS prev
  FROM m
)
SELECT ym, rev_cents,
       round(
         (CAST(rev_cents AS DOUBLE) - prev) / prev * 100.0, 4
       ) AS yoy_pct
FROM g WHERE prev IS NOT NULL ORDER BY ym
""",
    description="Month revenue with year-over-year growth (the classic "
    "reporting lag-12 window): revenue accumulated in exact integer "
    "cents, one window over the MONTH aggregate (a bounded frame — "
    "the corpus never rides the window), growth one identical double "
    "division rounded past the noise floor.",
)
def q_yoy_growth(spark, sf_dir):
    from pyspark.sql import Window

    (orders,) = load(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("ym")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy("ym")
    g = m.withColumn("prev", F.lag("rev_cents", 12).over(w))
    return (
        g.where(F.col("prev").isNotNull())
        .select(
            "ym",
            "rev_cents",
            F.round(
                (F.col("rev_cents").cast("double") - F.col("prev"))
                / F.col("prev")
                * 100.0,
                4,
            ).alias("yoy_pct"),
        )
        .orderBy("ym")
    )


# ---------------------------------------------------------------------------
# Sliding-window DISTINCT users — the windowed-cardinality op the
# plain sliding counts don't cover (distinct is not distributive; the
# exact path posts each event to its windows and counts distinct per
# window; the approximate scale twin is the HLL family).
# ---------------------------------------------------------------------------

@query(
    "q_sliding_distinct_users",
    oracle="""
WITH posted AS (
  SELECT user_id,
         UNNEST([
           make_timestamp(CAST(floor(epoch(ts)/900)*900*1000000 AS BIGINT)),
           make_timestamp(CAST((floor(epoch(ts)/900)*900 - 900)*1000000
                          AS BIGINT))
         ]) AS ws
  FROM events
)
SELECT ws AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM posted GROUP BY ws ORDER BY window_start
""",
    description="Exact distinct users per sliding 30-minute window "
    "(hop 15): each event posts to its size/slide windows, then one "
    "distinct aggregate per window — the windowed-cardinality op "
    "plain sliding counts miss (distinct is not distributive).  At "
    "100 TB the exact twin swaps for the registry's HLL-by-group path "
    "with the same posting shape.",
)
def q_sliding_distinct_users(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    # post each event to BOTH covering hop windows explicitly from the
    # floored epoch (mirrors the oracle's UNNEST construction)
    sec = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000 / 900
    ) * 900
    posted = events.select(
        "user_id",
        F.explode(
            F.array(
                F.timestamp_seconds(sec),
                F.timestamp_seconds(sec - 900),
            )
        ).alias("window_start"),
    )
    return (
        posted.groupBy("window_start")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# ratio_to_report: each group's share of the grand total — the
# percent-of-total OLAP staple; exact decimal sums, one broadcast of
# the 1-row total, identical division both engines.
# ---------------------------------------------------------------------------

@query(
    "q_ratio_to_report",
    oracle="""
WITH g AS (
  SELECT o_orderpriority,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY o_orderpriority
), t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total FROM g)
SELECT o_orderpriority, rev_cents,
       round(CAST(rev_cents AS DOUBLE) / total * 100.0, 6) AS pct_of_total
FROM g, t ORDER BY o_orderpriority
""",
    description="ratio_to_report / percent-of-total per order "
    "priority: exact integer-cent group sums, the grand total a 1-row "
    "broadcast back onto the group frame (never a second corpus "
    "scan), one identical double division rounded past the noise "
    "floor.",
)
def q_ratio_to_report(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderpriority").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    t = g.agg(F.sum("rev_cents").cast("long").alias("total"))
    return (
        g.join(F.broadcast(t))
        .select(
            "o_orderpriority",
            "rev_cents",
            F.round(
                F.col("rev_cents").cast("double") / F.col("total") * 100.0,
                6,
            ).alias("pct_of_total"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Running maximum drawdown per user — the risk-analytics window pair
# (running max, then max gap below it); integer cents ⇒ exact.
# ---------------------------------------------------------------------------

@query(
    "q_max_drawdown",
    oracle="""
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT user_id, cents,
         MAX(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS run_max
  FROM c
)
SELECT user_id,
       CAST(MAX(run_max) AS BIGINT) AS peak_cents,
       CAST(MAX(run_max - cents) AS BIGINT) AS max_drawdown_cents
FROM r GROUP BY user_id ORDER BY user_id
""",
    description="Per-user running-maximum drawdown (the risk-analytics "
    "window staple): one per-user cumulative MAX window over the "
    "event-time order plus one hash aggregate; everything in exact "
    "integer cents, per-user windows scale out.",
)
def q_max_drawdown(spark, sf_dir):
    from pyspark.sql import Window

    (events,) = load(spark, sf_dir, "events")
    c = events.where(F.col("value").isNotNull()).select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = c.withColumn("run_max", F.max("cents").over(w))
    return (
        r.groupBy("user_id")
        .agg(
            F.max("run_max").cast("long").alias("peak_cents"),
            F.max(F.col("run_max") - F.col("cents"))
            .cast("long")
            .alias("max_drawdown_cents"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Near-dup cluster-size histogram — the dedup diagnostics view: how
# much of the corpus sits in how-big duplicate families.
# ---------------------------------------------------------------------------

@query(
    "q_cc_size_histogram",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
             '\\s+', ' ', 'g')), '\\s+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in range(1, len(w) - 1)]) AS g
  FROM toks
), sized AS (
  SELECT doc_id, len(g) AS sz FROM grams
), ex AS (
  SELECT doc_id, unnest(g) AS gram FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
  WHERE CAST(inter AS DOUBLE)
          / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.8
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach AS (
  WITH RECURSIVE r(id, comp) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.comp FROM r JOIN edges e ON e.src = r.id
  ) SELECT id, MIN(comp) AS component FROM r GROUP BY id
), csize AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
  FROM reach GROUP BY component
)
SELECT sz AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs
FROM csize GROUP BY sz ORDER BY cluster_size
""",
    description="Near-dup cluster-size histogram (dedup diagnostics: "
    "how much of the corpus sits in how-big duplicate families): the "
    "LSH pair graph clustered by min-label propagation, then two hash "
    "aggregates — the view that decides whether keep-one dedup or "
    "substring-level dedup is the right tool for a corpus.",
)
def q_cc_size_histogram(spark, sf_dir):
    from clickbom_spark.ext.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    (docs,) = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.8)
    comps = connected_components(pairs)
    csize = comps.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return (
        csize.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# Projection-routed aggregation: the GROUP BY is answered from the
# stored projection (coarser grouping re-aggregated), after mutations
# — the planner behavior surfaced as a query.
# ---------------------------------------------------------------------------

@query(
    "q_projection_route",
    oracle="""
WITH final AS (
  SELECT doc_id, lang, source, n_chars FROM documents
  WHERE doc_id % 9 <> 4
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
FROM final GROUP BY lang ORDER BY lang
""",
    description="Projection-aware GROUP BY routing "
    "(ext/manifest.route_aggregate): the lake stores a projection "
    "grouped by (lang, source); a query grouped by lang alone is "
    "answered FROM the projection by re-aggregation (counts/sums are "
    "distributive) — after a delete commit, so the roll-forward and "
    "the routing compose; the oracle recomputes relationally and the "
    "routed answer must match exactly.",
)
def q_projection_route(spark, sf_dir):
    import shutil

    from clickbom_spark.ext.manifest import (
        VersionedLake,
        add_projection,
        route_aggregate,
    )
    from clickbom_spark.queries import scratch_path

    (docs,) = load(spark, sf_dir, "documents")
    path = scratch_path("docs_proute_lake")
    shutil.rmtree(path, ignore_errors=True)
    lake = VersionedLake.create(
        spark,
        path,
        docs.select("doc_id", "lang", "source", "n_chars"),
        n_files=4,
    )
    add_projection(
        lake, "lang_source", ["doc_id"], ["lang", "source"], ["n_chars"]
    )
    lake.delete(F.col("doc_id") % 9 == 4)
    out, route = route_aggregate(lake, ["lang"], ["n_chars"])
    assert route == "lang_source", route
    return out.select(
        "lang",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("sum_n_chars").cast("long").alias("sum_n_chars"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# TTL retention sweep on the lake — expiration as a tagged snapshot.
# ---------------------------------------------------------------------------

@query(
    "q_lake_ttl",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_us
FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
GROUP BY event_type ORDER BY event_type
""",
    description="TTL retention sweep (ClickHouse TTL ... DELETE "
    "analog; ext/manifest.apply_ttl): rows past the explicit cutoff "
    "are deleted in ONE 'ttl'-tagged snapshot — visible in history and "
    "the change feed, rewriting only files that hold expired rows "
    "(COW probe).  The post-sweep lake must equal the relational "
    "filter the oracle computes.",
)
def q_lake_ttl(spark, sf_dir):
    import shutil

    from clickbom_spark.ext.manifest import VersionedLake, apply_ttl
    from clickbom_spark.queries import epoch_us
    from clickbom_spark.queries import scratch_path

    (events,) = load(spark, sf_dir, "events")
    path = scratch_path("events_ttl_lake")
    shutil.rmtree(path, ignore_errors=True)
    lake = VersionedLake.create(
        spark,
        path,
        events.select("event_id", "ts", "event_type").repartitionByRange(
            4, "ts"
        ),
        n_files=4,
    )
    apply_ttl(
        lake, F.col("ts") < F.expr("TIMESTAMP_NTZ '2024-01-02 00:00:00'")
    )
    assert lake._manifest()["message"] == "ttl"
    return (
        lake.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min(epoch_us("ts")).cast("long").alias("min_ts_us"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL): the
# multiplicity-preserving variants the DISTINCT set ops miss — ANSI
# min/difference-of-multiplicities semantics on both engines.
# ---------------------------------------------------------------------------

@query(
    "q_set_ops_bag",
    oracle="""
WITH a AS (
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
), b AS (
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT 'intersect_all' AS op, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b) x
UNION ALL
SELECT 'except_all', CAST(COUNT(*) AS BIGINT)
FROM (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b) y
ORDER BY op
""",
    description="Bag-semantics set operations (INTERSECT ALL / EXCEPT "
    "ALL): multiplicity-preserving ANSI semantics — min / difference "
    "of per-key multiplicities — via Spark's intersectAll/exceptAll, "
    "which compile to count-based hash aggregates plus a generate "
    "(one shuffle each), never a row-pairing join.",
)
def q_set_ops_bag(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    y96 = orders.where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    y97 = orders.where(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_custkey")
    inter = y96.intersectAll(y97).agg(
        F.lit("intersect_all").alias("op"), F.count(F.lit(1)).alias("n")
    )
    exc = y96.exceptAll(y97).agg(
        F.lit("except_all").alias("op"), F.count(F.lit(1)).alias("n")
    )
    return inter.unionByName(exc).orderBy("op")


# ---------------------------------------------------------------------------
# Chi-square independence test over the (event_type × variant)
# contingency table — exact integer counts, one identical double
# formula, rounded past the noise floor.
# ---------------------------------------------------------------------------

@query(
    "q_chi_square",
    oracle="""
WITH o AS (
  SELECT event_type, user_id % 2 AS variant,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(obs) AS DOUBLE) AS n FROM o
), rows_ AS (
  SELECT event_type, CAST(SUM(obs) AS DOUBLE) AS r FROM o GROUP BY 1
), cols_ AS (
  SELECT variant, CAST(SUM(obs) AS DOUBLE) AS c FROM o GROUP BY 1
), terms AS (
  SELECT o.event_type, o.variant,
         (CAST(o.obs AS DOUBLE) - r.r * c.c / t.n)
         * (CAST(o.obs AS DOUBLE) - r.r * c.c / t.n)
         / (r.r * c.c / t.n) AS term
  FROM o JOIN rows_ r USING (event_type)
         JOIN cols_ c USING (variant), tot t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CAST(round(term, 9) AS DECIMAL(18,9))) AS DOUBLE)
         AS chi2_r
FROM terms
""",
    description="Chi-square independence test over the event-type x "
    "variant contingency table: exact integer cell counts, expected "
    "frequencies and per-cell terms by ONE identical double formula, "
    "each term rounded to 9 decimals then decimal-summed (the repo's "
    "float contract) so the statistic is bit-stable — the categorical "
    "companion to the two-proportion z-test.",
)
def q_chi_square(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    o = events.groupBy(
        "event_type", (F.col("user_id") % 2).alias("variant")
    ).agg(F.count(F.lit(1)).alias("obs"))
    tot = o.agg(F.sum("obs").cast("double").alias("n"))
    rows_ = o.groupBy("event_type").agg(
        F.sum("obs").cast("double").alias("r")
    )
    cols_ = o.groupBy("variant").agg(F.sum("obs").cast("double").alias("c"))
    e = F.col("r") * F.col("c") / F.col("n")
    term = (F.col("obs").cast("double") - e) * (
        F.col("obs").cast("double") - e
    ) / e
    terms = (
        o.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "variant")
        .join(F.broadcast(tot))
        .select(F.round(term, 9).cast("decimal(18,9)").alias("t"))
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("t").cast("double").alias("chi2_r"),
    )
