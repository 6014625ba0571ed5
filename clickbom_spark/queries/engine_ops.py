"""Engine-operations queries: re-aggregatable partial states
(ClickHouse -State/-Merge combinator semantics), iterative PageRank,
and order-independent table checksums (CHECK TABLE analog).

These are warehouse-operations primitives: incremental rollup
maintenance (merge partial aggregate states instead of rescanning),
iterative graph analytics as one-shuffle-per-round join relays, and
content checksums for replica/migration verification.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickbom_spark.ext import text as X
from clickbom_spark.queries import dec, epoch_us, load, query

# DuckDB twin of ext.text.tokens() — whitespace split, empties dropped.
_TOKENS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"


# DuckDB twin of the portable md5→60-bit-int digest
# (clickbom_spark/ext/dedup.py:312 pattern).
_H15 = "CAST(('0x' || substring(md5({key}), 1, 15)) AS BIGINT)"


@query(
    "q_agg_state_merge",
    # The oracle aggregates directly; the Spark side aggregates each
    # ingest batch into PARTIAL STATES (exact decimal sum + count),
    # merges states, then finalizes — proving state-merge ≡ rescan,
    # which is the contract that makes incremental rollups safe.
    oracle="""
SELECT l_suppkey,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_qty
FROM lineitem
GROUP BY l_suppkey
ORDER BY l_suppkey
""",
    description="Partial-aggregate state merge (ClickHouse "
    "sumState/countState → -Merge): lineitem split into ingest batches, "
    "each reduced to exact decimal (sum, count) states, states merged "
    "and finalized — bit-identical to a direct rescan, the invariant "
    "behind incremental materialized rollups (map-side partial agg is "
    "the same algebra, so the merge tree is arbitrarily deep).",
)
def q_agg_state_merge(spark, sf_dir):
    (li,) = load(spark, sf_dir, "lineitem")
    # Ingest batches: any disjoint split works; use orderkey parity.
    batched = li.withColumn("batch", F.pmod(F.col("l_orderkey"), F.lit(4)))
    states = batched.groupBy("l_suppkey", "batch").agg(
        F.sum(dec("l_quantity")).alias("state_sum"),
        F.count(F.lit(1)).alias("state_cnt"),
    )
    merged = states.groupBy("l_suppkey").agg(
        F.sum("state_sum").alias("sum_dec"),
        F.sum("state_cnt").alias("n_items"),
    )
    return merged.select(
        "l_suppkey",
        F.col("sum_dec").cast("double").alias("sum_qty"),
        "n_items",
        (F.col("sum_dec").cast("double") / F.col("n_items").cast("double")).alias(
            "avg_qty"
        ),
    ).orderBy("l_suppkey")


_PR_D = 0.85
_PR_ITERS = 3
_PR_SCALE = 6

# One PageRank iteration as SQL, parameterized on the previous-ranks CTE.
# Contributions are rounded to a fixed decimal scale and summed exactly
# (order-independent), matching ext/graph.py's fold bit-for-bit; the
# damping update keeps the identical double operation order, including
# (1.0 - 0.85) computed in IEEE double on both sides.
_PR_STEP = """
{out} AS (
  SELECT n.node,
         (CAST(1.0 AS DOUBLE) - CAST({d} AS DOUBLE))
         + CAST({d} AS DOUBLE) * CAST(COALESCE(s.s, 0) AS DOUBLE) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST(round(r.rank / o.outdeg, {scale}) AS DECIMAL(28,{scale}))) AS s
    FROM e
    JOIN {prev} r ON e.src = r.node
    JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) s ON n.node = s.node
)"""


def _pagerank_oracle() -> str:
    steps = ",".join(
        _PR_STEP.format(
            out=f"it{i + 1}",
            prev="r0" if i == 0 else f"it{i}",
            d=_PR_D,
            scale=_PR_SCALE,
        )
        for i in range(_PR_ITERS)
    )
    return f"""
WITH e AS (
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                  'p' || CAST(l_partkey AS VARCHAR) AS dst
  FROM lineitem
), nodes AS (
  SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e
), outdeg AS (
  SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src
), r0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes
),{steps}
SELECT node, rank FROM it{_PR_ITERS}
ORDER BY rank DESC, node
LIMIT 20
"""


@query(
    "q_pagerank_parts",
    oracle=_pagerank_oracle(),
    description="PageRank over the bipartite part↔supplier graph "
    f"({_PR_ITERS} iterations, one shuffle each): join-relay Pregel with "
    "decimal-rounded contribution sums so the floating fold is "
    "order-independent and engine-portable; ranks n-normalized, top-20 "
    "hubs. The representative iterative-algorithm surface "
    "(ext/graph.py).",
    bench=True,
)
def q_pagerank_parts(spark, sf_dir):
    from clickbom_spark.ext.graph import pagerank

    (li,) = load(spark, sf_dir, "lineitem")
    # Iterate on LONG node keys (part k → 2k, supplier k → 2k+1) and
    # decode to the labeled form only at output: every per-iteration
    # shuffle, broadcast, and hash compares 8-byte longs instead of
    # strings — measured ~25% faster at sf0.1 with identical results
    # (the graph, the decimal contribution sums, and the tie-break
    # order are unchanged).
    p = (F.col("l_partkey") * 2).cast("long")
    s = (F.col("l_suppkey") * 2 + 1).cast("long")
    # Distinct BEFORE doubling: deduping the (part, supplier) pairs
    # once and deriving the reverse direction from the deduped frame
    # halves the rows through the dedup exchange and reads lineitem
    # once instead of twice.  The union stays duplicate-free by
    # construction (src parity differs between the two halves), so
    # pagerank's own dedup pass is safely skipped.
    d = li.select(p.alias("src"), s.alias("dst")).distinct()
    edges = d.union(d.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank(
        edges, iterations=_PR_ITERS, damping=_PR_D, assume_distinct=True
    )
    node = (
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("p"), (F.col("node") / 2).cast("long").cast("string")),
        ).otherwise(
            F.concat(
                F.lit("s"), ((F.col("node") - 1) / 2).cast("long").cast("string")
            )
        )
    )
    return (
        ranks.select(node.alias("node"), "rank")
        .orderBy(F.desc("rank"), "node")
        .limit(20)
    )


@query(
    "q_table_checksum",
    oracle=f"""
WITH o AS (
  SELECT {_H15.format(key=(
      "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
      " || '|' || o_orderstatus || '|' || o_orderpriority || '|' ||"
      " CAST(epoch_us(o_orderdate) AS VARCHAR)"
  ))} AS h FROM orders
), c AS (
  SELECT {_H15.format(key=(
      "CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' ||"
      " CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment"
  ))} AS h FROM customer
)
SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
       CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS checksum
FROM c
UNION ALL
SELECT 'orders' AS table_name, COUNT(*) AS n_rows,
       CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS checksum
FROM o
ORDER BY table_name
""",
    description="Order-independent content checksum per table (CHECK "
    "TABLE / replica-verification analog): per-row portable md5-derived "
    "60-bit digest over a canonical column encoding, summed exactly as "
    "decimals — commutative, so partition order and parallelism never "
    "change it; any engine can recompute it for cross-system migration "
    "audits.",
)
def q_table_checksum(spark, sf_dir):
    orders, customer = load(spark, sf_dir, "orders", "customer")

    def h15(key):
        return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")

    o_key = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        epoch_us("o_orderdate").cast("string"),
    )
    c_key = F.concat_ws(
        "|",
        F.col("c_custkey").cast("string"),
        F.col("c_name"),
        F.col("c_nationkey").cast("string"),
        F.col("c_mktsegment"),
    )
    o_sum = orders.select(h15(o_key).alias("h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("checksum"),
    )
    c_sum = customer.select(h15(c_key).alias("h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("checksum"),
    )
    return (
        c_sum.select(F.lit("customer").alias("table_name"), "n_rows", "checksum")
        .unionAll(
            o_sum.select(F.lit("orders").alias("table_name"), "n_rows", "checksum")
        )
        .orderBy("table_name")
    )


_HOPS = 3


@query(
    "q_reachability_3hop",
    # UNION (set) recursion keeps (node, hop) pairs unique per level —
    # the oracle never enumerates paths, matching the BFS frontier
    # plan's per-level dedup.
    oracle=f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                  'p' || CAST(l_partkey AS VARCHAR) AS dst
  FROM lineitem
), seeds AS (
  SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
  FROM supplier WHERE s_nationkey = 0
), walk AS (
  SELECT node, 0 AS hop FROM seeds
  UNION
  SELECT e.dst AS node, w.hop + 1 AS hop
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.hop < {_HOPS}
), first_seen AS (
  SELECT node, MIN(hop) AS hop FROM walk GROUP BY node
)
SELECT hop, COUNT(*) AS n_nodes,
       CAST(SUM(CASE WHEN node LIKE 'p%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_parts,
       CAST(SUM(CASE WHEN node LIKE 's%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suppliers
FROM first_seen
GROUP BY hop
ORDER BY hop
""",
    description=f"Transitive reachability (BOM-explosion shape): BFS to "
    f"{_HOPS} hops from nation-0 suppliers over the part↔supplier "
    "graph — frontier expansion with per-level dedup + anti-join "
    "against visited, so work is O(frontier-degree) per round and the "
    "path-count blow-up of naive transitive closure never happens; "
    "nodes counted by first-reached hop.",
)
def q_reachability_3hop(spark, sf_dir):
    from clickbom_spark.ext.graph import reachable

    li, supplier = load(spark, sf_dir, "lineitem", "supplier")
    p = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    edges = (
        li.select(p.alias("src"), s.alias("dst"))
        .union(li.select(s.alias("src"), p.alias("dst")))
        .distinct()
    )
    seeds = supplier.where(F.col("s_nationkey") == 0).select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node")
    )
    vis = reachable(edges, seeds, max_hops=_HOPS)
    return (
        vis.groupBy("hop")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.when(F.col("node").startswith("p"), 1).otherwise(0))
            .cast("long")
            .alias("n_parts"),
            F.sum(F.when(F.col("node").startswith("s"), 1).otherwise(0))
            .cast("long")
            .alias("n_suppliers"),
        )
        .orderBy("hop")
    )


@query(
    "q_join_fanout_audit",
    # Join-cardinality audit: the per-key match-count distribution that
    # predicts a join's output size (and its skew) BEFORE running it —
    # the check a pipeline runs when a fact-fact join suddenly
    # explodes.  Exact percentiles over the counts-per-key frame.
    oracle="""
WITH fanout AS (
  SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY o_custkey
)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(MIN(n) AS BIGINT) AS min_fanout,
       CAST(quantile_disc(n, 0.5) AS BIGINT) AS p50_fanout,
       CAST(quantile_disc(n, 0.99) AS BIGINT) AS p99_fanout,
       CAST(MAX(n) AS BIGINT) AS max_fanout
FROM fanout
""",
    description="Join-cardinality audit: per-key fan-out distribution "
    "(min/p50/p99/max matches per customer key) computed on the "
    "reduced counts-per-key frame — predicts join output size and "
    "flags skewed keys before a fact-fact join runs; discrete "
    "percentiles are exact.",
)
def q_join_fanout_audit(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    fanout = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return fanout.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.min("n").cast("long").alias("min_fanout"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .cast("long")
        .alias("p50_fanout"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY n)")
        .cast("long")
        .alias("p99_fanout"),
        F.max("n").cast("long").alias("max_fanout"),
    )


@query(
    "q_table_diff",
    # Replica/migration diff: v2 is a deterministic mutation of orders
    # (drop every 97th key, flip status on every 31st); the diff is a
    # single full-outer join on the key comparing row digests — the
    # row-level drill-down companion to q_table_checksum.
    oracle="""
WITH v1 AS (
  SELECT o_orderkey AS k,
         md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'
             || CAST(o_custkey AS VARCHAR)) AS h
  FROM orders
), v2 AS (
  SELECT o_orderkey AS k,
         md5(CAST(o_orderkey AS VARCHAR) || '|' ||
             CASE WHEN o_orderkey % 31 = 0 THEN 'X' ELSE o_orderstatus END
             || '|' || CAST(o_custkey AS VARCHAR)) AS h
  FROM orders WHERE o_orderkey % 97 <> 0
)
SELECT CAST(SUM(CASE WHEN v2.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(SUM(CASE WHEN v1.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_added,
       CAST(SUM(CASE WHEN v1.k IS NOT NULL AND v2.k IS NOT NULL
                      AND v1.h <> v2.h THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       CAST(SUM(CASE WHEN v1.h = v2.h THEN 1 ELSE 0 END) AS BIGINT)
         AS n_same
FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
""",
    description="Table diff (replica drift / migration verification): "
    "row digests compared through ONE full-outer join on the key — "
    "added/removed/changed/same counts in a single shuffle; the "
    "row-level companion to q_table_checksum's table-level sum.",
)
def q_table_diff(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    digest1 = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_custkey").cast("string"),
        )
    )
    v1 = orders.select(F.col("o_orderkey").alias("k"), digest1.alias("h"))
    status2 = F.when(F.col("o_orderkey") % 31 == 0, F.lit("X")).otherwise(
        F.col("o_orderstatus")
    )
    digest2 = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            status2,
            F.col("o_custkey").cast("string"),
        )
    )
    v2 = orders.where(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"), digest2.alias("h")
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    return j.agg(
        F.sum(F.when(F.col("b.k").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.sum(F.when(F.col("a.k").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_added"),
        F.sum(
            F.when(
                F.col("a.k").isNotNull()
                & F.col("b.k").isNotNull()
                & (F.col("a.h") != F.col("b.h")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_changed"),
        F.sum(F.when(F.col("a.h") == F.col("b.h"), 1).otherwise(0))
        .cast("long")
        .alias("n_same"),
    )


@query(
    "q_rollup_routing",
    # Aggregate-navigator contract: a MONTHLY question answered from
    # the DAILY materialized rollup (never the raw events) must equal
    # the direct monthly aggregate — the algebra that lets a serving
    # layer route queries to the smallest sufficient rollup.  Decimal
    # partial states make re-aggregation exact.
    oracle="""
SELECT CAST(EXTRACT(YEAR FROM ts) * 100 + EXTRACT(MONTH FROM ts) AS BIGINT)
         AS month_key,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY month_key, event_type
""",
    description="Rollup routing (aggregate navigator): the monthly "
    "answer is computed FROM the daily materialized rollup — exact "
    "decimal partial states re-aggregate up the time hierarchy "
    "(day→month) bit-identically to the direct aggregate, the "
    "correctness contract that lets a serving layer answer from the "
    "smallest sufficient rollup instead of rescanning raw events.",
)
def q_rollup_routing(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("dec_sum"),
    )
    monthly = daily.groupBy(
        (F.year("day") * 100 + F.month("day")).cast("long").alias("month_key"),
        "event_type",
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum("dec_sum").cast("double").alias("total_value"),
    )
    return monthly.orderBy("month_key", "event_type")


_TERM_A = "spark"
_TERM_B = "merge"


@query(
    "q_inverted_index_search",
    # Posting-list AND query: docs containing BOTH terms found by
    # intersecting the two terms' posting lists (semi-join), never by
    # scanning text twice.  The oracle answers the same question with
    # direct containment predicates.
    oracle=f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len({_TOKENS})) AS BIGINT) AS total_tokens
FROM (
  SELECT source, text FROM documents
  WHERE list_contains({_TOKENS}, '{_TERM_A}')
    AND list_contains({_TOKENS}, '{_TERM_B}')
)
GROUP BY source
ORDER BY source
""",
    description="Inverted-index search primitive: per-term posting "
    "lists (token → doc ids, built once by one explode+distinct) "
    f"answer the AND query ['{_TERM_A}' ∧ '{_TERM_B}'] via posting-"
    "list semi-join intersection — the index-side plan a search layer "
    "runs instead of re-scanning text per query; checked against "
    "direct containment scanning.",
)
def q_inverted_index_search(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", X.tokens(F.col("text")).alias("w")
    )
    postings = toks.select(
        "doc_id", F.explode(F.array_distinct("w")).alias("term")
    )
    hits_a = postings.where(F.col("term") == _TERM_A).select("doc_id")
    hits_b = postings.where(F.col("term") == _TERM_B).select("doc_id")
    both = hits_a.join(hits_b, "doc_id")  # posting intersection
    return (
        toks.join(both, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("w")).cast("long").alias("total_tokens"),
        )
        .orderBy("source")
    )


@query(
    "q_merkle_buckets",
    # Bucketed checksums localize replica divergence: when the table-
    # level sums differ, only mismatched buckets need row-level diffing
    # — anti-entropy repair transfers O(divergence), not O(table).
    oracle=f"""
WITH h AS (
  SELECT o_orderkey % 16 AS bucket,
         {_H15.format(key=(
             "CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'"
             " || CAST(o_custkey AS VARCHAR)"
         ))} AS h
  FROM orders
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS checksum
FROM h
GROUP BY bucket
ORDER BY bucket
""",
    description="Merkle-style bucketed checksums: per-hash-bucket "
    "commutative digest sums localize replica divergence to specific "
    "buckets, so anti-entropy repair diffs O(divergence) rows instead "
    "of the whole table — the bucketed companion to q_table_checksum "
    "(table-level) and q_table_diff (row-level).",
)
def q_merkle_buckets(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    key = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_custkey").cast("string"),
    )
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    return (
        orders.select(
            (F.col("o_orderkey") % 16).cast("long").alias("bucket"),
            h.alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("checksum"),
        )
        .orderBy("bucket")
    )


@query(
    "q_k_anonymity",
    # Privacy audit for training-data release: rows whose quasi-
    # identifier combination appears fewer than k times are
    # re-identification risks.  One aggregation + one conditional
    # rollup — no per-row second pass.
    oracle="""
WITH groups AS (
  SELECT lang, source, n_chars // 100 AS len_bucket, COUNT(*) AS grp_n
  FROM documents
  GROUP BY lang, source, n_chars // 100
)
SELECT COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small_groups,
       CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       CAST(MIN(grp_n) AS BIGINT) AS min_group_size
FROM groups
""",
    description="k-anonymity audit (k=5) over quasi-identifiers "
    "(lang, source, length bucket): groups smaller than k flag "
    "re-identification risk before a training-data release — the "
    "structural privacy check that complements content-level PII "
    "redaction (q_pii_redaction); one aggregation, no second scan.",
)
def q_k_anonymity(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    groups = docs.groupBy(
        "lang", "source", (F.col("n_chars") / 100).cast("long").alias("len_bucket")
    ).agg(F.count(F.lit(1)).alias("grp_n"))
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("grp_n") < 5, 1).otherwise(0))
        .cast("long")
        .alias("n_small_groups"),
        F.sum(F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.min("grp_n").cast("long").alias("min_group_size"),
    )


@query(
    "q_uniq_upto",
    oracle="""
SELECT event_type,
       CAST(LEAST(COUNT(DISTINCT user_id), 31) AS BIGINT)
           AS uniq_upto_30,
       COUNT(DISTINCT user_id) <= 30 AS is_exact
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    description="ClickHouse uniqUpTo(30) analog: exact distinct count "
    "while <= N, saturating at N+1 — the bounded-memory cardinality "
    "probe for 'has this group more than N distinct users'.  Two hash "
    "aggregates (distinct pairs, then capped count per group): linear, "
    "no per-group state beyond the cap's answer; the saturation is in "
    "the AGGREGATION contract, so a 100 TB group costs the same as a "
    "31-user group after the first shuffle.",
)
def q_uniq_upto(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    n = 30
    pairs = events.select("event_type", "user_id").distinct()
    return (
        pairs.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("_d"))
        .select(
            "event_type",
            F.least(F.col("_d"), F.lit(n + 1)).cast("long").alias("uniq_upto_30"),
            (F.col("_d") <= n).alias("is_exact"),
        )
        .orderBy("event_type")
    )
