"""Registry queries, round-8 batch — new operator surface.

Every query is checked bit-exact against its DuckDB oracle by
``tests/test_parity.py``; the strict-parity sweep covers sf0.1 for the
queries whose oracle is not O(n²).

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


_TOKENS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"


# ---------------------------------------------------------------------------
# Exact containment set-similarity join — the ASYMMETRIC relation
# Jaccard misses: a short doc wholly contained in a long one (quotes,
# boilerplate, sub-documents) scores high containment but low Jaccard.
# The Spark side reaches the pair set through the lossless rarity-
# prefix filter; the oracle's direct quadratic join (with the cheap
# |b| >= t*|a| length prefilter) must produce the identical set.
# ---------------------------------------------------------------------------

@query(
    "q_containment_join",
    oracle=f"""
WITH t AS (
  SELECT doc_id, list_distinct({_TOKENS}) AS w FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
             / CAST(len(a.w) AS DOUBLE), 6) AS containment_r
FROM t a JOIN t b
  ON a.doc_id <> b.doc_id
 AND len(b.w) >= CAST(0.8 * len(a.w) AS BIGINT)
WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
      / CAST(len(a.w) AS DOUBLE) >= 0.8
ORDER BY id_a, id_b
""",
    description="EXACT containment set-similarity self-join "
    "(|A∩B|/|A| >= 0.8; ext/dedup.containment_join_prefix): the "
    "asymmetric sub-document/boilerplate relation, via rarity-ordered "
    "prefix postings on the probe side against full postings on the "
    "indexed side — probe prefixes are the corpus's rarest tokens, so "
    "candidates never approach all-pairs; every candidate verified "
    "with the exact intersection.",
)
def q_containment_join(spark, sf_dir):
    from clickbom_spark.ext.dedup import containment_join_prefix
    from clickbom_spark.ext.text import tokens

    (docs,) = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("w"))
    pairs = containment_join_prefix(toks, "doc_id", "w", threshold=0.8)
    return pairs.select(
        "id_a", "id_b", F.round("containment", 6).alias("containment_r")
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov test, distributed-exact: D = max |ECDF
# gap| between click values and purchase values.  Integer cumulative
# counts + one fixed IEEE division per distinct value + an
# order-independent MAX make the statistic bit-identical across
# engines; the Spark side computes it with the value-bucket prefix
# machinery (no global sort), the oracle with a window.
# ---------------------------------------------------------------------------

@query(
    "q_ks_test",
    oracle="""
WITH v AS (
  SELECT value AS x,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY value
), c AS (
  SELECT SUM(ca) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum_a,
         SUM(cb) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum_b,
         SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
  FROM v
)
SELECT round(MAX(ABS(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
                     - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE))), 6)
         AS d_stat_r,
       CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b
FROM c
""",
    description="Two-sample Kolmogorov-Smirnov statistic "
    "(ext/ranks.ks_2sample), distributed-exact: distinct-value counts "
    "per side, value-bucketed prefix sums (no global sort, no "
    "single-partition window over data rows), one max aggregate — "
    "D identical to the oracle's windowed ECDF computation.",
)
def q_ks_test(spark, sf_dir):
    from clickbom_spark.ext.ranks import ks_2sample

    (events,) = load(spark, sf_dir, "events")
    src = events.where(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    out = ks_2sample(src, "value", F.col("event_type") == "click")
    return out.select(
        F.round("d_stat", 6).alias("d_stat_r"), "n_a", "n_b"
    )


# ---------------------------------------------------------------------------
# One-way ANOVA F-statistic across the five event types on value.
# Exactness: integer-cent sums per type (one pivoted hash aggregate),
# then ONE explicit left-associated double formula — no
# order-dependent double summation anywhere, so both engines produce
# the same IEEE result.
# ---------------------------------------------------------------------------

_ANOVA_TYPES = ["click", "error", "purchase", "signup", "view"]


def _anova_oracle() -> str:
    per = ",\n         ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN c ELSE 0 END) AS BIGINT)"
        f" AS s_{t},\n         "
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{t}"
        for t in _ANOVA_TYPES
    )
    ssb_chain = " + ".join(
        f"(CAST(s_{t} AS DOUBLE) * CAST(s_{t} AS DOUBLE)"
        f" / CAST(n_{t} AS DOUBLE))"
        for t in _ANOVA_TYPES
    )
    n_chain = " + ".join(f"n_{t}" for t in _ANOVA_TYPES)
    s_chain = " + ".join(f"s_{t}" for t in _ANOVA_TYPES)
    return f"""
WITH e AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
), p AS (
  SELECT {per},
         CAST(SUM(c * c) AS BIGINT) AS ssq
  FROM e
), f AS (
  SELECT CAST({n_chain} AS BIGINT) AS n,
         CAST({s_chain} AS BIGINT) AS s,
         ({ssb_chain}) AS sum_sq_over_n,
         CAST(ssq AS DOUBLE) AS ssq_d,
         s_click, n_click, s_error, n_error, s_purchase, n_purchase,
         s_signup, n_signup, s_view, n_view
  FROM p
)
SELECT n, CAST(5 AS BIGINT) AS k,
       round(((sum_sq_over_n
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              / CAST(4 AS DOUBLE))
             / ((ssq_d - sum_sq_over_n) / CAST(n - 5 AS DOUBLE)), 6)
         AS f_stat_r
FROM f
"""


@query(
    "q_anova_f",
    oracle=_anova_oracle(),
    description="One-way ANOVA F-statistic across event types on value "
    "(the experimentation-suite significance test next to q_chi_square "
    "and q_ab_test): integer-cent group sums in one pivoted hash "
    "aggregate, then a single explicit IEEE formula — SSB from "
    "sum-of-squares-over-n, SSW by subtraction — bit-identical in any "
    "engine because no double is ever summed in aggregation order.",
)
def q_anova_f(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    aggs = []
    for t in _ANOVA_TYPES:
        is_t = F.col("event_type") == t
        aggs.append(
            F.sum(F.when(is_t, c).otherwise(F.lit(0))).alias(f"s_{t}")
        )
        aggs.append(
            F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias(f"n_{t}")
        )
    aggs.append(F.sum(c * c).alias("ssq"))
    p = events.where(F.col("value").isNotNull()).agg(*aggs)
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    ssb_chain = None
    for t in _ANOVA_TYPES:
        term = d(f"s_{t}") * d(f"s_{t}") / d(f"n_{t}")
        ssb_chain = term if ssb_chain is None else (ssb_chain + term)
    n_chain = None
    s_chain = None
    for t in _ANOVA_TYPES:
        n_chain = (
            F.col(f"n_{t}") if n_chain is None else n_chain + F.col(f"n_{t}")
        )
        s_chain = (
            F.col(f"s_{t}") if s_chain is None else s_chain + F.col(f"s_{t}")
        )
    f = p.select(
        n_chain.cast("long").alias("n"),
        s_chain.cast("long").alias("s"),
        ssb_chain.alias("sum_sq_over_n"),
        F.col("ssq").cast("double").alias("ssq_d"),
    )
    nn, ss = F.col("n").cast("double"), F.col("s").cast("double")
    ssb = F.col("sum_sq_over_n") - ss * ss / nn
    ssw = F.col("ssq_d") - F.col("sum_sq_over_n")
    return f.select(
        "n",
        F.lit(5).cast("long").alias("k"),
        F.round(
            (ssb / F.lit(4.0))
            / (ssw / (F.col("n") - F.lit(5)).cast("double")),
            6,
        ).alias("f_stat_r"),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B lift (Deng et al. 2013, the standard
# experimentation trick): adjust the experiment-period metric with the
# pre-period covariate, theta = cov(pre, post)/var(pre).  Everything
# reduces to integer-cent aggregates over users (one hash aggregate),
# then one fixed IEEE formula — mean(adj | arm) expands algebraically
# so no per-user double is ever summed.
# ---------------------------------------------------------------------------

@query(
    "q_cuped_ab",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS pre,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS post
  FROM events WHERE value IS NOT NULL GROUP BY user_id
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pre) AS BIGINT) AS sp,
         CAST(SUM(post) AS BIGINT) AS sq,
         CAST(SUM(pre * pre) AS BIGINT) AS spp,
         CAST(SUM(pre * post) AS BIGINT) AS spq,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_t,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN pre ELSE 0 END) AS BIGINT)
           AS sp_t,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN post ELSE 0 END) AS BIGINT)
           AS sq_t
  FROM per_user
)
SELECT n, n_t, CAST(n - n_t AS BIGINT) AS n_c,
       round((CAST(n AS DOUBLE) * CAST(spq AS DOUBLE)
              - CAST(sp AS DOUBLE) * CAST(sq AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)), 6) AS theta_r,
       round(CAST(sq_t AS DOUBLE) / CAST(n_t AS DOUBLE)
             - CAST(sq - sq_t AS DOUBLE) / CAST(n - n_t AS DOUBLE), 6)
         AS naive_diff_r,
       round((CAST(sq_t AS DOUBLE) / CAST(n_t AS DOUBLE)
              - CAST(sq - sq_t AS DOUBLE) / CAST(n - n_t AS DOUBLE))
             - ((CAST(n AS DOUBLE) * CAST(spq AS DOUBLE)
                 - CAST(sp AS DOUBLE) * CAST(sq AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                   - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)))
               * (CAST(sp_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                  - CAST(sp - sp_t AS DOUBLE) / CAST(n - n_t AS DOUBLE)), 6)
         AS cuped_diff_r
FROM m
""",
    description="CUPED variance-reduced A/B lift (Deng et al. 2013): "
    "treatment = user_id parity, pre-period (Jan 1-15) covariate "
    "adjusts the experiment-period (Jan 16+) per-user revenue; "
    "theta = cov(pre,post)/var(pre).  Two hash aggregates (per-user "
    "cents, then corpus moments), then one fixed IEEE formula — the "
    "adjusted-mean difference expands algebraically so no per-user "
    "double sum exists.",
)
def q_cuped_ab(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    cut = F.expr("TIMESTAMP_NTZ '2024-01-16 00:00:00'")
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = (
        events.where(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < cut, cents).otherwise(F.lit(0)))
            .alias("pre"),
            F.sum(F.when(F.col("ts") >= cut, cents).otherwise(F.lit(0)))
            .alias("post"),
        )
    )
    is_t = F.col("user_id") % 2 == 1
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre").alias("sp"),
        F.sum("post").alias("sq"),
        F.sum(F.col("pre") * F.col("pre")).alias("spp"),
        F.sum(F.col("pre") * F.col("post")).alias("spq"),
        F.sum(F.when(is_t, 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(is_t, F.col("pre")).otherwise(F.lit(0))).alias("sp_t"),
        F.sum(F.when(is_t, F.col("post")).otherwise(F.lit(0))).alias("sq_t"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    theta = (d("n") * d("spq") - d("sp") * d("sq")) / (
        d("n") * d("spp") - d("sp") * d("sp")
    )
    naive = d("sq_t") / d("n_t") - (
        (F.col("sq") - F.col("sq_t")).cast("double")
        / (F.col("n") - F.col("n_t")).cast("double")
    )
    pre_gap = d("sp_t") / d("n_t") - (
        (F.col("sp") - F.col("sp_t")).cast("double")
        / (F.col("n") - F.col("n_t")).cast("double")
    )
    return m.select(
        "n",
        "n_t",
        (F.col("n") - F.col("n_t")).cast("long").alias("n_c"),
        F.round(theta, 6).alias("theta_r"),
        F.round(naive, 6).alias("naive_diff_r"),
        F.round(naive - theta * pre_gap, 6).alias("cuped_diff_r"),
    )


# ---------------------------------------------------------------------------
# k-NN classification over the embedding corpus (leave-one-out, k=5,
# majority vote): the exact ground-truth evaluation every ANN index
# (IVF / RP-LSH) is calibrated against.  Ranks use the established
# deterministic cosine contract (in-order double fold, ties by
# neighbor id); votes and accuracies are pure integers.
# ---------------------------------------------------------------------------

@query(
    "q_knn_classify",
    oracle="""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS neighbor_id, c.label AS n_label,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e))
              * sqrt(list_dot_product(c.e, c.e))) AS cos
  FROM v q JOIN v c ON q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, true_label, n_label,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
), votes AS (
  SELECT query_id, true_label, n_label,
         CAST(COUNT(*) AS BIGINT) AS cnt, MIN(rank) AS best
  FROM ranked WHERE rank <= 5
  GROUP BY query_id, true_label, n_label
), pred AS (
  SELECT query_id, true_label, n_label AS pred_label,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cnt DESC, best, n_label) AS vr
  FROM votes
)
SELECT true_label AS label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct
FROM pred WHERE vr = 1
GROUP BY true_label ORDER BY label
""",
    description="Leave-one-out 5-NN majority-vote classification over "
    "the embedding corpus (ext/similarity.brute_force_topk): the exact "
    "ground-truth evaluation ANN indexes are calibrated against — "
    "size-guarded exact cosine ranks (deterministic in-order fold, "
    "ties by neighbor id), vote ties broken by (count, best rank, "
    "label); per-label n / n_correct are pure integers.",
)
def q_knn_classify(spark, sf_dir):
    from clickbom_spark.ext.similarity import brute_force_topk

    (emb,) = load(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    topk = brute_force_topk(emb, emb, k=5)
    votes = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "n_label")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("rank").alias("best"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cnt"), "best", "n_label"
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(w))
        .where(F.col("vr") == 1)
        .select("query_id", F.col("n_label").alias("pred_label"))
    )
    joined = pred.join(
        labels.select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
        ),
        "query_id",
    )
    return (
        joined.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Link prediction on the co-purchase graph: common-neighbor Jaccard
# for NON-adjacent node pairs at distance 2 — the classic
# recommendation score.  Wedge join on the shared neighbor (bounded by
# the same basket cap as the triangle count), never all-pairs.
# ---------------------------------------------------------------------------

_EDGE_CTE = """
ok AS (
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
), adj AS (
  SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e
)
"""


@query(
    "q_link_prediction",
    oracle=f"""
WITH {_EDGE_CTE},
deg AS (
  SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY a
), cn AS (
  SELECT x.a AS u, y.a AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM adj x JOIN adj y ON x.b = y.b AND x.a < y.a
  GROUP BY x.a, y.a
), cand AS (
  SELECT cn.u, cn.v, cn.c, du.d AS du, dv.d AS dv
  FROM cn
  JOIN deg du ON du.node = cn.u
  JOIN deg dv ON dv.node = cn.v
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = cn.u AND e.v = cn.v)
)
SELECT u, v, c AS common_neighbors,
       round(CAST(c AS DOUBLE) / CAST(du + dv - c AS DOUBLE), 6) AS score_r
FROM cand
ORDER BY score_r DESC, u, v
LIMIT 20
""",
    description="Common-neighbor Jaccard link prediction on the "
    "basket-capped co-purchase graph (the recommendation score next "
    "to q_triangle_count / q_degree_distribution): wedge equi-join on "
    "the shared neighbor, existing edges anti-joined out, "
    "score = cn / (deg_u + deg_v - cn); top-20 with fully "
    "deterministic (score, u, v) order.",
)
def q_link_prediction(spark, sf_dir):
    from clickbom_spark.queries.staged import copurchase_edges

    (lineitem,) = load(spark, sf_dir, "lineitem")
    e = copurchase_edges(lineitem).localCheckpoint(eager=True)
    adj = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    cn = (
        adj.alias("x")
        .join(adj.alias("y"), F.col("x.b") == F.col("y.b"))
        .where(F.col("x.a") < F.col("y.a"))
        .groupBy(
            F.col("x.a").alias("u"), F.col("y.a").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = (
        cn.join(e, ["u", "v"], "left_anti")
        .join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")),
            "v",
        )
    )
    score = F.round(
        F.col("c").cast("double")
        / (F.col("du") + F.col("dv") - F.col("c")).cast("double"),
        6,
    )
    return (
        cand.select(
            "u", "v",
            F.col("c").cast("long").alias("common_neighbors"),
            score.alias("score_r"),
        )
        .orderBy(F.desc("score_r"), "u", "v")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BFS to convergence: exact hop distance from the co-purchase graph's
# minimum node over an UNKNOWN diameter (unlike the k-hop
# q_reachability_3hop) — the frontier loop runs until it drains.  The
# oracle's recursive CTE carries a generous hop bound; the parity test
# asserts the diameter stays far below it, so both sides converge.
# ---------------------------------------------------------------------------

@query(
    "q_bfs_distances",
    oracle=f"""
WITH RECURSIVE {_EDGE_CTE},
seed AS (SELECT MIN(u) AS node FROM e),
r(node, hop) AS (
  SELECT node, 0 FROM seed
  UNION
  SELECT adj.b, r.hop + 1
  FROM r JOIN adj ON adj.a = r.node
  WHERE r.hop < 40
), dist AS (
  SELECT node, CAST(MIN(hop) AS BIGINT) AS hop FROM r GROUP BY node
)
SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM dist GROUP BY hop ORDER BY hop
""",
    description="BFS hop distances to CONVERGENCE from the co-purchase "
    "graph's min node (ext/graph.bfs_distances): frontier join + "
    "anti-join per level with checkpoint-truncated lineage, iterating "
    "until the frontier drains — the unknown-diameter companion to "
    "the k-hop reachability operator; output is the (hop, node count) "
    "histogram.",
)
def q_bfs_distances(spark, sf_dir):
    from clickbom_spark.ext.graph import bfs_distances
    from clickbom_spark.queries.staged import copurchase_edges

    (lineitem,) = load(spark, sf_dir, "lineitem")
    e = copurchase_edges(lineitem).localCheckpoint(eager=True)
    adj = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    seeds = e.agg(F.min("u").alias("node"))
    dist = bfs_distances(adj, seeds)
    return (
        dist.groupBy(F.col("hop").cast("long").alias("hop"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("hop")
    )


# ---------------------------------------------------------------------------
# DoubleDelta codec size estimate (the ClickHouse DoubleDelta /
# Gorilla storage-analysis question: "how compressible is this
# time-series column?"): per user, delta-of-delta of the event
# timestamps in zig-zag variable width vs raw 64-bit.  Pure integer
# window arithmetic; the one double (log2 of an exact int) is a fixed
# IEEE expression on both sides.
# ---------------------------------------------------------------------------

@query(
    "q_delta_codec_estimate",
    oracle="""
WITH o AS (
  SELECT user_id, epoch_us(ts) AS t,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS t1,
         LAG(epoch_us(ts), 2) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t2
  FROM events
), b AS (
  SELECT user_id,
         CASE WHEN t1 IS NULL OR t2 IS NULL THEN CAST(64 AS BIGINT)
              ELSE (CASE WHEN (t - t1) - (t1 - t2) = 0 THEN CAST(1 AS BIGINT)
                    ELSE CAST(FLOOR(LOG2(CAST(
                           2 * ABS((t - t1) - (t1 - t2))
                           + CASE WHEN (t - t1) - (t1 - t2) < 0
                                  THEN 1 ELSE 0 END AS DOUBLE))) AS BIGINT)
                         + 2 END)
         END AS bits
  FROM o
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(bits) AS BIGINT) AS dd_bits,
       CAST(COUNT(*) * 64 AS BIGINT) AS raw_bits,
       round(CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) * 64 AS DOUBLE), 6)
         AS ratio_r
FROM b GROUP BY user_id ORDER BY user_id
""",
    description="DoubleDelta codec size estimate per user time-series "
    "(ClickHouse DoubleDelta/Gorilla codec analysis): zig-zag "
    "delta-of-delta bit widths from two LAG windows over (ts, "
    "event_id) order, summed as integers vs raw 64-bit — the 'is this "
    "column worth a delta codec' planning signal, all but one fixed "
    "log2 in exact integer arithmetic.",
)
def q_delta_codec_estimate(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = epoch_us("ts")
    o = events.select(
        "user_id",
        t.alias("t"),
        F.lag(t, 1).over(w).alias("t1"),
        F.lag(t, 2).over(w).alias("t2"),
    )
    d2 = (F.col("t") - F.col("t1")) - (F.col("t1") - F.col("t2"))
    z = 2 * F.abs(d2) + F.when(d2 < 0, 1).otherwise(0)
    width = F.when(d2 == 0, F.lit(1).cast("long")).otherwise(
        F.floor(F.log2(z.cast("double"))).cast("long") + 2
    )
    bits = F.when(
        F.col("t1").isNull() | F.col("t2").isNull(), F.lit(64).cast("long")
    ).otherwise(width)
    b = o.select("user_id", bits.alias("bits"))
    return (
        b.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("bits").cast("long").alias("dd_bits"),
            (F.count(F.lit(1)) * 64).cast("long").alias("raw_bits"),
            F.round(
                F.sum("bits").cast("double")
                / (F.count(F.lit(1)) * 64).cast("double"),
                6,
            ).alias("ratio_r"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# LowCardinality dictionary encoding: frequency-ranked codes (most
# frequent value = code 0), the ClickHouse LowCardinality(String) /
# Parquet dictionary-page construction — plus the bits-per-value the
# encoding would need.
# ---------------------------------------------------------------------------

@query(
    "q_dict_encode",
    oracle="""
WITH counts AS (
  SELECT p_type AS value, CAST(COUNT(*) AS BIGINT) AS n
  FROM part GROUP BY p_type
), coded AS (
  SELECT value, n,
         CAST(DENSE_RANK() OVER (ORDER BY n DESC, value) - 1 AS BIGINT)
           AS code
  FROM counts
), card AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_codes FROM coded)
SELECT code, value, n,
       CAST(CEIL(LOG2(CAST(card.n_codes AS DOUBLE))) AS BIGINT)
         AS bits_per_value
FROM coded, card ORDER BY code
""",
    description="LowCardinality dictionary construction over part."
    "p_type (ClickHouse LowCardinality / Parquet dictionary page): "
    "frequency-ranked dense codes (most frequent = 0, ties by value), "
    "plus ceil(log2(cardinality)) bits per encoded value — one hash "
    "aggregate and one window over the dictionary-sized frame.",
)
def q_dict_encode(spark, sf_dir):
    (part,) = load(spark, sf_dir, "part")
    counts = part.groupBy(F.col("p_type").alias("value")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy(F.desc("n"), "value")
    coded = counts.withColumn(
        "code", (F.dense_rank().over(w) - 1).cast("long")
    )
    card = coded.agg(F.count(F.lit(1)).alias("n_codes"))
    return (
        coded.crossJoin(F.broadcast(card))
        .select(
            "code",
            "value",
            F.col("n").cast("long").alias("n"),
            F.ceil(F.log2(F.col("n_codes").cast("double")))
            .cast("long")
            .alias("bits_per_value"),
        )
        .orderBy("code")
    )


# ---------------------------------------------------------------------------
# Sliding median per user (last-5-events window): the robust
# moving-location statistic next to the moving averages.  Spark lacks
# a percentile window aggregate, so the frame is materialized as a
# bounded (5-element) sorted array — constant memory per row — and
# the median read off positionally; DuckDB runs its native windowed
# median.  Both interpolate even counts as the midpoint mean.
# ---------------------------------------------------------------------------

@query(
    "q_sliding_median",
    oracle="""
SELECT event_id, user_id,
       round(median(value) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             6) AS med_r
FROM events ORDER BY user_id, event_id
""",
    description="Sliding median of value over each user's last 5 "
    "events (robust moving location, the groupArrayMovingAvg "
    "counterpart for medians): a bounded 5-element sorted-array frame "
    "per row — constant memory at any scale — with midpoint "
    "interpolation on even counts, matching the oracle's native "
    "windowed median.",
)
def q_sliding_median(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    arr = F.array_sort(F.collect_list(F.col("value")).over(w))
    s = F.size(arr)
    half = F.floor(s / 2).cast("int")
    odd = F.element_at(arr, half + 1)
    even = (
        F.element_at(arr, half) + F.element_at(arr, half + 1)
    ) / F.lit(2.0)
    # collect_list drops NULLs, so an all-NULL frame is empty: the
    # oracle's windowed median returns NULL there, and element_at(_, 0)
    # would be a runtime error — guard explicitly
    med = (
        F.when(s == 0, F.lit(None).cast("double"))
        .when(s % 2 == 1, odd)
        .otherwise(even)
    )
    return events.select(
        "event_id", "user_id", F.round(med, 6).alias("med_r")
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Behavioral entropy per user — the ClickHouse entropy() aggregate
# over each user's event-type mix.  Five known categories pivot into
# one hash aggregate; H is one explicit left-associated chain of
# -(p log2 p) terms, so no double is summed in aggregation order.
# ---------------------------------------------------------------------------

def _entropy_oracle() -> str:
    per = ",\n         ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c_{t}"
        for t in _ANOVA_TYPES
    )
    terms = " + ".join(
        f"(CASE WHEN c_{t} = 0 THEN 0.0 ELSE "
        f"-(CAST(c_{t} AS DOUBLE) / CAST(n AS DOUBLE))"
        f" * LOG2(CAST(c_{t} AS DOUBLE) / CAST(n AS DOUBLE)) END)"
        for t in _ANOVA_TYPES
    )
    return f"""
WITH p AS (
  SELECT user_id, {per},
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
)
SELECT user_id, n AS n_events, round({terms}, 6) AS entropy_r
FROM p ORDER BY user_id
"""


@query(
    "q_user_entropy",
    oracle=_entropy_oracle(),
    description="Shannon entropy of each user's event-type mix (the "
    "ClickHouse entropy() aggregate — behavioral-diversity scoring): "
    "five known categories pivot into one hash aggregate per user, H "
    "is one fixed left-associated IEEE chain of -(p log2 p) terms "
    "(zero-count categories contribute 0), so the score is "
    "bit-identical across engines.",
)
def q_user_entropy(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
        .cast("long")
        .alias(f"c_{t}")
        for t in _ANOVA_TYPES
    ]
    aggs.append(F.count(F.lit(1)).alias("n"))
    p = events.groupBy("user_id").agg(*aggs)
    nn = F.col("n").cast("double")
    h = None
    for t in _ANOVA_TYPES:
        c = F.col(f"c_{t}")
        frac = c.cast("double") / nn
        term = F.when(c == 0, F.lit(0.0)).otherwise(-frac * F.log2(frac))
        h = term if h is None else (h + term)
    return p.select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.round(h, 6).alias("entropy_r"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Zero-copy branch → isolated mutation → CDC merge-back: the
# Git-for-data workflow (Delta shallow clone / lakeFS branch) as one
# query.  The oracle recomputes the post-merge table from the base
# relation: branch edits land, source edits to keys the branch never
# touched survive.
# ---------------------------------------------------------------------------

@query(
    "q_lake_branch",
    oracle="""
WITH src AS (
  SELECT doc_id, source, n_chars FROM documents
), merged AS (
  -- merge-back is whole-row per key: branch-carried keys (src1 rows)
  -- keep the BRANCH values, overwriting the source's concurrent
  -- n_chars edit; keys the branch never touched keep the source edit
  SELECT doc_id,
         CASE WHEN source = 'src1' THEN 'branch-edit' ELSE source END
           AS source,
         CASE WHEN source <> 'src1' AND doc_id % 97 = 0
              THEN n_chars + 1000000 ELSE n_chars END
           AS n_chars
  FROM src
  WHERE NOT (doc_id % 13 = 0 AND source = 'src2')
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM merged GROUP BY source ORDER BY source
""",
    description="Zero-copy branch / mutate / merge-back workflow "
    "(ext/manifest.branch + merge_branch — the Delta shallow-clone / "
    "lakeFS pattern): branching is a metadata-only commit referencing "
    "the source's files; the branch's UPDATE and DELETE rewrite only "
    "affected files INTO the branch (COW isolation both ways, "
    "including a concurrent source edit to keys the branch never "
    "touched); merge-back collapses the branch's change feed into ONE "
    "CDC commit on the source, reading only files the branch rewrote.",
)
def q_lake_branch(spark, sf_dir):
    import uuid as _uuid

    from clickbom_spark.ext.manifest import (
        VersionedLake,
        branch,
        merge_branch,
    )
    from clickbom_spark.queries import scratch_path

    (docs,) = load(spark, sf_dir, "documents")
    tag = _uuid.uuid4().hex[:8]
    path = scratch_path(f"docs_branch_lake_{tag}")
    br_path = scratch_path(f"docs_branch_feature_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(br_path, ignore_errors=True)
    lake = VersionedLake.create(
        spark,
        path,
        docs.select("doc_id", "source", "n_chars").repartitionByRange(
            4, "doc_id"
        ),
        n_files=4,
    )
    br = branch(lake, br_path)
    # branch-side edits (COW into the branch dir only)
    br.update(F.col("source") == "src1", {"source": F.lit("branch-edit")})
    br.delete((F.col("doc_id") % 13 == 0) & (F.col("source") == "src2"))
    # concurrent source-side edit to keys the branch never touched:
    # doc_id % 97 rows do NOT satisfy either branch predicate filter
    # per file... they may share files; merge_branch still wins per-key
    # only for keys the branch's CDF carries
    lake.update(
        F.col("doc_id") % 97 == 0,
        {"n_chars": F.col("n_chars") + F.lit(1000000)},
    )
    merge_branch(lake, br, ["doc_id"])
    return (
        lake.read()
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Per-group weighted sampling without replacement — the "k docs per
# source, proportional to length" curation primitive, derandomized
# (Efraimidis–Spirakis with the md5 uniform) so the sample is a pure
# function of (doc_id, n_chars) and fully oracle-checkable.
# ---------------------------------------------------------------------------

@query(
    "q_weighted_sample_by_group",
    oracle="""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         round(-ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                            1, 6)) AS BIGINT) + 0.5)
                   / 16777216.0)
               / CAST(n_chars AS DOUBLE), 10) AS es_key
  FROM documents WHERE n_chars > 0
), ranked AS (
  SELECT source, doc_id, n_chars, es_key,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY es_key, doc_id) AS es_rank
  FROM keyed
)
SELECT source, doc_id, n_chars, CAST(es_rank AS BIGINT) AS es_rank
FROM ranked WHERE es_rank <= 10 ORDER BY source, es_rank
""",
    description="Per-group weighted sampling without replacement "
    "(ext/sampling.weighted_sample_per_key): 10 docs per source, "
    "inclusion probability proportional to n_chars — derandomized "
    "Efraimidis-Spirakis (-ln(u)/w with the portable md5-hex "
    "uniform), one partitioned window top-k per group, no global "
    "sort; the oracle recomputes membership bit-for-bit.",
)
def q_weighted_sample_by_group(spark, sf_dir):
    from clickbom_spark.ext.sampling import weighted_sample_per_key

    (docs,) = load(spark, sf_dir, "documents")
    out = weighted_sample_per_key(
        docs.select("source", "doc_id", "n_chars"),
        ["source"],
        "n_chars",
        k=10,
        id_col="doc_id",
    )
    return out.select(
        "source", "doc_id", "n_chars", F.col("es_rank").cast("long")
        .alias("es_rank")
    ).orderBy("source", "es_rank")


# ---------------------------------------------------------------------------
# The lake consumed AS a streaming source (Spark 4 Python Data Source
# API; streaming/lake_source.py): three append commits become three
# micro-batches read executor-side, and the drained stream must equal
# the relational whole — which is what the oracle computes.
# ---------------------------------------------------------------------------

@query(
    "q_lake_stream_source",
    oracle="""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source ORDER BY source
""",
    description="The versioned lake as a first-class Structured "
    "Streaming SOURCE (streaming/lake_source.LakeStreamDataSource, "
    "Spark 4 Python Data Source API — the Delta streaming-source "
    "analog): manifest versions are offsets, each append commit "
    "becomes a micro-batch planned one input partition per added file "
    "(parquet reads run on executors, never through the driver), "
    "checkpointed offsets give exactly-once resumption (law pinned in "
    "tests/test_lake_source.py).  Here the corpus lands in three "
    "append commits, the stream drains availableNow, and the result "
    "must equal the relational aggregate of the whole table.",
)
def q_lake_stream_source(spark, sf_dir):
    import uuid as _uuid

    from clickbom_spark.ext.manifest import VersionedLake
    from clickbom_spark.queries import scratch_path
    from clickbom_spark.streaming.lake_source import LakeStreamDataSource

    (docs,) = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", "n_chars")
    path = scratch_path(f"docs_stream_lake_{_uuid.uuid4().hex[:8]}")
    shutil.rmtree(path, ignore_errors=True)
    # three append commits: create + two fresh-key upserts
    lake = VersionedLake.create(
        spark, path, base.where(F.col("doc_id") % 3 == 0), n_files=2
    )
    lake.upsert(base.where(F.col("doc_id") % 3 == 1), ["doc_id"])
    lake.upsert(base.where(F.col("doc_id") % 3 == 2), ["doc_id"])

    spark.dataSource.register(LakeStreamDataSource)
    view = f"lake_stream_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("lake_stream")
        .option("path", path)
        .load()
        .writeStream.format("memory")
        .queryName(view)
        .option(
            "checkpointLocation", scratch_path(f"ck_{view}")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table(view)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test (ClickHouse welchTTest): click vs
# purchase on integer cents — side moments in one pivoted hash
# aggregate, then one fixed IEEE formula for t and the
# Welch–Satterthwaite df.
# ---------------------------------------------------------------------------

@query(
    "q_welch_ttest",
    oracle="""
WITH e AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
), p AS (
  SELECT
    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
      AS n1,
    CAST(SUM(CASE WHEN event_type = 'click' THEN c ELSE 0 END) AS BIGINT)
      AS s1,
    CAST(SUM(CASE WHEN event_type = 'click' THEN c * c ELSE 0 END)
         AS BIGINT) AS ss1,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS n2,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END) AS BIGINT)
      AS s2,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN c * c ELSE 0 END)
         AS BIGINT) AS ss2
  FROM e
), m AS (
  SELECT n1, n2,
         (CAST(ss1 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
           / CAST(n1 - 1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS vn1,
         (CAST(ss2 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           / CAST(n2 - 1 AS DOUBLE) / CAST(n2 AS DOUBLE) AS vn2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mdiff
  FROM p
)
SELECT n1, n2,
       round(mdiff / sqrt(vn1 + vn2), 6) AS t_stat_r,
       round((vn1 + vn2) * (vn1 + vn2)
             / (vn1 * vn1 / CAST(n1 - 1 AS DOUBLE)
                + vn2 * vn2 / CAST(n2 - 1 AS DOUBLE)), 6) AS df_r
FROM m
""",
    description="Welch's unequal-variance t-test (ClickHouse "
    "welchTTest analog) between click and purchase values: "
    "integer-cent side moments from one pivoted hash aggregate, then "
    "a single fixed IEEE expression for the t statistic and the "
    "Welch-Satterthwaite degrees of freedom — bit-identical across "
    "engines, no order-dependent double sums.",
)
def q_welch_ttest(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    is1 = F.col("event_type") == "click"
    is2 = F.col("event_type") == "purchase"
    p = events.where(
        F.col("value").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    ).agg(
        F.sum(F.when(is1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(is1, c).otherwise(F.lit(0))).alias("s1"),
        F.sum(F.when(is1, c * c).otherwise(F.lit(0))).alias("ss1"),
        F.sum(F.when(is2, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(is2, c).otherwise(F.lit(0))).alias("s2"),
        F.sum(F.when(is2, c * c).otherwise(F.lit(0))).alias("ss2"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    vn1 = (
        (d("ss1") - d("s1") * d("s1") / d("n1"))
        / (F.col("n1") - 1).cast("double")
        / d("n1")
    )
    vn2 = (
        (d("ss2") - d("s2") * d("s2") / d("n2"))
        / (F.col("n2") - 1).cast("double")
        / d("n2")
    )
    mdiff = d("s1") / d("n1") - d("s2") / d("n2")
    m = p.select("n1", "n2", vn1.alias("vn1"), vn2.alias("vn2"),
                 mdiff.alias("mdiff"))
    v1, v2 = F.col("vn1"), F.col("vn2")
    return m.select(
        "n1", "n2",
        F.round(F.col("mdiff") / F.sqrt(v1 + v2), 6).alias("t_stat_r"),
        F.round(
            (v1 + v2) * (v1 + v2)
            / (
                v1 * v1 / (F.col("n1") - 1).cast("double")
                + v2 * v2 / (F.col("n2") - 1).cast("double")
            ),
            6,
        ).alias("df_r"),
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U with exact midrank tie handling (ClickHouse
# mannWhitneyUTest): the rank computation rides the same value-bucket
# prefix machinery as the KS test — integer doubled rank sums and the
# tie-correction term, then one fixed z formula.
# ---------------------------------------------------------------------------

@query(
    "q_mann_whitney",
    oracle="""
WITH v AS (
  SELECT value AS x,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS cb
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY value
), r AS (
  SELECT ca, cb, ca + cb AS c,
         COALESCE(SUM(ca + cb) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum_before
  FROM v
), s AS (
  SELECT CAST(SUM(ca * (2 * cum_before + c + 1)) AS BIGINT) AS r1_x2,
         CAST(SUM(c * c * c - c) AS BIGINT) AS tie_term,
         CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
  FROM r
), u AS (
  SELECT CAST(2 * n_a * n_b + n_a * (n_a + 1) - r1_x2 AS BIGINT) AS u1_x2,
         n_a, n_b, tie_term,
         CAST(n_a + n_b AS BIGINT) AS n
  FROM s
)
SELECT CAST(u1_x2 AS DOUBLE) / 2.0 AS u1,
       n_a, n_b,
       round((CAST(u1_x2 AS DOUBLE) / 2.0
              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
             / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                    * (CAST(n + 1 AS DOUBLE)
                       - CAST(tie_term AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))),
             6) AS z_r
FROM u
""",
    description="Mann-Whitney U test with exact midrank tie handling "
    "(ClickHouse mannWhitneyUTest; ext/ranks.mann_whitney_u): doubled "
    "rank sums and the tie-correction term accumulate as exact longs "
    "over the same value-bucket prefix machinery as the KS test (no "
    "global sort), then one fixed IEEE z formula with the standard "
    "tie-corrected variance.",
)
def q_mann_whitney(spark, sf_dir):
    from clickbom_spark.ext.ranks import mann_whitney_u

    (events,) = load(spark, sf_dir, "events")
    src = events.where(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    u = mann_whitney_u(src, "value", F.col("event_type") == "click")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = (F.col("n_a") + F.col("n_b")).cast("long")
    u1 = F.col("u1_x2").cast("double") / F.lit(2.0)
    sigma = F.sqrt(
        na * nb / F.lit(12.0)
        * (
            (n + 1).cast("double")
            - F.col("tie_term").cast("double")
            / (n.cast("double") * (n - 1).cast("double"))
        )
    )
    return u.select(
        u1.alias("u1"),
        "n_a",
        "n_b",
        F.round((u1 - na * nb / F.lit(2.0)) / sigma, 6).alias("z_r"),
    )


# ---------------------------------------------------------------------------
# Counter increase / bounding ratio (PromQL increase(), ClickHouse
# deltaSum + boundingRatio): per user, the sum of positive deltas of
# the value series (exact integer cents) and the end-to-end rate over
# the observed span.
# ---------------------------------------------------------------------------

@query(
    "q_counter_increase",
    oracle="""
WITH o AS (
  SELECT user_id, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS c,
         epoch_us(ts) AS t,
         LAG(CAST(ROUND(value * 100) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_c,
         FIRST_VALUE(CAST(ROUND(value * 100) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS first_c,
         LAST_VALUE(CAST(ROUND(value * 100) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS last_c,
         MIN(epoch_us(ts)) OVER (PARTITION BY user_id) AS t0,
         MAX(epoch_us(ts)) OVER (PARTITION BY user_id) AS t1
  FROM events WHERE value IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN prev_c IS NOT NULL AND c > prev_c
                THEN c - prev_c ELSE 0 END) AS BIGINT) AS increase_cents,
       round(CAST(MAX(last_c) - MAX(first_c) AS DOUBLE)
             / (CAST(MAX(t1) - MAX(t0) AS DOUBLE) / 1000000.0),
             6) AS bounding_ratio_r
FROM o GROUP BY user_id HAVING COUNT(*) > 1 ORDER BY user_id
""",
    description="Counter increase + bounding ratio per user series "
    "(PromQL increase() / ClickHouse deltaSum + boundingRatio): sum "
    "of positive deltas in exact integer cents via one LAG window, "
    "end-to-end rate (last - first) / span from first/last-value "
    "windows over the same (ts, event_id) order — single-event "
    "series excluded (undefined span).",
)
def q_counter_increase(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_all = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = F.round(F.col("value") * 100).cast("long")
    t = epoch_us("ts")
    o = events.where(F.col("value").isNotNull()).select(
        "user_id",
        c.alias("c"),
        F.lag(c).over(w).alias("prev_c"),
        F.first(c).over(w_all).alias("first_c"),
        F.last(c).over(w_all).alias("last_c"),
        F.min(t).over(w_all).alias("t0"),
        F.max(t).over(w_all).alias("t1"),
    )
    inc = F.when(
        F.col("prev_c").isNotNull() & (F.col("c") > F.col("prev_c")),
        F.col("c") - F.col("prev_c"),
    ).otherwise(F.lit(0))
    return (
        o.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(inc).cast("long").alias("increase_cents"),
            F.round(
                (F.max("last_c") - F.max("first_c")).cast("double")
                / ((F.max("t1") - F.max("t0")).cast("double")
                   / F.lit(1000000.0)),
                6,
            ).alias("bounding_ratio_r"),
        )
        .where(F.col("n_events") > 1)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# End-to-end streaming pipeline: versioned lake → lake_stream source →
# exactly-once epoch sink → second versioned lake.  Composes the
# custom streaming source with the epoch-marked upsert sink; the
# drained sink lake must equal the relational aggregate of the
# original table, which is what the oracle computes.
# ---------------------------------------------------------------------------

@query(
    "q_stream_pipeline_e2e",
    oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang ORDER BY lang
""",
    description="End-to-end streaming pipeline across two versioned "
    "lakes: the source lake's append commits stream through the "
    "lake_stream data source (offsets = manifest versions, "
    "executor-side file reads) into streaming_epoch_sink's "
    "exactly-once epoch-marked upserts on a SINK lake — replayed "
    "epochs skip per-store, so the drained sink equals the source "
    "exactly and the final aggregate matches the relational oracle.",
)
def q_stream_pipeline_e2e(spark, sf_dir):
    import uuid as _uuid

    from clickbom_spark.ext.manifest import (
        VersionedLake,
        streaming_epoch_sink,
    )
    from clickbom_spark.queries import scratch_path
    from clickbom_spark.streaming.lake_source import LakeStreamDataSource

    (docs,) = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", "n_chars")
    tag = _uuid.uuid4().hex[:8]
    src_path = scratch_path(f"pipe_src_{tag}")
    dst_path = scratch_path(f"pipe_dst_{tag}")
    src = VersionedLake.create(
        spark, src_path, base.where(F.col("doc_id") % 2 == 0), n_files=2
    )
    src.upsert(base.where(F.col("doc_id") % 2 == 1), ["doc_id"])

    dst = VersionedLake.create(
        spark, dst_path, base.where(F.lit(False)), n_files=1
    )
    spark.dataSource.register(LakeStreamDataSource)
    q = (
        spark.readStream.format("lake_stream")
        .option("path", src_path)
        .load()
        .writeStream.foreachBatch(streaming_epoch_sink(dst, ["doc_id"]))
        .option("checkpointLocation", scratch_path(f"pipe_ck_{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return (
        dst.read()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER as a lake snapshot: correctness (box aggregate
# unchanged — the oracle's ground truth) plus the physical laws the
# engine itself checks (empty CDF; strictly better zone-map pruning),
# surfaced as constant boolean columns the oracle asserts.
# ---------------------------------------------------------------------------

@query(
    "q_lake_optimize",
    oracle="""
WITH g AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY l_partkey, l_suppkey
), b AS (
  SELECT CAST(FLOOR(MAX(l_partkey) / 5) AS BIGINT) AS p_hi,
         CAST(FLOOR(MAX(l_suppkey) / 5) AS BIGINT) AS s_hi
  FROM g
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_box,
       CAST(SUM(qty) AS BIGINT) AS qty_box,
       TRUE AS cdf_empty, TRUE AS pruning_improved
FROM g, b WHERE l_partkey <= b.p_hi AND l_suppkey <= b.s_hi
""",
    description="Delta OPTIMIZE ZORDER analog as a lake snapshot "
    "(ext/manifest.optimize_zorder + ext/layout Morton interleave): "
    "rewrite the live set range-clustered on z(l_partkey, l_suppkey) "
    "in ONE commit; the box aggregate is unchanged (oracle ground "
    "truth), the change feed across the commit is empty, and "
    "zone-map pruning strictly improves — the physical laws ride as "
    "oracle-asserted constants.",
)
def q_lake_optimize(spark, sf_dir):
    import uuid as _uuid

    from clickbom_spark.ext.manifest import (
        VersionedLake,
        change_feed,
        commit_with_stats,
        optimize_zorder,
        read_pruned,
    )
    from clickbom_spark.queries import scratch_path

    (lineitem,) = load(spark, sf_dir, "lineitem")
    # distinct (part, supplier) grain: a true row identity for the CDF
    base = (
        lineitem.groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    path = scratch_path(f"zopt_{_uuid.uuid4().hex[:8]}")
    lake = VersionedLake.create(
        spark, path, base.repartition(8), n_files=8
    )
    commit_with_stats(lake, ["l_partkey", "l_suppkey"])
    hi = base.agg(
        F.floor(F.max("l_partkey") / 5).cast("long").alias("p"),
        F.floor(F.max("l_suppkey") / 5).cast("long").alias("s"),
    ).collect()[0]
    p_hi, s_hi = int(hi["p"]), int(hi["s"])
    _, _, kept0 = read_pruned(lake, "l_partkey", 0, p_hi)
    v0 = lake.current_version()
    v1 = optimize_zorder(lake, ["l_partkey", "l_suppkey"], target_files=8)
    cdf_empty = (
        change_feed(lake, v0, v1, ["l_partkey", "l_suppkey"])
        .limit(1)
        .count()
        == 0
    )
    pruned, _, kept1 = read_pruned(lake, "l_partkey", 0, p_hi)
    box = pruned.where(
        (F.col("l_partkey") <= p_hi) & (F.col("l_suppkey") <= s_hi)
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_box"),
        F.sum("qty").cast("long").alias("qty_box"),
    )
    return box.select(
        "n_box",
        "qty_box",
        F.lit(bool(cdf_empty)).alias("cdf_empty"),
        F.lit(bool(kept1 < kept0)).alias("pruning_improved"),
    )


# ---------------------------------------------------------------------------
# Column rename/drop as metadata-only schema evolution: old files
# resolve through the manifest mapping, mutation rewrites carry the
# logical schema physically, and the final table equals the oracle's
# straightforwardly renamed view of the base relation.
# ---------------------------------------------------------------------------

@query(
    "q_rename_drop_column",
    oracle="""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN CAST(-1 AS BIGINT)
              ELSE n_chars END AS char_count
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(char_count) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN char_count = -1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM t
""",
    description="Metadata-only column rename + drop (Delta "
    "column-mapping semantics; ext/manifest.rename_column/"
    "drop_column): n_chars renames to char_count and source drops "
    "with ZERO file rewrites — old-generation files resolve through "
    "the manifest mapping, the post-rename UPDATE writes the logical "
    "schema physically (mixed generations coalesce), and the final "
    "table equals the oracle's renamed view of the base relation.",
)
def q_rename_drop_column(spark, sf_dir):
    import uuid as _uuid

    from clickbom_spark.ext.manifest import (
        VersionedLake,
        drop_column,
        rename_column,
    )
    from clickbom_spark.queries import scratch_path

    (docs,) = load(spark, sf_dir, "documents")
    path = scratch_path(f"renm_{_uuid.uuid4().hex[:8]}")
    lake = VersionedLake.create(
        spark,
        path,
        docs.select("doc_id", "source", "n_chars").repartitionByRange(
            4, "doc_id"
        ),
        n_files=4,
    )
    rename_column(lake, "n_chars", "char_count")
    drop_column(lake, "source")
    # mutation AFTER the evolution: rewrites carry the logical schema
    lake.update(F.col("doc_id") % 11 == 0, {"char_count": F.lit(-1)})
    return lake.read().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("char_count").cast("long").alias("total_chars"),
        F.sum(F.when(F.col("char_count") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
    )


# ---------------------------------------------------------------------------
# TTL GROUP BY rollup — expired rows aggregate instead of vanish (the
# ClickHouse `TTL ... GROUP BY ... SET x = sum(x)` retention policy).
# The oracle recomputes fresh ∪ per-group-rolled-expired directly.
# ---------------------------------------------------------------------------

@query(
    "q_ttl_rollup",
    oracle="""
WITH src AS (
  SELECT event_type,
         CAST(EXTRACT(day FROM ts) AS BIGINT) AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), fresh AS (
  SELECT * FROM src WHERE day >= 16
), rolled AS (
  SELECT event_type, CAST(MAX(day) AS BIGINT) AS day,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM src WHERE day < 16 GROUP BY event_type
), u AS (
  SELECT * FROM fresh UNION ALL SELECT * FROM rolled
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(MIN(day) AS BIGINT) AS min_day
FROM u GROUP BY event_type ORDER BY event_type
""",
    description="TTL with aggregation (ClickHouse TTL ... GROUP BY "
    "analog; ext/manifest.apply_ttl_rollup): rows older than the "
    "cutoff collapse to one row per event_type (max day, summed "
    "cents) in ONE ttl-rollup snapshot rewriting only files that held "
    "expired rows; fresh rows untouched.  The post-sweep lake equals "
    "the oracle's fresh-union-rolled recomputation.",
)
def q_ttl_rollup(spark, sf_dir):
    import uuid as _uuid

    from clickbom_spark.ext.manifest import VersionedLake, apply_ttl_rollup
    from clickbom_spark.queries import scratch_path

    (events,) = load(spark, sf_dir, "events")
    src = events.where(F.col("value").isNotNull()).select(
        "event_type",
        F.dayofmonth("ts").cast("long").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    path = scratch_path(f"ttlr_{_uuid.uuid4().hex[:8]}")
    lake = VersionedLake.create(
        spark, path, src.repartitionByRange(4, "day"), n_files=4
    )
    apply_ttl_rollup(
        lake, F.col("day") < 16, ["event_type"],
        {"day": "max", "cents": "sum"},
    )
    assert lake._manifest()["message"] == "ttl-rollup"
    return (
        lake.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.min("day").cast("long").alias("min_day"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# CHECK constraints: a violating commit is REFUSED whole (no snapshot,
# table unchanged), a compliant one lands — surfaced as
# oracle-asserted constants beside the final aggregate ground truth.
# ---------------------------------------------------------------------------

@query(
    "q_lake_constraints",
    oracle="""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN n_chars + 5 ELSE n_chars END
           AS n_chars
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       TRUE AS violation_refused, TRUE AS table_unchanged_after_refusal
FROM t
""",
    description="Delta-style CHECK constraints (ext/manifest."
    "add_constraint): n_chars >= 0 is validated against existing data "
    "at add time, a violating UPDATE is refused WHOLE (no snapshot "
    "published, version unchanged — both surfaced as oracle-asserted "
    "constants), and the compliant UPDATE lands; final table equals "
    "the oracle's view with only the compliant edit applied.",
)
def q_lake_constraints(spark, sf_dir):
    import uuid as _uuid

    from clickbom_spark.ext.manifest import (
        ConstraintViolation,
        VersionedLake,
        add_constraint,
    )
    from clickbom_spark.queries import scratch_path

    (docs,) = load(spark, sf_dir, "documents")
    path = scratch_path(f"cons_{_uuid.uuid4().hex[:8]}")
    lake = VersionedLake.create(
        spark,
        path,
        docs.select("doc_id", "n_chars").repartitionByRange(4, "doc_id"),
        n_files=4,
    )
    add_constraint(lake, "chars_nonneg", "n_chars >= 0")
    v_before = lake.current_version()
    refused = False
    try:
        lake.update(
            F.col("doc_id") % 5 == 0,
            {"n_chars": F.col("n_chars") - F.lit(10_000_000)},
        )
    except ConstraintViolation:
        refused = True
    unchanged = (
        lake.current_version() == v_before
        and lake.read().where(F.col("n_chars") < 0).limit(1).count() == 0
    )
    lake.update(
        F.col("doc_id") % 7 == 0, {"n_chars": F.col("n_chars") + F.lit(5)}
    )
    return lake.read().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.lit(bool(refused)).alias("violation_refused"),
        F.lit(bool(unchanged)).alias("table_unchanged_after_refusal"),
    )


# ---------------------------------------------------------------------------
# The ClickHouse dialect shim end-to-end: a query written in the
# REFERENCE's SQL dialect (countIf / sumIf / uniqExact / argMax /
# quantileExact(p)(x) / toStartOfDay / intDiv / PREWHERE) runs
# unchanged through translate_clickhouse_sql; the oracle computes the
# same semantics in ANSI SQL.
# ---------------------------------------------------------------------------

_CH_SQL = """
SELECT event_type,
       count() AS n,
       countIf(value > 100) AS n_big,
       round(sumIf(value, value > 100), 2) AS big_sum_r,
       uniqExact(user_id) AS n_users,
       argMax(user_id, ts) AS last_user,
       round(quantileExact(0.5)(value), 6) AS med_r,
       intDiv(count(), 10) AS n_div10
FROM events
PREWHERE value IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "q_clickhouse_dialect",
    oracle="""
WITH e AS (SELECT * FROM events WHERE value IS NOT NULL)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_big,
       round(SUM(CASE WHEN value > 100 THEN value END), 2) AS big_sum_r,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       arg_max(user_id, ts) AS last_user,
       round(quantile_cont(value, 0.5), 6) AS med_r,
       CAST(FLOOR(COUNT(*) / 10) AS BIGINT) AS n_div10
FROM e GROUP BY event_type ORDER BY event_type
""",
    description="The reference's OWN SQL dialect running unchanged "
    "(clickbom_spark/dialect.translate_clickhouse_sql): countIf / "
    "sumIf / uniqExact / argMax / quantileExact(p)(x) / count() / "
    "intDiv / PREWHERE translate to Spark SQL through a quote- and "
    "paren-aware rewriter (parametric aggregates parsed, argument "
    "orders fixed, PREWHERE merged into WHERE); the oracle computes "
    "identical semantics in ANSI SQL — so a ClickHouse user's query "
    "text is a first-class input to this engine.",
)
def q_clickhouse_dialect(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_SQL, sf_dir)
    # normalize integer-ish columns for the cross-engine hash
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("n_big").cast("long").alias("n_big"),
        "big_sum_r",
        F.col("n_users").cast("long").alias("n_users"),
        "last_user",
        "med_r",
        F.col("n_div10").cast("long").alias("n_div10"),
    )
