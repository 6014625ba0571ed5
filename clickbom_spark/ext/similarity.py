"""Similarity search over embedding columns.

- ``brute_force_topk``: exact cosine top-k — the baseline
  and the oracle for approximate paths.  Query set × corpus via
  broadcast join (queries are small by construction); per-query top-k
  by window rank.  At 100 TB-scale corpora the corpus side stays
  partitioned; only the query set broadcasts.
- ``rp_lsh_topk``: random-hyperplane LSH — deterministic hyperplanes
  derived from a portable multiplicative hash (no RNG state to ship,
  replicable in any engine), signature = sign bits,
  candidates = bucket equi-join on signature prefix, verified by exact
  cosine within buckets.  The scale path: cost O(n) hashing + bucketed
  verification instead of O(n·q) full scan.

All arithmetic in double, left-fold order, so results are reproducible
and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clickbom_spark.ext.text import fan_out, let
from clickbom_spark.session import local_frame


def _to_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in double (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _safe_div(num: Column, den: Column) -> Column:
    """NULL (excluded by any threshold/rank) instead of an ANSI
    divide-by-zero error for zero-norm vectors."""
    return F.when(den != 0, num / den)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cos, rank), rank 1..k, self-match
    excluded, ties broken by neighbor id (fully deterministic).

    Cost is O(|queries| · |corpus|): the corpus side stays partitioned
    (linear scan), but the query side is broadcast — so the QUERY set is
    size-guarded; use rp_lsh_topk / ivf_topk for large query sets.
    """
    from clickbom_spark.ext.dedup import guard_oracle_size

    queries = guard_oracle_size(queries, "brute_force_topk(queries)", "rp_lsh_topk")
    # Norms are hoisted to per-ROW columns before the pair join: an
    # inline dot/(norm·norm) would re-fold both vectors' self-dot-products
    # for every (query, corpus) pair — ~3× the O(d) array work of the
    # pair stage, the hot loop of this operator.
    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), _to_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _safe_div(
                dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs embedding near-dup: (id_a, id_b, cos) with
    cos >= threshold, id_a < id_b.  O(n²) — the oracle path; the LSH
    variant below is the scale path.  Norms are computed once per row
    before the join, not per pair.  Size-guarded: refuses inputs over
    ORACLE_MAX_ROWS."""
    from clickbom_spark.ext.dedup import guard_oracle_size

    corpus = guard_oracle_size(
        corpus, "cosine_neardup_pairs", "cosine_neardup_pairs_lsh"
    )
    v = fan_out(corpus).select(
        F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    a = v.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = v.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = _safe_div(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def cosine_neardup_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.4,
    planes: int = 4,
    tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup at scale: multi-table RP-LSH self-join on
    (table, signature) for candidates — an equi-shuffle, no cross
    product — then exact-cosine verification.  Recall measured in
    pytest against cosine_neardup_pairs."""
    posted = _posted_with_norm(corpus, id_col, vec_col, planes, tables)
    a = posted.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "tbl", "sig",
    )
    b = posted.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "tbl", "sig",
    )
    cands = (
        a.join(b, ["tbl", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb", "na", "nb")
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = _safe_div(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb"))
    return cands.select("id_a", "id_b", cos.alias("cos")).where(
        F.col("cos") >= threshold
    )


def _posted_with_norm(
    df: DataFrame, id_col: str, vec_col: str, planes: int, tables: int
) -> DataFrame:
    """(id, v, nrm, tbl, sig) posting list: one row per (vector, table).

    The double-cast vector is let-bound so the cast + norm + all
    tables×planes hyperplane folds evaluate over ONE materialized copy
    per row (a plain column reference would re-cast the vector inside
    every fold after CollapseProject inlining)."""

    def fields_of(v: Column) -> Column:
        tblarr = F.transform(
            F.sequence(F.lit(0), F.lit(tables - 1)),
            lambda t: F.struct(
                t.alias("tbl"), rp_signature(v, planes, t).alias("sig")
            ),
        )
        return F.struct(v.alias("v"), norm(v).alias("nrm"), tblarr.alias("tbls"))

    packed = fan_out(df).select(
        F.col(id_col).alias("id"),
        let(_to_double(F.col(vec_col)), fields_of).alias("p"),
    )
    return packed.select(
        "id",
        F.col("p.v").alias("v"),
        F.col("p.nrm").alias("nrm"),
        F.explode("p.tbls").alias("ts"),
    ).select(
        "id", "v", "nrm", F.col("ts.tbl").alias("tbl"), F.col("ts.sig").alias("sig")
    )


def train_centroids_kmeans(
    corpus: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_pct: int | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Trained coarse centroids for IVF: distributed k-means (k-means||
    init) over the embedding column, returned in the (list_id, cv, cnrm)
    shape ``ivf_topk`` consumes.

    100 TB design: training runs on a deterministic hash-sample
    (``sample_pct`` percent of rows by xxhash64 of the id — k-means
    quality saturates long before the full corpus is seen, so a 100 TB
    index trains on e.g. 1%), and only the k centers — a few KB — ever
    reach the driver.  Assignment of the full corpus stays distributed
    in ``ivf_topk`` via one broadcast of the centers.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = fan_out(corpus)
    if sample_pct is not None:
        train = train.where(
            F.pmod(F.abs(F.xxhash64(F.col(id_col))), F.lit(100)) < sample_pct
        )
    feats = train.select(
        array_to_vector(_to_double(F.col(vec_col))).alias("features")
    )
    model = KMeans(k=n_lists, seed=seed, maxIter=max_iter).fit(feats)
    centers = [
        (i + 1, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cents = local_frame(corpus.sparkSession, centers, "list_id int, cv array<double>")
    return cents.withColumn("cnrm", norm(F.col("cv")))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse quantization + probe-limited search.

    Coarse centroids: ``centroids`` if given — (list_id, cv, cnrm), e.g.
    from ``train_centroids_kmeans`` — else the deterministic fallback of
    the first ``n_lists`` corpus vectors by id (data-independent, which
    is what makes the default SQL-oracle-replicable).  Index side: each
    corpus vector is assigned to its nearest centroid (one broadcast of
    n_lists centroids, argmin over cosine).  Query side: each query
    probes its ``n_probe`` nearest lists; candidates are the corpus
    vectors in those lists (equi-join on list id — the scan is limited
    to n_probe/n_lists of the corpus), verified by exact cosine.
    """
    c = fan_out(corpus).select(
        F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", norm(F.col("v")))

    cents = centroids if centroids is not None else (
        c.orderBy("id")
        .limit(n_lists)
        .select(
            F.row_number().over(Window.orderBy("id")).alias("list_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )

    def assign(df, vcol, ncol, keep, n_best):
        scored = df.join(F.broadcast(cents)).select(
            *keep,
            "list_id",
            _safe_div(
                dot(F.col(vcol), F.col("cv")), F.col(ncol) * F.col("cnrm")
            ).alias("csim"),
        )
        w = Window.partitionBy(*keep).orderBy(F.desc("csim"), "list_id")
        return (
            scored.withColumn("crank", F.row_number().over(w))
            .where(F.col("crank") <= n_best)
            .drop("csim", "crank")
        )

    indexed = assign(c, "v", "nrm", ["id", "v", "nrm"], 1)
    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    ).withColumn("qnrm", norm(F.col("qv")))
    probes = assign(q, "qv", "qnrm", ["query_id", "qv", "qnrm"], n_probe)

    scored = (
        indexed.join(F.broadcast(probes), "list_id")
        .where(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _safe_div(
                dot(F.col("qv"), F.col("v")), F.col("qnrm") * F.col("nrm")
            ).alias("cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= k
    )


def semdedup(
    corpus: DataFrame,
    threshold: float = 0.3,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster, then prune
    within-cluster near-duplicates (Abbas et al. 2023, arXiv:2303.09540).

    A vector is REMOVED when some lower-id member of its own cluster has
    cosine similarity >= ``threshold`` to it — the paper's upper-triangle
    max rule, with vector id standing in for the arbitrary matrix order
    (fully deterministic, engine-portable).

    Output: one row per vector — (id, list_id, max_prior_cos, keep).
    ``max_prior_cos`` is NULL for the lowest-id member of a cluster.

    100 TB design: nearest-centroid assignment is one broadcast of the
    k centroids; the pairwise stage is an equi-join on list_id, so its
    cost is Σ s_c² over cluster sizes — bounded by choosing k
    proportional to corpus size (the paper's design: clusters stay at
    ~fixed size, so per-cluster pairwise work is constant and the total
    is linear).  No global pairwise product ever forms.  ``centroids``
    accepts a trained frame (e.g. ``train_centroids_kmeans``); the
    default is the deterministic first-n_clusters-by-id fallback, which
    is what makes the default path SQL-oracle-replicable.
    """
    c = fan_out(corpus).select(
        F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", norm(F.col("v")))

    cents = centroids if centroids is not None else (
        c.orderBy("id")
        .limit(n_clusters)
        .select(
            F.row_number().over(Window.orderBy("id")).alias("list_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )
    scored = c.join(F.broadcast(cents)).select(
        "id", "v", "nrm", "list_id",
        _safe_div(
            dot(F.col("v"), F.col("cv")), F.col("nrm") * F.col("cnrm")
        ).alias("csim"),
    )
    w = Window.partitionBy("id").orderBy(F.desc("csim"), "list_id")
    assigned = (
        scored.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") == 1)
        .select("id", "v", "nrm", "list_id")
    )
    a = assigned.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "list_id",
    )
    b = assigned.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "list_id",
    )
    cos = _safe_div(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb"))
    prior = (
        a.join(b, "list_id")
        .where(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_b").alias("id"), cos.alias("cos"))
        .groupBy("id")
        .agg(F.max("cos").alias("max_prior_cos"))
    )
    return assigned.join(prior, "id", "left").select(
        "id",
        "list_id",
        "max_prior_cos",
        (
            F.col("max_prior_cos").isNull()
            | (F.col("max_prior_cos") < F.lit(threshold))
        ).alias("keep"),
    )


# Knuth multiplicative-hash constant; the hyperplane weight for
# (table t, plane p, dimension d) is the popcount parity of
# ((t*planes + p)*65536 + d + 1) * KNUTH mod 2^32 — plain BIGINT
# arithmetic any engine computes identically, which is what makes the
# LSH paths DuckDB-oracle-checkable bit-for-bit (the reason this
# replaced xxhash64).  Popcount parity mixes all 32 product bits into
# the weight; a single fixed bit of the product left neighboring
# dimensions correlated and measurably hurt recall (0.66 vs 0.98 on
# the sf0.01 corpus at planes=4, tables=16).
KNUTH = 2654435761
_M32 = 4294967296


def _hyperplane_sign(vec: Column, table: Column, plane: int, planes: int) -> Column:
    """Deterministic pseudo-random hyperplane: ±1 weight per dimension
    from a portable multiplicative hash; the signed projection's sign
    is one signature bit."""

    def weight_bit(d: Column) -> Column:
        x = (table * planes + F.lit(plane)) * F.lit(65536) + d + F.lit(1)
        h = (x.cast("bigint") * F.lit(KNUTH)) % F.lit(_M32)
        return F.bit_count(h).bitwiseAND(F.lit(1))

    proj = F.aggregate(
        F.zip_with(
            vec,
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda x, d: F.when(weight_bit(d) == 1, x).otherwise(-x),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))


def rp_signature(vec: Column, planes: int = 8, table: Column | int = 0) -> Column:
    """planes-bit random-hyperplane signature as an int column.

    ``table`` may be a lambda variable (used from inside the posting
    transform) or a plain int."""
    t = table if isinstance(table, Column) else F.lit(table)
    sig = F.lit(0)
    for p in range(planes):
        sig = sig + _hyperplane_sign(vec, t, p, planes) * F.lit(1 << p)
    return sig


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 4,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    L independent hash tables; a corpus vector is a candidate for a
    query if it shares a full signature with it in ANY table (a single
    (table, sig) equi-join after posting each vector once per table).
    Candidates are deduped and verified with exact cosine.  Recall for
    a neighbor with bit-collision prob p is 1-(1-p^planes)^tables —
    tunable; pytest measures it against brute_force_topk.  Scale: the
    corpus posting list is tables× the corpus (linear), the join is an
    equi-shuffle on (table, sig) — never a cross product.
    """
    c = _posted_with_norm(corpus, id_col, vec_col, planes, tables).select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        "tbl",
        "sig",
    )
    q = _posted_with_norm(queries, id_col, vec_col, planes, tables).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "tbl",
        "sig",
    )
    cands = (
        c.join(F.broadcast(q), ["tbl", "sig"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        _safe_div(dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= k
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: each query's
    top-k most similar vectors with a DIFFERENT label — the highest-
    similarity wrong-label examples that make the best negatives.

    Output: (query_id, query_label, neighbor_id, neighbor_label, cos,
    rank).  Same broadcast-query × partitioned-corpus shape as
    :func:`brute_force_topk` with the label-mismatch residual in the
    join, so the per-query candidate stream shrinks before the window;
    at scale compose the same mismatch filter onto :func:`ivf_topk`'s
    probe-limited candidates instead (the query side here is
    size-guarded).
    """
    from clickbom_spark.ext.dedup import guard_oracle_size

    queries = guard_oracle_size(
        queries, "hard_negative_topk(queries)", "ivf_topk + label filter"
    )
    # Same per-row norm hoisting as brute_force_topk: cosine() inline
    # would re-fold both self-dot-products per PAIR (bit-identical
    # values either way — only where the norm is computed moves).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        _to_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        _to_double(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    scored = c.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("query_label") != F.col("neighbor_label")),
    ).select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        _safe_div(
            dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= k)
