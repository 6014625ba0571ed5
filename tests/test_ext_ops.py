"""Validation of the approximate (scale-path) operators against their
exact oracles — recall/precision on the planted near-duplicates, plus
unit checks on the text operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickbom_spark.ext import dedup as D
from clickbom_spark.ext import similarity as S
from clickbom_spark.ext import text as X
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def documents(spark):
    from clickbom_spark.session import read_table

    return read_table(spark, SF_CORRECT, "documents").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    from clickbom_spark.session import read_table

    return read_table(spark, SF_CORRECT, "embeddings").cache()


def pairs_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_minhash_lsh_finds_planted_pairs(spark, documents):
    """LSH candidates + exact verify must equal the exact all-pairs
    result at threshold 0.8 on this corpus (25 planted pairs); the
    verify step guarantees precision, banding must deliver recall."""
    exact = pairs_set(D.ngram_jaccard_pairs(documents, threshold=0.8))
    lsh = pairs_set(D.minhash_lsh_pairs(documents, threshold=0.8))
    assert len(exact) == 25
    assert lsh == exact


def test_minhash_signatures_vary_by_seed(spark, documents):
    sigs = D.minhash_signatures(documents.limit(5)).collect()
    for r in sigs:
        assert len(set(r["sig"])) > 1, "seeded min-hashes must differ across seeds"


def test_simhash_separates_planted_dups(spark, documents):
    """Planted near-dup pairs concentrate at small Hamming distance;
    random pairs concentrate near bits/2.  (With the portable 60-bit
    md5 signature the tails can brush — 2 of 25 planted pairs sit at
    distance 9 on this corpus — so the invariant is concentration, not
    perfect separation.)"""
    exact = pairs_set(D.ngram_jaccard_pairs(documents, threshold=0.8))
    sh = documents.select(
        "doc_id", D.simhash(F.col("text")).alias("sig")
    ).collect()
    sig = {r["doc_id"]: r["sig"] for r in sh}

    def ham(a, b):
        return bin(sig[a] ^ sig[b]).count("1")

    dup_d = [ham(a, b) for a, b in exact]
    assert sum(d <= 8 for d in dup_d) / len(dup_d) >= 0.9, dup_d
    assert max(dup_d) <= 12, f"planted dups too far apart: {dup_d}"
    ids = sorted(sig)[:40]
    rand_d = [
        ham(a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (a, b) not in exact
    ]
    assert sum(rand_d) / len(rand_d) > 15  # random pairs center near 30
    assert sum(d > 8 for d in rand_d) / len(rand_d) > 0.95


def test_simhash_pairs_blocking_matches_direct(spark, documents):
    """The banded simhash join must equal the direct all-pairs Hamming
    filter exactly — pigeonhole guarantees recall (9 blocks, dist<=8),
    the post-join distance predicate guarantees precision."""
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in D.simhash_pairs(documents, max_distance=8).collect()
    }
    sh = documents.select(
        "doc_id", D.simhash(F.col("text")).alias("sig")
    ).collect()
    sig = {r["doc_id"]: r["sig"] for r in sh}
    ids = sorted(sig)
    direct = {
        (a, b, bin(sig[a] ^ sig[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sig[a] ^ sig[b]).count("1") <= 8
    }
    assert got == direct


def test_connected_components_match_union_find(spark, documents):
    pairs = D.ngram_jaccard_pairs(documents, threshold=0.8)
    pair_list = [(r["id_a"], r["id_b"]) for r in pairs.collect()]

    # local union-find ground truth
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pair_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}

    got = {
        r["id"]: r["component"]
        for r in D.connected_components(pairs).collect()
    }
    assert got == expected


def test_keep_cluster_representatives(spark, documents):
    pairs = D.ngram_jaccard_pairs(documents, threshold=0.8)
    kept = D.keep_cluster_representatives(documents, pairs)
    comps = {r["id"]: r["component"] for r in D.connected_components(pairs).collect()}
    n_dropped = sum(1 for i, c in comps.items() if i != c)
    assert kept.count() == documents.count() - n_dropped
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    for i, c in comps.items():
        assert (i in kept_ids) == (i == c)


def test_rp_lsh_recall_vs_brute_force(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(embeddings, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.rp_lsh_topk(
            embeddings, queries, k=10, planes=4, tables=16
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall collapsed: {recall}"


def test_neardup_lsh_recall_vs_exact(spark, embeddings):
    exact = pairs_set(S.cosine_neardup_pairs(embeddings, threshold=0.4))
    approx = pairs_set(S.cosine_neardup_pairs_lsh(embeddings, threshold=0.4))
    assert len(exact) > 0
    assert approx <= exact  # verify step guarantees precision
    recall = len(approx) / len(exact)
    assert recall >= 0.8, f"near-dup LSH recall collapsed: {recall}"


def test_ivf_topk_recall_vs_brute_force(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(embeddings, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(
            embeddings, queries, k=10, n_lists=16, n_probe=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # probing half the lists of untrained (sampled) centroids: recall
    # well above the n_probe/n_lists=0.5 random-scan floor
    assert recall >= 0.6, f"IVF recall collapsed: {recall}"


def test_ivf_kmeans_centroids_shape_and_recall(spark, embeddings):
    cents = S.train_centroids_kmeans(embeddings, n_lists=16, seed=42)
    rows = cents.collect()
    assert len(rows) == 16
    assert {r["list_id"] for r in rows} == set(range(1, 17))
    dim = len(embeddings.select("embedding").first()["embedding"])
    assert all(len(r["cv"]) == dim for r in rows)
    assert all(r["cnrm"] > 0 for r in rows)

    queries = embeddings.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(embeddings, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(
            embeddings, queries, k=10, n_lists=16, n_probe=8, centroids=cents
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"k-means IVF recall collapsed: {recall}"


def test_kmeans_training_sample_is_deterministic(spark, embeddings):
    """The hash-sample gate (the 100 TB training path) is a pure
    function of the id — same rows selected on every run."""
    a = S.train_centroids_kmeans(embeddings, n_lists=8, seed=7, sample_pct=50)
    b = S.train_centroids_kmeans(embeddings, n_lists=8, seed=7, sample_pct=50)
    ra = sorted((r["list_id"], tuple(r["cv"])) for r in a.collect())
    rb = sorted((r["list_id"], tuple(r["cv"])) for r in b.collect())
    assert ra == rb


def test_brute_force_topk_excludes_self_and_ranks(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 3)
    out = S.brute_force_topk(embeddings, queries, k=5).collect()
    by_q = {}
    for r in out:
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos"]))
    for q, rows in by_q.items():
        rows.sort()
        assert [r for r, _ in rows] == [1, 2, 3, 4, 5]
        cosines = [c for _, c in rows]
        assert cosines == sorted(cosines, reverse=True)


@pytest.mark.slow
def test_similarity_ops_survive_degenerate_vectors(spark):
    """Null and zero-norm vectors must yield NULL cosine (excluded by
    thresholds/ranks), not an ANSI divide-by-zero error."""
    emb = spark.createDataFrame(
        [(1, None), (2, [0.0] * 4), (3, [1.0, 0.0, 0.0, 0.0]), (4, [0.5, 0.5, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    assert S.cosine_neardup_pairs(emb, threshold=0.0).count() == 1  # (3,4)
    assert S.brute_force_topk(emb, emb, k=2).count() > 0
    assert S.ivf_topk(emb, emb, k=2, n_lists=2, n_probe=2).count() > 0


@pytest.mark.slow
def test_text_ops_survive_degenerate_text(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "one")],
        "doc_id long, text string",
    )
    assert df.select(X.quality_score(F.col("text"))).count() == 4
    assert df.select(X.winnowing_fingerprints(F.col("text"))).count() == 4
    assert D.fingerprint_dedup(df).count() >= 2
    assert D.ngram_jaccard_pairs(df, threshold=0.0).count() == 6  # all pairs


def test_apply_in_pandas_centroids_match_expressions(spark, embeddings):
    """applyInPandas (grouped Arrow batches + numpy) must agree with
    the pure-expression posexplode aggregation — validates the grouped
    Pandas-UDF surface against the JVM path."""
    import numpy as np
    import pandas as pd

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.stack(pdf["embedding"].to_numpy()).astype("float64").mean(axis=0)
        return pd.DataFrame(
            {"label": [int(pdf["label"].iloc[0])], "centroid": [m.tolist()]}
        )

    udf_rows = {
        r["label"]: r["centroid"]
        for r in embeddings.groupBy("label")
        .applyInPandas(centroid, schema="label int, centroid array<double>")
        .collect()
    }

    expr_rows = (
        embeddings.select(
            "label", F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias("pos", "val")
        )
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("m"))
        .collect()
    )
    expr = {}
    for r in expr_rows:
        expr.setdefault(r["label"], {})[r["pos"]] = r["m"]

    for label, cent in udf_rows.items():
        want = [expr[label][i] for i in range(len(cent))]
        assert cent == pytest.approx(want, rel=1e-9)


def test_fingerprint_ignores_case_punct_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "different text")],
        "doc_id long, text string",
    )
    out = D.fingerprint_dedup(df)
    assert out.count() == 2


def test_winnowing_shared_substring_guarantee(spark):
    """Docs sharing a substring of length >= k + window - 1 must share
    at least one fingerprint; disjoint docs share none."""
    common = "the quick brown fox jumps over the lazy dog repeatedly"
    df = spark.createDataFrame(
        [
            (1, "PREFIX one " + common + " SUFFIX alpha"),
            (2, "other opening words " + common + " different tail"),
            (3, "completely unrelated content with no overlap whatsoever xyz"),
        ],
        "doc_id long, text string",
    )
    rows = df.select(
        "doc_id", X.winnowing_fingerprints(F.col("text")).alias("fps")
    ).collect()
    fps = {r["doc_id"]: set(r["fps"]) for r in rows}
    assert fps[1] & fps[2], "shared substring must produce shared fingerprints"
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])


def test_winnowing_compression(spark, documents):
    """Fingerprint count must be a small fraction of gram count
    (density ~2/(window+1)) — the point of winnowing at scale."""
    out = documents.limit(50).select(
        F.length(X.normalize_text(F.col("text"))).alias("n_chars"),
        F.size(X.winnowing_fingerprints(F.col("text"))).alias("n_fps"),
    ).collect()
    for r in out:
        if r["n_chars"] > 100:
            assert r["n_fps"] <= 0.7 * r["n_chars"]
            assert r["n_fps"] >= 1


def test_quality_score_ranges(spark, documents):
    rows = documents.select(X.quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)


def test_lang_id_und_on_no_stopwords(spark):
    df = spark.createDataFrame([(1, "zzz qqq xxx")], "doc_id long, text string")
    assert df.select(X.lang_id(F.col("text")).alias("l")).collect()[0]["l"] == "und"


def test_shingles_short_text(spark):
    df = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    out = df.select(X.shingles(F.col("text")).alias("g")).collect()[0]["g"]
    assert out == ["one two"]


# ---------------------------------------------------------------- ranks

def test_with_global_rank_matches_total_order_window(spark, monkeypatch):
    """The distributed bucketed rank must equal the single-partition
    Window.orderBy row_number it replaces — exactly, including ties on
    the leading column resolved by the tie-break column."""
    import random

    from pyspark.sql import Window

    from clickbom_spark.ext import ranks
    from clickbom_spark.ext.ranks import with_global_rank

    monkeypatch.setattr(ranks, "_default_buckets", lambda df: 16)
    rng = random.Random(7)
    # heavy ties on v to exercise cross-bucket tie handling
    rows = [(i, float(rng.randint(0, 40))) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {
        r["id"]: r["rk"]
        for r in with_global_rank(df, ["v", "id"], rank_col="rk")
        .select("id", "rk")
        .collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["rk"]
        for r in df.select("id", F.row_number().over(w).alias("rk")).collect()
    }
    assert got == want


def test_ntile_expr_matches_sql_ntile(spark):
    """ntile_expr(rank, n, k) must reproduce SQL NTILE(k) for totals
    that are below, equal to, and not divisible by k."""
    from pyspark.sql import Window

    from clickbom_spark.ext.ranks import ntile_expr

    for n, k in [(7, 10), (20, 10), (25, 10), (101, 7)]:
        df = spark.createDataFrame([(i,) for i in range(1, n + 1)], "i long")
        w = Window.orderBy("i")
        out = df.select(
            "i",
            F.ntile(k).over(w).cast("long").alias("want"),
            ntile_expr(F.col("i"), F.lit(n), k).alias("got"),
        ).collect()
        bad = [(r["i"], r["want"], r["got"]) for r in out if r["want"] != r["got"]]
        assert not bad, (n, k, bad[:5])


def test_with_global_rank_null_leads_rank_first_not_dropped(spark, monkeypatch):
    """NULL lead values must land in bucket 0 and rank FIRST (Spark's
    ascending default) — a NULL bucket would silently drop rows at the
    offset equi-join."""
    from pyspark.sql import Window

    from clickbom_spark.ext import ranks
    from clickbom_spark.ext.ranks import with_global_rank

    monkeypatch.setattr(ranks, "_default_buckets", lambda df: 4)
    rows = [(1, None), (2, 5.0), (3, None), (4, 1.0), (5, 3.0)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = with_global_rank(df, ["v", "id"], rank_col="rk")
    got = {r["id"]: r["rk"] for r in out.collect()}
    assert len(got) == 5  # nothing dropped
    w = Window.orderBy(F.col("v").asc_nulls_first(), "id")
    want = {
        r["id"]: r["rk"]
        for r in df.select("id", F.row_number().over(w).alias("rk")).collect()
    }
    assert got == want


def test_with_global_rank_huge_bucket_count_capped_and_exact(
    spark, monkeypatch
):
    """The derived bucket count is clamped to _MAX_BUCKETS: a huge plan
    estimate (1 PB → 2^25 buckets unclamped) must neither bloat the
    bucket expression nor change a single rank value."""
    from pyspark.sql import Window

    from clickbom_spark.ext import ranks
    from clickbom_spark.ext.ranks import with_global_rank

    monkeypatch.setattr(ranks, "plan_size_bytes", lambda df: 1 << 50)
    df = spark.createDataFrame(
        [(i, float(i % 37)) for i in range(500)], "id long, v double"
    )
    assert ranks._default_buckets(df) == ranks._MAX_BUCKETS
    out = with_global_rank(df, ["v", "id"], rank_col="rk")
    got = {r["id"]: r["rk"] for r in out.select("id", "rk").collect()}
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["rk"]
        for r in df.select("id", F.row_number().over(w).alias("rk")).collect()
    }
    assert got == want
    assert ranks._MAX_BUCKETS == 256  # documented cap


def test_with_global_rank_list_built_frame_has_no_size_estimate(spark):
    """A frame built with createDataFrame over a Python list is a
    LogicalRDD, which Spark sizes at Long.MaxValue.  That placeholder is
    no estimate: the bucket count is the no-estimate default, not the
    256-bucket maximum, and every rank stays exact."""
    from pyspark.sql import Window

    from clickbom_spark.ext import ranks
    from clickbom_spark.ext.ranks import with_global_rank
    from clickbom_spark.ext.scale import plan_size_bytes

    df = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(10)], "id long, v double"
    )
    assert plan_size_bytes(df) is None
    assert plan_size_bytes(spark.range(10)) > 0
    assert ranks._default_buckets(df) == min(
        spark.sparkContext.defaultParallelism, ranks._MAX_BUCKETS
    )
    out = with_global_rank(df, ["v", "id"], rank_col="rk")
    got = {r["id"]: r["rk"] for r in out.select("id", "rk").collect()}
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["rk"]
        for r in df.select("id", F.row_number().over(w).alias("rk")).collect()
    }
    assert got == want


def test_with_global_rank_preserves_colliding_column_names(spark, monkeypatch):
    """An input that already has _bkt/_off/_total columns must come out
    with those columns intact (unique temp names, no clobber)."""
    from clickbom_spark.ext import ranks
    from clickbom_spark.ext.ranks import with_global_rank

    monkeypatch.setattr(ranks, "_default_buckets", lambda df: 4)
    rows = [(1, 2.0, "x", 10, 99), (2, 1.0, "y", 20, 98)]
    df = spark.createDataFrame(
        rows, "id long, v double, _bkt string, _off long, _total long"
    )
    out = with_global_rank(df, ["v", "id"], rank_col="rk")
    assert {"_bkt", "_off", "_total", "rk"} <= set(out.columns)
    got = {r["id"]: (r["_bkt"], r["_off"], r["_total"], r["rk"])
           for r in out.collect()}
    assert got == {1: ("x", 10, 99, 2), 2: ("y", 20, 98, 1)}


def test_gopher_repetition_profile_matches_brute_force(spark):
    """All nine Gopher signals (dup5..dup10 char coverage, top2..top4
    char fraction) must equal a direct Python reference on random docs
    with planted repeats, plus the degenerate edges (empty doc, pure
    repetition, punctuation-only tokens)."""
    import random
    import re
    from collections import Counter

    def norm(s):
        s = re.sub(r"[^a-z0-9\s]", "", s.lower())
        return re.sub(r"\s+", " ", s).strip()

    def brute(textv):
        w = [t for t in norm(textv).split(" ") if t]
        m = len(w)
        tc = sum(len(x) for x in w)
        out = {}
        for n in range(5, 11):
            if m < n or tc == 0:
                out[f"dup{n}_frac"] = 0.0
                continue
            grams = [" ".join(w[i : i + n]) for i in range(m - n + 1)]
            c = Counter(grams)
            covered = set()
            for i, g in enumerate(grams):
                if c[g] > 1:
                    covered.update(range(i, i + n))
            out[f"dup{n}_frac"] = sum(len(w[j]) for j in covered) / tc
        for n in (2, 3, 4):
            if m < n or tc == 0:
                out[f"top{n}_frac"] = 0.0
                continue
            grams = [" ".join(w[i : i + n]) for i in range(m - n + 1)]
            c = Counter(grams)
            out[f"top{n}_frac"] = max(
                cnt * (len(g) - (n - 1)) for g, cnt in c.items()
            ) / tc
        return out

    rng = random.Random(7)
    vocab = ["apple", "bee", "cat", "dog", "egg", "fox", "gnu", "hat"]
    docs = []
    for i in range(40):
        m = rng.randint(0, 30)
        words = [rng.choice(vocab) for _ in range(m)]
        if i % 3 == 0 and m > 12:
            words = words + words[:7] + words[2:9]
        docs.append((i, " ".join(words)))
    docs += [
        (100, ""),
        (101, "one two " * 6),
        (102, "x! y? x, y. x; y: x y"),
        (103, "a " * 50),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = df.select(
        "doc_id", "text", X.gopher_repetition_profile(F.col("text")).alias("p")
    ).collect()
    for r in rows:
        want = brute(r["text"])
        got = r["p"].asDict()
        for k, v in want.items():
            assert abs(got[k] - v) < 1e-12, (r["doc_id"], k, got[k], v)


def test_pyspark_lambda_arity_trap_documented(spark):
    """Regression guard for the pyspark higher-order-function arity
    trap: a `lambda v, n=n:` body passed to a HOF silently becomes a
    TWO-arg (value, index) lambda because pyspark decides arity from
    the SIGNATURE — the default is overwritten with the index column.
    ext.text binds loop parameters through factory functions instead;
    this test pins the pyspark behavior so a future refactor back to
    default-arg lambdas fails loudly."""
    df = spark.createDataFrame([([10, 20, 30],)], "a array<int>")
    bound = 5
    out = df.select(
        F.transform("a", lambda v, bound=bound: v + bound).alias("r")
    ).collect()[0]["r"]
    # pyspark bound `bound` to the element INDEX, not 5:
    assert out == [10, 21, 32]  # v + index, NOT v + 5


def test_duplicate_token_spans_planted_substrings(spark):
    """Planted repeats must surface as exactly the right maximal runs:
    a 12-token phrase shared by two docs (cross-doc), a doc repeating
    its own 10-token window (within-doc), and unique docs yielding no
    rows.  Window L=10, so a 12-token shared phrase = 3 repeated
    windows merged into one run of 12 tokens."""
    from clickbom_spark.ext.dedup import duplicate_token_spans

    phrase = " ".join(f"w{i}" for i in range(12))          # 12 shared tokens
    selfrep = " ".join(f"s{i}" for i in range(10))         # 10-token unit
    docs = [
        (1, "alpha beta " + phrase + " gamma delta"),      # phrase at pos 2
        (2, phrase + " zeta eta theta iota kappa"),        # phrase at pos 0
        (3, selfrep + " " + selfrep),                      # self-repeat
        (4, "totally unique words that never repeat anywhere at all ok"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    runs = {
        (r["doc_id"], r["run_start"], r["run_end"], r["n_windows"])
        for r in duplicate_token_spans(df, window=10).collect()
    }
    # docs 1/2: 12-token phrase -> 3 windows, span 12 tokens
    # doc 3: 20 tokens "s0..s9 s0..s9"; only windows at pos 0 and 10
    # repeat (the straddling windows are unique).  Their covered spans
    # [0,10) and [10,20) touch (gap == L), so they merge into ONE
    # maximal contiguous run [0,20) — the removal-set union.
    assert (1, 2, 14, 3) in runs
    assert (2, 0, 12, 3) in runs
    assert (3, 0, 20, 2) in runs
    assert not any(r[0] == 4 for r in runs)
    assert len(runs) == 3


def test_duplicate_token_spans_overlapping_nonadjacent_windows(spark):
    """Two repeated windows at positions 0 and 2 (gap < L) cover the
    overlapping spans [0,10) and [2,12): they must merge into ONE run
    of 12 tokens — consecutive-only islands double-counted this union
    as 10 + 10 = 20 dup tokens."""
    from clickbom_spark.ext.dedup import duplicate_token_spans

    w0 = [f"t{i}" for i in range(13)]           # t0..t12
    docs = [
        (1, " ".join(w0)),                       # both windows + tail
        (2, " ".join(w0[0:10])),                 # repeats window at 0
        (3, " ".join(w0[2:12])),                 # repeats window at 2
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    runs = {
        (r["doc_id"], r["run_start"], r["run_end"], r["n_windows"])
        for r in duplicate_token_spans(df, window=10).collect()
    }
    assert (1, 0, 12, 2) in runs                 # ONE merged 12-token run
    assert (2, 0, 10, 1) in runs and (3, 0, 10, 1) in runs
    assert len(runs) == 3
    assert sum(e - s for (_, s, e, _) in runs) == 12 + 10 + 10


def test_semdedup_prunes_planted_near_duplicates(spark):
    """Cluster-then-prune: with 2 deterministic centroids (vectors 1,2),
    a vector nearly parallel to v1 lands in v1's cluster and is removed
    (lower-id neighbor above threshold); an orthogonal vector in the
    same cluster survives."""
    rows = [
        (1, [1.0, 0.0, 0.0]),    # centroid/cluster A anchor
        (2, [0.0, 1.0, 0.0]),    # centroid/cluster B anchor
        (3, [0.99, 0.01, 0.0]),  # ~parallel to v1 -> cluster A, pruned
        (4, [0.0, 0.9, 0.44]),   # cluster B, cos(v2,v4)<0.95 -> kept
        (5, [0.01, 0.99, 0.0]),  # ~parallel to v2 -> cluster B, pruned
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["id"]: r for r in S.semdedup(df, threshold=0.95, n_clusters=2).collect()}
    assert out[1]["keep"] and out[1]["max_prior_cos"] is None
    assert out[2]["keep"] and out[2]["max_prior_cos"] is None
    assert not out[3]["keep"] and out[3]["max_prior_cos"] > 0.95
    assert out[4]["keep"]
    assert not out[5]["keep"]
    # cluster assignment followed nearest centroid
    assert out[3]["list_id"] == out[1]["list_id"]
    assert out[4]["list_id"] == out[2]["list_id"]
    assert out[5]["list_id"] == out[2]["list_id"]


def test_semdedup_keeps_exactly_one_of_identical_group(spark):
    """A group of identical vectors in one cluster keeps only its
    lowest id — the deterministic representative."""
    rows = [
        (1, [1.0, 0.0]),   # centroid A
        (2, [0.0, 1.0]),   # centroid B (genuinely distinct anchors)
        (10, [0.5, 0.5]),
        (11, [0.5, 0.5]),
        (12, [0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["id"]: r["keep"] for r in S.semdedup(df, threshold=0.999, n_clusters=2).collect()}
    kept_dups = [i for i in (10, 11, 12) if out[i]]
    assert kept_dups == [10]


def test_semdedup_accepts_trained_centroids(spark):
    """A caller-supplied centroid frame (e.g. k-means output) replaces
    the deterministic fallback; results still partition every vector."""
    rows = [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)]) for i in range(1, 10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.train_centroids_kmeans(df, n_lists=3, seed=7, max_iter=5)
    out = S.semdedup(df, threshold=0.999, n_clusters=3, centroids=cents).collect()
    assert len(out) == 9
    # identical direction triples keep exactly one member each
    assert sum(1 for r in out if r["keep"]) == 3


def test_dsir_scores_prefer_target_like_documents(spark):
    """DSIR importance: documents written in the TARGET subset's
    vocabulary must outscore documents in a disjoint vocabulary, even
    when mislabeled — the whole point of importance resampling (select
    by content, not by label)."""
    from clickbom_spark.queries.curation import dsir_scores

    A = "alpha beta gamma alpha delta beta"          # target-like vocab
    B = "zork blub quux zork fnord blub"             # raw-only vocab
    docs = [
        (1, A, "en"), (2, A + " epsilon", "en"), (3, A, "en"),
        (4, B, "de"), (5, B + " grue", "de"),
        (6, A + " beta", "de"),                      # mislabeled target-like
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    lw = {
        r["doc_id"]: float(r["lw"])
        for r in dsir_scores(df, F.col("lang") == "en").collect()
    }
    a_docs, b_docs = [1, 2, 3, 6], [4, 5]
    assert min(lw[i] for i in a_docs) > max(lw[i] for i in b_docs), lw


def test_semdedup_survives_zero_norm_vectors(spark):
    """A zero vector has NULL cosine to everything (the repo's guarded
    divide): it must still be assigned to a cluster deterministically
    and be KEPT (null similarities can never exceed the threshold)."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [0.0, 0.0]),   # zero norm
        (4, [1.0, 0.01]),  # near-dup of v1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["id"]: r for r in S.semdedup(df, threshold=0.95, n_clusters=2).collect()}
    assert len(out) == 4
    assert out[3]["keep"] and out[3]["max_prior_cos"] is None
    assert not out[4]["keep"]


def test_duplicate_token_spans_random_corpus_vs_bruteforce(spark):
    """Fixed-seed random corpora over a tiny vocabulary (forcing heavy
    window repeats): the operator's runs must be disjoint,
    non-touching (maximal), and cover exactly the brute-force union of
    repeated-window spans."""
    import random

    from clickbom_spark.ext.dedup import duplicate_token_spans
    from clickbom_spark.ext.text import normalize_text, tokens as toks_expr

    rng = random.Random(20260814)
    L = 4
    docs = []
    for i in range(40):
        n = rng.randint(0, 30)
        docs.append((i, " ".join(rng.choice("ab cd ef".split()) for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # brute force over the SAME normalization the operator applies
    norm = {
        r["doc_id"]: list(r["w"])
        for r in df.select(
            "doc_id", toks_expr(normalize_text(F.col("text"))).alias("w")
        ).collect()
    }
    from collections import Counter

    wins = Counter()
    for d, w in norm.items():
        for p in range(len(w) - L + 1):
            wins[tuple(w[p : p + L])] += 1
    expected_cover = {}
    for d, w in norm.items():
        cov = set()
        for p in range(len(w) - L + 1):
            if wins[tuple(w[p : p + L])] >= 2:
                cov.update(range(p, p + L))
        if cov:
            expected_cover[d] = cov

    got = {}
    for r in duplicate_token_spans(df, window=L).collect():
        got.setdefault(r["doc_id"], []).append((r["run_start"], r["run_end"]))
    assert set(got) == set(expected_cover)
    for d, runs in got.items():
        runs.sort()
        # disjoint AND non-touching => maximal
        for (s1, e1), (s2, e2) in zip(runs, runs[1:]):
            assert s2 > e1, (d, runs)
        cover = set()
        for s, e in runs:
            assert e - s >= L
            cover.update(range(s, e))
        assert cover == expected_cover[d], d


def test_with_global_prefix_sum_matches_total_order_window(spark, monkeypatch):
    """Bucketed distributed prefix sum == the single-partition
    running-sum window, under heavy lead-value ties and any input
    partitioning."""
    import random

    from pyspark.sql import Window as W

    from clickbom_spark.ext import ranks
    from clickbom_spark.ext.ranks import with_global_prefix_sum

    monkeypatch.setattr(ranks, "_default_buckets", lambda df: 16)
    rng = random.Random(7)
    rows = [(i, rng.randint(0, 9), rng.randint(0, 50)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long, tok long").repartition(13)
    w = W.orderBy("v", "id").rowsBetween(W.unboundedPreceding, W.currentRow)
    expected = {
        r["id"]: r["p"]
        for r in df.select("id", F.sum("tok").over(w).alias("p")).collect()
    }
    got = {
        r["id"]: r["pfx"]
        for r in with_global_prefix_sum(
            df, ["v", "id"], "tok", prefix_col="pfx"
        ).collect()
    }
    assert got == expected


def test_shard_by_budget_balances_token_sums(spark):
    """Every shard's token sum is within one row's worth of the
    budget; shards are contiguous in the given order; rows are never
    split."""
    import random

    from clickbom_spark.ext.ranks import shard_by_budget

    rng = random.Random(11)
    rows = [(i, rng.randint(1, 40)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, tok long").repartition(7)
    budget = 250
    out = shard_by_budget(df, ["id"], "tok", budget=budget).collect()
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append((r["id"], r["tok"]))
    shards = sorted(by_shard)
    assert shards == list(range(len(shards)))  # dense shard ids
    max_tok = max(t for _, t in rows)
    for s in shards:
        tot = sum(t for _, t in by_shard[s])
        if s < shards[-1]:
            # a full shard: budget reached, overshoot bounded by one row
            assert budget <= tot + max_tok and tot < budget + max_tok, (s, tot)
        # contiguity: id ranges don't interleave between shards
    prev_max = -1
    for s in shards:
        ids = sorted(i for i, _ in by_shard[s])
        assert ids[0] > prev_max
        prev_max = ids[-1]
    assert sum(t for _, t in rows) == sum(
        t for s in shards for _, t in by_shard[s]
    )


def test_semdedup_random_corpus_vs_bruteforce(spark):
    """Fixed-seed random vectors: the keep/prune decisions must equal a
    local Python replay of the deterministic-centroid SemDeDup rule
    (nearest centroid by cosine with list_id tie-break, prune when a
    lower-id cluster member exceeds the threshold)."""
    import math
    import random

    rng = random.Random(20260814)
    dim, n, k, thr = 6, 60, 4, 0.9
    vecs = {
        i: [rng.choice([-1.0, 0.0, 0.5, 1.0]) for _ in range(dim)]
        for i in range(1, n + 1)
    }
    # plant exact duplicates to guarantee prunes
    vecs[50] = list(vecs[7])
    vecs[51] = list(vecs[8])
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na * nb == 0:
            return None
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    cents = [vecs[i] for i in sorted(vecs)[:k]]  # first k by id
    assign = {}
    for i, v in vecs.items():
        best, best_c = None, None
        for ci, c in enumerate(cents, 1):
            s = cos(v, c)
            key = (-(s if s is not None else -math.inf), ci)
            if best is None or key < best:
                best, best_c = key, ci
        assign[i] = best_c
    expected_keep = {}
    for i in sorted(vecs):
        prior = [
            cos(vecs[j], vecs[i])
            for j in sorted(vecs)
            if j < i and assign[j] == assign[i]
        ]
        prior = [p for p in prior if p is not None]
        expected_keep[i] = (not prior) or max(prior) < thr

    got = {
        r["id"]: (r["keep"], r["list_id"])
        for r in S.semdedup(df, threshold=thr, n_clusters=k).collect()
    }
    assert {i: kv[0] for i, kv in got.items()} == expected_keep
    assert {i: kv[1] for i, kv in got.items()} == assign
    assert not got[50][0] and not got[51][0]  # planted dups pruned


def test_sequence_count_matches_reference_scan(spark):
    """Automaton fold == the literal ClickHouse sequenceCount scan
    (left-to-right, restart after each completed match), and
    sequence_match == (count >= 1), over random symbol streams
    including empty ones."""
    import random

    from clickbom_spark.ext.sequences import sequence_count, sequence_match

    rng = random.Random(7)
    rows = [
        (
            uid,
            "".join(
                rng.choice("vcpxz") for _ in range(rng.randrange(0, 40))
            ),
        )
        for uid in range(40)
    ]

    def ref_count(s: str) -> int:
        steps, stage, cnt = "vcp", 0, 0
        for ch in s:
            if ch == steps[stage]:
                stage += 1
                if stage == 3:
                    cnt, stage = cnt + 1, 0
        return cnt

    df = spark.createDataFrame(rows, "user_id int, seq string")
    got = df.select(
        "user_id",
        "seq",
        sequence_count(F.col("seq"), ["v", "c", "p"]).alias("c"),
        sequence_match(F.col("seq"), ["v", "c", "p"]).alias("m"),
    ).collect()
    assert len(got) == 40
    for r in got:
        assert r["c"] == ref_count(r["seq"]), r["seq"]
        assert r["m"] == (ref_count(r["seq"]) >= 1), r["seq"]


def test_window_funnel_matches_reference_dp(spark):
    """Greedy best-start fold == brute-force maximum chain depth over
    all candidate chains (step i+1 at-or-after step i, whole chain
    within the window of its first event), on random streams."""
    import itertools
    import random

    from clickbom_spark.ext.sequences import window_funnel_level

    rng = random.Random(11)
    W = 100
    rows = []
    for uid in range(30):
        t = 0
        for eid in range(rng.randrange(0, 25)):
            t += rng.randrange(0, 60)
            rows.append((uid, eid, t, rng.choice([0, 1, 2, 3])))

    def ref_depth(evs):
        evs = sorted(evs)  # (t, eid, l)
        best = 0
        n = len(evs)
        for i in range(n):
            if evs[i][2] != 1:
                continue
            # DP: deepest chain starting at i within window
            start = evs[i][0]
            depth = 1
            last_level = 1
            j = i
            # greedy within a fixed start is optimal for depth
            for k in range(i + 1, n):
                t, _, l = evs[k]
                if t - start > W:
                    break
                if l == last_level + 1:
                    last_level += 1
                    depth += 1
            best = max(best, depth)
        return best

    df = spark.createDataFrame(
        rows, "user_id int, event_id int, t long, l int"
    )
    got = {
        r["user_id"]: r["funnel_level"]
        for r in window_funnel_level(
            df,
            ["user_id"],
            F.col("t"),
            F.col("event_id"),
            F.col("l"),
            n_levels=3,
            window_us=W,
        ).collect()
    }
    by_user: dict[int, list] = {}
    for uid, eid, t, l in rows:
        if l > 0:
            by_user.setdefault(uid, []).append((t, eid, l))
    for uid, evs in by_user.items():
        assert got[uid] == ref_depth(evs), (uid, sorted(evs))


def test_exact_weighted_quantiles_equal_expanded_duplication(spark):
    """quantileExactWeighted(v, w) == quantileExact over v repeated w
    times — the defining identity — plus partitioning invariance."""
    import random

    from clickbom_spark.ext.ranks import exact_weighted_quantiles

    rng = random.Random(3)
    rows = [
        (float(rng.randrange(0, 200)), rng.randrange(1, 6))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "v double, w int")
    probs = [0.1, 0.5, 0.9]
    got = exact_weighted_quantiles(df, "v", "w", probs).collect()[0]
    expanded = sorted(v for v, w in rows for _ in range(w))
    total = len(expanded)
    for p in probs:
        # smallest value whose cumulative weight reaches p*W
        import math

        idx = max(0, math.ceil(p * total) - 1)
        # walk to the first index satisfying cum >= p*W exactly
        want = None
        cum = 0
        from itertools import groupby

        for v, grp in groupby(expanded):
            cum += sum(1 for _ in grp)
            if cum >= p * total:
                want = v
                break
        assert got[f"q{int(round(p * 100))}"] == want, p
    # partitioning invariance
    got13 = exact_weighted_quantiles(
        df.repartition(13), "v", "w", probs
    ).collect()[0]
    assert got13 == got


def test_incremental_minhash_law(spark, documents):
    """pairs(old ∪ new) == pairs(old) ∪ incremental(old, new): the
    increment finds exactly the pairs touching new docs, off a
    postings index built once from the old corpus — and the returned
    updated index equals a fresh full-corpus posting build."""
    from pyspark.sql import functions as F

    is_new = F.col("doc_id") % 5 == 2
    old, new = documents.where(~is_new), documents.where(is_new)
    full = pairs_set(D.minhash_lsh_pairs(documents, threshold=0.8))
    old_pairs = pairs_set(D.minhash_lsh_pairs(old, threshold=0.8))
    index = D.minhash_band_postings(old)
    inc_pairs_df, updated = D.incremental_minhash_pairs(
        index, new, documents
    )
    inc = pairs_set(inc_pairs_df)
    assert old_pairs | inc == full
    # the increment touches only new docs
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    for a, b in inc:
        assert a in new_ids or b in new_ids
    # updated index == full rebuild (mergeable postings)
    fresh = {
        (r["id"], r["band"], r["bucket"])
        for r in D.minhash_band_postings(documents).collect()
    }
    got = {(r["id"], r["band"], r["bucket"]) for r in updated.collect()}
    assert got == fresh


def test_edit_distance_pairs_matches_bruteforce_random(spark):
    """Property test: the q-gram-filtered join equals a brute-force
    O(n²) Levenshtein join on random small-alphabet strings — incl.
    strings short enough to fall through to the fallback bucket."""
    import itertools
    import random

    rng = random.Random(20240814)
    alphabet = "abc"
    vals = list(
        {
            "".join(
                rng.choice(alphabet) for _ in range(rng.randint(1, 12))
            )
            for _ in range(60)
        }
    )

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    for max_d in (1, 2):
        want = {
            (min(a, b), max(a, b), lev(a, b))
            for a, b in itertools.combinations(vals, 2)
            if lev(a, b) <= max_d
        }
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        got = {
            (r["a"], r["b"], r["dist"])
            for r in D.edit_distance_pairs(df, "s", max_d=max_d).collect()
        }
        assert got == want, f"max_d={max_d}"
