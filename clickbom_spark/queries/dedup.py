"""Deduplication queries (north-star ops) over documents/events.

Every query here is oracle-checked against DuckDB, including the LSH
paths: MinHash banding has measured recall 1.0 on this corpus (so its
verified output equals the exact all-pairs answer — asserted
continuously in tests/test_ext_ops.py), and SimHash blocking has exact
recall by pigeonhole over a portable md5-derived signature that DuckDB
recomputes independently.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickbom_spark.ext import dedup as D
from clickbom_spark.ext import text as X
from clickbom_spark.queries import load, query

# DuckDB twin of ext.text.tokens() — whitespace split, empties dropped.
_TOKENS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"


# DuckDB shingle expression matching ext.text.shingles(n=3):
# normalize → tokens → distinct 3-gram strings.
_SHINGLES = (
    "list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]"
    " for i in range(1, len(w) - 1)])"
)
_TOKS = (
    "list_filter(string_split_regex(trim(regexp_replace(regexp_replace("
    "lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')), '\\s+'),"
    " x -> x <> '')"
)

# Sparse-join exact Jaccard: explode shingles, count shared grams per
# pair via an equi-join on the gram (pairs sharing none never surface —
# they cannot reach any positive threshold), then
# jac = inter / (|A|+|B|-inter).  Mirrors ext.dedup._jaccard_sized and
# is bit-identical (the set sizes are integers); ~8× faster than the
# all-pairs list_intersect formulation.
_JACCARD_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS w FROM documents
), grams AS (
  SELECT doc_id, {_SHINGLES} AS g FROM toks
), sized AS (
  SELECT doc_id, len(g) AS sz FROM grams
), ex AS (
  SELECT doc_id, unnest(g) AS gram FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT id_a, id_b,
         CAST(inter AS DOUBLE)
           / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jac
  FROM inter
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
)
"""


@query(
    "q_dedup_exact",
    oracle="""
SELECT event_type, COUNT(*) AS n_distinct_users
FROM (SELECT DISTINCT user_id, event_type FROM events) t
GROUP BY event_type
ORDER BY event_type
""",
    description="Exact dedup on a column set (hash-shuffle dropDuplicates) "
    "— U2's machinery on the events stream.",
)
def q_dedup_exact(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    return (
        D.exact_dedup(events.select("user_id", "event_type"), ["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct_users"))
        .orderBy("event_type")
    )


@query(
    "q_ngram_jaccard_pairs",
    oracle=_JACCARD_PAIRS
    + """
SELECT id_a, id_b, jac FROM scored WHERE jac >= 0.8
ORDER BY id_a, id_b
""",
    description="Exact all-pairs 3-gram Jaccard near-dup detection (the "
    "O(n²) oracle path; finds the planted duplicate pairs).",
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, threshold=0.8).orderBy("id_a", "id_b")


@query(
    "q_neardup_components",
    oracle=_JACCARD_PAIRS
    + """
, pairs AS (
  SELECT id_a, id_b FROM scored WHERE jac >= 0.8
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach AS (
  WITH RECURSIVE r(id, comp) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.comp FROM r JOIN edges e ON e.src = r.id
  ) SELECT id, MIN(comp) AS component FROM r GROUP BY id
)
SELECT component, COUNT(*) AS cluster_size,
       array_to_string(list_sort(list(id)), ',') AS members
FROM reach GROUP BY component ORDER BY component
""",
    description="Near-dup clustering: connected components over the "
    "exact-Jaccard pair graph (iterative min-label propagation vs "
    "DuckDB recursive CTE), the keep-one-representative dedup step.",
)
def q_neardup_components(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8)
    comps = D.connected_components(pairs)
    return (
        comps.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.array_join(F.sort_array(F.collect_list("id")), ",").alias("members"),
        )
        .orderBy("component")
    )


@query(
    "q_minhash_lsh_dedup",
    # The oracle is the EXACT all-pairs answer: LSH banding recall is
    # 1.0 on this corpus (8 bands x 4 rows => P[candidate] ≈ 0.985 at
    # j=0.8 per pair, and every planted pair IS surfaced — asserted
    # continuously in tests/test_ext_ops.py against the exact path),
    # and verification keeps only exact-Jaccard >= 0.8 pairs, so the
    # output is engine-independent.
    oracle=_JACCARD_PAIRS
    + """
SELECT id_a, id_b, jac FROM scored WHERE jac >= 0.8
ORDER BY id_a, id_b
""",
    description="MinHash+LSH banding near-dup detection — the 100 TB scale "
    "path: equi-join on (band, bucket), exact-Jaccard verify.",
    bench=True,
)
def q_minhash_lsh_dedup(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, threshold=0.8).orderBy("id_a", "id_b")


@query(
    "q_neardup_keep_one",
    # End-to-end near-dup dedup: pairs → connected components → keep the
    # min-id representative per cluster; survivors = all docs minus
    # non-representative cluster members.
    oracle=_JACCARD_PAIRS
    + """
, pairs AS (
  SELECT id_a, id_b FROM scored WHERE jac >= 0.8
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach AS (
  WITH RECURSIVE r(id, comp) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.dst, r.comp FROM r JOIN edges e ON e.src = r.id
  ) SELECT id, MIN(comp) AS component FROM r GROUP BY id
), dropped AS (
  SELECT id FROM reach WHERE id <> component
)
SELECT d.source, COUNT(*) AS n_kept
FROM documents d LEFT JOIN dropped dr ON dr.id = d.doc_id
WHERE dr.id IS NULL
GROUP BY d.source
ORDER BY d.source
""",
    description="Near-dup dedup end to end: cluster the exact-Jaccard "
    "pair graph, keep the min-id representative per cluster, drop the "
    "rest (the keep-one training-data dedup pass), reported per source.",
)
def q_neardup_keep_one(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8)
    kept = D.keep_cluster_representatives(docs, pairs, id_col="doc_id")
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )


# Portable 60-bit simhash signature in DuckDB: per-token md5-derived
# hash (15 hex digits), ±1 bit votes, sign-of-sum per bit — the exact
# formula ext/dedup.simhash evaluates JVM-side.
_SIMHASH_SIG = """
  SELECT doc_id,
         CAST(list_sum([CASE WHEN COALESCE(list_sum(
                 [CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END
                  for hv in h]), 0) > 0
               THEN (1::BIGINT << j) ELSE 0 END
               for j in range(60)]) AS BIGINT) AS s
  FROM (SELECT doc_id,
               [CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)
                for t in w] AS h
        FROM toks)
"""


@query(
    "q_simhash_pairs",
    # Multi-block blocking has EXACT recall by pigeonhole (9 blocks,
    # distance <= 8), so the Spark output equals this all-pairs Hamming
    # filter computed independently by DuckDB over the same portable
    # md5-based signatures.
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS w FROM documents
), sig AS (
{_SIMHASH_SIG}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS dist
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= 8
ORDER BY id_a, id_b
""",
    description="SimHash 60-bit portable signatures with pigeonhole "
    "block joins (exact recall); near-dup = Hamming distance <= 8.",
)
def q_simhash_pairs(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    return (
        D.simhash_pairs(docs, max_distance=8)
        .withColumn("dist", F.col("dist").cast("long"))
        .orderBy("id_a", "id_b")
    )


@query(
    "q_setsim_prefix_join",
    # EXACT set-similarity pairs (no approximation): the oracle does the
    # direct all-pairs Jaccard at this scale, the Spark side reaches
    # the identical pair set through the lossless prefix filter — so a
    # green row proves the filter misses nothing.
    oracle=f"""
WITH t AS (
  SELECT doc_id, list_distinct({_TOKENS}) AS w FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
             / (CAST(len(a.w) + len(b.w) AS DOUBLE)
                - CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)), 6)
         AS jaccard_r
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
      / (CAST(len(a.w) + len(b.w) AS DOUBLE)
         - CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)) >= 0.8
ORDER BY id_a, id_b
""",
    description="EXACT Jaccard set-similarity self-join (threshold "
    "0.8) via PREFIX FILTERING: global rarity order (document "
    "frequency asc) makes sharing a prefix token a NECESSARY condition "
    "for J >= t, so candidates come from rare-token posting-list "
    "equi-joins and every candidate is exactly verified — lossless "
    "(unlike MinHash) and never all-pairs; the oracle's direct "
    "quadratic join must produce the identical pair set.",
)
def q_setsim_prefix_join(spark, sf_dir):
    from clickbom_spark.ext.dedup import setsim_join_prefix

    (docs,) = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.tokens(F.col("text")).alias("w"))
    pairs = setsim_join_prefix(toks, "doc_id", "w", threshold=0.8)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r")
    ).orderBy("id_a", "id_b")


_SUBSTR_L = 10  # token window length for substring-level dedup


@query(
    "q_substring_dedup",
    # Exact substring-level dedup (the suffix-array
    # deduplicate-text-datasets analog): positions covered by any
    # 10-token window occurring >= 2 times anywhere in the corpus,
    # merged into maximal per-doc runs (gaps-and-islands), then
    # summarized per source.  The oracle replays the identical
    # postings -> repeated-hash -> equi-join -> islands pipeline in SQL.
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS} AS w FROM documents
), wins AS (
  SELECT doc_id, source,
         unnest([{{'pos': i,
                   'h': md5(array_to_string(w[i:i+{_SUBSTR_L}-1], ' '))}}
                 for i in range(1, len(w) - {_SUBSTR_L} + 2)],
                recursive := true)
  FROM toks
  WHERE len(w) >= {_SUBSTR_L}
), duph AS (
  SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2
), dup_pos AS (
  SELECT w.doc_id, w.source, w.pos FROM wins w JOIN duph USING (h)
), runs AS (
  SELECT doc_id, source,
         MIN(pos) AS rs, MAX(pos) + {_SUBSTR_L} AS re, COUNT(*) AS nw
  FROM (
    SELECT doc_id, source, pos,
           SUM(new_run) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM (
      SELECT doc_id, source, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) > {_SUBSTR_L}
                  THEN 1 ELSE 0 END AS new_run
      FROM dup_pos
    )
  )
  GROUP BY doc_id, source, grp
)
SELECT source,
       COUNT(DISTINCT doc_id) AS n_docs_flagged,
       COUNT(*) AS n_runs,
       CAST(SUM(re - rs) AS BIGINT) AS dup_tokens,
       CAST(MAX(re - rs) AS BIGINT) AS max_run_tokens
FROM runs
GROUP BY source
ORDER BY source
""",
    description="Exact substring-level dedup: maximal token spans "
    "covered by repeated 10-token windows (within or across docs), the "
    "scale-safe suffix-array analog — postings equi-join + per-doc "
    "gaps-and-islands, no cross product; per-source removal-set stats.",
)
def q_substring_dedup(spark, sf_dir):
    from clickbom_spark.ext.dedup import duplicate_token_spans

    (docs,) = load(spark, sf_dir, "documents")
    runs = duplicate_token_spans(docs, window=_SUBSTR_L)
    src = docs.select("doc_id", "source")
    return (
        runs.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_flagged"),
            F.count(F.lit(1)).alias("n_runs"),
            F.sum(F.col("run_end") - F.col("run_start"))
            .cast("long")
            .alias("dup_tokens"),
            F.max(F.col("run_end") - F.col("run_start"))
            .cast("long")
            .alias("max_run_tokens"),
        )
        .orderBy("source")
    )


@query(
    "q_incremental_minhash_dedup",
    # Exact oracle restricted to pairs touching the "new batch": the
    # increment's contract is exactly those pairs (old×old pairs were
    # found when those docs were new), and LSH recall is 1.0 on this
    # corpus (see q_minhash_lsh_dedup) so verified output == exact.
    oracle=_JACCARD_PAIRS
    + """
SELECT id_a, id_b, jac FROM scored
WHERE jac >= 0.8 AND (id_a % 7 = 3 OR id_b % 7 = 3)
ORDER BY id_a, id_b
""",
    description="Incremental near-dup maintenance "
    "(ext/dedup.incremental_minhash_pairs): the standing corpus keeps "
    "a persisted MinHash band-posting index (3 longs x 8 bands per "
    "doc, mergeable by union); a new document batch hashes ONCE, "
    "equi-joins the union index on (band, bucket), and exact-verifies "
    "only the candidates — the old corpus is never re-hashed or "
    "self-joined, so absorbing a daily drop costs O(batch), not "
    "O(corpus). Incremental law pairs(old+new) = pairs(old) + "
    "increment is pinned in tests/test_ext_ops.py; the natural feed "
    "for the batch is the versioned lake's change_feed inserts.",
)
def q_incremental_minhash_dedup(spark, sf_dir):
    import shutil

    from clickbom_spark.queries import scratch_path

    (docs,) = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 7 == 3
    old, new = docs.where(~is_new), docs.where(is_new)
    # persist the standing index like a real pipeline would, then read
    # it back so the increment provably runs off stored postings
    idx_path = scratch_path("minhash_index")
    shutil.rmtree(idx_path, ignore_errors=True)
    D.minhash_band_postings(old).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)
    pairs, _ = D.incremental_minhash_pairs(index, new, docs)
    return pairs.orderBy("id_a", "id_b")


@query(
    "q_edit_distance_join",
    oracle="""
WITH n AS (SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL)
SELECT a.s AS name_a, b.s AS name_b,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM n a JOIN n b ON a.s < b.s
WHERE levenshtein(a.s, b.s) <= 2
ORDER BY name_a, name_b
""",
    description="Edit-distance self-join over distinct part names "
    "(ext/dedup.edit_distance_pairs, the q-gram-filter family of "
    "Gravano et al.): candidates = equi-join on exploded 2-grams + "
    "length filter (strings within distance d and length >= q*(d+1) "
    "must share a q-gram — each edit destroys at most q grams), "
    "exact levenshtein verify restores precision, so output == the "
    "brute-force join the oracle computes; never an all-pairs cross "
    "product, the fuzzy-join shape that survives 100 TB of names.",
)
def q_edit_distance_join(spark, sf_dir):
    (part,) = load(spark, sf_dir, "part")
    return (
        D.edit_distance_pairs(part, "p_name", max_d=2, q=2)
        .select(
            F.col("a").alias("name_a"),
            F.col("b").alias("name_b"),
            F.col("dist").cast("long").alias("dist"),
        )
        .orderBy("name_a", "name_b")
    )


# Sequential-replay oracle for the streaming admission filter: the
# admitted set is a FOLD over the 3 micro-batches (doc_id bands
# [0,170), [170,340), [340,inf) in epoch order), but each step is
# still relational — reject batch docs near-dup (exact Jaccard >=
# 0.8; LSH recall is 1.0 on this corpus, asserted in
# tests/test_ext_ops.py, so the exact pair relation IS the engine's
# pair predicate) of any already-kept doc, then keep the min-id
# representative per within-batch component (recursive-CTE min
# propagation over the pair graph restricted to stage-1 survivors).
_NEARDUP_STREAM_EPOCH = """
, s1_{e} AS (
  SELECT d.doc_id FROM doc d WHERE d.e = {e}
  AND NOT EXISTS (
    SELECT 1 FROM sym s JOIN kept{e} k ON s.b = k.doc_id
    WHERE s.a = d.doc_id)
), r{e}(node, reach) AS (
  SELECT doc_id, doc_id FROM s1_{e}
  UNION
  SELECT r.node, s.b FROM r{e} r JOIN sym s ON s.a = r.reach
  WHERE s.b IN (SELECT doc_id FROM s1_{e})
), adm{e} AS (
  SELECT node AS doc_id FROM r{e} GROUP BY node HAVING node = MIN(reach)
), kept{e1} AS (
  SELECT doc_id FROM kept{e} UNION ALL SELECT doc_id FROM adm{e}
)
"""

_NEARDUP_STREAM_ORACLE = (
    _JACCARD_PAIRS.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + """
, pairs AS (
  SELECT id_a, id_b FROM scored WHERE jac >= 0.8
), sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
), doc AS (
  SELECT doc_id,
         CASE WHEN doc_id < 170 THEN 0
              WHEN doc_id < 340 THEN 1 ELSE 2 END AS e
  FROM documents
), kept0 AS (SELECT doc_id FROM doc WHERE FALSE)
"""
    + "".join(
        _NEARDUP_STREAM_EPOCH.format(e=e, e1=e + 1) for e in range(3)
    )
    + """
SELECT d.source,
       COUNT(*) FILTER (WHERE k.doc_id IS NOT NULL) AS n_admitted,
       COUNT(*) AS n_total
FROM documents d LEFT JOIN kept3 k ON d.doc_id = k.doc_id
GROUP BY d.source
ORDER BY d.source
"""
)


@query(
    "q_stream_neardup_filter",
    oracle=_NEARDUP_STREAM_ORACLE,
    description="Online near-dup filter at ingestion "
    "(ext/streaming_dedup.py): a real availableNow file stream of "
    "document batches, each checked against the standing corpus via "
    "the incremental MinHash posting index before admission — "
    "duplicates rejected, survivors extend corpus and index, both "
    "commits epoch-marked for exactly-once under foreachBatch replay. "
    "The corpus is never re-hashed; per-batch cost is O(batch). "
    "Returns per-source admitted/total counts.",
)
def q_stream_neardup_filter(spark, sf_dir):
    import os
    import shutil

    from clickbom_spark.ext.streaming_dedup import (
        create_dedup_state,
        neardup_filter_sink,
    )
    from clickbom_spark.queries import scratch_path
    from clickbom_spark.queries.staged import stage_single_parquet

    (docs,) = load(spark, sf_dir, "documents")
    base = scratch_path("stream_neardup")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    os.makedirs(src)
    bounds = [(0, 170), (170, 340), (340, 10**9)]
    for e, (lo, hi) in enumerate(bounds):
        stage_single_parquet(
            docs.select("doc_id", "text").where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ),
            os.path.join(src, f"b{e}.parquet"),
            mtime=1_700_000_000 + e * 1000,
        )
    corpus, index = create_dedup_state(
        spark,
        os.path.join(base, "corpus"),
        os.path.join(base, "index"),
        docs.select("doc_id", "text"),
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(neardup_filter_sink(corpus, index))
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    kept = corpus.read().select("doc_id")
    admitted = (
        docs.join(kept, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("_n_admitted"))
    )
    # totals LEFT-join admitted so a source whose every doc was
    # rejected still surfaces with n_admitted = 0 (matching the
    # oracle's LEFT JOIN shape — an inner join here would drop it)
    return (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .join(admitted, "source", "left")
        .select(
            "source",
            F.coalesce(F.col("_n_admitted"), F.lit(0)).cast("long")
            .alias("n_admitted"),
            "n_total",
        )
        .orderBy("source")
    )
