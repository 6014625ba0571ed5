"""LLM training-data curation queries (round-2 additions): PII
redaction, Gopher-style repetition filtering, benchmark
decontamination, character-entropy scoring.

Each is a thin registry wrapper over clickbom_spark.ext.text operators;
the DuckDB oracles replicate the same formulas (portable regexes,
decimal-summed rounded terms) so value hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickbom_spark.ext import text as X
from clickbom_spark.queries import load, query
from clickbom_spark.session import local_frame

_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_TOKS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
_NTOKS = _TOKS.replace("text", _NORM)

# Deterministic PII injection: the corpus has no real PII, so each doc
# gets a synthetic email + IP appended; the op then has non-trivial
# work to find and scrub on every row.
_PII_TEXT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com"
    " from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'"
)
_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_IP_SQL = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"


@query(
    "q_pii_redaction",
    oracle=f"""
WITH pii AS (
  SELECT source, {_PII_TEXT_SQL} AS t FROM documents
), red AS (
  SELECT source,
         len(regexp_extract_all(t, '{_EMAIL_SQL}')) AS n_emails,
         len(regexp_extract_all(t, '{_IP_SQL}')) AS n_ips,
         regexp_replace(regexp_replace(t, '{_EMAIL_SQL}', '<EMAIL>', 'g'),
                        '{_IP_SQL}', '<IP>', 'g') AS redacted
  FROM pii
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_emails) AS BIGINT) AS total_emails,
       CAST(SUM(n_ips) AS BIGINT) AS total_ips,
       COUNT(DISTINCT md5(redacted)) AS n_distinct_redacted
FROM red
GROUP BY source
ORDER BY source
""",
    description="PII scrubbing: count + redact emails and IPs with "
    "typed placeholders (training-data compliance pass, pure JVM "
    "regex; deterministic synthetic PII injected per doc so the op is "
    "exercised on every row).",
)
def q_pii_redaction(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
        F.lit(".1"),
    )
    withpii = docs.select("source", t.alias("t"))
    return (
        withpii.select(
            "source",
            F.regexp_count("t", F.lit(X.EMAIL_PATTERN)).alias("n_emails"),
            F.regexp_count("t", F.lit(X.IP_PATTERN)).alias("n_ips"),
            X.redact_pii(F.col("t")).alias("redacted"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").cast("long").alias("total_emails"),
            F.sum("n_ips").cast("long").alias("total_ips"),
            F.countDistinct(F.md5("redacted")).alias("n_distinct_redacted"),
        )
        .orderBy("source")
    )


@query(
    "q_repetition_filter",
    oracle=f"""
WITH toks AS (
  SELECT source, {_NTOKS} AS w FROM documents
), grams AS (
  SELECT source,
         greatest(len(w) - 2, 0) AS total,
         CASE WHEN len(w) >= 3
              THEN len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                      for i in range(1, len(w) - 1)]))
              ELSE 0 END AS n_distinct
  FROM toks
), scored AS (
  SELECT source,
         CASE WHEN total >= 1
              THEN CAST(total - n_distinct AS DOUBLE) / CAST(total AS DOUBLE)
              ELSE 0.0 END AS dup_frac
  FROM grams
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN dup_frac > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(SUM(CAST(round(dup_frac, 6) AS DECIMAL(12,6))) AS DOUBLE)
         AS total_dup_frac
FROM scored
GROUP BY source
ORDER BY source
""",
    description="Gopher-style repetition filter: duplicate word-3-gram "
    "fraction per doc, flagging docs above 5% — the repetitive-text "
    "quality gate for training corpora.",
)
def q_repetition_filter(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    dup = X.repetition_ratio(F.col("text"), n=3)
    return (
        docs.select("source", dup.alias("dup_frac"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("dup_frac") > 0.05, 1).otherwise(0))
            .cast("long")
            .alias("n_flagged"),
            F.sum(F.round("dup_frac", 6).cast("decimal(12,6)"))
            .cast("double")
            .alias("total_dup_frac"),
        )
        .orderBy("source")
    )


_BENCH_MAX_ID = 25  # docs 0..24 stand in for the benchmark/eval set


@query(
    "q_decontaminate",
    # 8-token shingle overlap against a benchmark set — the
    # test-set-contamination scan.  Shingle fallback for short docs
    # (whole text as one gram) mirrors ext.text.shingles exactly.
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_NTOKS} AS w FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 8
              THEN list_distinct([array_to_string(w[i:i+7], ' ')
                                  for i in range(1, len(w) - 6)])
              ELSE [array_to_string(w, ' ')] END AS g
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id < {_BENCH_MAX_ID}
), corpus AS (
  SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id >= {_BENCH_MAX_ID}
)
SELECT c.doc_id, COUNT(DISTINCT c.gram) AS n_shared_shingles
FROM corpus c JOIN bench b ON c.gram = b.gram
GROUP BY c.doc_id
ORDER BY doc_id
""",
    description="Benchmark decontamination: find corpus docs sharing "
    "any 8-token shingle with the benchmark set (docs 0..24 as the "
    "stand-in) — distinct-shingle equi-join, no cross product; the "
    "planted near-dups of benchmark docs surface here.",
)
def q_decontaminate(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(X.shingles(F.col("text"), n=8)).alias("gram")
    )
    bench = (
        grams.where(F.col("doc_id") < _BENCH_MAX_ID).select("gram").distinct()
    )
    corpus = grams.where(F.col("doc_id") >= _BENCH_MAX_ID)
    return (
        corpus.join(bench, "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared_shingles"))
        .orderBy("doc_id")
    )


@query(
    "q_char_entropy",
    # Each -p*log2(p) term is rounded to 6 decimals and cast to decimal
    # BEFORE summation, so per-doc entropy is accumulation-order
    # independent and immune to libm log2 ulp differences between the
    # JVM and DuckDB (9-decimal rounding straddled boundaries at sf0.1).
    oracle=f"""
WITH chars AS (
  SELECT source, string_split({_NORM}, '') AS cs FROM documents
), ent AS (
  SELECT source,
         CASE WHEN len(cs) > 0 THEN
           CAST(list_sum([CAST(round(
               -(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / len(cs))
                 * log2(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE)
                        / len(cs)), 6) AS DECIMAL(12,6))
             for c in list_distinct(cs)]) AS DOUBLE)
         ELSE 0.0 END AS h
  FROM chars
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(round(h, 6) AS DECIMAL(18,6))) AS DOUBLE) AS total_entropy
FROM ent
GROUP BY source
ORDER BY source
""",
    description="Character-entropy scoring (bits/char over the "
    "normalized distribution) — the gibberish/noise quality signal; "
    "deterministic decimal-summed terms for cross-engine parity.",
)
def q_char_entropy(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    h = X.char_entropy(F.col("text"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.round(h, 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("total_entropy"),
        )
        .orderBy("source")
    )


# ---- full Gopher repetition suite (round 5) ----

_DUP_NS = sorted(X.GOPHER_DUP_THRESHOLDS)
_TOP_NS = sorted(X.GOPHER_TOP_THRESHOLDS)


def _gopher_oracle() -> str:
    """DuckDB oracle for q_gopher_repetition, generated so the 9 metric
    columns stay mechanically in sync with the thresholds table."""
    cov_p = ",\n         ".join(
        f"MAX(CASE WHEN n = {n} THEN cov_chars END) AS c{n}" for n in _DUP_NS
    )
    top_p = ",\n         ".join(
        f"MAX(CASE WHEN n = {n} THEN top_chars END) AS t{n}" for n in _TOP_NS
    )
    perdoc = ",\n         ".join(
        f"CASE WHEN b.total_chars > 0 THEN CAST(COALESCE(c{n}, 0) AS DOUBLE)"
        f" / b.total_chars ELSE 0.0 END AS dup{n}" for n in _DUP_NS
    ) + ",\n         " + ",\n         ".join(
        f"CASE WHEN b.total_chars > 0 THEN CAST(COALESCE(t{n}, 0) AS DOUBLE)"
        f" / b.total_chars ELSE 0.0 END AS top{n}" for n in _TOP_NS
    )
    flag = " OR ".join(
        [f"dup{n} > {X.GOPHER_DUP_THRESHOLDS[n]}" for n in _DUP_NS]
        + [f"top{n} > {X.GOPHER_TOP_THRESHOLDS[n]}" for n in _TOP_NS]
    )
    sums = ",\n       ".join(
        f"CAST(SUM(CAST(round(dup{n}, 6) AS DECIMAL(12,6))) AS DOUBLE)"
        f" AS dup{n}_sum" for n in _DUP_NS
    ) + ",\n       " + ",\n       ".join(
        f"CAST(SUM(CAST(round(top{n}, 6) AS DECIMAL(12,6))) AS DOUBLE)"
        f" AS top{n}_sum" for n in _TOP_NS
    )
    all_ns = ", ".join(str(n) for n in _TOP_NS + _DUP_NS)
    return f"""
WITH toks AS (
  SELECT doc_id, source, {_NTOKS} AS w FROM documents
), base AS (
  SELECT doc_id, source, w, len(w) AS m,
         CAST(COALESCE(list_sum([len(x) for x in w]), 0) AS BIGINT)
           AS total_chars
  FROM toks
), ns AS (SELECT unnest([{all_ns}]) AS n),
gram AS (
  SELECT doc_id, n,
         unnest([{{'pos': i, 'g': array_to_string(w[i:i+n-1], ' ')}}
                 for i in range(1, m - n + 2)], recursive := true)
  FROM base, ns
  WHERE m >= n
), cnt AS (
  SELECT doc_id, n, g, COUNT(*) AS c FROM gram GROUP BY doc_id, n, g
), dup_occ AS (
  SELECT gr.doc_id, gr.n, gr.pos
  FROM gram gr
  JOIN cnt c ON gr.doc_id = c.doc_id AND gr.n = c.n AND gr.g = c.g
  WHERE c.c > 1 AND gr.n >= {_DUP_NS[0]}
), occ_off AS (
  SELECT doc_id, n, pos + unnest(generate_series(0, n - 1)) AS tpos
  FROM dup_occ
), covered AS (
  SELECT DISTINCT doc_id, n, tpos FROM occ_off
), tk AS (
  SELECT doc_id,
         unnest([{{'pos': i, 'tlen': len(w[i])}} for i in range(1, m + 1)],
                recursive := true)
  FROM base
), cov AS (
  SELECT c.doc_id, c.n, SUM(t.tlen) AS cov_chars
  FROM covered c JOIN tk t ON c.doc_id = t.doc_id AND c.tpos = t.pos
  GROUP BY c.doc_id, c.n
), topg AS (
  SELECT doc_id, n, MAX(c * (len(g) - (n - 1))) AS top_chars
  FROM cnt WHERE n <= {_TOP_NS[-1]} GROUP BY doc_id, n
), cov_p AS (
  SELECT doc_id,
         {cov_p}
  FROM cov GROUP BY doc_id
), top_p AS (
  SELECT doc_id,
         {top_p}
  FROM topg GROUP BY doc_id
), perdoc AS (
  SELECT b.source,
         {perdoc}
  FROM base b
  LEFT JOIN cov_p USING (doc_id)
  LEFT JOIN top_p USING (doc_id)
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN {flag} THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       {sums}
FROM perdoc
GROUP BY source
ORDER BY source
"""


@query(
    "q_gopher_repetition",
    oracle=_gopher_oracle(),
    description="Full Gopher repetition-filter suite: duplicate n-gram "
    "character fractions (n in 5..10, overlap counted once) and top "
    "n-gram character fractions (n in 2..4), all nine signals from ONE "
    "tokenization as per-doc expressions (no per-doc shuffle), "
    "aggregated per source with the paper's flag thresholds.  The "
    "oracle cross-checks via the explicit positions-join formulation.",
)
def q_gopher_repetition(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    d = docs.select(
        "source", X.gopher_repetition_profile(F.col("text")).alias("p")
    )
    conds = [
        F.col(f"p.dup{n}_frac") > X.GOPHER_DUP_THRESHOLDS[n] for n in _DUP_NS
    ] + [
        F.col(f"p.top{n}_frac") > X.GOPHER_TOP_THRESHOLDS[n] for n in _TOP_NS
    ]
    any_flag = conds[0]
    for c in conds[1:]:
        any_flag = any_flag | c
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(any_flag, 1).otherwise(0)).cast("long").alias("n_flagged"),
    ]
    for kind, ns in (("dup", _DUP_NS), ("top", _TOP_NS)):
        aggs += [
            F.sum(F.round(F.col(f"p.{kind}{n}_frac"), 6).cast("decimal(12,6)"))
            .cast("double")
            .alias(f"{kind}{n}_sum")
            for n in ns
        ]
    return d.groupBy("source").agg(*aggs).orderBy("source")


_TOKENS_BPE = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
_BPE_MERGES = 4
# Double-separator symbol encoding for the oracle's merge replay:
# B || sym1 || BB || sym2 || BB || ... || B with B = chr(31).  A merge
# (l, r) is replace(sym, B||l||BB||r||B, B||l||r||B): literal replace
# consumes ONE boundary separator on each side and leaves one behind,
# so non-overlapping left-to-right replacement is exactly the greedy
# fold bpe_train applies ('aaaa' + (a,a) -> aa,aa; 'aaa' -> aa,a —
# probed against DuckDB's replace before this oracle was written).
_B = "chr(31)"


def _bpe_iter_sql(k: int) -> str:
    """One unrolled BPE iteration: pair counts of it{k}, best pair by
    (count DESC, lft, rgt), merged symbols it{k+1}."""
    return f""",
pairs{k} AS (
  SELECT s[i] AS lft, s[i + 1] AS rgt, CAST(SUM(n) AS BIGINT) AS cnt
  FROM (
    SELECT string_split(trim(sym, {_B}), {_B} || {_B}) AS s, n FROM it{k}
  ), unnest(generate_series(1, len(s) - 1)) AS u(i)
  GROUP BY lft, rgt HAVING SUM(n) >= 2
), best{k} AS (
  SELECT lft, rgt, cnt FROM pairs{k} ORDER BY cnt DESC, lft, rgt LIMIT 1
), it{k + 1} AS (
  SELECT replace(sym, {_B} || lft || {_B} || {_B} || rgt || {_B},
                 {_B} || lft || rgt || {_B}) AS sym, n
  FROM it{k}, best{k}
)"""


@query(
    "q_bpe_train",
    # The oracle replays training exactly: the word-frequency table,
    # then per merge an unrolled (pair count -> argmax -> replace)
    # round over the separator-encoded symbol strings.  All-integer
    # output (rank, pair, count) — no float contract needed.
    oracle=f"""
WITH wf AS (
  SELECT w AS word, COUNT(*) AS n
  FROM (SELECT unnest({_TOKENS_BPE}) AS w FROM documents)
  WHERE NOT contains(w, {_B})
  GROUP BY w
), it0 AS (
  SELECT {_B} || array_to_string(
           list_append(string_split(word, ''), '</w>'), {_B} || {_B})
         || {_B} AS sym, n
  FROM wf
){"".join(_bpe_iter_sql(k) for k in range(_BPE_MERGES))}
SELECT * FROM (
  {" UNION ALL ".join(
      f"SELECT CAST({k + 1} AS BIGINT) AS rank, lft, rgt, cnt FROM best{k}"
      for k in range(_BPE_MERGES))}
) ORDER BY rank
""",
    description="Distributed BPE tokenizer training (Sennrich 2016): "
    "one corpus scan builds the weighted word-frequency table; each "
    "merge round is a pair-stats hash aggregate + 1-row argmax on that "
    "vocabulary-sized frame and a pure-expression greedy fold to apply "
    "the merge — the learned rule list IS the model (driver-resident "
    "like k-means centers); oracle replays every round via "
    "separator-encoded string replace (provably the same greedy "
    "semantics).",
)
def q_bpe_train(spark, sf_dir):
    from clickbom_spark.ext.bpe import bpe_train

    (docs,) = load(spark, sf_dir, "documents")
    rules = bpe_train(docs, n_merges=_BPE_MERGES)
    return local_frame(
        spark, rules, "rank bigint, lft string, rgt string, cnt bigint"
    )
