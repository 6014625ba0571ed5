"""Training-data curation queries: sequence packing, mixture weights,
n-gram statistics, heuristic filter cascades, and audience set algebra.

These extend the engine's north-star LLM-pipeline surface (SURVEY.md
§2 extension ops) beyond dedup/similarity/text-quality: the operations
a pretraining data pipeline runs between "cleaned documents" and
"training batches".  Every query has an exact DuckDB oracle; doubles
are produced by identical IEEE operation orders on both sides.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from clickbom_spark.ext import text as X
from clickbom_spark.queries import load, query
from clickbom_spark.session import local_frame

# DuckDB twin of ext.text.tokens() — whitespace split, empties dropped.
_TOKENS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"

_PACK_CAP = 256


@query(
    "q_sequence_packing",
    # Recursive CTE replays the same greedy fold the Spark operator
    # runs per shard: new pack when the running sum would exceed cap.
    oracle=f"""
WITH RECURSIVE t AS (
  SELECT lang, source,
         CAST(len({_TOKENS}) AS BIGINT) AS tokens,
         ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
  FROM documents
), packed AS (
  SELECT lang, source, rn, tokens, tokens AS run, CAST(1 AS BIGINT) AS pack_id
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.lang, t.source, t.rn, t.tokens,
         CASE WHEN p.run + t.tokens > {_PACK_CAP}
              THEN t.tokens ELSE p.run + t.tokens END,
         CASE WHEN p.run + t.tokens > {_PACK_CAP}
              THEN p.pack_id + 1 ELSE p.pack_id END
  FROM packed p
  JOIN t ON t.lang = p.lang AND t.source = p.source AND t.rn = p.rn + 1
), pack_sums AS (
  SELECT lang, source, pack_id,
         SUM(tokens) AS pack_tokens, COUNT(*) AS nd
  FROM packed GROUP BY lang, source, pack_id
)
SELECT lang, source,
       CAST(SUM(nd) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(MAX(pack_tokens) AS BIGINT) AS max_pack_tokens,
       CAST(SUM(pack_tokens) AS BIGINT) AS sum_tokens
FROM pack_sums
GROUP BY lang, source
ORDER BY lang, source
""",
    description="Sequence packing for LLM pretraining: greedy fill of "
    f"{_PACK_CAP}-token training sequences per (lang, source) shard via "
    "applyInPandas (O(1) state per shard, shards pack in parallel, text "
    "never crosses into Python); per-shard pack statistics checked "
    "against a recursive-CTE replay of the identical greedy fold.",
    bench=True,
)
def q_sequence_packing(spark, sf_dir):
    from clickbom_spark.ext.packing import pack_sequences

    (docs,) = load(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "lang", "source", "doc_id", X.token_count(F.col("text")).alias("tokens")
    )
    packed = pack_sequences(
        with_tokens,
        cap=_PACK_CAP,
        shard_cols=["lang", "source"],
        order_col="doc_id",
        tokens_col="tokens",
    )
    pack_sums = packed.groupBy("lang", "source", "pack_id").agg(
        F.sum("tokens").alias("pack_tokens"), F.count(F.lit(1)).alias("nd")
    )
    return (
        pack_sums.groupBy("lang", "source")
        .agg(
            F.sum("nd").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_packs"),
            F.max("pack_tokens").cast("long").alias("max_pack_tokens"),
            F.sum("pack_tokens").cast("long").alias("sum_tokens"),
        )
        .orderBy("lang", "source")
    )


@query(
    "q_mixture_weights",
    # weight = (total_tokens / n_langs) / lang_tokens — the resampling
    # factor that equalizes the token budget across languages.  Pure
    # divisions on exact bigints, so the doubles are IEEE-identical.
    oracle=f"""
WITH per_lang AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(len({_TOKENS})) AS BIGINT) AS lang_tokens
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, lang_tokens,
       (CAST(SUM(lang_tokens) OVER () AS DOUBLE)
        / CAST(COUNT(*) OVER () AS DOUBLE))
       / CAST(lang_tokens AS DOUBLE) AS weight
FROM per_lang
ORDER BY lang
""",
    description="Data-mixture reweighting: per-language token budgets "
    "and the resampling weight that equalizes them (uniform target "
    "mixture) — the knob a pretraining pipeline turns to rebalance "
    "domains; window totals over the tiny post-agg frame, not the corpus.",
)
def q_mixture_weights(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count(F.col("text"))).cast("long").alias("lang_tokens"),
    )
    w = Window.partitionBy()
    weight = (
        F.sum("lang_tokens").over(w).cast("double")
        / F.count(F.lit(1)).over(w).cast("double")
    ) / F.col("lang_tokens").cast("double")
    return per_lang.select(
        "lang", "n_docs", "lang_tokens", weight.alias("weight")
    ).orderBy("lang")


@query(
    "q_bigram_counts",
    oracle=f"""
WITH toks AS (
  SELECT {_TOKENS} AS w FROM documents
), grams AS (
  SELECT w[i] || ' ' || w[i + 1] AS bigram
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
)
SELECT bigram, COUNT(*) AS n
FROM grams
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
""",
    description="Global top-20 word-bigram frequencies: slice+zip_with "
    "builds adjacent pairs JVM-side (no Python, no explode-of-explode), "
    "then hash-agg + deterministic top-k (TakeOrderedAndProject — no "
    "global sort).",
)
def q_bigram_counts(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    w = X.tokens(F.col("text"))
    n = F.size(w)
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


@query(
    "q_filter_cascade",
    # Heuristic quality gates (C4/Gopher-style), audited in one pass:
    # each rule's flag count plus the survivor count of the whole
    # cascade.  Ratios are double divisions of exact ints.
    oracle=f"""
WITH feats AS (
  SELECT CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
         CAST(length(list_aggregate({_TOKENS}, 'string_agg', '')) AS DOUBLE)
           / CAST(greatest(len({_TOKENS}), 1) AS DOUBLE) AS mwl,
         CAST(len(list_distinct({_TOKENS})) AS DOUBLE)
           / CAST(greatest(len({_TOKENS}), 1) AS DOUBLE) AS distinct_ratio
  FROM documents
), flags AS (
  SELECT CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END AS f_short,
         CASE WHEN n_tokens > 64 THEN 1 ELSE 0 END AS f_long,
         CASE WHEN mwl < 3.0 OR mwl > 8.0 THEN 1 ELSE 0 END AS f_word_len,
         CASE WHEN distinct_ratio < 0.5 THEN 1 ELSE 0 END AS f_repetitive
  FROM feats
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(f_short) AS BIGINT) AS n_short,
       CAST(SUM(f_long) AS BIGINT) AS n_long,
       CAST(SUM(f_word_len) AS BIGINT) AS n_word_len,
       CAST(SUM(f_repetitive) AS BIGINT) AS n_repetitive,
       CAST(SUM(CASE WHEN f_short + f_long + f_word_len + f_repetitive = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
FROM flags
""",
    description="Heuristic filter cascade audit (C4/Gopher-style): "
    "length bounds, mean-word-length band, distinct-token repetition "
    "gate — per-rule flag counts and cascade survivors in ONE scan "
    "(conditional aggregates; no per-rule passes).",
)
def q_filter_cascade(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    w = X.tokens(F.col("text"))
    n = F.size(w).cast("long")
    joined_len = F.aggregate(
        w, F.lit(0), lambda acc, t: acc + F.length(t)
    ).cast("double")
    denom = F.greatest(n, F.lit(1)).cast("double")
    mwl = joined_len / denom
    distinct_ratio = F.size(F.array_distinct(w)).cast("double") / denom
    feats = docs.select(
        n.alias("n_tokens"), mwl.alias("mwl"), distinct_ratio.alias("dr")
    )
    f_short = F.when(F.col("n_tokens") < 20, 1).otherwise(0)
    f_long = F.when(F.col("n_tokens") > 64, 1).otherwise(0)
    f_wl = F.when((F.col("mwl") < 3.0) | (F.col("mwl") > 8.0), 1).otherwise(0)
    f_rep = F.when(F.col("dr") < 0.5, 1).otherwise(0)
    flags = feats.select(
        f_short.alias("f_short"),
        f_long.alias("f_long"),
        f_wl.alias("f_word_len"),
        f_rep.alias("f_repetitive"),
    )
    survivor = F.when(
        F.col("f_short") + F.col("f_long") + F.col("f_word_len") + F.col("f_repetitive")
        == 0,
        1,
    ).otherwise(0)
    return flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_short").cast("long").alias("n_short"),
        F.sum("f_long").cast("long").alias("n_long"),
        F.sum("f_word_len").cast("long").alias("n_word_len"),
        F.sum("f_repetitive").cast("long").alias("n_repetitive"),
        F.sum(survivor).cast("long").alias("n_survivors"),
    )


@query(
    "q_segment_overlap",
    oracle="""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       COUNT(*) AS n_shared_users
FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY a.event_type, b.event_type
ORDER BY type_a, type_b
""",
    description="Audience set algebra (ClickHouse bitmap-AND analog): "
    "pairwise shared-user cardinality between event-type segments via "
    "distinct-pair self-join on user_id — shuffles the (type,user) pair "
    "set once, never materializes per-segment user arrays (at 100 TB "
    "swap in HLL/theta sketches for the same shape with bounded state).",
)
def q_segment_overlap(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    d = events.select("event_type", "user_id").distinct()
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_users"))
        .orderBy("type_a", "type_b")
    )


@query(
    "q_topk_per_group",
    oracle="""
SELECT event_type, user_id, n_events
FROM (
  SELECT event_type, user_id, COUNT(*) AS n_events,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY COUNT(*) DESC, user_id) AS rk
  FROM events
  GROUP BY event_type, user_id
)
WHERE rk <= 3
ORDER BY event_type, n_events DESC, user_id
""",
    description="Grouped top-k (ClickHouse topK analog, exact): top-3 "
    "users per event type — partial-agg counts then a per-partition "
    "window rank; no global sort, rank runs on the reduced frame.",
)
def q_topk_per_group(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    counts = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"), "user_id")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("event_type", "user_id", "n_events")
        .orderBy("event_type", F.desc("n_events"), "user_id")
    )


@query(
    "q_mixture_resample",
    # The executable form of q_mixture_weights: downsample each
    # over-represented language at rate min(1, weight) by a
    # deterministic hash threshold, so the sampled corpus approaches
    # the uniform token mixture.  Membership is engine-portable: the
    # same md5 bucket and the same IEEE threshold compare both sides.
    oracle=f"""
WITH per_lang AS (
  SELECT lang, CAST(SUM(len({_TOKENS})) AS BIGINT) AS lang_tokens
  FROM documents GROUP BY lang
), rates AS (
  SELECT lang,
         least(CAST(1.0 AS DOUBLE),
               (CAST(SUM(lang_tokens) OVER () AS DOUBLE)
                / CAST(COUNT(*) OVER () AS DOUBLE))
               / CAST(lang_tokens AS DOUBLE)) AS rate
  FROM per_lang
), sampled AS (
  SELECT d.lang, len({_TOKENS}) AS tokens
  FROM documents d JOIN rates r ON d.lang = r.lang
  WHERE CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
             AS INT) AS DOUBLE) < r.rate * 65536.0
)
SELECT lang, COUNT(*) AS n_sampled,
       CAST(SUM(tokens) AS BIGINT) AS sampled_tokens
FROM sampled
GROUP BY lang
ORDER BY lang
""",
    description="Mixture-weight resampling: per-language keep rate "
    "min(1, uniform-target weight) applied as a deterministic md5-"
    "bucket threshold — reproducible membership (same subset in any "
    "engine, any partitioning), the executable form of "
    "q_mixture_weights; rates broadcast-joined back to the corpus.",
)
def q_mixture_resample(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    toks = docs.select("lang", "doc_id", X.token_count(F.col("text")).alias("tokens"))
    per_lang = toks.groupBy("lang").agg(F.sum("tokens").cast("long").alias("lang_tokens"))
    w = Window.partitionBy()
    rate = F.least(
        F.lit(1.0),
        (
            F.sum("lang_tokens").over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        )
        / F.col("lang_tokens").cast("double"),
    )
    rates = per_lang.select("lang", rate.alias("rate"))
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    return (
        toks.join(F.broadcast(rates), "lang")
        .where(h.cast("double") < F.col("rate") * F.lit(65536.0))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("tokens").cast("long").alias("sampled_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "q_topk_weighted",
    oracle="""
SELECT event_type, user_id, total_value
FROM (
  SELECT event_type, user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY SUM(CAST(value AS DECIMAL(18,2))) DESC, user_id) AS rk
  FROM events
  GROUP BY event_type, user_id
)
WHERE rk <= 3
ORDER BY event_type, total_value DESC, user_id
""",
    description="Weighted grouped top-k (ClickHouse topKWeighted "
    "analog, exact): top-3 users per event type by exact-decimal summed "
    "value — partial-agg then per-partition window rank on the reduced "
    "frame.",
)
def q_topk_weighted(spark, sf_dir):
    from clickbom_spark.queries import dec

    (events,) = load(spark, sf_dir, "events")
    counts = events.groupBy("event_type", "user_id").agg(
        F.sum(dec("value")).alias("dec_value")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("dec_value"), "user_id")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "event_type",
            "user_id",
            F.col("dec_value").cast("double").alias("total_value"),
        )
        .orderBy("event_type", F.desc("total_value"), "user_id")
    )


@query(
    "q_fuzzy_match_nations",
    # Fuzzy dimension matching: dirty spellings resolved against the
    # nation dimension by edit distance — Levenshtein is exact integer
    # semantics in any engine, so the match set is deterministic.
    oracle="""
WITH dirty(raw) AS (
  VALUES ('NATION-3'), ('nation_5'), ('NATIN_12'), ('NATION_77X'),
         ('NTION_9'), ('COMPLETELY_DIFFERENT')
), scored AS (
  SELECT d.raw, n.n_name,
         CAST(levenshtein(d.raw, n.n_name) AS BIGINT) AS dist,
         ROW_NUMBER() OVER (PARTITION BY d.raw
                            ORDER BY levenshtein(d.raw, n.n_name), n.n_name)
           AS rk
  FROM dirty d CROSS JOIN nation n
)
SELECT raw, n_name AS matched, dist
FROM scored
WHERE rk = 1 AND dist <= 3
ORDER BY raw
""",
    description="Fuzzy dimension matching: dirty name variants resolved "
    "to the nation dimension by minimum Levenshtein distance (≤3), "
    "deterministic tie-break — entity-resolution over a BROADCAST dim "
    "(25 rows × dirty side; never fact × fact), the standard "
    "dirty-input → canonical-key repair step.",
)
def q_fuzzy_match_nations(spark, sf_dir):
    (nation,) = load(spark, sf_dir, "nation")
    dirty = local_frame(
        spark,
        [("NATION-3",), ("nation_5",), ("NATIN_12",), ("NATION_77X",),
         ("NTION_9",), ("COMPLETELY_DIFFERENT",)],
        "raw string",
    )
    scored = dirty.crossJoin(F.broadcast(nation.select("n_name"))).select(
        "raw", "n_name", F.levenshtein("raw", "n_name").cast("long").alias("dist")
    )
    w = Window.partitionBy("raw").orderBy("dist", "n_name")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") == 1) & (F.col("dist") <= 3))
        .select("raw", F.col("n_name").alias("matched"), "dist")
        .orderBy("raw")
    )


# DuckDB twin of ext.text.normalize_text()
_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


@query(
    "q_curation_pipeline",
    # The four stages composed end-to-end, each stage feeding the next:
    # heuristic filters → exact near-dup removal (fingerprint keep-one)
    # → mixture-rate downsampling → sequence packing.  The oracle
    # replays the identical composition as chained CTEs (including the
    # recursive packing fold), so the whole pipeline — not just each
    # stage — is value-checked.
    oracle=f"""
WITH RECURSIVE feats AS (
  SELECT doc_id, lang, source, text,
         CAST(len({_TOKENS}) AS BIGINT) AS tokens,
         CAST(length(list_aggregate({_TOKENS}, 'string_agg', '')) AS DOUBLE)
           / CAST(greatest(len({_TOKENS}), 1) AS DOUBLE) AS mwl,
         CAST(len(list_distinct({_TOKENS})) AS DOUBLE)
           / CAST(greatest(len({_TOKENS}), 1) AS DOUBLE) AS dr
  FROM documents
), filtered AS (
  SELECT doc_id, lang, source, text, tokens FROM feats
  WHERE tokens >= 20 AND tokens <= 64
    AND mwl >= 3.0 AND mwl <= 8.0 AND dr >= 0.5
), deduped AS (
  SELECT doc_id, lang, source, tokens FROM (
    SELECT doc_id, lang, source, tokens,
           ROW_NUMBER() OVER (PARTITION BY md5({_NORM}) ORDER BY doc_id) AS rn
    FROM filtered
  ) WHERE rn = 1
), rates AS (
  SELECT lang,
         least(CAST(1.0 AS DOUBLE),
               (CAST(SUM(lt) OVER () AS DOUBLE) / CAST(COUNT(*) OVER () AS DOUBLE))
               / CAST(lt AS DOUBLE)) AS rate
  FROM (SELECT lang, SUM(tokens) AS lt FROM deduped GROUP BY lang)
), sampled AS (
  SELECT d.doc_id, d.lang, d.source, d.tokens
  FROM deduped d JOIN rates r ON d.lang = r.lang
  WHERE CAST(CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
             AS INT) AS DOUBLE) < r.rate * 65536.0
), ordered AS (
  SELECT lang, source, tokens,
         ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
  FROM sampled
), packed AS (
  SELECT lang, source, rn, tokens, tokens AS run, CAST(1 AS BIGINT) AS pack_id
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.lang, o.source, o.rn, o.tokens,
         CASE WHEN p.run + o.tokens > {_PACK_CAP}
              THEN o.tokens ELSE p.run + o.tokens END,
         CASE WHEN p.run + o.tokens > {_PACK_CAP}
              THEN p.pack_id + 1 ELSE p.pack_id END
  FROM packed p
  JOIN ordered o ON o.lang = p.lang AND o.source = p.source AND o.rn = p.rn + 1
), stage_counts AS (
  SELECT f.lang,
         (SELECT COUNT(*) FROM documents d2 WHERE d2.lang = f.lang) AS n_input,
         COUNT(*) AS n_filtered
  FROM filtered f GROUP BY f.lang
), dd AS (
  SELECT lang, COUNT(*) AS n_deduped FROM deduped GROUP BY lang
), sm AS (
  SELECT lang, COUNT(*) AS n_sampled, SUM(tokens) AS sampled_tokens
  FROM sampled GROUP BY lang
), pk AS (
  SELECT lang, COUNT(DISTINCT (source, pack_id)) AS n_packs
  FROM packed GROUP BY lang
)
SELECT sc.lang,
       CAST(sc.n_input AS BIGINT) AS n_input,
       CAST(sc.n_filtered AS BIGINT) AS n_filtered,
       CAST(COALESCE(dd.n_deduped, 0) AS BIGINT) AS n_deduped,
       CAST(COALESCE(sm.n_sampled, 0) AS BIGINT) AS n_sampled,
       CAST(COALESCE(sm.sampled_tokens, 0) AS BIGINT) AS sampled_tokens,
       CAST(COALESCE(pk.n_packs, 0) AS BIGINT) AS n_packs
FROM stage_counts sc
LEFT JOIN dd ON dd.lang = sc.lang
LEFT JOIN sm ON sm.lang = sc.lang
LEFT JOIN pk ON pk.lang = sc.lang
ORDER BY sc.lang
""",
    description="END-TO-END curation pipeline: heuristic filter cascade "
    "→ exact near-dup removal (normalized-text fingerprint, keep lowest "
    "id) → mixture-rate downsampling → greedy sequence packing, "
    "composed as one lazy DataFrame program (Catalyst sees the whole "
    "chain; one scan of the corpus feeds all stages) and value-checked "
    "as a whole against the chained-CTE replay, recursive packing fold "
    "included — per-language funnel counts at every stage.",
    bench=True,
)
def q_curation_pipeline(spark, sf_dir):
    from clickbom_spark.ext.packing import pack_sequences

    (docs,) = load(spark, sf_dir, "documents")
    w = X.tokens(F.col("text"))
    n = F.size(w).cast("long")
    denom = F.greatest(n, F.lit(1)).cast("double")
    mwl = F.aggregate(w, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / denom
    dr = F.size(F.array_distinct(w)).cast("double") / denom
    feats = docs.select(
        "doc_id", "lang", "source", "text",
        n.alias("tokens"), mwl.alias("mwl"), dr.alias("dr"),
    )
    filtered = feats.where(
        (F.col("tokens") >= 20) & (F.col("tokens") <= 64)
        & (F.col("mwl") >= 3.0) & (F.col("mwl") <= 8.0) & (F.col("dr") >= 0.5)
    )
    fp = F.md5(X.normalize_text(F.col("text")))
    # The funnel used to fan SIX consumers out of the filtered frame
    # (per-stage counts, dedup, rates, sampling, packing), and
    # Catalyst planned a full copy of the scan+tokenize(+dedup-window)
    # subtree per consumer — 7 parquet scans, no ReusedExchange (see
    # plans/r14/q_curation_pipeline_before.txt).  Restructured so the
    # expensive subtree appears exactly TWICE: (a) ONE aggregate over
    # the ranked frame yields n_filtered, n_deduped, and the
    # per-language token budget the rates derive from, and (b) the
    # sampled-stage counts read the PACKED frame (pack assignment is
    # row-preserving), so the packing branch serves both.  At corpus
    # scale each avoided consumer was a full tokenize pass.
    slim = filtered.select(
        "doc_id", "lang", "source", "tokens", fp.alias("_fp")
    )
    wdup = Window.partitionBy("_fp").orderBy("doc_id")
    ranked = slim.withColumn("rn", F.row_number().over(wdup))
    keep = F.col("rn") == 1
    deduped = ranked.where(keep).select(
        "doc_id", "lang", "source", "tokens"
    )
    # stage counts + the deduped token budget from ONE pass.  The rate
    # window must run over languages PRESENT IN DEDUPED (the oracle's
    # rates CTE groups deduped): the dedup window partitions by
    # fingerprint, not (lang, fingerprint), so a language whose
    # filtered docs all lose the keep-one race to lower-doc_id docs of
    # OTHER languages has a funnel row with n_deduped = 0 / lt NULL —
    # it must not inflate the COUNT(*) denominator of every rate.
    funnel = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_filtered"),
        F.count(F.when(keep, 1)).alias("n_deduped"),
        F.sum(F.when(keep, F.col("tokens"))).alias("lt"),
    )
    wall = Window.partitionBy()
    rate = F.least(
        F.lit(1.0),
        (F.sum("lt").over(wall).cast("double")
         / F.count(F.lit(1)).over(wall).cast("double"))
        / F.col("lt").cast("double"),
    )
    rates = funnel.where(F.col("n_deduped") > 0).select(
        "lang", rate.alias("rate")
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    sampled = (
        deduped.join(F.broadcast(rates), "lang")
        .where(h.cast("double") < F.col("rate") * F.lit(65536.0))
        .select("doc_id", "lang", "source", "tokens")
    )
    packed = pack_sequences(
        sampled, cap=_PACK_CAP, shard_cols=["lang", "source"],
        order_col="doc_id", tokens_col="tokens",
    )
    n_input = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_input"))
    # pack assignment preserves every sampled row, so the sampled-stage
    # counts and the pack count come from the packed frame in one agg
    n_sm_pk = packed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("tokens").cast("long").alias("sampled_tokens"),
        F.countDistinct("source", "pack_id").alias("n_packs"),
    )
    out = (
        funnel.join(n_input, "lang")
        .join(n_sm_pk, "lang", "left")
    )
    z = F.lit(0).cast("long")
    return out.select(
        "lang",
        F.col("n_input").cast("long").alias("n_input"),
        F.col("n_filtered").cast("long").alias("n_filtered"),
        F.coalesce(F.col("n_deduped").cast("long"), z).alias("n_deduped"),
        F.coalesce(F.col("n_sampled").cast("long"), z).alias("n_sampled"),
        F.coalesce(F.col("sampled_tokens").cast("long"), z).alias("sampled_tokens"),
        F.coalesce(F.col("n_packs").cast("long"), z).alias("n_packs"),
    ).orderBy("lang")


@query(
    "q_bigram_lm_score",
    # Corpus-trained smoothed bigram LM as a quality filter: train
    # (count) and score in the same two-pass dataflow a perplexity
    # filter runs at production scale.  Per-term surprisal is rounded
    # to 6 decimals and summed EXACTLY as decimal so the cross-row
    # fold is order-independent (the repo's standard float contract);
    # the per-doc mean divides once in double with one op order.
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS w FROM documents
), grams AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
), cb AS (
  SELECT w1, w2, COUNT(*) AS nb FROM grams GROUP BY w1, w2
), cu AS (
  SELECT unnest({_TOKENS}) AS w1 FROM documents
), cuc AS (
  SELECT w1, COUNT(*) AS nu FROM cu GROUP BY w1
), v AS (
  SELECT COUNT(*) AS vsz FROM cuc
), terms AS (
  SELECT g.doc_id,
         CAST(round(-log2((CAST(cb.nb AS DOUBLE) + 0.5)
                          / (CAST(cuc.nu AS DOUBLE)
                             + 0.5 * CAST(v.vsz AS DOUBLE))), 6)
              AS DECIMAL(18,6)) AS bits
  FROM grams g JOIN cb USING (w1, w2) JOIN cuc USING (w1), v
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       round(CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
         AS ppl_bits
FROM terms
GROUP BY doc_id
ORDER BY doc_id
""",
    description="Corpus-trained add-k-smoothed bigram language-model "
    "surprisal per document (KenLM-style quality/perplexity filter): "
    "bigram+unigram count 'training' and document scoring are two hash "
    "aggregations and two equi-joins over one tokenized scan shape — "
    "no model server, fully distributed; count frames are AQE-sized "
    "(vocabulary grows with the corpus). High ppl_bits = surprising/"
    "low-quality text, the standard pretraining-data culling signal.",
)
def q_bigram_lm_score(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    w = X.tokens(F.col("text"))
    n = F.size(w)
    pairs = F.zip_with(
        F.slice(w, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    grams = docs.select("doc_id", F.explode(pairs).alias("g")).select(
        "doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")
    )
    cb = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("nb"))
    uni = docs.select(F.explode(w).alias("w1"))
    cuc = uni.groupBy("w1").agg(F.count(F.lit(1)).alias("nu"))
    v = cuc.agg(F.count(F.lit(1)).alias("vsz"))
    bits = F.round(
        -F.log2(
            (F.col("nb").cast("double") + 0.5)
            / (F.col("nu").cast("double") + 0.5 * F.col("vsz").cast("double"))
        ),
        6,
    ).cast("decimal(18,6)")
    terms = (
        grams.join(cb, ["w1", "w2"])
        .join(cuc, "w1")
        .join(F.broadcast(v))
        .select("doc_id", bits.alias("bits"))
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("bits").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("ppl_bits"),
        )
        .orderBy("doc_id")
    )


DSIR_K = 200


@query(
    "q_dsir_resample",
    # DSIR (Xie et al. 2023, arXiv:2302.03169): data selection by
    # importance resampling.  Train two smoothed unigram LMs — the
    # TARGET distribution (English docs stand in for the high-quality
    # target) and the RAW corpus — score every document by its summed
    # per-token log probability ratio, add deterministic Gumbel noise
    # (the paper's Gumbel-top-k sampling, derandomized through the
    # md5-of-doc_id uniform so any engine draws the same noise), and
    # keep the global top-K.  Per-term log-ratios are rounded to 6
    # decimals and summed exactly as decimal (the repo's float
    # contract), so selection membership is bit-stable cross-engine.
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS}) AS w FROM documents
), tgt AS (
  SELECT unnest({_TOKENS}) AS w FROM documents WHERE lang = 'en'
), ct AS (
  SELECT w, COUNT(*) AS nt FROM tgt GROUP BY w
), cr AS (
  SELECT w, COUNT(*) AS nr FROM toks GROUP BY w
), scal AS (
  SELECT (SELECT COUNT(*) FROM tgt) AS tot_t,
         (SELECT COUNT(*) FROM toks) AS tot_r,
         (SELECT COUNT(*) FROM cr) AS vsz
), tfr AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w
), terms AS (
  SELECT t.doc_id, t.tf,
         CAST(round(
           log2((CAST(COALESCE(ct.nt, 0) AS DOUBLE) + 0.5)
                / (CAST(s.tot_t AS DOUBLE) + 0.5 * CAST(s.vsz AS DOUBLE)))
           - log2((CAST(cr.nr AS DOUBLE) + 0.5)
                  / (CAST(s.tot_r AS DOUBLE) + 0.5 * CAST(s.vsz AS DOUBLE))),
           6) AS DECIMAL(18,6)) * t.tf AS lrw
  FROM tfr t LEFT JOIN ct USING (w) JOIN cr USING (w), scal s
), docs_lw AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens, SUM(lrw) AS lw
  FROM terms GROUP BY doc_id
), noised AS (
  SELECT d.doc_id, d.n_tokens, d.lw,
         d.lw + CAST(round(-ln(-ln(
             (CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))
                   AS INT) + 0.5) / 16777216.0)), 6) AS DECIMAL(18,6))
           AS score
  FROM docs_lw d
)
SELECT n.doc_id, doc.lang, doc.source, n.n_tokens,
       CAST(round(n.lw, 4) AS DOUBLE) AS lw_bits_r,
       CAST(round(n.score, 4) AS DOUBLE) AS score_r
FROM noised n JOIN documents doc USING (doc_id)
ORDER BY n.score DESC, n.doc_id
LIMIT {DSIR_K}
""",
    description="DSIR importance resampling (arXiv:2302.03169): smoothed "
    "unigram target/raw LM log-ratio per document + derandomized "
    "Gumbel-top-k selection — occurrences collapse to per-(doc,term) "
    "tf rows before the count joins (the joins shuffle distinct terms, "
    "not every token), count frames are AQE-sized (vocabulary grows "
    "with the corpus), selection is a TakeOrderedAndProject top-K; no "
    "model server, no global window, fully distributed.",
)
def q_dsir_resample(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    noised = dsir_scores(docs, F.col("lang") == "en")
    return (
        noised.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            # round the exact decimal, THEN cast: a .xxxx50 boundary cast
            # to double first would fall below the half in one engine and
            # above it in the other (bit doc 231 at sf0.01)
            F.round(F.col("lw"), 4).cast("double").alias("lw_bits_r"),
            F.round(F.col("score"), 4).cast("double").alias("score_r"),
            "score",
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(DSIR_K)
        .drop("score")
    )


def dsir_scores(docs, target_pred):
    """Per-document DSIR importance scores: (doc_id, n_tokens, lw,
    score) where ``lw`` is the exact-decimal summed unigram log2
    probability ratio between the ``target_pred`` subset's LM and the
    whole corpus's LM, and ``score`` adds the derandomized Gumbel noise
    (md5-of-doc_id uniform).  Select by score descending for
    Gumbel-top-k importance resampling.

    Shuffle shape: occurrences collapse to per-(doc, term) tf rows
    BEFORE the count joins (lw = Σ tf·λ(w) — exact, since the rounded
    per-term λ times an integer tf is still an exact decimal), so the
    join stage shuffles distinct document terms, not every token
    occurrence."""
    w = X.tokens(F.col("text"))
    toks = docs.select("doc_id", F.explode(w).alias("w"))
    tgt = docs.where(target_pred).select(F.explode(w).alias("w"))
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    ct = tgt.groupBy("w").agg(F.count(F.lit(1)).alias("nt"))
    cr = tf.groupBy("w").agg(F.sum("tf").alias("nr"))
    scal = (
        tgt.agg(F.count(F.lit(1)).alias("tot_t"))
        .join(tf.agg(F.sum("tf").alias("tot_r")))
        .join(cr.agg(F.count(F.lit(1)).alias("vsz")))
    )
    lr = F.round(
        F.log2(
            (F.coalesce(F.col("nt"), F.lit(0)).cast("double") + 0.5)
            / (F.col("tot_t").cast("double") + 0.5 * F.col("vsz").cast("double"))
        )
        - F.log2(
            (F.col("nr").cast("double") + 0.5)
            / (F.col("tot_r").cast("double") + 0.5 * F.col("vsz").cast("double"))
        ),
        6,
    ).cast("decimal(18,6)")
    terms = (
        tf.join(ct, "w", "left")
        .join(cr, "w")
        .join(F.broadcast(scal))
        .select("doc_id", "tf", (lr * F.col("tf")).alias("lrw"))
    )
    docs_lw = terms.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"), F.sum("lrw").alias("lw")
    )
    from clickbom_spark.ext.sampling import uniform_of

    # the SINGLE portable-uniform construction (shared with weighted
    # sampling) — bit-for-bit sensitive, so only one copy may exist
    u = uniform_of(F.col("doc_id"))
    gumbel = F.round(-F.log(-F.log(u)), 6).cast("decimal(18,6)")
    return docs_lw.select(
        "doc_id", "n_tokens", "lw", (F.col("lw") + gumbel).alias("score")
    )
