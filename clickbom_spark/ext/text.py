"""Text-analysis operators for training-data pipelines.

All pure Column expressions (JVM-side, codegen-friendly): at 100 TB a
Python UDF here would be the bottleneck; none is used.

Operators:
- tokens / token_count      — whitespace + regex tokenization
- fingerprint               — normalized md5 document fingerprint
- quality_features / score  — length, punctuation/stopword ratios
- lang_scores / lang_id     — stopword-hit language heuristic
- shingles                  — word n-gram sets for Jaccard/MinHash
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram heuristic.  Chosen for
# mutual exclusivity, not linguistic completeness.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "los", "las", "es", "una", "y"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (empty tokens dropped)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def word_and_punct_tokens(text: Column) -> Column:
    """BPE-ish regex tokenization: words and single punctuation marks as
    separate tokens (an upper bound on subword token counts)."""
    return F.regexp_extract_all(text, F.lit(r"(\w+|[^\w\s])"), 1)


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, collapse
    whitespace, strip non-alphanumerics."""
    c = F.lower(text)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint over the normalized text."""
    return F.md5(normalize_text(text))


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, r"[\w\s]", ""))
    return n_punct.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def stopword_hits(text: Column, stopwords: list[str]) -> Column:
    """Count (non-deduplicated) tokens that are in the stopword list."""
    lits = F.array(*[F.lit(s) for s in stopwords])
    return F.size(
        F.filter(tokens(F.lower(text)), lambda t: F.array_contains(lits, t))
    )


def mean_word_length(text: Column) -> Column:
    t = tokens(text)
    total = F.aggregate(
        F.transform(t, lambda w: F.length(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return total.cast("double") / F.greatest(F.size(t), F.lit(1)).cast("double")


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, not punctuation
    soup, reasonable word lengths.  Deterministic double arithmetic."""
    n_tokens = token_count(text).cast("double")
    length_term = F.least(n_tokens / F.lit(64.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 4.0, F.lit(1.0))
    mwl = mean_word_length(text)
    word_term = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return (length_term + punct_term + word_term) / F.lit(3.0)


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_hits(text, sw) for lang, sw in LANG_STOPWORDS.items()}


def lang_id(text: Column) -> Column:
    """argmax over language stopword hits; deterministic tie-break by
    fixed language order; 'und' (undetermined) when nothing hits."""
    scores = lang_scores(text)
    order = list(LANG_STOPWORDS)
    best = F.lit("und")
    best_score = F.lit(0)
    # strict-> comparison folding over a fixed order: on ties the
    # earliest-folded language is kept (deterministic)
    for lang in reversed(order):
        s = scores[lang]
        best = F.when(s > best_score, F.lit(lang)).otherwise(best)
        best_score = F.greatest(s, best_score)
    return best


def fan_out(df):
    """Repartition a DataFrame up to the cluster's default parallelism
    when the source scan under-partitions (e.g. one small unsplittable
    parquet file → one task doing ALL the per-row CPU work).

    No-op when the input already has enough partitions — at real scale
    file splits provide parallelism and this adds nothing.  For the
    CPU-bound signature operators (minhash/simhash/LSH/decode) the tiny
    exchange is repaid ~Ncores× over.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def let(bound: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``bound`` ONCE and
    feed it to ``body`` as a lambda variable.

    Spark evaluates a repeated Column subtree once per *reference*, so
    an expression that mentions e.g. a tokenization five times does 5×
    the work (O(n²) when the mentions are inside a per-element lambda).
    ``transform(array(x), v -> body(v))[0]`` materializes x exactly
    once as a NamedLambdaVariable.
    """
    return F.transform(F.array(bound), body)[0]


def passage_chunks(
    text: Column, size: int = 64, stride: int = 48
) -> Column:
    """Context-window chunking: overlapping token windows of ``size``
    tokens every ``stride`` tokens (overlap = size - stride) — the
    passage/chunking primitive of an LLM training/RAG pipeline.

    Returns array<string> of passages; a short document yields one
    passage.  Pure expressions (tokens let-bound; slice per chunk),
    so chunking stays JVM-side and splittable at any scale.
    """

    def of_toks(t: Column) -> Column:
        n = F.size(t)
        last_start = F.greatest(
            F.ceil((n - F.lit(size)) / F.lit(stride)).cast("int"), F.lit(0)
        )
        return F.transform(
            F.sequence(F.lit(0), last_start),
            lambda c: F.concat_ws(" ", F.slice(t, c * stride + 1, size)),
        )

    return let(tokens(normalize_text(text)), of_toks)


def md5_gram_hash(gram: Column) -> Column:
    """Engine-portable 32-bit gram hash: first 8 hex chars of md5 as an
    integer — identical in any engine with md5 (used by the winnowing
    oracle); xxhash64 is the faster default for production runs."""
    return F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")


def winnowing_fingerprints(
    text: Column, k: int = 8, window: int = 4, hash_fn=None
) -> Column:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme).

    normalize → character k-grams → hash each → take the min hash of
    every ``window`` consecutive gram hashes → distinct mins.  The
    guarantee: any shared substring of length >= k + window - 1 between
    two documents yields at least one shared fingerprint, so overlap
    detection needs only fingerprint-set intersection (|fps| ≈ 2n/(w+1),
    a fixed compression of the document).

    Pure expressions; both the normalized text and the gram-hash array
    are let-bound (each is referenced per-element downstream).
    """
    hash_fn = hash_fn or F.xxhash64

    def windows_of(h: Column) -> Column:
        n_win = F.greatest(F.size(h) - (window - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda j: F.array_min(F.slice(h, j, window)),
            )
        )

    def of_norm(s: Column) -> Column:
        n_grams = F.greatest(F.length(s) - (k - 1), F.lit(1))
        hashes = F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: hash_fn(F.call_function("substring", s, i, F.lit(k))),
        )
        return let(hashes, windows_of)

    return let(normalize_text(text), of_norm)


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram set (the MinHash/Jaccard input unit)."""

    def grams_of(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
        grams = F.when(
            F.size(t) >= n,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n))),
        ).otherwise(F.array(F.concat_ws(" ", t)))
        return F.array_distinct(grams)

    return let(tokens(normalize_text(text)), grams_of)


# ---- LLM training-data curation operators (round 2 additions) ----

#: Engine-portable PII patterns (identical semantics in Java regex and
#: RE2): conservative email and dotted-quad IP matchers.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IP_PATTERN = r"\b\d{1,3}(\.\d{1,3}){3}\b"


def redact_pii(text: Column) -> Column:
    """Replace emails then IPs with typed placeholder tags — the
    training-data PII scrubbing primitive, all JVM-side regex."""
    out = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(out, IP_PATTERN, "<IP>")


def repetition_ratio(text: Column, n: int = 3) -> Column:
    """Duplicate word n-gram fraction: 1 - distinct/total grams (the
    Gopher-style repetition quality signal).  0.0 for docs shorter
    than n tokens."""

    def of_toks(t: Column) -> Column:
        total = F.size(t) - (n - 1)
        idx = F.sequence(F.lit(0), F.greatest(total - 1, F.lit(0)))
        grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)))
        return F.when(
            total >= 1,
            (total - F.size(F.array_distinct(grams))).cast("double")
            / total.cast("double"),
        ).otherwise(F.lit(0.0))

    return let(tokens(normalize_text(text)), of_toks)


def char_entropy(text: Column) -> Column:
    """Shannon entropy (bits/char) of the normalized character
    distribution, deterministically: each -p*log2(p) term is rounded to
    6 decimals and cast to decimal BEFORE the sum, so the result is
    independent of accumulation order AND of libm log2 rounding — JVM
    and DuckDB log2 differ by ulps, and a tighter (9-decimal) rounding
    step left a per-term ~1e-6 chance of straddling a boundary, which
    bit at the 185k-term sf0.1 corpus."""

    def of_chars(cs: Column) -> Column:
        total = F.size(cs).cast("double")
        distinct = F.array_distinct(cs)

        def term_of(c: Column) -> Column:
            # p referenced twice (p·log2 p) — the count subtree is
            # evaluated twice, which is cheaper than a nested let here.
            p = F.size(F.filter(cs, lambda x: x == c)).cast("double") / total
            return F.round(-p * F.log2(p), 6).cast("decimal(12,6)")

        terms = F.transform(distinct, term_of)
        return F.when(
            F.size(cs) > 0,
            F.aggregate(
                terms,
                F.lit(0).cast("decimal(22,6)"),
                # re-cast: decimal + decimal widens to (23,6), but the
                # fold's merge type must equal the accumulator type
                lambda acc, x: (
                    acc + F.coalesce(x, F.lit(0).cast("decimal(12,6)"))
                ).cast("decimal(22,6)"),
            ).cast("double"),
        ).otherwise(F.lit(0.0))

    return let(F.split(normalize_text(text), ""), of_chars)


# ---- Gopher repetition suite (round 5) ----

#: Gopher paper (Rae et al. 2021, table A1) repetition thresholds: a doc
#: is flagged when the duplicate n-gram character fraction (n in 5..10)
#: or the top n-gram character fraction (n in 2..4) exceeds these.
GOPHER_DUP_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
GOPHER_TOP_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}


def _gram_array(t: Column, n: int) -> Column:
    """Positional word n-grams of token array ``t`` (space-joined);
    empty array when the doc has fewer than ``n`` tokens."""
    idx = F.sequence(F.lit(0), F.size(t) - n)
    return F.when(
        F.size(t) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n))),
    ).otherwise(F.array().cast("array<string>"))


def _dup_covered_chars(t: Column, g: Column, n: int) -> Column:
    """Characters of ``t`` covered by any n-gram occurring >= 2 times,
    overlaps counted once, as ONE linear fold.

    A token j (0-based) is covered iff some duplicated gram starts in
    [j-n+1, j].  The fold walks token positions carrying the most
    recent duplicated-gram start seen so far — O(tokens) per doc with
    no quadratic membership scans (the duplicated-gram SET is found by
    sorting the gram array once and keeping adjacent equals)."""

    def of_sorted(s: Column) -> Column:
        dupset_expr = F.array_distinct(
            F.filter(
                s,
                lambda x, i: F.when(
                    i > 0, x == F.element_at(s, i)  # i is 0-based: s[i-1]
                ).otherwise(F.lit(False)),
            )
        )

        # dupset must be LET-BOUND: referenced inside the fold's step,
        # a raw expression would re-run the filter+distinct at every
        # token position (O(tokens x grams) per doc per n)
        def of_dupset(dupset: Column) -> Column:
            init = F.struct(
                F.lit(-(n + 1)).alias("last"),
                F.lit(0).cast("long").alias("acc"),
            )

            def step(st: Column, j: Column) -> Column:
                is_dup_start = F.when(
                    j <= F.size(t) - n,
                    F.array_contains(dupset, F.element_at(g, j + 1)),
                ).otherwise(F.lit(False))
                new_last = F.when(is_dup_start, j).otherwise(st["last"])
                covered = new_last >= j - n + 1
                return F.struct(
                    new_last.alias("last"),
                    (
                        st["acc"]
                        + F.when(
                            covered,
                            F.length(F.element_at(t, j + 1)).cast("long"),
                        ).otherwise(F.lit(0).cast("long"))
                    ).alias("acc"),
                )

            return F.aggregate(
                F.sequence(F.lit(0), F.size(t) - 1),
                init,
                step,
                lambda st: st["acc"],
            )

        return let(dupset_expr, of_dupset)

    return F.when(F.size(t) >= n, let(F.array_sort(g), of_sorted)).otherwise(
        F.lit(0).cast("long")
    )


def _top_gram_chars(g: Column, n: int) -> Column:
    """Characters claimed by the most character-covering repeated
    n-gram: max over distinct grams of count * (chars of the gram,
    spaces excluded).  Computed from ONE sort of the gram array:
    run starts mark distinct grams, run lengths are their counts.

    (Deterministic variant of Gopher's "fraction of characters in the
    most frequently occurring n-gram": maximizing count*chars directly
    needs no tie-break between equally-frequent grams.)"""

    def of_sorted(s: Column) -> Column:
        mg = F.size(s)
        starts_expr = F.filter(
            F.sequence(F.lit(1), mg),
            lambda i: F.when(
                i > 1, F.element_at(s, i) != F.element_at(s, i - 1)
            ).otherwise(F.lit(True)),
        )

        # starts must be LET-BOUND: val_of reads it per element, so a
        # raw expression would recompute the filter for every distinct
        # gram (O(grams^2) per doc)
        def of_starts(starts: Column) -> Column:
            def val_of(p: Column, k: Column) -> Column:
                nxt = F.when(
                    k + 2 <= F.size(starts), F.element_at(starts, k + 2)
                ).otherwise(mg + 1)
                run = (nxt - p).cast("long")
                glen = (F.length(F.element_at(s, p)) - (n - 1)).cast("long")
                return run * glen

            return F.coalesce(
                F.array_max(F.transform(starts, val_of)),
                F.lit(0).cast("long"),
            )

        return let(starts_expr, of_starts)

    return F.when(F.size(g) >= 1, let(F.array_sort(g), of_sorted)).otherwise(
        F.lit(0).cast("long")
    )


def gopher_repetition_profile(text: Column) -> Column:
    """The full Gopher repetition-filter signal set for one document, as
    a single struct computed from ONE tokenization (per-doc expressions
    only — embarrassingly parallel, zero shuffles at any scale):

    - ``dup{n}_frac`` for n in 5..10: fraction of normalized-token
      characters covered by n-grams occurring more than once (overlaps
      counted once).
    - ``top{n}_frac`` for n in 2..4: max over distinct n-grams of
      count * gram-chars, over total chars.

    Fractions are 0.0 for docs shorter than n tokens or with no
    characters.  Character counts exclude whitespace on both sides of
    every ratio (token characters only), so the metrics are
    tokenization-stable.
    """

    def of_toks(t: Column) -> Column:
        total = F.aggregate(
            F.transform(t, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )

        # NOTE: n is bound through factory functions, never `lambda g,
        # n=n:` — pyspark introspects the lambda's SIGNATURE to decide
        # the higher-order arity, so a defaulted second parameter turns
        # the let into a two-arg (value, index) lambda and silently
        # rebinds n to the element index.
        def of_total(tc: Column) -> Column:
            def frac(chars: Column, name: str) -> Column:
                return (
                    F.when(tc > 0, chars.cast("double") / tc.cast("double"))
                    .otherwise(F.lit(0.0))
                    .alias(name)
                )

            def dup_field(n: int) -> Column:
                cov = let(
                    _gram_array(t, n), lambda g: _dup_covered_chars(t, g, n)
                )
                return frac(cov, f"dup{n}_frac")

            def top_field(n: int) -> Column:
                top = let(_gram_array(t, n), lambda g: _top_gram_chars(g, n))
                return frac(top, f"top{n}_frac")

            fields = [dup_field(n) for n in sorted(GOPHER_DUP_THRESHOLDS)]
            fields += [top_field(n) for n in sorted(GOPHER_TOP_THRESHOLDS)]
            return F.struct(*fields)

        return let(total, of_total)

    return let(tokens(normalize_text(text)), of_toks)


def hashed_embedding(text: Column, dim: int = 64) -> Column:
    """Feature-hashing text embedding (the HashingTF / hashing-trick
    vectorizer) as pure Column expressions: token → md5 bucket in
    [0, dim), signed by one hash bit (Weinberger et al. 2009 — the
    sign hash unbiases collisions), counts accumulated per bucket,
    then L2-normalized.  Returns array<double> of length ``dim``.

    Engine-portable: the md5 bucket/sign hashes recompute identically
    in any engine (same contract as md5_gram_hash), so ANN queries over
    these vectors are fully oracle-checkable end to end.  Everything is
    per-row expression work — embedding a 100 TB corpus is a map-only
    scan, no shuffle, no model server.

    A zero vector — from an empty doc OR full sign cancellation
    (opposite-sign tokens sharing every occupied bucket) — stays
    all-zero rather than NaN: callers feed ANN paths whose guarded
    cosine treats zero-norm as NULL.
    """

    def of_toks(t: Column) -> Column:
        def bucket_of(w: Column) -> Column:
            return F.pmod(md5_gram_hash(w), F.lit(dim))

        def sign_of(w: Column) -> Column:
            # an independent bit: md5 of the marked token
            h = F.conv(
                F.substring(F.md5(F.concat(F.lit("s#"), w)), 1, 2), 16, 10
            ).cast("int")
            return F.when(h.bitwiseAND(F.lit(1)) == 1, F.lit(1.0)).otherwise(
                F.lit(-1.0)
            )

        raw = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: F.aggregate(
                t,
                F.lit(0.0),
                lambda acc, w: acc
                + F.when(bucket_of(w) == d, sign_of(w)).otherwise(F.lit(0.0)),
            ),
        )

        def of_raw(v: Column) -> Column:
            nrm = F.sqrt(
                F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
            )
            return F.when(
                nrm > 0, F.transform(v, lambda x: x / nrm)
            ).otherwise(v)

        return let(raw, of_raw)

    return let(tokens(normalize_text(text)), of_toks)


def hashed_embedding_agg(
    df, text_col: str, id_col: str, dim: int = 64
):
    """The shuffle-based scale path of :func:`hashed_embedding`:
    explode tokens → (id, bucket, signed 1) → two hash aggregates →
    dense re-assembly + L2 normalize.  Bit-identical output (the
    bucket sums are exact ±1 integers, so accumulation order cannot
    matter; the normalize division is IEEE-exact either way).

    Cost contrast — the per-row expression version does
    O(dim · tokens) work per document (each output dimension folds the
    whole token array), which is the right trade only while ``dim`` is
    small; this variant is O(tokens + nnz · dim_assembly) with two
    bounded shuffles, the correct shape for HashingTF-scale dims
    (2^15+) over 100 TB.  Returns (``id_col``, vec array<double>).
    """
    from pyspark.sql import functions as F

    toks = df.select(
        F.col(id_col),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("_w"),
    )
    bucket = F.pmod(md5_gram_hash(F.col("_w")), F.lit(dim))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("s#"), F.col("_w"))), 1, 2), 16, 10
    ).cast("int")
    sign = F.when(h.bitwiseAND(F.lit(1)) == 1, F.lit(1.0)).otherwise(
        F.lit(-1.0)
    )
    sums = (
        toks.select(F.col(id_col), bucket.alias("_b"), sign.alias("_s"))
        .groupBy(id_col, "_b")
        .agg(F.sum("_s").alias("_v"))  # exact: integer-valued doubles
    )
    pairs = sums.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("_b"), F.col("_v"))).alias("_ps")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.coalesce(
            F.get(F.filter(F.col("_ps"), lambda p: p["_b"] == d), 0)["_v"],
            F.lit(0.0),
        ),
    )

    def of_raw(v):
        nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
        return F.when(nrm > 0, F.transform(v, lambda x: x / nrm)).otherwise(v)

    out = pairs.select(F.col(id_col), let(dense, of_raw).alias("vec"))
    # docs whose token set is empty never reach the explode; restore
    # them with the zero vector so the operator is total over the input
    zeros = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)), lambda d: F.lit(0.0)
    )
    missing = (
        df.select(F.col(id_col))
        .join(out.select(id_col), id_col, "left_anti")
        .select(F.col(id_col), zeros.alias("vec"))
    )
    return out.unionByName(missing)


def compression_ratio(df, text_col: str, out_col: str = "zratio"):
    """zlib compression ratio per document — the CCNet/RefinedWeb-style
    redundancy signal (highly repetitive or templated text compresses
    far below natural prose; near-random text barely compresses).

    ratio = deflate(utf8(text)) bytes / utf8 bytes, NULL for empty
    docs.  zlib is not expressible in SQL, so consumers treat this as
    a Python-boundary operator: an Arrow-batched pandas_udf (the
    repo's UDF policy reserves Python exactly for kernels built-ins
    cannot express — cf. SURVEY §2.11), level pinned at 6 so scores
    are reproducible across runs and machines.  Map-only at any scale;
    composes with q_filter_cascade-style gates.
    """
    import pandas as pd  # noqa: F401 — resolved by the UDF type hints
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def zratio(texts):
        # (pandas Series -> pandas Series scalar UDF; hints omitted so
        # postponed-annotation evaluation can't trip the UDF inspector)
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, 6)) / len(b)

        return texts.map(one)

    return df.withColumn(out_col, zratio(F.col(text_col)))
