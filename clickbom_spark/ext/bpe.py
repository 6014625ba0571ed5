"""Distributed BPE tokenizer training (Sennrich et al. 2016,
arXiv:1508.07909) — the on-corpus vocabulary-learning step of an LLM
data pipeline.

Scale design (the classic one): the corpus is scanned ONCE to build
the weighted word-frequency table (vocabulary-sized — orders of
magnitude smaller than the corpus); every merge iteration then runs on
that small frame:

1. adjacent-pair counts: explode each word's symbol-pair list weighted
   by the word count, hash-aggregate (one small shuffle);
2. best pair: global argmax with deterministic tie-break
   (count DESC, left ASC, right ASC) via a 1-row TakeOrdered — the
   merge rule is the MODEL and lives on the driver by design (like
   k-means centers);
3. apply the merge to every word's symbol array with a pure
   higher-order-function fold (greedy left-to-right, no Python).

Lineage is truncated with localCheckpoint every few merges so
n_merges chained transforms cannot blow up the plan.

All steps are built-in Column expressions; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# End-of-word marker (GPT-2 style suffix): lets the learned units
# distinguish word-final from word-internal occurrences.
EOW = "</w>"

# Merge iterations between lineage-truncating checkpoints in
# bpe_train: each merge adds one higher-order fold to the plan, so a
# few stay cheap to analyze while every checkpoint costs a job.
_CHECKPOINT_EVERY = 4


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) weighted vocabulary from one corpus scan.

    Words containing U+001F are excluded: that control char is the
    oracle's symbol separator (see queries/llm_ops.py q_bpe_train), and
    a vocabulary token embedding it would make the separator encoding
    ambiguous.  Real tokenizers drop such control-char garbage anyway.
    """
    from clickbom_spark.ext.text import tokens

    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .where(~F.col("word").contains("\x1f"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_symbols(word: Column) -> Column:
    """Character symbols with the end-of-word marker appended."""
    return F.concat(F.split(word, ""), F.array(F.lit(EOW)))


def _merge_expr(symbols: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) into
    left+right — one fold, each step either appends the element or
    replaces the tail with the merged symbol.  A merged symbol is
    never immediately re-merged (standard BPE: 'aaa' + (a,a) -> aa,a)
    because the fold compares the ORIGINAL pair, and the merged tail
    equals left+right, not left (degenerate left==left+right is
    impossible for non-empty right)."""
    merged = left + right

    def step(acc: Column, x: Column) -> Column:
        tail_is_left = (F.size(acc) > 0) & (
            F.element_at(acc, -1) == F.lit(left)
        )
        return F.when(
            tail_is_left & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(
        symbols, F.array().cast("array<string>"), step
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, cnt): adjacent-symbol pair counts weighted by the
    word frequency.  zip_with over (symbols, symbols[1:]) builds the
    pair list JVM-side; explode + hash-agg is the only shuffle."""
    s = F.col("symbols")
    n = F.size(s)
    pairs = F.zip_with(
        F.slice(s, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(s, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    return (
        vocab.select(F.explode(pairs).alias("p"), "n")
        .groupBy("p.left", "p.right")
        .agg(F.sum("n").alias("cnt"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merge rules from the corpus.

    Returns [(rank, left, right, pair_count), ...] in merge order —
    the tokenizer model.  Deterministic: ties in pair count break by
    (left, right) lexicographic order, so any engine derives the same
    rules.  Stops early if no pair occurs twice.
    """
    vocab = word_freq_table(docs, text_col).select(
        _initial_symbols(F.col("word")).alias("symbols"), "n"
    )
    vocab = vocab.persist()
    vocab.count()  # materialize the single corpus scan
    sc = docs.sparkSession.sparkContext

    def _ckpt_rdd_id(ckpt_df) -> int | None:
        # A localCheckpoint-ed DataFrame's analyzed plan is a LogicalRDD
        # wrapping the persisted internal RDD — its id addresses the
        # blocks directly (probed), with no getPersistentRDDs set-diff
        # that could race with a concurrent persist on the same session.
        try:
            return ckpt_df._jdf.queryExecution().analyzed().rdd().id()
        except Exception:
            return None

    def _release(rdd_id: int | None) -> None:
        # DataFrame.unpersist() cannot free localCheckpoint blocks
        # (they are persisted internal RDDs, not CacheManager entries —
        # probed empirically); release them at the RDD level so a long
        # training run does not accumulate a block per checkpoint.
        if rdd_id is None:
            return
        rdd = sc._jsc.getPersistentRDDs().get(rdd_id)
        if rdd is not None:
            rdd.unpersist(False)

    rules: list[tuple[int, str, str, int]] = []
    prev = vocab
    ckpt_id: int | None = None  # block id of the checkpoint prev hangs off
    try:
        for rank in range(1, n_merges + 1):
            top = (
                _pair_counts(prev)
                .orderBy(F.desc("cnt"), "left", "right")
                .limit(1)
                .collect()
            )
            if not top or top[0]["cnt"] < 2:
                break
            left, right, cnt = top[0]["left"], top[0]["right"], top[0]["cnt"]
            rules.append((rank, left, right, int(cnt)))
            nxt = prev.select(
                _merge_expr(F.col("symbols"), left, right).alias("symbols"),
                "n",
            )
            if rank % _CHECKPOINT_EVERY == 0 and rank < n_merges:
                # (skip on the final iteration — nothing reads it)
                nxt = nxt.localCheckpoint(eager=True)
                _release(ckpt_id)  # superseded checkpoint's blocks
                ckpt_id = _ckpt_rdd_id(nxt)
            prev = nxt
    finally:
        vocab.unpersist()
        _release(ckpt_id)
    return rules


def bpe_segment(
    docs: DataFrame,
    rules: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply learned merge rules to a corpus: (id, pieces array, n_pieces).

    Applies rules in rank order with the same greedy fold used in
    training — the encode step of the tokenizer.  One corpus scan;
    chained pure expressions (rule count is the model size, a
    constant), no shuffle at all.
    """
    from clickbom_spark.ext.text import tokens

    def rule_applier(lf: str, rt: str):
        # factory binds the loop variables; a defaulted lambda param
        # would change the HOF arity (the pinned pyspark trap —
        # tests/test_plans.py gopher note)
        return lambda s: _merge_expr(s, lf, rt)

    per_word = F.transform(
        tokens(F.col(text_col)), lambda w: _initial_symbols(w)
    )
    for _, left, right, _ in rules:
        per_word = F.transform(per_word, rule_applier(left, right))
    pieces = F.flatten(per_word)
    return docs.select(
        F.col(id_col).alias("id"),
        pieces.alias("pieces"),
        F.size(pieces).cast("long").alias("n_pieces"),
    )
