"""BPE tokenizer training/encoding vs a pure-Python reference.

The reference implements the textbook algorithm (Sennrich 2016) with
the same determinism contract: pair counts weighted by word frequency,
ties broken (count DESC, left ASC, right ASC), greedy left-to-right
merge application.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from clickbom_spark.ext import bpe


def _ref_merge(seq: list[str], left: str, right: str) -> list[str]:
    out: list[str] = []
    for x in seq:
        if out and out[-1] == left and x == right:
            out[-1] = left + right
        else:
            out.append(x)
    return out


def _ref_train(texts: list[str], n_merges: int):
    wf = Counter(w for t in texts for w in t.split())
    vocab = {w: list(w) + [bpe.EOW] for w in wf}
    rules = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for w, n in wf.items():
            s = vocab[w]
            for a, b in zip(s, s[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < 2:
            break
        rules.append((rank, left, right, cnt))
        vocab = {w: _ref_merge(s, left, right) for w, s in vocab.items()}
    return rules


TEXTS = [
    "low low low lower lowest",
    "new newer newest low",
    "lowest newest newest",
]


def test_bpe_train_matches_reference(spark):
    docs = spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    )
    got = bpe.bpe_train(docs, n_merges=8)
    assert got == _ref_train(TEXTS, 8)
    assert len(got) == 8  # corpus supports at least 8 merges


def test_bpe_greedy_no_cascade(spark):
    """'aaaa' with merge (a,a): greedy left-to-right yields aa,aa —
    a merged symbol is never immediately re-merged."""
    docs = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    rules = bpe.bpe_train(docs, n_merges=1)
    # stats count OVERLAPPING adjacencies (3 per 'aaaa', x2 words),
    # matching subword-nmt's get_stats; only the APPLICATION is greedy
    assert rules == [(1, "a", "a", 6)]
    seg = bpe.bpe_segment(docs, rules).collect()[0]
    assert list(seg["pieces"]) == ["aa", "aa", bpe.EOW, "aa", "aa", bpe.EOW]


def test_bpe_stops_when_no_pair_repeats(spark):
    docs = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    # every adjacent pair occurs once -> zero rules regardless of budget
    assert bpe.bpe_train(docs, n_merges=5) == []


def test_bpe_segment_reduces_piece_count(spark):
    docs = spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    )
    rules = bpe.bpe_train(docs, n_merges=8)
    seg = bpe.bpe_segment(docs, rules)
    base = docs.select(
        F.sum(
            F.aggregate(
                F.transform(
                    F.split("text", r"\s+"),
                    lambda w: F.length(w) + 1,  # chars + EOW
                ),
                F.lit(0),
                lambda a, x: a + x,
            )
        ).alias("chars")
    ).collect()[0]["chars"]
    merged = seg.agg(F.sum("n_pieces")).collect()[0][0]
    assert merged < base  # merges actually compress
    # encode must be rule-order deterministic: re-applying yields same
    again = bpe.bpe_segment(docs, rules).agg(F.sum("n_pieces")).collect()[0][0]
    assert again == merged


def test_bpe_train_releases_checkpoint_blocks(spark, monkeypatch):
    """Training localCheckpoints every few merges; superseded
    checkpoint blocks must be released at the RDD level (a
    DataFrame.unpersist is a no-op for them), so repeated training
    runs cannot accumulate blocks in the block manager."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    docs = spark.createDataFrame(
        list(enumerate(TEXTS * 3)), "doc_id long, text string"
    )
    monkeypatch.setattr(bpe, "_CHECKPOINT_EVERY", 2)
    bpe.bpe_train(docs, n_merges=8)
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert after - before == set()
