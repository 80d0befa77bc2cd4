"""Unit tests for operators/unigram.py (unigram-LM vocabulary
trainer): segmentation validity, optimality of the integer surrogate
objective vs brute force, layout invariance, and prune/coverage
invariants."""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.unigram import (
    MAX_PIECE_LEN,
    seed_pieces,
    segment_words,
    unigram_piece_counts,
    unigram_token_counts,
    unigram_train,
    word_dict,
)


def _df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


def _brute_best(word, scores):
    """All segmentations into vocab pieces (len <= MAX_PIECE_LEN),
    ranked by the surrogate objective (n_pieces, -sum_score, seg)."""
    outs = []

    def rec(i, acc):
        if i == len(word):
            outs.append(acc[:])
            return
        for k in range(1, min(MAX_PIECE_LEN, len(word) - i) + 1):
            p = word[i : i + k]
            if p in scores:
                acc.append(p)
                rec(i + k, acc)
                acc.pop()

    rec(0, [])
    assert outs
    return min(
        outs,
        key=lambda s: (len(s), -sum(scores[p] for p in s), " " + " ".join(s)),
    )


def test_segmentation_matches_brute_force(spark):
    texts = ["banana band anna nab", "banana anna", "band nab anna"]
    df = _df(spark, texts)
    wf = word_dict(df)
    vocab = seed_pieces(wf)
    scores = {r.piece: r.score for r in vocab.collect()}
    segs = {
        r.word: [p for p in r.seg.split(" ") if p]
        for r in segment_words(wf, vocab).collect()
    }
    for w in segs:
        assert "".join(segs[w]) == w  # pieces reassemble the word
        assert segs[w] == _brute_best(w, scores), w


def test_train_is_layout_invariant_and_prunes(spark):
    texts = [f"tok{i % 5} banana nab{i % 3}" for i in range(30)]
    df = _df(spark, texts)
    a = sorted(map(tuple, unigram_train(df, rounds=2).collect()))
    b = sorted(
        map(tuple, unigram_train(df.repartition(7), rounds=2).collect())
    )
    assert a == b and len(a) > 5
    vocab = dict(a)
    # coverage guarantee: every character of every dictionary word kept
    chars = {c for t in texts for w in t.split() for c in w}
    assert chars <= set(vocab)
    # prune happened: strictly fewer pieces than the seed
    n_seed = seed_pieces(word_dict(df)).count()
    assert len(a) < n_seed
    # multi-char survivors are exactly the pieces used by round-2 segs
    used = {
        p
        for r in segment_words(
            word_dict(df),
            unigram_train(df, rounds=1),
        ).collect()
        for p in r.seg.split(" ")
        if p
    }
    assert {p for p in vocab if len(p) > 1} <= used | chars
    # scores are the frequency-weighted usage: banana appears 30x and
    # its pieces must dominate single-use junk
    assert any(len(p) > 1 and vocab[p] >= 30 for p in vocab)


def test_token_counts_match_per_word_segmentation(spark):
    texts = ["banana nab anna", "banana banana", "nab"]
    df = _df(spark, texts)
    vocab = unigram_train(df, rounds=2)
    got = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in unigram_token_counts(
            df, unigram_piece_counts(word_dict(df), vocab)
        ).collect()
    }
    seg_np = {
        r.word: len([p for p in r.seg.split(" ") if p])
        for r in segment_words(word_dict(df), vocab).collect()
    }
    for i, t in enumerate(texts):
        ws = t.split()
        assert got[i] == (len(ws), sum(seg_np[w] for w in ws))
        # every word tokenizes to >= 1 and <= len(word) pieces
        assert len(ws) <= got[i][1] <= sum(len(w) for w in ws)


def test_cap_overflow_fails_loudly(spark):
    """ADVICE r7: a piece score >= CAP (1e11) would make the
    lpad(CAP - score) cost encoding emit a '-'-prefixed string and
    silently corrupt the lexicographic Viterbi ordering — the guard in
    segment_words must raise instead."""
    import pytest

    from sea_express_customs_etl_spark.operators.unigram import CAP

    wf = spark.createDataFrame([("ab", 1)], ["word", "freq"])
    vocab = spark.createDataFrame(
        [("a", CAP), ("b", 1)], ["piece", "score"]
    ).select("piece", F.col("score").cast("bigint"))
    with pytest.raises(Exception, match="cost-string overflow"):
        segment_words(wf, vocab).collect()
    # one below the cap still segments fine
    ok_vocab = spark.createDataFrame(
        [("a", CAP - 1), ("b", 1)], ["piece", "score"]
    ).select("piece", F.col("score").cast("bigint"))
    assert segment_words(wf, ok_vocab).collect()[0].seg == " a b"
