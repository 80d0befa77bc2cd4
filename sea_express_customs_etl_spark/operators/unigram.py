"""Unigram-LM (SentencePiece-style) vocabulary training — the BPE
sibling (r6 VERDICT stretch #8): seed a subword vocabulary from word
substrings, iteratively re-segment the dictionary with the current
vocabulary, re-score pieces by usage, and prune dead pieces. BPE
composes a vocabulary bottom-up merge by merge; unigram starts big and
carves it down — the loop shape (seed → segment → count → prune →
re-segment) is SentencePiece's trainer.

Bit-portability decision, stated honestly: true unigram-LM training
maximizes Σ log p(piece) with float EM — a log-likelihood is not
hash-portable across engines (libm ulp drift), and the kmeans/pq/bpe
discipline here is that TRAINED ARTIFACTS hash-match an independent
engine. So the segmentation objective is an exact INTEGER surrogate
ordered lexicographically:

    minimize  (n_pieces,  −Σ score(piece),  segmentation string)

i.e. fewest pieces first (the compression objective subword vocabs
exist for), then highest total piece score (score = integer usage
count, the frequency signal EM's M-step would produce), then a
deterministic string tie-break. Every quantity is an integer or a
byte-comparable ASCII string, so the whole training TRAJECTORY —
seed counts, per-round Viterbi winners, usage re-scores, prunes — is
reproducible bit-for-bit by an unrolled SQL oracle (the
``bpe_learned_merges`` discipline).

Scale shape (the load-bearing decision, same as BPE): training runs on
the WORD DICTIONARY, never the corpus. One corpus pass builds
``(word, freq)``; seeding explodes ≤ ``max_word_len·max_piece_len``
substrings per DISTINCT word; each round's Viterbi DP is a single
higher-order fold evaluated once per distinct word (the
HOF-at-dictionary-grain rule) over a per-word candidate MAP built by
one vocab join. 100 TB of text and 10 GB of text pay the same
per-round cost after the first pass. No driver collect anywhere — the
vocabulary stays a distributed (model-sized) frame end to end.

The DP cost is encoded as one ASCII string so the fold can take
``least(...)`` and both engines compare identically:

    lpad(n_pieces, 2, '0') || lpad(CAP − Σscore, 12, '0') || seg

with ``CAP = 10^11`` (Σscore < CAP up to ~10^10 corpus tokens; the pad
width is the documented dial for beyond). ``seg`` is the ' '-prefixed
piece sequence, so the tie-break is the segmentation itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ..plans.cache import tracked_persist

#: Σ piece-score upper bound baked into the cost-string encoding.
CAP = 10**11

MAX_PIECE_LEN = 4
MAX_WORD_LEN = 12


def word_dict(
    df: DataFrame, text_col: str = "text", max_word_len: int = MAX_WORD_LEN
) -> DataFrame:
    """One corpus pass → (word, freq) over lowercased whitespace
    tokens of length ≤ ``max_word_len`` (vocab learning reads the
    dictionary's bulk; over-long words are tail noise for subword
    statistics — the documented dial)."""
    return (
        df.select(
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("word")
        )
        .filter(
            (F.col("word") != "") & (F.length("word") <= max_word_len)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def seed_pieces(
    wf: DataFrame, max_piece_len: int = MAX_PIECE_LEN
) -> DataFrame:
    """All substrings of length 1..``max_piece_len`` of every
    dictionary word, scored by frequency-weighted occurrence count —
    the SentencePiece seed (suffix-array candidates in the original;
    exhaustive bounded substrings here, exact and engine-neutral).
    Output: (piece, score bigint)."""
    pos = F.explode(
        F.filter(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.transform(
                        F.sequence(
                            F.lit(1), F.lit(max_piece_len)
                        ),
                        lambda k: F.struct(i.alias("i"), k.alias("k")),
                    ),
                )
            ),
            lambda s: s["i"] + s["k"] - 1 <= F.length("word"),
        )
    )
    return (
        wf.select("word", "freq", pos.alias("p"))
        .select(
            F.expr("substring(word, p.i, p.k)").alias("piece"),
            F.col("freq"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("score"))
    )


def _dp_cost_fold(word: Column, m: Column, max_piece_len: int) -> Column:
    """Viterbi over one word as a single fold: position j's best cost
    = least over piece lengths k of extend(best[j−k], piece(j−k+1..j))
    — evaluated once per DISTINCT word. ``m`` maps j·8+k → (score,
    piece) for vocabulary pieces ending at j."""
    zero = "00" + str(CAP)  # n_pieces=0, Σscore=0, empty seg

    def extend(prev: Column, entry: Column) -> Column:
        np2 = F.lpad(
            (F.substring(prev, 1, 2).cast("int") + 1).cast("string"), 2, "0"
        )
        rem = F.lpad(
            (
                F.substring(prev, 3, 12).cast("bigint") - entry["score"]
            ).cast("string"),
            12,
            "0",
        )
        return F.concat(
            np2, rem, F.substring(prev, 15, 1_000_000),
            F.lit(" "), entry["piece"],
        )

    def step(acc: Column, j: Column) -> Column:
        cands = [
            F.when(
                (j - k >= 0)
                & F.element_at(m, (j * 8 + F.lit(k)).cast("int")).isNotNull(),
                extend(
                    F.element_at(acc, (j - k + 1).cast("int")),
                    F.element_at(m, (j * 8 + F.lit(k)).cast("int")),
                ),
            )
            for k in range(1, max_piece_len + 1)
        ]
        return F.concat(acc, F.array(F.least(*cands)))

    return F.element_at(
        F.aggregate(
            F.sequence(F.lit(1), F.length(word)),
            F.array(F.lit(zero)),
            step,
        ),
        F.length(word) + 1,
    )


def segment_words(
    wf: DataFrame, vocab: DataFrame, max_piece_len: int = MAX_PIECE_LEN
) -> DataFrame:
    """Dictionary-grain Viterbi segmentation under the integer
    surrogate objective. Output: (word, freq, seg) with ``seg`` the
    ' '-prefixed winning piece sequence. Single-character pieces must
    all be in ``vocab`` (guaranteed by the trainer) so every word is
    segmentable."""
    pos = F.explode(
        F.filter(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.transform(
                        F.sequence(F.lit(1), F.lit(max_piece_len)),
                        lambda k: F.struct(i.alias("i"), k.alias("k")),
                    ),
                )
            ),
            lambda s: s["i"] + s["k"] - 1 <= F.length("word"),
        )
    )
    cand = (
        wf.select("word", pos.alias("p"))
        .select(
            "word",
            ((F.col("p.i") + F.col("p.k") - 1) * 8 + F.col("p.k"))
            .cast("int")
            .alias("key"),
            F.expr("substring(word, p.i, p.k)").alias("piece"),
        )
        .join(vocab, "piece")  # vocab is model-sized; AQE broadcasts
        # CAP guard (ADVICE r7): past Σscore ≥ CAP the lpad(CAP−score)
        # encoding would go negative and silently corrupt the
        # lexicographic Viterbi order — fail LOUDLY instead. The dial
        # for >1e11-token corpora is widening CAP + the pad width
        # together (module docstring).
        .withColumn(
            "score",
            F.when(F.col("score") < F.lit(CAP), F.col("score")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "unigram cost-string overflow: piece score "
                            ">= CAP(1e11) for piece "
                        ),
                        F.col("piece"),
                    )
                ).cast("bigint")
            ),
        )
    )
    maps = cand.groupBy("word").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    "key",
                    F.struct(
                        F.col("score").alias("score"),
                        F.col("piece").alias("piece"),
                    ).alias("v"),
                )
            )
        ).alias("m")
    )
    best = _dp_cost_fold(F.col("word"), F.col("m"), max_piece_len)
    return (
        wf.join(maps, "word")
        .select(
            "word", "freq", F.substring(best, 15, 1_000_000).alias("seg")
        )
    )


def unigram_piece_counts(
    wf: DataFrame, vocab: DataFrame, max_piece_len: int = MAX_PIECE_LEN
) -> DataFrame:
    """(word, np): the piece count of each word of a (word, freq)
    dictionary under its Viterbi segmentation by ``vocab`` — the
    per-word table :func:`unigram_token_counts` applies. The count is
    a pure function of (word, vocab), so one table over the full
    corpus dictionary is row-identical for every subset corpus after
    the inner join."""
    return segment_words(wf, vocab, max_piece_len).select(
        "word",
        F.size(
            F.filter(F.split("seg", " "), lambda x: x != "")
        ).cast("bigint").alias("np"),
    )


def unigram_token_counts(
    df: DataFrame,
    per_word: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """The APPLY side of the trained tokenizer (bpe_encode's shape):
    per-document token counts under the unigram vocabulary, read from
    its :func:`unigram_piece_counts` table ``per_word`` (Viterbi ran
    once per DISTINCT word when that table was built); the per-word
    piece count joins back onto (doc, word) occurrence counts and one
    partial-aggregated sum produces (id, n_words, n_tokens). Words
    longer than ``max_word_len`` are out of the tokenizer's domain and
    excluded on both engines (the trainer's documented dial)."""
    words = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("word"),
    ).filter((F.col("word") != "") & (F.length("word") <= max_word_len))
    occ = words.groupBy(id_col, "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        occ.join(per_word, "word")  # dictionary-sized; AQE broadcasts
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("np")).cast("bigint").alias("n_tokens"),
        )
    )


def unigram_train(
    df: DataFrame,
    rounds: int = 2,
    text_col: str = "text",
    max_piece_len: int = MAX_PIECE_LEN,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """Train the unigram vocabulary: seed from substring counts, then
    ``rounds`` × (Viterbi re-segment → usage re-score → prune unused
    multi-char pieces). Single characters are never pruned (coverage
    guarantee — SentencePiece's required-character set). Output:
    (piece string, score bigint) — score is the final round's
    frequency-weighted usage (0 for kept-but-unused characters).
    Every intermediate is dictionary/model-sized; no driver collect.
    """
    wf = tracked_persist(word_dict(df, text_col, max_word_len))
    seed = tracked_persist(seed_pieces(wf, max_piece_len))
    chars = seed.filter(F.length("piece") == 1).select("piece")
    vocab = seed
    for _ in range(rounds):
        seg = segment_words(wf, vocab, max_piece_len)
        usage = (
            seg.select(
                "freq",
                F.explode(
                    F.filter(F.split("seg", " "), lambda x: x != "")
                ).alias("piece"),
            )
            .groupBy("piece")
            .agg(F.sum("freq").cast("bigint").alias("score"))
        )
        vocab = tracked_persist(
            usage.unionByName(
                chars.join(usage.select("piece"), "piece", "left_anti")
                .select("piece", F.lit(0).cast("bigint").alias("score"))
            )
        )
    return vocab
