"""Distributed BPE (byte-pair-encoding) merge training — the
tokenizer-construction step of a pretraining pipeline, expressed
Spark-first.

The load-bearing scale decision: BPE trains on the WORD-FREQUENCY
TABLE, not the corpus. One corpus pass builds ``(word, freq)`` (the
classic shape — vocabulary size is bounded by language, not data
volume), and every merge round then runs on that vocab-sized frame:
pair counts are one partial-aggregated shuffle of |vocab| rows, the
winning pair is a 1-row collect (model state, like k-means centroids),
and applying the merge is a map-side array fold. 100 TB of text and
10 GB of text train at the same per-round cost after the first pass.

Determinism: ties in pair frequency break lexicographically; the
greedy left-to-right merge application is a sequential fold (proved
equivalent to the index-walking loop because a freshly merged symbol
``a+b`` can never equal the pair's first element ``a`` — that would
need an empty ``b``), so results are independent of partitioning and
engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

END = "</w>"

# A pinned tokenizer artifact: 12 merges learned by ``bpe_train`` on
# the sf0.01 documents corpus (deterministic — ties break
# lexicographically), frozen here the way production pipelines freeze
# a trained tokenizer. The oracle-checked encode query uses THIS list
# on both engines; training itself is covered by tests (golden +
# layout invariance).
FIXED_MERGES: tuple[tuple[str, str], ...] = (
    ("e", "r"), ("e", END), ("n", END), ("er", END), ("o", "w"),
    ("ow", END), ("o", "r"), ("s", "t"), ("h", END), ("a", "t"),
    ("l", "u"), ("i", "n"),
)


def word_freq(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One corpus pass → (word, freq): lowercased whitespace tokens.
    The ONLY corpus-sized step in BPE training."""
    return (
        df.select(
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _chars(word: Column) -> Column:
    """Word → initial symbol array: characters plus the end-of-word
    marker (the standard BPE word boundary)."""
    return F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length(word)),
            lambda i: word.substr(i, F.lit(1)),
        ),
        F.array(F.lit(END)),
    )


def apply_merge(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right application of ONE merge (left, right) →
    left+right over a symbol array, as a sequential fold."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_pieces(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """The word→pieces dictionary ``(_w, _toks)`` of the distinct
    words in ``words._w`` under a merge list: the greedy merge folds
    run once per distinct word. The dictionary is a pure function of
    the word, so one built over a superset vocabulary is row-identical
    after an inner join restricts it to a corpus's words."""
    syms = _chars(F.col("_w"))
    for left, right in merges:
        syms = apply_merge(syms, left, right)
    return words.select("_w").distinct().select("_w", syms.alias("_toks"))


def bpe_train(
    df: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the
    ordered merge list (the model — feed it to :func:`bpe_encode`).

    Per round: adjacent-pair counts weighted by word frequency (one
    vocab-sized partial-aggregated shuffle), winner = (count DESC,
    pair ASC), merge applied map-side. The evolving symbol table is
    persisted per round and re-persisted (vocab-sized) so round r+1
    reads materialized arrays, not an r-deep expression chain.
    """
    vocab = word_freq(df, text_col, id_col).select(
        "freq", _chars(F.col("word")).alias("syms")
    ).persist()
    merges: list[tuple[str, str]] = []
    current = vocab
    for _ in range(n_merges):
        # the when-guard matters: sequence(1, 0) counts DOWN and would
        # index past single-symbol words (same trap as textstats._bigrams)
        adj = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("syms"), i).alias("l"),
                    F.element_at(F.col("syms"), i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        pairs = (
            current.select("freq", F.explode(adj).alias("p"))
            .groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("p.l").asc(), F.col("p.r").asc())
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        left, right = pairs[0]["p"]["l"], pairs[0]["p"]["r"]
        merges.append((left, right))
        nxt = current.select(
            "freq", apply_merge(F.col("syms"), left, right).alias("syms")
        ).persist()
        nxt.count()  # materialize, then release the previous round
        current.unpersist()
        current = nxt
    current.unpersist()
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    enc: DataFrame | None = None,
    counts_only: bool = False,
) -> DataFrame:
    """Tokenize the corpus with a learned merge list. Output: id,
    tokens (array<string>, word tokens in document order), n_tokens.

    DICTIONARY-ENCODED, the same trick production tokenizers use (a
    word→tokens cache): the greedy merge folds are higher-order
    expressions Catalyst interprets rather than codegens, so they run
    ONCE PER DISTINCT WORD (language-bounded vocabulary), never once
    per corpus occurrence — measured 20 s → sub-second at sf0.1. The
    encoded vocab is broadcast back onto the exploded corpus words and
    documents reassemble with one bounded-state shuffle on the doc id
    (words-per-doc is physics, not corpus size).

    ``enc``: optionally inject a pre-built :func:`bpe_pieces`
    dictionary (the session word→pieces table — r10 VERDICT #5), so
    callers composing several encodes under one frozen model build the
    fold once per session instead of once per query.

    ``counts_only``: emit only (id, n_tokens) — callers that never
    read the token array (packing, fertility-style counts) get a
    PARTIAL-AGGREGABLE ``sum(size(pieces))`` per document instead of
    the collect_list → sort_array → flatten reassembly (guide §2.3
    "aggregate before you shuffle": the shuffle then carries one long
    per (doc, partial) instead of every word's piece array).
    ``n_tokens = Σ_words |pieces(word)|`` is the same number the
    flattened array's size yields, and both forms drop zero-word
    documents via the same inner join."""
    words = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("_wi", "_w"),
    )
    if enc is None:
        enc = bpe_pieces(words, merges)
    if counts_only:
        return (
            words.join(
                F.broadcast(
                    enc.select(
                        "_w", F.size("_toks").cast("bigint").alias("_np")
                    )
                ),
                "_w",
            )
            .groupBy(id_col)
            .agg(F.sum("_np").alias("n_tokens"))
            .select(F.col(id_col), F.col("n_tokens"))
        )
    packed = (
        words.join(F.broadcast(enc), "_w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_wi", "_toks"))),
                    lambda s: s._toks,
                )
            ).alias("tokens")
        )
    )
    return packed.select(
        F.col(id_col), "tokens", F.size("tokens").alias("n_tokens")
    )


def wordpiece_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[str, str]]:
    """WordPiece merge training (Schuster & Nakajima 2012; the
    BERT-tokenizer family): identical loop shape to :func:`bpe_train`
    but the winner maximizes the LIKELIHOOD-RATIO score

        score(l, r) = n(l, r) / (c(l) · c(r))

    — merge the pair whose joint frequency most exceeds what its
    parts' independent frequencies predict (BPE's raw-count rule
    promotes frequent-but-uninformative pairs like ``e``+``r``;
    WordPiece promotes collocated ones). The score is held as the
    QUANTIZED integer ``(10¹² · n) DIV (c(l)·c(r))`` — numerator
    lifted to DECIMAL(38,0) (HUGEINT on the oracle side) so the
    product never overflows, quotient ≤ 10¹² (n ≤ min(c(l), c(r))),
    ties break (score DESC, l ASC, r ASC) — so the whole argmax
    TRAJECTORY is engine-portable and hash-checkable (the bpe_train
    discipline with a rational scoring rule).

    Per round: one vocab-sized pair aggregation, one vocab-sized
    symbol-occurrence aggregation (both partial-agg shuffles over the
    word-frequency table, never the corpus), two vocab-grain joins,
    one 1-row argmax collect. Same 100 TB shape as BPE: the corpus is
    touched exactly once, by :func:`word_freq`.
    """
    vocab = word_freq(df, text_col, id_col).select(
        "freq", _chars(F.col("word")).alias("syms")
    ).persist()
    merges: list[tuple[str, str]] = []
    current = vocab
    for _ in range(n_merges):
        adj = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("syms"), i).alias("l"),
                    F.element_at(F.col("syms"), i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        pairs = (
            current.select("freq", F.explode(adj).alias("p"))
            .groupBy("p")
            .agg(F.sum("freq").cast("bigint").alias("n"))
            .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "n")
        )
        # per-position symbol occurrences weighted by word freq — the
        # c(l)/c(r) marginals of the same event space the pairs count
        occ = (
            current.select("freq", F.explode("syms").alias("s"))
            .groupBy("s")
            .agg(F.sum("freq").cast("bigint").alias("c"))
        )
        winner = (
            pairs.join(
                occ.select(F.col("s").alias("l"), F.col("c").alias("_cl")),
                "l",
            )
            .join(
                occ.select(F.col("s").alias("r"), F.col("c").alias("_cr")),
                "r",
            )
            .withColumn(
                "_q",
                F.expr(
                    "(CAST(1000000000000 AS DECIMAL(38,0)) * n)"
                    " DIV (CAST(_cl AS DECIMAL(38,0)) * _cr)"
                ),
            )
            .orderBy(
                F.col("_q").desc(), F.col("l").asc(), F.col("r").asc()
            )
            .limit(1)
            .collect()
        )
        if not winner:
            break
        left, right = winner[0]["l"], winner[0]["r"]
        merges.append((left, right))
        nxt = current.select(
            "freq", apply_merge(F.col("syms"), left, right).alias("syms")
        ).persist()
        nxt.count()
        current.unpersist()
        current = nxt
    current.unpersist()
    return merges


def wordpiece_encode_pieces(
    words: DataFrame,
    merges: list[tuple[str, str]],
    rounds: int = 20,
) -> DataFrame:
    """WordPiece APPLY — greedy longest-match-first segmentation
    (Schuster & Nakajima 2012; the BERT tokenizer's inference rule,
    deliberately DIFFERENT from BPE's merge-order replay): per word,
    repeatedly consume the longest vocabulary unit prefixed at the
    cursor. Vocabulary = the learned merge units + the ``</w>`` end
    symbol; single characters need no table entry (a 1-char match and
    the unknown-char fallback both advance by 1 and cost one piece).

    String-grain matching over ``word || '</w>'`` is exactly
    symbol-grain matching here: every unit containing ``<`` contains
    the whole sentinel (units are concatenations of symbols), and no
    corpus character is ``<``, so no match can misalign mid-sentinel.

    The loop is ``rounds`` chained MAP-ONLY projections (each round:
    one ``greatest`` over |units| substring tests — whole-stage
    codegen, no join, no shuffle) on the DISTINCT-WORD frame, so cost
    is dictionary-grain regardless of corpus size (the bpe_encode
    dictionary rule). ``rounds`` bounds encodable word length at
    ``rounds − 1`` characters (the done-guard makes surplus rounds
    no-ops); raise it for corpora with longer whitespace tokens. A word
    that still has unconsumed characters after ``rounds`` advances
    FAILS LOUDLY at execution time (``raise_error`` in the final
    projection — zero cost on the no-truncation path) instead of
    silently undercounting: the oracle unrolls the identical rounds, so
    a hash match alone could never detect the truncation.
    Output: (word, n_pieces)."""
    units = [l + r for l, r in merges] + ["</w>"]
    st = words.select(
        "word",
        F.concat(F.col("word"), F.lit("</w>")).alias("_aug"),
        F.lit(1).cast("int").alias("_pos"),
        F.lit(0).cast("bigint").alias("_pieces"),
    )
    for _ in range(rounds):
        done = F.col("_pos") > F.length("_aug")
        best = F.greatest(
            *[
                F.when(
                    F.expr(f"substring(_aug, _pos, {len(u)})")
                    == F.lit(u),
                    F.lit(len(u)),
                )
                for u in units
            ],
            F.lit(1),
        )
        st = st.select(
            "word",
            "_aug",
            F.when(done, F.col("_pos"))
            .otherwise(F.col("_pos") + best)
            .cast("int")
            .alias("_pos"),
            F.when(done, F.col("_pieces"))
            .otherwise(F.col("_pieces") + 1)
            .cast("bigint")
            .alias("_pieces"),
        )
    truncated = F.col("_pos") <= F.length("_aug")
    return st.select(
        "word",
        F.when(
            truncated,
            F.raise_error(
                F.concat(
                    F.lit(
                        "wordpiece_encode_pieces: word exceeds "
                        f"rounds={rounds} greedy advances: "
                    ),
                    F.col("word"),
                )
            ).cast("bigint"),
        )
        .otherwise(F.col("_pieces"))
        .alias("n_pieces"),
    )


def bpe_fertility(
    df: DataFrame,
    enc: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Tokenizer fertility audit per domain: pieces-per-word under a
    learned merge list, read from its :func:`bpe_pieces` dictionary
    ``enc`` — THE deployment metric for a subword
    vocabulary (a domain whose fertility is high pays proportionally
    more sequence length / compute per word; cf. the multilingual
    fertility analyses around mBERT/XLM-R, e.g. Rust et al. 2021,
    "How Good is Your Tokenizer?").

    Output per ``group_col``: ``n_words``, ``n_pieces``,
    ``fert_u6`` = pieces-per-word in micro-units, ``multi_ppm`` =
    share of words split into >1 piece. All integer (single
    positive-operand DIVs).

    Scale: the greedy merge fold ran ONCE PER DISTINCT WORD when the
    dictionary was built (the bpe_encode dictionary-grain discipline);
    its per-word piece counts broadcast back onto the exploded corpus,
    and the per-source rollup is one partial-agg shuffle.
    """
    words = df.select(
        F.col(group_col),
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("_w"),
    )
    enc = enc.select("_w", F.size("_toks").cast("bigint").alias("_np"))
    rolled = (
        words.join(F.broadcast(enc), "_w")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("_np").cast("bigint").alias("n_pieces"),
            F.sum((F.col("_np") > 1).cast("bigint")).alias("_multi"),
        )
    )
    return rolled.select(
        group_col,
        "n_words",
        "n_pieces",
        F.expr("CAST((1000000 * n_pieces) DIV n_words AS BIGINT)").alias(
            "fert_u6"
        ),
        F.expr("CAST((1000000 * _multi) DIV n_words AS BIGINT)").alias(
            "multi_ppm"
        ),
    )
