"""Corpus n-gram language-model scoring — the CCNet-recipe quality
signal: score every document by the average log-probability its word
bigrams get under a model trained on the corpus itself (boilerplate
and word salad score low, fluent text scores high), then filter or
bucket on the score.

Scale shape: TWO corpus passes build the model (unigram and bigram
count tables — language-bounded vocabulary sizes, the same
model-vs-data separation as BPE training), the count tables join back
onto the corpus's exploded bigrams (broadcast while they fit; plain
equi-joins beyond that), and one bounded-state shuffle on the doc id
aggregates per-document sums.

Oracle stability: per-bigram log-probs are scaled to MICRO-UNIT
integers (``round(ln(p)·10⁶)``) before the per-document sum, so the
aggregation is exact bigint arithmetic — independent of partitioning
and summation order, hash-identical across engines. (A float
``avg(ln p)`` would drift by merge order of partial aggregates.)

Model: add-one-smoothed bigram conditional
``p(b | a) = (c(a,b) + 1) / (c(a) + V)`` with V = |vocabulary|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

MICRO = 1_000_000


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, wi, a, b): adjacent lowercased word pairs per document."""
    toked = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda x: x != "",
        ).alias("_tk"),
    )
    adj = F.when(
        F.size("_tk") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_tk") - 1),
            lambda i: F.struct(
                F.element_at(F.col("_tk"), i).alias("a"),
                F.element_at(F.col("_tk"), i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    return toked.select(F.col(id_col), F.explode(adj).alias("_p")).select(
        id_col, F.col("_p.a").alias("a"), F.col("_p.b").alias("b")
    )


def lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document under the corpus bigram LM. Output: id,
    n_bigrams (int), logprob_u6 (bigint — sum of per-bigram
    ``round(ln p · 10⁶)``; divide by ``n_bigrams·10⁶`` for the average
    log-prob / negated perplexity exponent). Documents with fewer than
    two words keep a row with n_bigrams=0 and logprob_u6=0 —
    auditable, not dropped.

    The unigram/bigram count tables carry no broadcast hint: they are
    corpus-VOCABULARY-sized (the distinct-bigram table reaches
    billions of rows at 100 TB), so the join must be allowed to
    degrade to a shuffled equi-join — AQE still broadcasts them at
    runtime whenever the measured size fits under
    ``spark.sql.autoBroadcastJoinThreshold``. Only the 1-row ``_v``
    vocabulary scalar keeps an unconditional hint."""
    bigrams = _doc_bigrams(df, text_col, id_col)
    uni = (
        bigrams.groupBy(F.col("a"))
        .agg(F.count(F.lit(1)).alias("_ca"))
    )
    # history counts c(a) = how often `a` opens a bigram (= token count
    # minus one per document tail); V over the same event space
    big = bigrams.groupBy("a", "b").agg(F.count(F.lit(1)).alias("_cab"))
    vdf = bigrams.select(
        F.countDistinct(F.col("a")).alias("_v")
    )
    scored = (
        bigrams.join(big, ["a", "b"])
        .join(uni, "a")
        .crossJoin(F.broadcast(vdf))
        .select(
            id_col,
            F.round(
                F.log((F.col("_cab") + 1.0) / (F.col("_ca") + F.col("_v")))
                * MICRO
            )
            .cast("bigint")
            .alias("_lp"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            F.sum("_lp").alias("logprob_u6"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("logprob_u6", F.lit(0)).cast("bigint").alias("logprob_u6"),
        )
    )


def _doc_trigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, a, b, c): adjacent lowercased word triples per document."""
    toked = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda x: x != "",
        ).alias("_tk"),
    )
    adj = F.when(
        F.size("_tk") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("_tk") - 2),
            lambda i: F.struct(
                F.element_at(F.col("_tk"), i).alias("a"),
                F.element_at(F.col("_tk"), i + 1).alias("b"),
                F.element_at(F.col("_tk"), i + 2).alias("c"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string,c:string>>"))
    return toked.select(F.col(id_col), F.explode(adj).alias("_t")).select(
        id_col,
        F.col("_t.a").alias("a"),
        F.col("_t.b").alias("b"),
        F.col("_t.c").alias("c"),
    )


def trigram_backoff_score(
    train: DataFrame,
    score: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stupid-backoff trigram scoring (Brants et al. 2007 — the
    large-corpus LM recipe that skips discount estimation): score each
    trigram of the ``score`` frame under counts from the ``train``
    frame as

        S(c|a,b) = c3(abc)/c2(ab)            if c3 > 0
                 = α · c2(bc)/c1(b)          elif c2(bc) > 0
                 = α² · c1(c)/N              else (α² · 1/N if c unseen)

    with α fixed at e⁻¹, so ``ln α = −1`` EXACTLY — the backoff
    penalty needs no libm call and the per-trigram micro-unit value is
    ``round((ln(num/den) − k)·10⁶)`` for backoff depth k — exact
    integer shifts around one correctly-rounded ln, hash-portable.

    Train/score must be disjoint for backoff to ever fire (a corpus
    scored under its own counts always finds its trigrams); the held-out
    split is the caller's choice. Output: id, n_trigrams (int),
    backoff_hits (int — trigrams that fell back at least one level),
    score_u6 (bigint).

    Scale shape: the model tables (c3/c2/c1) are corpus-VOCABULARY-
    sized, so — the r3 ``lm_score`` lesson — none carry broadcast
    hints: each lookup is a plain equi-join AQE may broadcast at
    measured size; only the 1-row N scalar is pinned. Five joins on
    five different keys is the honest cost of two backoff levels; a
    production variant pre-aggregates the DISTINCT trigrams of the
    score side first (dictionary-encode, the bpe_encode trick) when
    duplication is high.
    """
    tr = _doc_trigrams(train, text_col, id_col)
    c3 = tr.groupBy("a", "b", "c").agg(F.count(F.lit(1)).alias("_c3"))
    c2 = tr.select("a", "b").unionByName(
        tr.select(F.col("b").alias("a"), F.col("c").alias("b"))
    ).groupBy("a", "b").agg(F.count(F.lit(1)).alias("_c2"))
    # c2 counts every adjacent pair occurrence across trigram windows
    # (opening AND closing position) — one consistent event space for
    # numerator c2(bc) and denominator c2(ab)
    c1 = tr.select(F.col("b").alias("w")).unionByName(
        tr.select(F.col("c").alias("w"))
    ).groupBy("w").agg(F.count(F.lit(1)).alias("_c1"))
    ndf = c1.select(F.sum("_c1").alias("_n"))

    sc = _doc_trigrams(score, text_col, id_col)
    joined = (
        sc.join(c3, ["a", "b", "c"], "left")
        .join(c2.withColumnRenamed("_c2", "_c2ab"), ["a", "b"], "left")
        .join(
            c2.select(
                F.col("a").alias("b"), F.col("b").alias("c"),
                F.col("_c2").alias("_c2bc"),
            ),
            ["b", "c"],
            "left",
        )
        .join(c1.select(F.col("w").alias("b"), F.col("_c1").alias("_c1b")), "b", "left")
        .join(c1.select(F.col("w").alias("c"), F.col("_c1").alias("_c1c")), "c", "left")
        .crossJoin(F.broadcast(ndf))
    )
    lnv = (
        F.when(
            F.col("_c3").isNotNull(), F.log(F.col("_c3") / F.col("_c2ab"))
        )
        .when(
            F.col("_c2bc").isNotNull(),
            F.log(F.col("_c2bc") / F.col("_c1b")) - 1,
        )
        .when(
            F.col("_c1c").isNotNull(),
            F.log(F.col("_c1c") / F.col("_n")) - 2,
        )
        .otherwise(F.log(1.0 / F.col("_n")) - 2)
    )
    scored = (
        joined.select(
            id_col,
            F.round(lnv * MICRO).cast("bigint").alias("_lp"),
            F.col("_c3").isNull().cast("int").alias("_bo"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_trigrams"),
            F.sum("_bo").cast("int").alias("backoff_hits"),
            F.sum("_lp").alias("score_u6"),
        )
    )
    return (
        score.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
            F.coalesce("backoff_hits", F.lit(0)).alias("backoff_hits"),
            F.coalesce("score_u6", F.lit(0)).cast("bigint").alias("score_u6"),
        )
    )


def kneser_ney_bigram_top(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 50,
) -> DataFrame:
    """Interpolated Kneser–Ney bigram probabilities (Kneser & Ney
    1995 / Chen & Goodman 1998 — the smoothing KenLM ships as its
    default) for the corpus's ``top_n`` most frequent bigrams, held
    EXACTLY as integer rationals. With absolute discount D = 3/4,

        P_KN(b|a) = (c(ab) − D)/c(a) + D·N₁₊(a·)/c(a) · N₁₊(·b)/N₁₊(··)

    where N₁₊(a·) = distinct continuations of a, N₁₊(·b) = distinct
    contexts preceding b (the CONTINUATION count — KN's signature:
    "Francisco" is frequent but only ever follows "San", so its
    unigram backoff weight is tiny), N₁₊(··) = distinct bigram types.
    Multiplying through by the common denominator 4·c(a)·N₁₊(··):

        num = (4·c(ab) − 3)·N₁₊(··) + 3·N₁₊(a·)·N₁₊(·b)
        pkn_ppm = (10⁶·num) DIV (4·c(a)·N₁₊(··))

    — every term a bigint count, the product lifted to DECIMAL(38,0)
    before the scale multiply (the micro-unit integer rule), one DIV
    at the end. Restricted to observed bigrams (c(ab) ≥ 1 > D, so the
    discounted term is always positive and the max(·,0) clamp never
    binds).

    Scale shape: three partial-agg shuffles over the bigram/unigram
    type tables (language-bounded, the ``lm_score`` model-vs-data
    separation), one 1-row type-count scalar pinned broadcast, and a
    global top-n TakeOrderedAndProject under the total order
    (c(ab) DESC, a ASC, b ASC). Nothing touches per-document rows
    after the first count pass.
    """
    bg = _doc_bigrams(df, text_col, id_col)
    c12 = bg.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cab")
    )
    c1 = c12.groupBy("a").agg(
        F.sum("cab").cast("bigint").alias("ca"),
        F.count(F.lit(1)).cast("bigint").alias("n_follow"),
    )
    cont = c12.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cont_b")
    )
    tot = c12.agg(F.count(F.lit(1)).cast("bigint").alias("_nbt"))
    num = (
        (4 * F.col("cab") - 3).cast("decimal(38,0)") * F.col("_nbt")
        + F.lit(3).cast("decimal(38,0)") * F.col("n_follow") * F.col("cont_b")
    )
    den = (
        F.lit(4).cast("decimal(38,0)") * F.col("ca") * F.col("_nbt")
    )
    return (
        c12.join(c1, "a")
        .join(cont, "b")
        .crossJoin(F.broadcast(tot))
        .withColumn("_num", num)
        .withColumn("_den", den)
        .withColumn(
            "pkn_ppm",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * _num)"
                " DIV _den AS BIGINT)"
            ),
        )
        .orderBy(F.col("cab").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(top_n)
        .select("a", "b", "cab", "ca", "n_follow", "cont_b", "pkn_ppm")
    )


def perplexity_gain(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 100,
) -> DataFrame:
    """Moore–Lewis contrastive selection (Moore & Lewis 2010,
    "Intelligent selection of language model training data"; the
    CCNet/DSIR ancestor): rank held-out documents by the cross-entropy
    DIFFERENCE between a weak base model and a stronger context model.
    Here the base is the corpus add-one bigram LM (:func:`lm_score`,
    counted over everything) and the in-domain model is the
    stupid-backoff trigram (:func:`trigram_backoff_score`, counted on
    the even-doc_id half, scoring the odd half — the held-out split
    the trigram family already uses). Per odd document:

        gain_u6 = (-logprob_u6) DIV n_bigrams
                  - (-score_u6) DIV n_trigrams

    i.e. mean bigram NLL minus mean trigram NLL, each a negate-first
    signed DIV (the lm_slice_report rule: both sums are negative, so
    negate BEFORE dividing). High gain = text a richer in-domain
    context predicts much better than the generic model — coherent
    prose; low/negative gain = boilerplate the weak model already
    nails. Top ``top_k`` under the total order (gain_u6 DESC, id ASC)
    via TakeOrderedAndProject.

    Output: id, n_bigrams, n_trigrams, mean_nll_bi_u6,
    mean_nll_tri_u6, gain_u6 (all integer micro-units). Documents too
    short for either model (n_bigrams or n_trigrams = 0) are excluded
    — a mean over zero events is undefined, not zero.
    """
    bi = lm_score(df, text_col, id_col)
    tr = trigram_backoff_score(
        df.filter(F.col(id_col) % 2 == 0),
        df.filter(F.col(id_col) % 2 == 1),
        text_col,
        id_col,
    )
    j = (
        bi.join(tr, id_col)
        .filter((F.col("n_bigrams") > 0) & (F.col("n_trigrams") > 0))
        .select(
            id_col,
            "n_bigrams",
            "n_trigrams",
            F.expr("(-logprob_u6) div n_bigrams")
            .cast("bigint")
            .alias("mean_nll_bi_u6"),
            F.expr("(-score_u6) div n_trigrams")
            .cast("bigint")
            .alias("mean_nll_tri_u6"),
        )
        .withColumn(
            "gain_u6",
            (F.col("mean_nll_bi_u6") - F.col("mean_nll_tri_u6")).cast(
                "bigint"
            ),
        )
    )
    return j.orderBy(F.col("gain_u6").desc(), F.col(id_col).asc()).limit(
        top_k
    )
