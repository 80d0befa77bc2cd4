"""BM25 keyword retrieval over the document corpus — the ranked
boolean-keyword search every corpus-curation stack needs ("pull the
top documents about X for inspection / eval-set building"), scored
with the Robertson/Spärck Jones Okapi BM25 shape (k1 = 1.2, b = 0.75)
re-expressed in exact integer arithmetic.

Reference parity anchor: the reference's only text lookup is exact
key equality (``/root/reference/src/batch_train.py:95-117``); this is
the relevance-ranked generalization.

Rationalization (the tfidf_cosine_pairs discipline — floats never
enter): with k1 = 6/5 and b = 3/4, the per-term BM25 contribution

    idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

multiplies out to the pure-integer form

    contrib = (22000 · idf_k · avgdl · tf)
              DIV (10·avgdl·tf + 3·avgdl + 9·dl)

where ``idf_k = (N·1000) DIV df`` is the integer-rational IDF (the
documented divergence from the transcendental ``ln((N−df+0.5)/
(df+0.5))`` — monotone-equivalent for ranking, exact for hashing; the
same substitution tfidf_cosine_pairs makes). All operands are
nonnegative so truncating (Spark ``DIV``) and flooring (DuckDB ``//``)
division agree; the numerator runs in DECIMAL(38,0).

Scale shape: the query-term table is MODEL-sized by definition (a
human query set), so the corpus is filtered by one pinned broadcast
join immediately after the token explode — tf/df/dl frames are then
bounded by |matching (doc, term)| not the corpus. The corpus-wide
(N, Σdl) scalars ride a pinned 1-row broadcast (the allowed class).
Top-k per query keeps the row_number-then-filter shape Spark rewrites
to WindowGroupLimit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from ..plans.cache import tracked_persist

# pinned query set: module constant so the Spark plan and the DuckDB
# oracle are built from the SAME literal (the bpe FIXED_MERGES rule)
FIXED_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("q_hash_join", ("hash", "join")),
    ("q_stream_window", ("window", "agg", "stream")),
    ("q_scan_filter", ("vector", "scan", "filter")),
)


def tokenize_docs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The retrieval family's shared tokenization: (id, _toks array)
    under trim/lower/whitespace-split/drop-empties. Staged as a named
    column (an inline split() referenced twice re-evaluates — the
    CLAUDE.md O(len²) trap)."""
    return docs.select(
        id_col,
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda t: t != F.lit(""),
        ).alias("_toks"),
    )


def bm25_topk(
    staged: DataFrame,
    queries: tuple[tuple[str, tuple[str, ...]], ...] = FIXED_QUERIES,
    k: int = 10,
    id_col: str = "doc_id",
    include_rank: bool = False,
    include_score: bool = False,
) -> DataFrame:
    """Top-``k`` documents per query by integer BM25 over a
    :func:`tokenize_docs` frame. Output:
    ``query_id, doc_id, score_u6`` (score in micro-units of
    idf·saturation), ties broken by doc_id — or ``query_id, doc_id,
    rank`` with ``include_rank=True`` (the fusion-input form;
    ``include_score=True`` additionally keeps ``score_u6``, so one run
    can serve both the fusion input and the scored top-k — a (q, doc)
    pair's score does not depend on ``k``, so the rank ≤ 10 slice of a
    k = 20 run is bit-identical to a k = 10 run).
    ``staged`` feeds both the dl branch and the tf explode, so a
    caller persists it (the ≥2-consumers rule — without the pin each
    branch re-splits every document)."""
    spark = staged.sparkSession
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in queries for t in ts],
        ["query_id", "term"],
    )
    dl = staged.select(id_col, F.size("_toks").cast("bigint").alias("dl"))
    scalars = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_docs"),
        F.sum("dl").alias("_tot"),
    ).select(
        "_n_docs", F.expr("_tot DIV _n_docs").cast("bigint").alias("_avgdl")
    )
    # persisted: tf feeds BOTH the df count and the scoring join (the
    # ≥2-consumers rule) — it is query-term-bounded, tiny relative to
    # the corpus, but rebuilding it re-runs the corpus explode
    tf = tracked_persist(
        staged.select(id_col, F.explode("_toks").alias("term"))
        .join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("_df")
    )
    contrib = (
        "(CAST(22000 AS DECIMAL(38,0)) * ((_n_docs * 1000) DIV _df)"
        " * _avgdl * tf)"
        " DIV (10 * _avgdl * tf + 3 * _avgdl + 9 * dl)"
    )
    scored = (
        tf.join(dl, id_col)
        .join(dfreq, "term")
        .join(F.broadcast(scalars))
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", id_col)
        .agg(F.sum(F.expr(contrib)).cast("bigint").alias("score_u6"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u6").desc(), F.col(id_col)
    )
    ranked = scored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    if include_rank:
        cols = ["query_id", id_col, F.col("_rn").cast("int").alias("rank")]
        if include_score:
            cols.append(F.col("score_u6"))
        return ranked.select(*cols)
    return ranked.select("query_id", id_col, "score_u6")


def term_coverage_ranked(
    staged: DataFrame,
    queries: tuple[tuple[str, tuple[str, ...]], ...] = FIXED_QUERIES,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Second lexical ranker for hybrid fusion: documents of a
    :func:`tokenize_docs` frame ranked by
    how many DISTINCT query terms they contain (coverage — the
    boolean-AND-ish signal BM25's tf-weighting can under-rank), ties
    by doc id. Same broadcast-filtered explode shape as
    :func:`bm25_topk`. Output: query_id, id, rank (1-based)."""
    spark = staged.sparkSession
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in queries for t in ts],
        ["query_id", "term"],
    )
    cov = (
        staged.select(id_col, F.explode("_toks").alias("term"))
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", id_col)
        .agg(F.countDistinct("term").cast("bigint").alias("_nq"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_nq").desc(), F.col(id_col)
    )
    return (
        cov.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", id_col, F.col("_rn").cast("int").alias("rank"))
    )
