"""Feature-hashing vectorizer (the "hashing trick", Weinberger et al.
ICML 2009) + integer cosine retrieval over the hashed vectors —
embedding-model-free text similarity search: every document becomes a
fixed-dimension sparse vector whose coordinates are md5 buckets and
whose entries are SIGNED token counts (the sign bit halves collision
bias, the paper's §3), then neighbors rank by exact integer cosine.

Reference parity anchor: the reference has no vector layer (its text
matching is key equality, ``/root/reference/src/batch_train.py:95``);
this gives the ANN family (:mod:`.similarity`, :mod:`.pq`) an input
path that needs no embedding model — the cheap first-pass retriever a
curation pipeline runs before paying for real embeddings.

Portability: buckets are md5 HEX PREFIXES (``16^hex_chars``
dimensions) and the sign is the high bit of the next hex digit — both
plain string ops, identical in Spark/DuckDB/Python. Ranking is
float-free: candidates order by the signed integer
``(10^12 · dot²) DIV (‖a‖²·‖b‖²)`` in DECIMAL(38,0)/HUGEINT — monotone
in cosine (sign carried separately), no sqrt, no round, so the top-k
set and order are bit-portable.

Scale shape: token→bucket is map-only; one (doc, bucket)
partial-aggregated count builds the sparse vectors; the dot product is
a bucket-keyed equi-join (posting lists of length ≤ corpus size per
bucket — the dimension count ``16^hex_chars`` is the fan-out dial)
with the query side filtered first; per-query top-k keeps the
row_number-then-rank-filter shape Spark rewrites to WindowGroupLimit.
The query side is corpus-derived, so no pinned broadcast (AQE
broadcasts it at bench scale; a fixed external query set could pin).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F

from ..plans.cache import tracked_persist

_NEG_HEX = list("89abcdef")


def _sign(tok: Column, pos: int) -> Column:
    """High bit of the hex digit AFTER the bucket prefix: -1 when the
    digit is 8..f, else +1 — independent of the bucket bits."""
    return F.when(
        F.substring(F.md5(tok), pos, 1).isin(_NEG_HEX), F.lit(-1)
    ).otherwise(F.lit(1))


def feature_hash_vectors(
    df: DataFrame,
    hex_chars: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse signed-count hashed vectors: one row per (id, bucket)
    with the signed occurrence sum; exact-zero entries are dropped
    (they contribute nothing to dots or norms, and sparse storage is
    the point). Output: id, bucket (hex prefix string), val (bigint).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_tok"),
    )
    return (
        toks.select(
            F.col(id_col),
            F.substring(F.md5("_tok"), 1, hex_chars).alias("bucket"),
            _sign(F.col("_tok"), hex_chars + 1).alias("_s"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.sum("_s").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )


def hashed_doc_topk(
    df: DataFrame,
    query_mod: int = 97,
    k: int = 10,
    hex_chars: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_pred: Column | None = None,
) -> DataFrame:
    """Top-``k`` nearest documents by hashed-vector cosine for every
    query document (``id % query_mod == 0`` — a deterministic
    corpus-derived query panel). Output: query_id, neighbor_id,
    score_ppt — the signed integer ``sign(dot) · (10¹²·dot²) DIV
    (‖q‖²·‖c‖²)``, i.e. cos² at part-per-trillion granularity with
    cosine's sign, ties broken by neighbor id.

    ``query_pred`` overrides the modulo panel with an arbitrary
    predicate on the vector frame — the production shape is a FIXED
    panel (candidate volume then grows linearly with the corpus; a
    corpus-derived panel grows the panel too, quadratic worst case —
    both shapes measured in SCALE.md round 6, and ``hashed_doc_topk``
    at 1×/8× in ``BENCH_HISTORY/scale_r12_c4.json``).

    The vector frame feeds three consumers (norms, query side, corpus
    side) → pinned via ``tracked_persist``.
    """
    v = tracked_persist(
        feature_hash_vectors(
            df, hex_chars=hex_chars, text_col=text_col, id_col=id_col
        )
    )
    dec = "decimal(38,0)"
    n2 = v.groupBy(id_col).agg(
        F.sum(F.col("val").cast(dec) * F.col("val").cast(dec)).alias("_n2")
    )
    q = v.filter(
        query_pred if query_pred is not None else F.col(id_col) % query_mod == 0
    ).select(
        F.col(id_col).alias("query_id"), "bucket", F.col("val").alias("_qv")
    )
    dot = (
        q.join(v.withColumnRenamed(id_col, "neighbor_id"), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("_qv").cast(dec) * F.col("val").cast(dec)).alias("_d"))
    )
    scored = (
        dot.join(
            n2.select(F.col(id_col).alias("query_id"), F.col("_n2").alias("_na")),
            "query_id",
        )
        .join(
            n2.select(
                F.col(id_col).alias("neighbor_id"), F.col("_n2").alias("_nb")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                F.signum("_d").cast("bigint")
                * F.expr(
                    "CAST((CAST(1000000000000 AS DECIMAL(38,0)) * _d * _d)"
                    " DIV (_na * _nb) AS BIGINT)"
                )
            ).alias("score_ppt"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_ppt").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "neighbor_id", "score_ppt")
    )


def hashed_dense_vectors(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dense ``dim``-dimensional signed-count vectors via the hashing
    trick — bucket = first-8-hex md5 mod ``dim`` (the DSIR/perceptron
    bucket hash), sign = high bit of hex digit 9. The fixed-dimension
    bridge from raw text into the integer ANN/k-means family
    (:func:`..similarity.kmeans_fit_q` consumes this directly).
    Output: id, embedding (array<bigint>, exact signed counts).

    Scale shape: map-side hash + ONE (id, bucket) partial-aggregated
    count + one per-doc map assembly — no joins, no windows; the dense
    array is ``dim`` entries regardless of vocabulary.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_tok"),
    )
    sv = (
        toks.select(
            F.col(id_col),
            (
                F.conv(F.substring(F.md5("_tok"), 1, 8), 16, 10).cast("bigint")
                % dim
            )
            .cast("int")
            .alias("_b"),
            _sign(F.col("_tok"), 9).alias("_s"),
        )
        .groupBy(id_col, "_b")
        .agg(F.sum("_s").cast("bigint").alias("_v"))
    )
    m = sv.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("_b", "_v"))).alias("_m")
    )
    return m.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda b: F.coalesce(F.element_at(F.col("_m"), b.cast("int")), F.lit(0)),
        ).alias("embedding"),
    )


def hashed_doc_clusters(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Text clustering WITHOUT an embedding model, hash-checked end to
    end: hashing-trick dense vectors → bit-portable integer k-means
    (:func:`..similarity.kmeans_fit_q` — md5-seeded init, exact
    integer Lloyd steps, fixed ``iters``) → exact integer squared-L2
    assignment (ties → lowest cluster). Output: id, cluster — the
    topical sharding a curation pipeline uses for stratified sampling
    and leak-safe splits when no embedding model is in the loop.

    Scale shape: the vectorizer is map+one-agg; training is the
    kmeans_fit_q shape (broadcast-argmin assignment, partial-aggregated
    per-dim sums, O(k·dim) model state); the final assignment is one
    map-only broadcast-argmin pass over the persisted vector frame
    (consumed by training AND assignment → pinned).
    """
    from ..plans.cache import tracked_persist
    from .similarity import _d2_q, kmeans_fit_q, quantize_u6

    # pre-scale counts by 1e-6 so kmeans_fit_q's quantize_u6 recovers
    # the RAW integer counts exactly (round(val·1e-6·1e6) == val for
    # any count < 2^52): distances then stay O(count²·dim) — a
    # micro-unit count vector would overflow the bigint d2 fold for
    # per-bucket counts beyond ~190
    vecs = tracked_persist(
        hashed_dense_vectors(
            df, dim=dim, text_col=text_col, id_col=id_col
        ).select(
            F.col(id_col),
            F.transform(
                "embedding", lambda x: x.cast("double") / F.lit(1_000_000.0)
            ).alias("embedding"),
        )
    )
    cen = kmeans_fit_q(vecs, k=k, iters=iters, vec_col="embedding", id_col=id_col)
    cen_arr = (
        cen.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c_u6"))).alias("_s"))
        .select("cluster", F.transform("_s", lambda s: s["c_u6"]).alias("_cv"))
    )
    q = quantize_u6(vecs, vec_col="embedding", id_col=id_col)
    best = (
        q.join(F.broadcast(cen_arr))
        .select(
            F.col(id_col),
            F.col("cluster"),
            _d2_q(F.col("v"), F.col("_cv")).alias("_d2"),
        )
        .groupBy(id_col)
        .agg(
            F.min(F.struct(F.col("_d2"), F.col("cluster").alias("c"))).alias("_b")
        )
    )
    return best.select(id_col, F.col("_b.c").cast("bigint").alias("cluster"))
