"""Incremental ANN index maintenance — the FAISS ``index.add()`` shape
on Spark: once the quantizers are trained (coarse centroids +
per-subspace PQ codebook — MODEL artifacts, frozen at build time),
every arriving vector batch is assigned + residual-encoded with the
SAME frozen model and appended to a cell-bucketed code store. Search
never changes: the ADC scan reads the store, whatever mix of batches
produced it.

The invariant that makes this sound (and that the parity tests pin):
assignment and encoding are PER-ROW functions of (vector, frozen
model) — batch boundaries cannot change a single code, so the
incrementally-built store is row-identical to a full-corpus encode,
and search over it is bit-identical too. This is why production
systems freeze quantizers and re-train offline: an index whose codes
depend on co-arriving data cannot be maintained incrementally.

Exactly-once: the ``commit_fence.py`` contract. Codes are bucketed by
``cluster`` so the ADC scan of a probed cell is bucket-local.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.pq import (
    MICRO,
    _l2_assign,
    pq_train_q,
)
from sea_express_customs_etl_spark.sinks.bucketed import append_bucketed
from sea_express_customs_etl_spark.streaming.commit_fence import (
    CommitFence,
    drop_tombstoned,
    marker_rows,
    tombstone_writer,
)
from sea_express_customs_etl_spark.streaming.table_swap import backup_swap


def encode_with_frozen_model(
    batch: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign + residual-encode one batch against the FROZEN model:
    micro-unit residuals vs the assigned centroid, exact integer
    argmin vs the integer codebook (``pq_train_q`` output). Map-only
    + one partial-aggregated argmin shuffle; per-row deterministic, so
    batch composition cannot change any code. Output: id, cluster,
    subspace, code."""
    d = dim // m
    assigned = _l2_assign(batch, centroids, vec_col, id_col)
    r_u6 = F.zip_with(
        F.col("_v"),
        F.col("_cv"),
        lambda x, y: F.round((x - y) * MICRO).cast("bigint"),
    )
    rsv = assigned.select(id_col, "cluster", r_u6.alias("_r")).select(
        id_col,
        "cluster",
        F.posexplode(
            F.array(*[F.slice(F.col("_r"), j * d + 1, d) for j in range(m)])
        ).alias("subspace", "subvec"),
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("subvec"), F.col("cw_u6"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        rsv.join(F.broadcast(codebook), "subspace")
        .select(
            id_col,
            "cluster",
            "subspace",
            F.struct(d2.alias("d"), F.col("code").alias("c")).alias("_dc"),
        )
        .groupBy(id_col, "cluster", "subspace")
        .agg(F.min("_dc").alias("_b"))
        .select(id_col, "cluster", "subspace", F.col("_b.c").alias("code"))
    )


def ann_store_batch_writer(
    table_prefix: str,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_buckets: int = 8,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable appending each vector batch's codes
    (bucketed by cell) into ``<prefix>_codes`` under the commit-marker
    fence. The frozen model rides in the closure — broadcast per
    batch, never re-trained."""
    c_tab = f"{table_prefix}_codes"
    fence = CommitFence(f"{table_prefix}_batches")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark: SparkSession = batch_df.sparkSession
        if fence.committed(spark, batch_id):
            return
        codes = encode_with_frozen_model(
            batch_df, centroids, codebook, m, dim, vec_col, id_col
        ).select(
            F.lit(int(batch_id)).cast("bigint").alias("batch_id"),
            id_col,
            "cluster",
            "subspace",
            "code",
        )
        append_bucketed(codes, c_tab, ("cluster",), num_buckets)
        fence.commit(spark, batch_id)

    return write


def ann_store_delete_writer(
    table_prefix: str, id_col: str = "vec_id"
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable appending TOMBSTONES — the FAISS
    ``remove_ids`` analog (takedowns, dedup-after-index): each delete
    batch's ids land in ``<prefix>_tombstones`` under the same
    commit-marker fence as the code writer (``<prefix>_del_batches``
    markers, replay skipped, crash-window duplicates deterministic).

    Versioned semantics: a tombstone at batch ``d`` kills every code
    row ADDED at batch ``<= d``; a later re-add (add batch ``> d``)
    resurrects the vector. This requires add and delete batch ids to
    come from ONE monotonically increasing sequence — which a single
    maintenance stream's ``foreachBatch`` batch ids are. Deletion is
    logical until :func:`compact_ann_store` folds the tombstones out."""
    return tombstone_writer(table_prefix, id_col)


def committed_codes(
    spark: SparkSession, table_prefix: str, id_col: str = "vec_id"
) -> DataFrame:
    """Exactly-once SEARCHABLE code-store view (marker semi-join +
    duplicate collapse, minus committed tombstones): id, cluster,
    subspace, code. Tombstones follow
    :func:`..commit_fence.drop_tombstoned` (see
    :func:`ann_store_delete_writer`)."""
    codes = spark.table(f"{table_prefix}_codes").join(
        F.broadcast(spark.table(f"{table_prefix}_batches")),
        "batch_id",
        "left_semi",
    )
    return (
        drop_tombstoned(codes, table_prefix, id_col)
        .select(id_col, "cluster", "subspace", "code")
        .distinct()
    )


def compact_ann_store(
    spark: SparkSession,
    table_prefix: str,
    num_buckets: int = 8,
    id_col: str = "vec_id",
) -> None:
    """Fold the logical deletes out: rewrite the code store to the
    SURVIVORS of :func:`committed_codes` as one generation (batch_id =
    max committed add batch, bucket spec preserved), collapse the
    marker table, and drop the tombstone tables — the FAISS
    rebuild-on-compaction step with the crash-safe
    ``table_swap.backup_swap`` sequencing the sibling stores use.
    Quiesced-stream contract: no concurrent writer; idempotent (a
    rerun re-derives the same survivors). Post-compaction delete
    batches must keep using ids ABOVE the fold generation — true for
    one monotonically numbered maintenance stream."""
    m_tab = f"{table_prefix}_batches"
    gen = spark.table(m_tab).agg(F.max("batch_id")).first()[0]
    if gen is None:
        return
    survivors = committed_codes(spark, table_prefix, id_col).select(
        F.lit(int(gen)).cast("bigint").alias("batch_id"),
        id_col,
        "cluster",
        "subspace",
        "code",
    )

    backup_swap(
        spark, f"{table_prefix}_codes", survivors, "cluster", num_buckets
    )
    backup_swap(spark, m_tab, marker_rows(spark, [gen]))
    spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_tombstones")
    spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_del_batches")


def store_adc_topk(
    spark: SparkSession,
    table_prefix: str,
    centroids: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 1,
    neighbor_pred=None,
) -> DataFrame:
    """Cell-relative multi-probe ADC search over the INCREMENTAL code
    store — the same ranking as ``ivfpq_trained_topk`` computes over a
    one-shot encode, reading codes from the store instead (the point:
    search is decoupled from how the index was built). Output:
    query_id, neighbor_id, cluster, dist_u12.

    ``neighbor_pred`` (optional Column over ``neighbor_id``) scopes the
    committed codes BEFORE ranking — the hook that restricts a store to
    a tenant / time window / holdout half (``operators/knn_adc.py``)
    through the same mechanism the tombstone views use for deletes."""
    from sea_express_customs_etl_spark.operators.pq import _l2sq_micro
    from sea_express_customs_etl_spark.operators.similarity import _as_double

    d = dim // m
    codes = committed_codes(spark, table_prefix, id_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    if neighbor_pred is not None:
        codes = codes.filter(neighbor_pred)
    cen = centroids.select(
        F.col(id_col).alias("_cid"), _as_double(F.col(vec_col)).alias("_cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("_qv"),
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("_d").asc(), F.col("_cid").asc()
    )
    probes = (
        q.join(F.broadcast(cen))
        .select(
            "query_id",
            "_qv",
            "_cid",
            "_cv",
            _l2sq_micro(F.col("_qv"), F.col("_cv")).alias("_d"),
        )
        .withColumn("_pr", F.row_number().over(pw))
        .filter(F.col("_pr") <= nprobe)
        .select(
            "query_id",
            F.col("_cid").alias("_qc"),
            F.zip_with(
                F.col("_qv"),
                F.col("_cv"),
                lambda x, y: F.round((x - y) * MICRO).cast("bigint"),
            ).alias("_r"),
        )
    )
    qsv = probes.select(
        "query_id",
        "_qc",
        F.posexplode(
            F.array(*[F.slice(F.col("_r"), j * d + 1, d) for j in range(m)])
        ).alias("subspace", "subvec"),
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("subvec"), F.col("cw_u6"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    lut = qsv.join(F.broadcast(codebook), "subspace").select(
        "query_id",
        "_qc",
        F.col("subspace").alias("_ls"),
        F.col("code").alias("_lc"),
        d2.alias("_d"),
    )
    sims = (
        codes.join(
            F.broadcast(lut),
            (F.col("cluster") == F.col("_qc"))
            & (F.col("subspace") == F.col("_ls"))
            & (F.col("code") == F.col("_lc")),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id", "cluster")
        .agg(F.sum("_d").alias("dist_u12"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_u12").asc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def train_frozen_model(
    sample: DataFrame,
    centroids: DataFrame,
    m: int = 8,
    dim: int = 64,
    train_k: int = 16,
    train_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train the PQ codebook ONCE over a bounded sample's residuals
    (exact integer Lloyd's, bit-portable) — the model that then stays
    frozen across every incremental add. Returns (subspace, code,
    cw_u6)."""
    assigned = _l2_assign(sample, centroids, vec_col, id_col)
    residuals = assigned.select(
        id_col,
        F.zip_with(
            F.col("_v"),
            F.col("_cv"),
            lambda x, y: F.round((x - y) * MICRO).cast("bigint"),
        ).alias("v"),
    )
    return pq_train_q(
        residuals, m, dim, k=train_k, iters=train_iters,
        vec_col="v", id_col=id_col, quantized=True,
    )
