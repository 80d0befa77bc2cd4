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

Deletes — the FAISS ``remove_ids`` analog (takedowns, dedup-after-index)
— are ``commit_fence.tombstone_writer(prefix, "vec_id")`` batches under
the same fence (``<prefix>_del_batches`` markers). VERSIONED contract:
a tombstone at batch ``d`` kills every code row ADDED at batch
``<= d``, and a later re-add (add batch ``> d``) resurrects the vector.
This requires add and delete batch ids to come from ONE monotonically
increasing sequence — which a single maintenance stream's
``foreachBatch`` batch ids are. Deletion is logical until
:func:`compact_ann_store` folds the tombstones out.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.pq import (
    _residuals_u6,
    encode_with_frozen_model,
    ivfpq_codes_topk,
    pq_train_q,
)
from sea_express_customs_etl_spark.sinks.bucketed import append_bucketed
from sea_express_customs_etl_spark.streaming.commit_fence import (
    batch_id_col,
    committed_rows,
    drop_tombstoned,
    fenced,
    marker_rows,
)
from sea_express_customs_etl_spark.streaming.table_swap import backup_swap

NUM_BUCKETS = 4  # of the cluster-bucketed code table: writer and compaction


def ann_store_batch_writer(
    table_prefix: str,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable appending each vector batch's codes
    (bucketed by cell) into ``<prefix>_codes`` under the commit-marker
    fence. The frozen model rides in the closure — broadcast per
    batch, never re-trained."""
    c_tab = f"{table_prefix}_codes"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        codes = encode_with_frozen_model(
            batch_df, centroids, codebook, m, dim, vec_col, id_col
        ).select(batch_id_col(batch_id), id_col, "cluster", "subspace", "code")
        append_bucketed(codes, c_tab, ("cluster",), NUM_BUCKETS)

    return fenced(f"{table_prefix}_batches", fold)


def committed_codes(
    spark: SparkSession, table_prefix: str, id_col: str = "vec_id"
) -> DataFrame:
    """Exactly-once SEARCHABLE code-store view (marker semi-join +
    duplicate collapse, minus committed tombstones): id, cluster,
    subspace, code. Tombstones follow
    :func:`..commit_fence.drop_tombstoned` (the versioned delete
    contract in the module docstring)."""
    codes = committed_rows(
        spark, f"{table_prefix}_codes", f"{table_prefix}_batches"
    )
    return (
        drop_tombstoned(codes, table_prefix, id_col)
        .select(id_col, "cluster", "subspace", "code")
        .distinct()
    )


def compact_ann_store(
    spark: SparkSession, table_prefix: str, id_col: str = "vec_id"
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
        batch_id_col(gen), id_col, "cluster", "subspace", "code"
    )

    backup_swap(
        spark, f"{table_prefix}_codes", survivors, "cluster", NUM_BUCKETS
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
    store: :func:`committed_codes`, then ``operators/pq.py:
    ivfpq_codes_topk`` — the search ``ivfpq_trained_topk`` runs over a
    one-shot encode (the point: search is decoupled from how the index
    was built).
    Output: query_id, neighbor_id, cluster, dist_u12.

    ``neighbor_pred`` (optional Column over the store's ``id_col``)
    scopes the committed codes BEFORE ranking — the hook that restricts
    a store to a tenant / time window / holdout half
    (``operators/knn_adc.py``) through the same mechanism the
    tombstone views use for deletes."""
    codes = committed_codes(spark, table_prefix, id_col)
    if neighbor_pred is not None:
        codes = codes.filter(neighbor_pred)
    return ivfpq_codes_topk(
        codes, centroids, codebook, queries, k, m, dim, vec_col, id_col, nprobe
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
    residuals = _residuals_u6(sample, centroids, vec_col, id_col).select(
        id_col, F.col("_r").alias("v")
    )
    return pq_train_q(
        residuals, m, dim, k=train_k, iters=train_iters,
        vec_col="v", id_col=id_col, quantized=True,
    )
