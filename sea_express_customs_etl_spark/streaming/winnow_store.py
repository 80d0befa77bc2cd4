"""Incremental winnowing-fingerprint store — the cross-batch wiring
for :mod:`..operators.fingerprint` (the ``incremental_dedup.py``
pattern applied to the MOSS index).

The expensive stage of winnowing is per-document and embarrassingly
parallel (token explode + per-doc window minima); fingerprints of one
document never depend on another. So the production loop appends each
micro-batch's fingerprints to a grow-only store — history is NEVER
re-winnowed — and the match query (df-cap + fingerprint-keyed pair
join) runs over the committed store on demand. Because the store is
exactly the union corpus's fingerprint set,
``pairs_from_fingerprints(committed_fingerprints(...))`` is
hash-identical to a one-shot ``winnow_dup_pairs`` over all documents
(the parity the gate checks); the df cap stays corpus-global and
correct because it is applied at READ time, not fold time.

Exactly-once: the ``commit_fence.py`` contract, for the adds and the
tombstones alike.

Scale shape: per-batch cost is ∝ |new documents| (map-only fingerprint
+ one bucketed append); the store is bucketed by ``fp`` so the
on-demand pair join is bucket-local on the store side.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.fingerprint import (
    winnow_fingerprints,
)
from sea_express_customs_etl_spark.sinks.bucketed import append_bucketed
from sea_express_customs_etl_spark.streaming.commit_fence import (
    CommitFence,
    marker_rows,
    tombstone_writer,
)
from sea_express_customs_etl_spark.streaming.table_swap import backup_swap


def winnow_batch_writer(
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    num_buckets: int = 8,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` callable folding each micro-batch of
    documents into the fingerprint store (also usable directly on
    plain DataFrame batches — the one-code-path batch/stream parity
    kept engine-wide)."""
    f_tab = f"{table_prefix}_fps"
    fence = CommitFence(f"{table_prefix}_batches")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark: SparkSession = batch_df.sparkSession
        if fence.committed(spark, batch_id):
            return
        fps = winnow_fingerprints(
            batch_df, k=k, w=w, text_col=text_col, id_col=id_col
        ).select(
            id_col, "fp", F.lit(int(batch_id)).cast("bigint").alias("batch_id")
        )
        append_bucketed(fps, f_tab, ("fp",), num_buckets)
        fence.commit(spark, batch_id)

    return write


def winnow_delete_writer(
    table_prefix: str, id_col: str = "doc_id"
) -> Callable[[DataFrame, int], None]:
    """Fenced TOMBSTONES for the fingerprint store (r7 VERDICT #6) —
    takedown / right-to-forget: each delete batch's doc ids land in
    ``<prefix>_tombstones`` under a ``<prefix>_del_batches`` commit
    marker, exactly the ``ann_store.ann_store_delete_writer`` contract.
    Versioned semantics: a tombstone at batch ``d`` kills fingerprint
    rows ADDED at batch ``<= d``; a later re-add resurrects the
    document (add and delete batch ids share one monotonic sequence).
    Deletion is logical until :func:`compact_winnow_store`."""
    return tombstone_writer(table_prefix, id_col)


def committed_fingerprints(
    spark: SparkSession, table_prefix: str, id_col: str = "doc_id"
) -> DataFrame:
    """Exactly-once view of the fingerprint store: committed batches
    only (marker semi-join), crash-window duplicates collapsed, minus
    committed tombstones (a fingerprint row survives if no committed
    tombstone for its doc has delete-batch >= its add-batch). Both
    tombstone tables must exist before the anti-filter arms — a crash
    between the first tombstone append and the marker-table creation
    must still serve the committed delete-free view (the ann_store
    ADVICE-r7 crash window). The corpus-global df cap downstream
    (``pairs_from_fingerprints``) is applied at READ time, so it
    re-computes correctly over the SURVIVORS — a deleted boilerplate
    document stops counting toward any fingerprint's df."""
    fps = spark.table(f"{table_prefix}_fps").join(
        F.broadcast(spark.table(f"{table_prefix}_batches")),
        "batch_id",
        "left_semi",
    )
    t_tab = f"{table_prefix}_tombstones"
    dm_tab = f"{table_prefix}_del_batches"
    if spark.catalog.tableExists(t_tab) and spark.catalog.tableExists(dm_tab):
        last_del = (
            spark.table(t_tab)
            .join(
                F.broadcast(spark.table(dm_tab)),
                "batch_id",
                "left_semi",
            )
            .groupBy(id_col)
            .agg(F.max("batch_id").alias("_del_bid"))
        )
        fps = (
            fps.join(last_del, id_col, "left")
            .filter(
                F.col("_del_bid").isNull()
                | (F.col("batch_id") > F.col("_del_bid"))
            )
            .drop("_del_bid")
        )
    return fps.select(id_col, "fp").distinct()


def compact_winnow_store(
    spark: SparkSession,
    table_prefix: str,
    num_buckets: int = 8,
    id_col: str = "doc_id",
) -> None:
    """Fold the logical deletes out: rewrite the fingerprint store to
    the SURVIVORS of :func:`committed_fingerprints` as one generation
    (batch_id = max committed add batch, ``fp`` bucketing preserved),
    collapse the marker table, drop the tombstone tables — the
    ``ann_store.compact_ann_store`` sequencing verbatim. Quiesced
    stream, idempotent; post-compaction batch ids must stay above the
    fold generation (true for one monotonic maintenance stream)."""
    m_tab = f"{table_prefix}_batches"
    gen = spark.table(m_tab).agg(F.max("batch_id")).first()[0]
    if gen is None:
        return
    survivors = committed_fingerprints(spark, table_prefix, id_col).select(
        id_col,
        "fp",
        F.lit(int(gen)).cast("bigint").alias("batch_id"),
    )

    backup_swap(spark, f"{table_prefix}_fps", survivors, "fp", num_buckets)
    backup_swap(spark, m_tab, marker_rows(spark, [gen]))
    spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_tombstones")
    spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_del_batches")
