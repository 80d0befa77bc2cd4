"""Streaming sketch maintenance (VERDICT r4 #8): the sketch states'
mergeability demonstrated where it pays — a ``foreachBatch`` sink that
folds each micro-batch's model-sized sketch STATE into a persisted
store, so stream-long distinct counts and quantiles are available at
any moment without ever rescanning history.

Design: the store is an append-only LOG of per-batch states (HLL
register rows, histogram bin rows), each tagged with its ``batch_id``
and fenced by the ``commit_fence.py`` contract. Every per-batch state
row is keyed uniquely within its batch ((batch_id, bucket) for HLL,
(batch_id, group..., bin) for histograms), so crash-window replays
are EXACT row duplicates and the read-side ``distinct`` protects even
the non-idempotent ``sum`` merge.

Merging is the sketches' defining property (`operators/sketches.py`):
HLL registers fold by ``max``, histogram bins by ``+``. The read-side
merge cost is |batches| × |state| rows — model-sized per batch; a
periodic maintenance job can fold the log into one state row-set with
exactly the same merge expressions (``merge_agg_states`` shape) when
the log grows long.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.quantiles import value_histogram
from sea_express_customs_etl_spark.operators.sketches import hll_registers
from sea_express_customs_etl_spark.streaming.commit_fence import (
    CommitFence,
    marker_rows,
)
from sea_express_customs_etl_spark.streaming.table_swap import backup_swap


def sketch_batch_writer(
    table_prefix: str,
    hll_col: str = "user_id",
    value_col: str = "value",
    group_cols: tuple[str, ...] = ("event_type",),
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable maintaining two sketch logs per
    micro-batch: ``<prefix>_hll`` (256 HLL register rows over
    ``hll_col``) and ``<prefix>_hist`` (integer centi-unit histogram
    bins of ``value_col`` per ``group_cols``)."""
    h_tab = f"{table_prefix}_hll"
    q_tab = f"{table_prefix}_hist"
    fence = CommitFence(f"{table_prefix}_batches")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark: SparkSession = batch_df.sparkSession
        if fence.committed(spark, batch_id):
            return
        bid = F.lit(int(batch_id)).cast("bigint").alias("batch_id")
        hll_registers(batch_df, hll_col).select(
            bid, "bucket", "max_rank"
        ).write.mode("append").format("parquet").saveAsTable(h_tab)
        value_histogram(batch_df, value_col, group_cols).select(
            bid, *group_cols, "bin", "n"
        ).write.mode("append").format("parquet").saveAsTable(q_tab)
        fence.commit(spark, batch_id)

    return write


def _committed(spark: SparkSession, table_prefix: str, table: str) -> DataFrame:
    return (
        spark.table(table)
        .join(
            F.broadcast(spark.table(f"{table_prefix}_batches")),
            "batch_id",
            "left_semi",
        )
        .distinct()  # crash-window replays are exact duplicates
    )


def merged_hll(spark: SparkSession, table_prefix: str) -> DataFrame:
    """The stream-long HLL register state: fold the committed log by
    per-bucket max — identical rows to a single batch pass over the
    whole history (max is associative/commutative/idempotent)."""
    return (
        _committed(spark, table_prefix, f"{table_prefix}_hll")
        .groupBy("bucket")
        .agg(F.max("max_rank").alias("max_rank"))
    )


def merged_histogram(
    spark: SparkSession,
    table_prefix: str,
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """The stream-long quantile-sketch state: fold committed bin rows
    by addition — identical to one global ``value_histogram`` pass."""
    return (
        _committed(spark, table_prefix, f"{table_prefix}_hist")
        .groupBy(*group_cols, "bin")
        .agg(F.sum("n").alias("n"))
    )


def compact_sketch_store(spark: SparkSession, table_prefix: str) -> None:
    """Fold the committed per-batch log into ONE state generation —
    the maintenance job that keeps read-side merge cost flat when the
    log grows long. The merged registers/bins are rewritten under a
    single synthetic ``batch_id`` (the max committed id, so the
    streaming checkpoint's monotone batch counter stays ahead of it),
    uncommitted crash-window rows are dropped by construction, and the
    marker table collapses to that one id. Cost ∝ log size (model-
    sized rows per batch) — raw data is never touched.

    MUST run with the writing stream quiesced (the standard compaction
    contract: the commit-marker fence protects batch replay, not a
    concurrent compactor). Idempotent — compacting a compacted store
    rewrites it to itself. Generation replacement goes through
    ``table_swap.backup_swap`` (backup-then-swap: crash-safe in the
    no-data-loss sense, not transactional)."""
    m_tab = f"{table_prefix}_batches"
    gen = spark.table(m_tab).agg(F.max("batch_id")).first()[0]
    if gen is None:
        return
    bid = F.lit(int(gen)).cast("bigint").alias("batch_id")

    backup_swap(
        spark,
        f"{table_prefix}_hll",
        merged_hll(spark, table_prefix).select(bid, "bucket", "max_rank"),
    )
    backup_swap(
        spark,
        f"{table_prefix}_hist",
        merged_histogram(spark, table_prefix).select(
            bid, "event_type", "bin", "n"
        ),
    )
    backup_swap(spark, m_tab, marker_rows(spark, [gen]))


def rebuild_sketch_store(
    spark: SparkSession,
    table_prefix: str,
    survivors: DataFrame,
    hll_col: str = "user_id",
    value_col: str = "value",
    group_cols: tuple[str, ...] = ("event_type",),
) -> None:
    """Takedown for max-merged state (VERDICT r8 #3): HLL registers
    fold by ``max`` and ``max`` is NOT invertible — no tombstone
    algebra can subtract one user's contribution from a register the
    way the Z-relation/tombstone stores subtract rows (SCALE.md). The
    only honest delete is REBUILD: recompute both sketch states from
    the SURVIVING raw rows and swap them in as one generation. Cost ∝
    one survivor scan, paid at takedown time — the price of deletion
    from a lossy-compressed state; reads stay flat afterward.

    Mechanics: the survivor registers/bins land under generation id =
    max committed batch + 1 via ``table_swap.backup_swap`` (both state
    tables REPLACED — nothing of the deleted ids remains physically,
    the GDPR requirement logical tombstones cannot meet); the marker
    table keeps the PRIOR batch ids (so a replayed writer batch stays
    fenced and cannot re-introduce deleted contributions) plus the new
    generation. Idempotent: a rerun recomputes the same survivor state
    under the next generation id — merged reads are unchanged.
    Quiesced-stream contract, same as :func:`compact_sketch_store`."""
    m_tab = f"{table_prefix}_batches"
    prior = sorted(
        int(r.batch_id) for r in spark.table(m_tab).collect()
    )
    gen = (prior[-1] if prior else -1) + 1
    bid = F.lit(int(gen)).cast("bigint").alias("batch_id")

    backup_swap(
        spark,
        f"{table_prefix}_hll",
        hll_registers(survivors, hll_col).select(bid, "bucket", "max_rank"),
    )
    backup_swap(
        spark,
        f"{table_prefix}_hist",
        value_histogram(survivors, value_col, group_cols).select(
            bid, *group_cols, "bin", "n"
        ),
    )
    backup_swap(spark, m_tab, marker_rows(spark, prior + [gen]))
