"""Cross-batch incremental dedup as a streaming fold (VERDICT r4 #1).

The batch operators (``operators/dedup.py:dedup_increment``) prove the
fold invariant — per-batch edges union to the full-corpus edge set.
This module is the PRODUCTION wiring: a ``foreachBatch`` sink that
maintains three grow-only tables across micro-batches,

* ``<prefix>_profiles`` — the fused signature store (shingle set,
  size, minhashes per doc), bucketed by id: the verification side;
* ``<prefix>_bands``    — (id, band), bucketed by BAND: the LSH join
  side — each batch's new×store join is bucket-local on the store
  side, so per-batch cost is ∝ |new batch|, independent of history
  size;
* ``<prefix>_edges``    — the accumulated verified near-dup edges
  (graph-sized), tagged with the micro-batch id.

Exactly-once: the ``commit_fence.py`` contract (``_batches`` markers
for the adds, ``_del_batches`` for the tombstones).

Resolution stays separate by design: components over the accumulated
edge table (``dedup_clusters(corpus, spark.table(prefix + "_edges"))``)
run on demand — the expensive signature/verify work is incremental,
the cheap graph-sized resolution is not worth maintaining online.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.dedup import (
    incremental_candidate_pairs,
    jaccard_verify_profiles,
    lsh_bands,
    shingle_profiles,
)
from sea_express_customs_etl_spark.sinks.bucketed import append_bucketed
from sea_express_customs_etl_spark.streaming.commit_fence import (
    CommitFence,
    marker_rows,
    tombstone_writer,
)
from sea_express_customs_etl_spark.streaming.table_swap import backup_swap


def incremental_dedup_batch_writer(
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 8,
    num_bands: int = 2,
    num_buckets: int = 8,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` callable folding each micro-batch of
    documents into the signature store. Also usable directly on plain
    DataFrame batches (the batch/stream parity the engine keeps
    everywhere: one code path)."""
    p_tab = f"{table_prefix}_profiles"
    b_tab = f"{table_prefix}_bands"
    e_tab = f"{table_prefix}_edges"
    fence = CommitFence(f"{table_prefix}_batches")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark: SparkSession = batch_df.sparkSession
        if fence.committed(spark, batch_id):
            return
        # a marker table means the profile and band tables exist too
        have_store = spark.catalog.tableExists(fence.table)
        prof = shingle_profiles(
            batch_df, text_col, id_col, n, num_hashes
        ).localCheckpoint()  # computed once; feeds join + two writes
        new_b = lsh_bands(prof, id_col, num_hashes, num_bands)
        store_p = spark.table(p_tab) if have_store else None
        store_b = spark.table(b_tab) if have_store else None
        pairs = incremental_candidate_pairs(new_b, store_b, id_col)
        union_prof = (
            prof if store_p is None else store_p.unionByName(prof)
        )
        edges = jaccard_verify_profiles(
            pairs, union_prof, id_col, threshold
        ).select(
            "id_a", "id_b", F.lit(batch_id).cast("bigint").alias("batch_id")
        )
        edges.write.mode("append").format("parquet").saveAsTable(e_tab)
        append_bucketed(prof, p_tab, (id_col,), num_buckets)
        append_bucketed(new_b, b_tab, ("band",), num_buckets)
        fence.commit(spark, batch_id)

    return write


def dedup_delete_writer(
    table_prefix: str, id_col: str = "doc_id"
) -> Callable[[DataFrame, int], None]:
    """Fenced TOMBSTONES for the dedup signature store (r7 VERDICT
    #6) — takedown / right-to-forget: delete-batch doc ids land in
    ``<prefix>_tombstones`` under a ``<prefix>_del_batches`` commit
    marker (``commit_fence.tombstone_writer``). Contract:
    TAKEDOWN-FINAL — a committed tombstone retires the doc id
    permanently; re-adding a retired id is a caller error. This is
    deliberately simpler than the ann_store/winnow VERSIONED contract
    because profile and band rows carry no add-batch version (they are
    per-doc idempotent facts), and the right-to-forget flow this serves
    never re-admits the removed identity. Deletion is logical until
    :func:`compact_dedup_store` folds survivors."""
    return tombstone_writer(table_prefix, id_col)


def _committed_tombstones(
    spark: SparkSession, table_prefix: str, id_col: str
) -> DataFrame | None:
    """Committed tombstone ids, or None when no delete has ever been
    committed. Tolerates the crash window between the first tombstone
    append and the marker-table creation (serve the delete-free
    view)."""
    t_tab = f"{table_prefix}_tombstones"
    dm_tab = f"{table_prefix}_del_batches"
    if not (
        spark.catalog.tableExists(t_tab)
        and spark.catalog.tableExists(dm_tab)
    ):
        return None
    return (
        spark.table(t_tab)
        .join(
            F.broadcast(spark.table(dm_tab)),
            "batch_id",
            "left_semi",
        )
        .select(id_col)
        .distinct()
    )


def committed_edges(spark: SparkSession, table_prefix: str, id_col: str = "doc_id") -> DataFrame:
    """The exactly-once view of the accumulated edge table: only rows
    of COMMITTED batches (marker semi-join), exact crash-window
    duplicates collapsed (deterministic recomputation ⇒ replay rows are
    bit-identical ⇒ distinct restores exactly-once), and — when deletes
    exist — only edges whose BOTH endpoints are live. Why that equals a
    fresh build on the survivors: any live pair has an edge row from
    the later endpoint's arrival batch (the new×(new ∪ store) join saw
    the earlier one in the store), so dropping dead-endpoint edges
    removes exactly the pairs a survivor-only rebuild never forms."""
    edges = (
        spark.table(f"{table_prefix}_edges")
        .join(
            F.broadcast(spark.table(f"{table_prefix}_batches")),
            "batch_id",
            "left_semi",
        )
        .select("id_a", "id_b")
        .distinct()
    )
    dead = _committed_tombstones(spark, table_prefix, id_col)
    if dead is not None:
        edges = edges.join(
            dead.withColumnRenamed(id_col, "id_a"), "id_a", "left_anti"
        ).join(dead.withColumnRenamed(id_col, "id_b"), "id_b", "left_anti")
    return edges.select("id_a", "id_b")


def committed_profiles(spark: SparkSession, table_prefix: str, id_col: str = "doc_id") -> DataFrame:
    """Exactly-once signature store view (see :func:`committed_edges`):
    one profile row per LIVE document (tombstoned docs filtered)."""
    prof = spark.table(f"{table_prefix}_profiles").dropDuplicates([id_col])
    dead = _committed_tombstones(spark, table_prefix, id_col)
    if dead is not None:
        prof = prof.join(dead, id_col, "left_anti")
    return prof


def compact_dedup_store(
    spark: SparkSession, table_prefix: str, num_buckets: int = 8
) -> None:
    """Fold the signature store's committed log into one generation:
    exact duplicates from crash-window replays drop, the edge table
    collapses to distinct committed pairs, and the marker table to one
    id. Bucketing is preserved — pass the writer's ``num_buckets`` so
    the staging tables carry the SAME bucket spec through the
    backup-then-swap generation replacement (``table_swap.backup_swap``
    — crash-safe in the no-data-loss sense, not transactional;
    post-compaction appends reject a mismatched spec). Same
    quiesced-stream contract and idempotence as
    ``sketch_store.compact_sketch_store``."""
    m_tab = f"{table_prefix}_batches"
    gen = spark.table(m_tab).agg(F.max("batch_id")).first()[0]
    if gen is None:
        return
    edges = committed_edges(spark, table_prefix).select(
        "id_a", "id_b", F.lit(int(gen)).cast("bigint").alias("batch_id")
    )
    profiles = committed_profiles(spark, table_prefix)
    bands = spark.table(f"{table_prefix}_bands").distinct()
    dead = _committed_tombstones(spark, table_prefix, "doc_id")
    if dead is not None:
        bands = bands.join(dead, "doc_id", "left_anti")
    backup_swap(spark, f"{table_prefix}_edges", edges)
    backup_swap(
        spark, f"{table_prefix}_profiles", profiles, "doc_id", num_buckets
    )
    backup_swap(spark, f"{table_prefix}_bands", bands, "band", num_buckets)
    backup_swap(spark, m_tab, marker_rows(spark, [gen]))
    spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_tombstones")
    spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_del_batches")
