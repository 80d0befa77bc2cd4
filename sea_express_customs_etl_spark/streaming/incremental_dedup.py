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

Deletes (takedown / right-to-forget) are
``commit_fence.tombstone_writer(prefix, "doc_id")`` batches with a
TAKEDOWN-FINAL contract: a committed tombstone retires the doc id
permanently, and re-adding a retired id is a caller error. This is
deliberately simpler than the ann_store/winnow VERSIONED contract
because profile and band rows carry no add-batch version (they are
per-doc idempotent facts), and the right-to-forget flow this serves
never re-admits the removed identity. Deletion is logical: the
committed readers filter tombstoned ids.

Resolution stays separate by design: components over the accumulated
edge table (``dedup_clusters(corpus, spark.table(prefix + "_edges"))``)
run on demand — the expensive signature/verify work is incremental,
the cheap graph-sized resolution is not worth maintaining online.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from sea_express_customs_etl_spark.operators.dedup import (
    incremental_candidate_pairs,
    jaccard_verify_profiles,
    lsh_bands,
    shingle_profiles,
)
from sea_express_customs_etl_spark.sinks.bucketed import append_bucketed
from sea_express_customs_etl_spark.streaming.commit_fence import (
    batch_id_col,
    committed_rows,
    committed_tombstones,
    fenced,
)

NUM_BUCKETS = 8  # of the id-bucketed profile and band-bucketed band tables


def incremental_dedup_batch_writer(
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 8,
    num_bands: int = 2,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` callable folding each micro-batch of
    documents into the signature store. Also usable directly on plain
    DataFrame batches (the batch/stream parity the engine keeps
    everywhere: one code path)."""
    p_tab = f"{table_prefix}_profiles"
    b_tab = f"{table_prefix}_bands"
    e_tab = f"{table_prefix}_edges"
    m_tab = f"{table_prefix}_batches"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark: SparkSession = batch_df.sparkSession
        # a marker table means the profile and band tables exist too
        have_store = spark.catalog.tableExists(m_tab)
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
        ).select("id_a", "id_b", batch_id_col(batch_id))
        edges.write.mode("append").format("parquet").saveAsTable(e_tab)
        append_bucketed(prof, p_tab, (id_col,), NUM_BUCKETS)
        append_bucketed(new_b, b_tab, ("band",), NUM_BUCKETS)

    return fenced(m_tab, fold)


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
        committed_rows(
            spark, f"{table_prefix}_edges", f"{table_prefix}_batches"
        )
        .select("id_a", "id_b")
        .distinct()
    )
    dead = committed_tombstones(spark, table_prefix)
    if dead is not None:
        dead = dead.select(id_col).distinct()
        edges = edges.join(
            dead.withColumnRenamed(id_col, "id_a"), "id_a", "left_anti"
        ).join(dead.withColumnRenamed(id_col, "id_b"), "id_b", "left_anti")
    return edges.select("id_a", "id_b")
