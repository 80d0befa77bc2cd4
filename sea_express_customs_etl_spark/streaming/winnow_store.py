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

Deletes (takedown / right-to-forget) are
``commit_fence.tombstone_writer(prefix, "doc_id")`` batches, with the
ANN store's VERSIONED contract: a tombstone at batch ``d`` kills
fingerprint rows ADDED at batch ``<= d``, and a later re-add
resurrects the document (add and delete batch ids share one monotonic
sequence). Deletion is logical: :func:`committed_fingerprints` filters
it.

Scale shape: per-batch cost is ∝ |new documents| (map-only fingerprint
+ one bucketed append); the store is bucketed by ``fp`` so the
on-demand pair join is bucket-local on the store side.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from sea_express_customs_etl_spark.operators.fingerprint import (
    winnow_fingerprints,
)
from sea_express_customs_etl_spark.sinks.bucketed import append_bucketed
from sea_express_customs_etl_spark.streaming.commit_fence import (
    batch_id_col,
    committed_rows,
    drop_tombstoned,
    fenced,
)

NUM_BUCKETS = 8  # of the fp-bucketed fingerprint table


def winnow_batch_writer(
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` callable folding each micro-batch of
    documents into the fingerprint store (also usable directly on
    plain DataFrame batches — the one-code-path batch/stream parity
    kept engine-wide)."""
    f_tab = f"{table_prefix}_fps"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fps = winnow_fingerprints(
            batch_df, k=k, w=w, text_col=text_col, id_col=id_col
        ).select(id_col, "fp", batch_id_col(batch_id))
        append_bucketed(fps, f_tab, ("fp",), NUM_BUCKETS)

    return fenced(f"{table_prefix}_batches", fold)


def committed_fingerprints(
    spark: SparkSession, table_prefix: str, id_col: str = "doc_id"
) -> DataFrame:
    """Exactly-once view of the fingerprint store: committed batches
    only (marker semi-join), crash-window duplicates collapsed, minus
    committed tombstones (:func:`..commit_fence.drop_tombstoned`). The
    corpus-global df cap downstream
    (``pairs_from_fingerprints``) is applied at READ time, so it
    re-computes correctly over the SURVIVORS — a deleted boilerplate
    document stops counting toward any fingerprint's df."""
    fps = committed_rows(
        spark, f"{table_prefix}_fps", f"{table_prefix}_batches"
    )
    return (
        drop_tombstoned(fps, table_prefix, id_col)
        .select(id_col, "fp")
        .distinct()
    )
