"""Streaming knowledge-base IVM (VERDICT r5 #3): the flagship's
vote-state maintenance in the ``incremental_dedup`` production shape.

The batch operator (``plans/knowledge.py:knowledge_base_ivm``) proves
the fold invariant — per-load vote counts merge by addition to the
full-rebuild state. This module is the PRODUCTION wiring for the
reference's actual operating mode, the nightly incremental history
load (``/root/reference/src/import_xml_history.py:181-216``: process
only unseen inputs, then fold them into history): a ``foreachBatch``
sink that maintains a persisted vote-state table across micro-batches,

* ``<prefix>_votes``   — per-batch vote-count rows
  ``(original_description, official_description, ccc_code, frequency,
  batch_id)`` — the ALGEBRAIC state (summable), appended per load;
* ``<prefix>_batches`` — commit markers.

Exactly-once: the ``commit_fence.py`` contract. A crash-window replay
re-appends bit-identical rows, and the committed reader's ``distinct``
runs over ``(keys, frequency, batch_id)`` BEFORE merging (two different
batches legitimately producing the same count row must both survive;
only same-batch replays collapse).

Why the state is per-batch DELTAS, not a maintained merged table:
appending a load's model-sized count rows is a blind append (no
read-modify-write race, idempotent under replay); the merge is a
partial-aggregated SUM at read time, cost ∝ state size, and
``compact_knowledge_store`` folds the log to one generation whenever
read-side merge cost matters — the sketch-store design
(``sketch_store.py``), applied to the flagship.

Scale: per-batch work is the flagship align+count over the DELTA only
(cost ∝ load, independent of history size); the state table holds one
row per distinct (source, target) tuple — vocabulary-sized, not
corpus-sized; winners re-rank over the merged state on demand.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.vote import (
    state_winners,
    vote_counts,
)
from sea_express_customs_etl_spark.plans.knowledge import knowledge_aligned
from sea_express_customs_etl_spark.streaming.commit_fence import (
    CommitFence,
    marker_rows,
)
from sea_express_customs_etl_spark.streaming.table_swap import backup_swap

_KEYS = ("original_description", "official_description", "ccc_code")


def _vote_writer(
    table_prefix: str,
    *,
    use_nfkc: bool,
    strategy: str,
    sign: int,
) -> Callable[[DataFrame, DataFrame, int], None]:
    v_tab = f"{table_prefix}_votes"
    fence = CommitFence(f"{table_prefix}_batches")

    def write(delta_a: DataFrame, delta_b: DataFrame, batch_id: int) -> None:
        spark: SparkSession = delta_a.sparkSession
        if fence.committed(spark, batch_id):
            return
        votes = vote_counts(
            knowledge_aligned(
                delta_a, delta_b, use_nfkc=use_nfkc, strategy=strategy
            )
        ).select(
            *_KEYS,
            (F.lit(sign) * F.col("frequency")).alias("frequency"),
            F.lit(int(batch_id)).cast("bigint").alias("batch_id"),
        )
        votes.write.mode("append").format("parquet").saveAsTable(v_tab)
        fence.commit(spark, batch_id)

    return write


def knowledge_batch_writer(
    table_prefix: str,
    *,
    use_nfkc: bool = False,
    strategy: str = "array",
) -> Callable[[DataFrame, DataFrame, int], None]:
    """Fold one waybill-complete load — paired declared (A) and
    official (B) deltas — into the persisted vote-state store.
    Callable directly on plain DataFrame batches (batch/stream parity:
    one code path); for a single tagged stream use
    :func:`tagged_knowledge_writer`.

    The load must be WAYBILL-COMPLETE (each waybill's A and B rows in
    the same batch) — the ``knowledge_base_ivm`` invariant: alignment
    is per-waybill, so a complete waybill contributes exactly its
    full-run votes."""
    return _vote_writer(
        table_prefix, use_nfkc=use_nfkc, strategy=strategy, sign=1
    )


def knowledge_retract_writer(
    table_prefix: str,
    *,
    use_nfkc: bool = False,
    strategy: str = "array",
) -> Callable[[DataFrame, DataFrame, int], None]:
    """RETRACTION load (r7 VERDICT #6) — takedown / right-to-forget /
    bad-ingest rollback for the vote-state store: the same
    waybill-complete paired delta that was previously folded in is
    re-aligned and its vote counts appended NEGATED, under the same
    commit-marker fence (its batch id comes from the one shared
    sequence). Because the align→count chain is deterministic and the
    state is algebraic (a Z-relation: counts merge by addition — the
    DBSP/differential-dataflow delta shape), the subtraction is EXACT:
    adds(L₁…Lₙ) + retract(Lᵢ) ≡ a fresh build on the surviving loads,
    row for row (keys whose net count reaches zero drop entirely in
    :func:`committed_vote_state`).

    Contract: retract only loads (or waybill-complete sub-loads) that
    were previously committed — a net-negative key is a caller error,
    exactly as removing a non-member from a multiset would be.
    Compaction needs no special delete path: :func:`compact_knowledge_store`
    already folds through the net state, so fully-retracted keys
    vanish physically at the next fold."""
    return _vote_writer(
        table_prefix, use_nfkc=use_nfkc, strategy=strategy, sign=-1
    )


def tagged_knowledge_writer(
    table_prefix: str,
    *,
    use_nfkc: bool = False,
    strategy: str = "array",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch``-shaped adapter: one stream of TAGGED rows
    carries both halves of each load AND retractions — the natural
    shape when declared manifests, official history, and takedown
    events land in one ingest stream. ``side = 'a' | 'b'`` rows fold
    in; ``side = 'a_del' | 'b_del'`` rows are a waybill-complete
    RETRACTION load whose votes append NEGATED (r8 — the streaming
    face of :func:`knowledge_retract_writer`). Adds and retracts in
    the SAME micro-batch commit atomically under one marker: the
    combined delta is one blind append, so the exactly-once contract
    is unchanged.

    Union schema: side, mawb_no, hawb_no, item_no,
    description_original (A side), item_sequence, description_official,
    ccc_code (B side) — unused side's columns null."""
    v_tab = f"{table_prefix}_votes"
    fence = CommitFence(f"{table_prefix}_batches")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark: SparkSession = batch_df.sparkSession
        if fence.committed(spark, batch_id):
            return

        def delta(side_a: str, side_b: str, sign: int) -> DataFrame:
            a = batch_df.filter(F.col("side") == side_a).select(
                "mawb_no", "hawb_no", "item_no", "description_original"
            )
            b = batch_df.filter(F.col("side") == side_b).select(
                "mawb_no", "hawb_no", "item_sequence",
                "description_official", "ccc_code",
            )
            return vote_counts(
                knowledge_aligned(
                    a, b, use_nfkc=use_nfkc, strategy=strategy
                )
            ).select(
                *_KEYS,
                (F.lit(sign) * F.col("frequency")).alias("frequency"),
                F.lit(int(batch_id)).cast("bigint").alias("batch_id"),
            )

        # the retract side is usually empty — the union costs nothing
        # and keeps the write single-append (atomic under one marker)
        votes = delta("a", "b", 1).unionByName(delta("a_del", "b_del", -1))
        votes.write.mode("append").format("parquet").saveAsTable(v_tab)
        fence.commit(spark, batch_id)

    return write


def committed_vote_state(spark: SparkSession, table_prefix: str) -> DataFrame:
    """The exactly-once merged vote-count state: committed batches
    only (marker semi-join), same-batch replay duplicates collapsed
    (deterministic recomputation ⇒ bit-identical rows ⇒ distinct
    restores exactly-once), then per-key SUM — one partial-aggregated
    shuffle over the vocabulary-sized state."""
    raw = (
        spark.table(f"{table_prefix}_votes")
        .join(
            F.broadcast(spark.table(f"{table_prefix}_batches")),
            "batch_id",
            "left_semi",
        )
        .distinct()  # (keys, frequency, batch_id) — same-batch replays only
    )
    # net count 0 = every add retracted: the key must VANISH (a fresh
    # build on the surviving loads has no such row), not rank as a
    # 0-frequency winner candidate
    return (
        raw.groupBy(*_KEYS)
        .agg(F.sum("frequency").alias("frequency"))
        .filter(F.col("frequency") != 0)
    )


def knowledge_store_kb(spark: SparkSession, table_prefix: str) -> DataFrame:
    """The knowledge base from the store: winners over the merged
    state — identical to a full rebuild for any waybill-complete batch
    sequence (the oracle-checked ``knowledge_ivm_stream`` query pins
    this against the full-rebuild SQL)."""
    return state_winners(committed_vote_state(spark, table_prefix)).select(
        "original_description", "official_description", "ccc_code", "frequency"
    )


def compact_knowledge_store(spark: SparkSession, table_prefix: str) -> None:
    """Fold the committed per-batch vote log into ONE generation under
    the max committed batch id — read-side merge cost returns to
    |distinct tuples| after any number of loads. Same quiesced-stream
    contract and idempotence as ``sketch_store.compact_sketch_store``;
    generation replacement via ``table_swap.backup_swap`` (crash-safe,
    no data-loss window)."""
    m_tab = f"{table_prefix}_batches"
    gen = spark.table(m_tab).agg(F.max("batch_id")).first()[0]
    if gen is None:
        return
    folded = committed_vote_state(spark, table_prefix).select(
        *_KEYS,
        "frequency",
        F.lit(int(gen)).cast("bigint").alias("batch_id"),
    )
    backup_swap(spark, f"{table_prefix}_votes", folded)
    backup_swap(spark, m_tab, marker_rows(spark, [gen]))
