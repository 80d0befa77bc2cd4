"""Incremental winnowing store: fold parity vs one-shot, replay
idempotence, crash-window duplicate collapse
(streaming/winnow_store.py, operators/fingerprint.py)."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.fingerprint import (
    pairs_from_fingerprints,
    winnow_dup_pairs,
    winnow_fingerprints,
)
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.streaming.winnow_store import (
    NUM_BUCKETS,
    committed_fingerprints,
    winnow_batch_writer,
)


def _pairs(df):
    return {(r.id_a, r.id_b, r.n_shared) for r in df.collect()}


def _prefix() -> str:
    return "winstore_test_" + uuid.uuid4().hex[:8]


def test_store_fold_matches_one_shot(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prefix = _prefix()
    writer = winnow_batch_writer(prefix, k=3, w=4)
    for i in range(3):
        writer(docs.filter(F.col("doc_id") % 3 == i), i)
    store = committed_fingerprints(spark, prefix).persist()
    one_shot = winnow_fingerprints(docs, k=3, w=4)
    assert set(map(tuple, store.collect())) == set(
        map(tuple, one_shot.collect())
    )
    assert _pairs(
        pairs_from_fingerprints(store, min_shared=2, df_max=50)
    ) == _pairs(winnow_dup_pairs(docs, k=3, w=4, min_shared=2, df_max=50))
    store.unpersist()


def test_replay_and_crash_window(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    prefix = _prefix()
    writer = winnow_batch_writer(prefix, k=3, w=4)
    writer(b0, 0)
    # crash window: batch 1's fingerprints appended WITHOUT the marker
    fps1 = winnow_fingerprints(b1, k=3, w=4).select(
        "doc_id", "fp", F.lit(1).cast("bigint").alias("batch_id")
    )
    from sea_express_customs_etl_spark.sinks.bucketed import append_bucketed

    append_bucketed(fps1, f"{prefix}_fps", ("fp",), NUM_BUCKETS)
    # uncommitted rows are invisible
    n_committed = committed_fingerprints(spark, prefix).count()
    assert n_committed == winnow_fingerprints(b0, k=3, w=4).count()
    # full replay of batch 1 re-appends identical rows + the marker;
    # distinct collapses the crash-window duplicates
    writer(b1, 1)
    full = winnow_fingerprints(docs, k=3, w=4)
    assert committed_fingerprints(spark, prefix).count() == full.count()
    # replaying an already-committed batch is a no-op
    rows_before = spark.table(f"{prefix}_fps").count()
    writer(b1, 1)
    assert spark.table(f"{prefix}_fps").count() == rows_before


def test_deletes_equal_fresh_build_on_survivors(spark, sf_dir):
    """r7 VERDICT #6 parity: tombstoned store ≡ a store freshly built
    from the survivors only — committed view AND the pair query
    (including the read-time survivor-grain df cap); delete replay is
    fenced; a later re-add RESURRECTS (versioned tombstones); the
    crash window (tombstones without a del-marker table) serves the
    delete-free view."""
    from sea_express_customs_etl_spark.streaming.commit_fence import (
        tombstone_writer,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    surv_pred = F.col("doc_id") % 5 != 2
    prefix = _prefix()
    writer = winnow_batch_writer(prefix, k=3, w=4)
    writer(docs.filter(F.col("doc_id") % 2 == 0), 0)
    writer(docs.filter(F.col("doc_id") % 2 == 1), 1)
    deleter = tombstone_writer(prefix, "doc_id")
    deleter(docs.filter(~surv_pred).select("doc_id"), 2)

    fresh = _prefix()
    fresh_writer = winnow_batch_writer(fresh, k=3, w=4)
    fresh_writer(docs.filter(surv_pred), 0)

    got = sorted(map(tuple, committed_fingerprints(spark, prefix).collect()))
    want = sorted(map(tuple, committed_fingerprints(spark, fresh).collect()))
    assert got == want and len(got) > 0
    assert _pairs(
        pairs_from_fingerprints(
            committed_fingerprints(spark, prefix), min_shared=2, df_max=50
        )
    ) == _pairs(
        winnow_dup_pairs(
            docs.filter(surv_pred), k=3, w=4, min_shared=2, df_max=50
        )
    )

    # delete replay is fenced (no-op)
    n_tomb = spark.table(f"{prefix}_tombstones").count()
    deleter(docs.filter(~surv_pred).select("doc_id"), 2)
    assert spark.table(f"{prefix}_tombstones").count() == n_tomb

    # re-add above the tombstone resurrects
    writer(docs.filter(~surv_pred), 3)
    full = sorted(map(tuple, committed_fingerprints(spark, prefix).collect()))
    want_full = sorted(
        map(tuple, winnow_fingerprints(docs, k=3, w=4).collect())
    )
    assert full == want_full


def test_crash_window_tombstones_without_marker_table(spark, sf_dir):
    """Tombstone rows on disk with NO del-marker table (crash between
    first tombstone append and marker creation): the committed view
    serves the delete-free state instead of raising."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prefix = _prefix()
    writer = winnow_batch_writer(prefix, k=3, w=4)
    writer(docs, 0)
    before = sorted(map(tuple, committed_fingerprints(spark, prefix).collect()))
    docs.limit(3).select(
        F.lit(1).cast("bigint").alias("batch_id"), "doc_id"
    ).write.mode("append").format("parquet").saveAsTable(
        f"{prefix}_tombstones"
    )
    assert not spark.catalog.tableExists(f"{prefix}_del_batches")
    assert sorted(
        map(tuple, committed_fingerprints(spark, prefix).collect())
    ) == before
