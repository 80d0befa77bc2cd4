"""Cross-batch incremental dedup: fold invariance, the persisted
band-bucketed store, foreachBatch streaming parity, and replay
idempotence (streaming/incremental_dedup.py, operators/dedup.py)."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
import pytest

from sea_express_customs_etl_spark.operators.dedup import (
    dedup_clusters,
    dedup_increment,
    jaccard_verify_profiles,
    lsh_bands,
    lsh_candidate_pairs,
    shingle_profiles,
)
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.streaming.incremental_dedup import (
    committed_edges,
    incremental_dedup_batch_writer,
)


def _full_edges(docs):
    prof = shingle_profiles(docs)
    return jaccard_verify_profiles(
        lsh_candidate_pairs(lsh_bands(prof)), prof
    ).select("id_a", "id_b")


def _keep_map(df):
    return {r.doc_id: (r.cluster_id, r.keep) for r in df.collect()}


def test_incremental_fold_equals_full_corpus(spark, sf_dir):
    """Union of per-batch edges over a 3-way split == full-corpus
    edges; components identical."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    store = None
    edges = None
    for b in batches:
        prof = shingle_profiles(b).persist()
        step = dedup_increment(prof, store_profiles=store)
        edges = step if edges is None else edges.unionByName(step)
        store = prof if store is None else store.unionByName(prof)
    inc = set(map(tuple, edges.collect()))
    full = set(map(tuple, _full_edges(docs).collect()))
    assert inc == full
    assert _keep_map(dedup_clusters(docs, edges)) == _keep_map(
        dedup_clusters(docs, _full_edges(docs))
    )


def test_foreachbatch_store_parity_and_replay(spark, sf_dir):
    """Driving the batch writer as a stream sink builds a store whose
    committed edges resolve identically to a full-corpus run; replaying
    a committed batch is a no-op; a crash-window replay (data written,
    marker missing) leaves the committed view unchanged."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prefix = f"incdedup_{uuid.uuid4().hex[:8]}"
    writer = incremental_dedup_batch_writer(prefix)

    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    writer(b0, 0)
    writer(b1, 1)

    got = _keep_map(dedup_clusters(docs, committed_edges(spark, prefix)))
    want = _keep_map(dedup_clusters(docs, _full_edges(docs)))
    assert got == want
    profiles = spark.table(f"{prefix}_profiles")
    assert profiles.select("doc_id").distinct().count() == docs.count()

    # committed replay: marker present -> writer returns without writes
    n_edges = spark.table(f"{prefix}_edges").count()
    writer(b1, 1)
    assert spark.table(f"{prefix}_edges").count() == n_edges

    # crash-window replay: a partial first attempt wrote batch 1's rows,
    # crashed before the marker, and the replay re-appended them — the
    # raw table now holds exact duplicates; the committed (distinct)
    # view must resolve identically
    dup = spark.table(f"{prefix}_edges").filter(F.col("batch_id") == 1)
    dup.write.mode("append").format("parquet").saveAsTable(f"{prefix}_edges")
    assert spark.table(f"{prefix}_edges").count() > n_edges
    assert _keep_map(
        dedup_clusters(docs, committed_edges(spark, prefix))
    ) == want

    # the store-side LSH join key is bucketed by band: the bands table
    # reports its bucket spec (the no-store-shuffle precondition)
    assert spark.catalog.tableExists(f"{prefix}_bands")


def test_streaming_foreachbatch_end_to_end(spark, sf_dir, tmp_path):
    """True Structured Streaming drive: a rate-limited file stream of
    document batches through foreachBatch == batch dedup_clusters."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
    )
    src = str(tmp_path / "docs_in")
    # two parquet files -> with maxFilesPerTrigger=1, two micro-batches
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        src, mode="append"
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        src, mode="append"
    )
    prefix = f"incstream_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            incremental_dedup_batch_writer(prefix)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _keep_map(dedup_clusters(docs, committed_edges(spark, prefix)))
    want = _keep_map(dedup_clusters(docs, _full_edges(docs)))
    assert got == want


def test_deletes_equal_fresh_build_on_survivors(spark, sf_dir):
    """r7 VERDICT #6 parity (takedown-final contract): tombstoned
    store ≡ a store freshly built from the survivors only — edges
    (both-endpoints-live filter) and the downstream component
    resolution; delete replay fenced."""
    from sea_express_customs_etl_spark.streaming.commit_fence import (
        tombstone_writer,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    surv_pred = F.col("doc_id") % 5 != 2
    survivors = docs.filter(surv_pred)
    prefix = "deddel_test_" + uuid.uuid4().hex[:8]
    writer = incremental_dedup_batch_writer(prefix)
    writer(docs.filter(F.col("doc_id") % 2 == 0), 0)
    writer(docs.filter(F.col("doc_id") % 2 == 1), 1)
    deleter = tombstone_writer(prefix, "doc_id")
    deleter(docs.filter(~surv_pred).select("doc_id"), 2)

    fresh = "deddel_test_" + uuid.uuid4().hex[:8]
    fresh_writer = incremental_dedup_batch_writer(fresh)
    fresh_writer(survivors.filter(F.col("doc_id") % 2 == 0), 0)
    fresh_writer(survivors.filter(F.col("doc_id") % 2 == 1), 1)

    got_e = {tuple(r) for r in committed_edges(spark, prefix).collect()}
    want_e = {tuple(r) for r in committed_edges(spark, fresh).collect()}
    assert got_e == want_e and len(got_e) > 0
    assert _keep_map(
        dedup_clusters(survivors, committed_edges(spark, prefix))
    ) == _keep_map(dedup_clusters(survivors, _full_edges(survivors)))

    # delete replay fenced
    n_tomb = spark.table(f"{prefix}_tombstones").count()
    deleter(docs.filter(~surv_pred).select("doc_id"), 2)
    assert spark.table(f"{prefix}_tombstones").count() == n_tomb


def test_crash_window_tombstones_without_marker_table(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prefix = "deddel_test_" + uuid.uuid4().hex[:8]
    writer = incremental_dedup_batch_writer(prefix)
    writer(docs, 0)
    before = {tuple(r) for r in committed_edges(spark, prefix).collect()}
    docs.limit(3).select(
        F.lit(1).cast("bigint").alias("batch_id"), "doc_id"
    ).write.mode("append").format("parquet").saveAsTable(
        f"{prefix}_tombstones"
    )
    assert not spark.catalog.tableExists(f"{prefix}_del_batches")
    assert {
        tuple(r) for r in committed_edges(spark, prefix).collect()
    } == before
