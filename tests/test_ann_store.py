"""Incremental ANN index maintenance (streaming/ann_store.py):
frozen-model encode invariance, store/search parity with the one-shot
index, and replay idempotence."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.operators.pq import (
    encode_with_frozen_model,
    ivfpq_trained_topk,
)
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.streaming.ann_store import (
    NUM_BUCKETS,
    ann_store_batch_writer,
    committed_codes,
    store_adc_topk,
    train_frozen_model,
)


def _setup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cen = emb.filter(F.col("vec_id") < 16)
    sample = emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 48))
    codebook = train_frozen_model(sample, cen).persist()
    codebook.count()
    return emb, cen, codebook


def test_incremental_codes_equal_full_encode(spark, sf_dir):
    """Per-row determinism: codes built batch-by-batch with the frozen
    model are row-identical to one full-corpus encode."""
    emb, cen, codebook = _setup(spark, sf_dir)
    prefix = f"ann_{uuid.uuid4().hex[:8]}"
    writer = ann_store_batch_writer(prefix, cen, codebook)
    for i in range(3):
        writer(emb.filter(F.col("vec_id") % 3 == i), i)
    got = sorted(map(tuple, committed_codes(spark, prefix).collect()))
    want = sorted(
        map(tuple, encode_with_frozen_model(emb, cen, codebook).collect())
    )
    assert got == want and len(got) > 0

    # committed replay is a no-op; crash-window duplicates collapse
    n = spark.table(f"{prefix}_codes").count()
    writer(emb.filter(F.col("vec_id") % 3 == 1), 1)
    assert spark.table(f"{prefix}_codes").count() == n
    dup = spark.table(f"{prefix}_codes").filter(F.col("batch_id") == 0)
    dup.write.mode("append").format("parquet").bucketBy(
        NUM_BUCKETS, "cluster"
    ).saveAsTable(f"{prefix}_codes")
    assert (
        sorted(map(tuple, committed_codes(spark, prefix).collect())) == got
    )


def test_store_search_matches_one_shot_trained_index(spark, sf_dir):
    """Search over the incrementally built store must return the SAME
    rows as ivfpq_trained_topk's one-shot build (same frozen-model
    recipe, same ranking) — the index.add() soundness property."""
    emb, cen, codebook = _setup(spark, sf_dir)
    prefix = f"ann_{uuid.uuid4().hex[:8]}"
    writer = ann_store_batch_writer(prefix, cen, codebook)
    writer(emb.filter(F.col("vec_id") % 2 == 0), 0)
    writer(emb.filter(F.col("vec_id") % 2 == 1), 1)
    q = emb.filter(F.col("vec_id") < 10)
    got = sorted(
        map(
            tuple,
            store_adc_topk(
                spark, prefix, cen, codebook, q, k=5, nprobe=2
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            ivfpq_trained_topk(emb, cen, codebook, q, k=5, nprobe=2).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_deletes_equal_fresh_build_on_survivors(spark, sf_dir):
    """Tombstoned store ≡ a store freshly built from the survivors
    only (the r6-VERDICT parity contract), for both the committed view
    and the search; a later re-add RESURRECTS the vector (versioned
    tombstones); compaction folds deletes out physically and is
    idempotent."""
    from sea_express_customs_etl_spark.streaming.ann_store import (
        compact_ann_store,
    )
    from sea_express_customs_etl_spark.streaming.commit_fence import (
        tombstone_writer,
    )

    emb, cen, codebook = _setup(spark, sf_dir)
    surv_pred = F.col("vec_id") % 5 != 2
    prefix = f"ann_{uuid.uuid4().hex[:8]}"
    writer = ann_store_batch_writer(prefix, cen, codebook)
    writer(emb.filter(F.col("vec_id") % 2 == 0), 0)
    writer(emb.filter(F.col("vec_id") % 2 == 1), 1)
    deleter = tombstone_writer(prefix, "vec_id")
    deleter(emb.filter(~surv_pred).select("vec_id"), 2)

    fresh = f"ann_{uuid.uuid4().hex[:8]}"
    fresh_writer = ann_store_batch_writer(fresh, cen, codebook)
    fresh_writer(emb.filter(surv_pred), 0)

    got = sorted(map(tuple, committed_codes(spark, prefix).collect()))
    want = sorted(map(tuple, committed_codes(spark, fresh).collect()))
    assert got == want and len(got) > 0

    q = emb.filter(F.col("vec_id") < 10)
    got_s = sorted(map(tuple, store_adc_topk(
        spark, prefix, cen, codebook, q, k=5, nprobe=2).collect()))
    want_s = sorted(map(tuple, store_adc_topk(
        spark, fresh, cen, codebook, q, k=5, nprobe=2).collect()))
    assert got_s == want_s and len(got_s) > 0

    # delete replay is fenced (no-op)
    n_tomb = spark.table(f"{prefix}_tombstones").count()
    deleter(emb.filter(~surv_pred).select("vec_id"), 2)
    assert spark.table(f"{prefix}_tombstones").count() == n_tomb

    # re-add at a batch ABOVE the tombstone resurrects those vectors
    writer(emb.filter(~surv_pred), 3)
    full = sorted(map(tuple, committed_codes(spark, prefix).collect()))
    want_full = sorted(map(tuple, encode_with_frozen_model(
        emb, cen, codebook).collect()))
    assert full == want_full

    # fold-out compaction: tombstone tables gone, view unchanged, rerun
    # idempotent, and post-compaction appends still land
    deleter(emb.filter(F.col("vec_id") % 11 == 0).select("vec_id"), 4)
    before = sorted(map(tuple, committed_codes(spark, prefix).collect()))
    compact_ann_store(spark, prefix)
    assert not spark.catalog.tableExists(f"{prefix}_tombstones")
    assert sorted(map(tuple, committed_codes(spark, prefix).collect())) == before
    compact_ann_store(spark, prefix)
    assert sorted(map(tuple, committed_codes(spark, prefix).collect())) == before


def test_crash_window_tombstones_without_marker_table(spark, sf_dir):
    """ADVICE r7: a crash between the FIRST tombstone append and the
    del-marker table creation leaves <prefix>_tombstones on disk with
    no <prefix>_del_batches. The committed view must serve the
    delete-free state (uncommitted tombstones are invisible), not raise
    AnalysisException."""
    emb, cen, codebook = _setup(spark, sf_dir)
    prefix = f"ann_{uuid.uuid4().hex[:8]}"
    writer = ann_store_batch_writer(prefix, cen, codebook)
    writer(emb, 0)
    before = sorted(map(tuple, committed_codes(spark, prefix).collect()))
    # simulate the crash window: tombstone rows exist, marker table not
    emb.limit(3).select(
        F.lit(1).cast("bigint").alias("batch_id"), "vec_id"
    ).write.mode("append").format("parquet").saveAsTable(
        f"{prefix}_tombstones"
    )
    assert not spark.catalog.tableExists(f"{prefix}_del_batches")
    got = sorted(map(tuple, committed_codes(spark, prefix).collect()))
    assert got == before and len(got) > 0
