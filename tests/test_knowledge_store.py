"""Streaming knowledge-base IVM (streaming/knowledge_store.py):
store-final ≡ full-rebuild parity, commit-marker replay idempotence,
crash-window replay and retraction."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F

from sea_express_customs_etl_spark.functions.strings import link_key
from sea_express_customs_etl_spark.plans.knowledge import knowledge_base
from sea_express_customs_etl_spark.plans.standins import (
    declared_table,
    official_table,
)
from sea_express_customs_etl_spark.streaming.knowledge_store import (
    committed_vote_state,
    knowledge_batch_writer,
    knowledge_store_kb,
)


def _half(df, i: int):
    lk = link_key(F.col("mawb_no"), F.col("hawb_no"))
    return df.filter(F.crc32(lk) % 2 == i)


def _kb_map(df):
    return {
        r.original_description: (
            r.official_description,
            r.ccc_code,
            r.frequency,
        )
        for r in df.collect()
    }


def _want(spark, sf_dir):
    return _kb_map(
        knowledge_base(
            declared_table(spark, sf_dir),
            official_table(spark, sf_dir),
            use_nfkc=False,
        )
    )


def test_store_fold_equals_full_rebuild_and_replay(spark, sf_dir):
    a = declared_table(spark, sf_dir)
    b = official_table(spark, sf_dir)
    prefix = f"kbs_{uuid.uuid4().hex[:8]}"
    writer = knowledge_batch_writer(prefix, use_nfkc=False)
    writer(_half(a, 0), _half(b, 0), 0)
    writer(_half(a, 1), _half(b, 1), 1)

    want = _want(spark, sf_dir)
    assert _kb_map(knowledge_store_kb(spark, prefix)) == want

    # committed replay: marker present -> writer skips, store unchanged
    n_votes = spark.table(f"{prefix}_votes").count()
    writer(_half(a, 1), _half(b, 1), 1)
    assert spark.table(f"{prefix}_votes").count() == n_votes

    # crash-window replay: batch 1's rows re-appended without a second
    # marker (partial first attempt + full replay) — the committed
    # (distinct) view must merge identically
    dup = spark.table(f"{prefix}_votes").filter(F.col("batch_id") == 1)
    dup.write.mode("append").format("parquet").saveAsTable(f"{prefix}_votes")
    assert spark.table(f"{prefix}_votes").count() > n_votes
    assert _kb_map(knowledge_store_kb(spark, prefix)) == want


def test_uncommitted_batch_invisible(spark, sf_dir):
    """Rows of a batch that crashed before its marker must not count."""
    a = declared_table(spark, sf_dir)
    b = official_table(spark, sf_dir)
    prefix = f"kbu_{uuid.uuid4().hex[:8]}"
    writer = knowledge_batch_writer(prefix, use_nfkc=False)
    writer(_half(a, 0), _half(b, 0), 0)
    state_before = committed_vote_state(spark, prefix).agg(
        F.sum("frequency")
    ).first()[0]
    # simulate crash: batch 7's votes written, marker never committed
    spark.table(f"{prefix}_votes").limit(5).withColumn(
        "batch_id", F.lit(7).cast("bigint")
    ).write.mode("append").format("parquet").saveAsTable(f"{prefix}_votes")
    state_after = committed_vote_state(spark, prefix).agg(
        F.sum("frequency")
    ).first()[0]
    assert state_before == state_after


def _third(df, i: int):
    lk = link_key(F.col("mawb_no"), F.col("hawb_no"))
    return df.filter(F.crc32(lk) % 3 == i)


def test_retraction_equals_fresh_build_on_surviving_loads(spark, sf_dir):
    """r7 VERDICT #6 parity — vote-state SUBTRACTION: three loads in,
    one retracted out ≡ a fresh build on the two surviving loads, row
    for row (the algebraic Z-relation exactness); retraction replay is
    fenced; retracting EVERYTHING nets the state to empty (zero-count
    keys vanish, never rank)."""
    from sea_express_customs_etl_spark.streaming.knowledge_store import (
        knowledge_retract_writer,
    )

    a = declared_table(spark, sf_dir)
    b = official_table(spark, sf_dir)
    prefix = "kbret_test_" + uuid.uuid4().hex[:8]
    writer = knowledge_batch_writer(prefix, use_nfkc=False)
    for i in range(3):
        writer(_third(a, i), _third(b, i), i)
    retract = knowledge_retract_writer(prefix, use_nfkc=False)
    retract(_third(a, 1), _third(b, 1), 3)

    fresh = "kbret_test_" + uuid.uuid4().hex[:8]
    fresh_writer = knowledge_batch_writer(fresh, use_nfkc=False)
    fresh_writer(_third(a, 0), _third(b, 0), 0)
    fresh_writer(_third(a, 2), _third(b, 2), 1)

    got = sorted(
        map(tuple, committed_vote_state(spark, prefix).collect())
    )
    want = sorted(
        map(tuple, committed_vote_state(spark, fresh).collect())
    )
    assert got == want and len(got) > 0
    assert _kb_map(knowledge_store_kb(spark, prefix)) == _kb_map(
        knowledge_store_kb(spark, fresh)
    )

    # retraction replay fenced (marker already committed)
    n_votes = spark.table(f"{prefix}_votes").count()
    retract(_third(a, 1), _third(b, 1), 3)
    assert spark.table(f"{prefix}_votes").count() == n_votes

    # retract the remaining loads: net state must vanish entirely
    retract(_third(a, 0), _third(b, 0), 10)
    retract(_third(a, 2), _third(b, 2), 11)
    assert committed_vote_state(spark, prefix).count() == 0
    assert knowledge_store_kb(spark, prefix).count() == 0


