"""The streaming stores' commit fence (streaming/commit_fence.py) on
tiny in-memory frames: replays run no job, every fold runs the same
jobs, restarts and crash windows keep exactly-once, and a marker table
dropped by compaction comes back on the next commit."""

from __future__ import annotations

import uuid

import pytest

from sea_express_customs_etl_spark.streaming.commit_fence import (
    CommitFence,
    marker_rows,
    tombstone_writer,
)
from sea_express_customs_etl_spark.streaming.knowledge_store import (
    knowledge_batch_writer,
    knowledge_store_kb,
)

_A = "mawb_no string, hawb_no string, item_no int, description_original string"
_B = (
    "mawb_no string, hawb_no string, item_sequence int, "
    "description_official string, ccc_code string"
)


def _load(spark, k: int):
    """One waybill-complete load: two items on waybill ``M<k>``."""
    a = spark.createDataFrame(
        [(f"M{k}", "H1", 1, "RED SHOE"), (f"M{k}", "H1", 2, "BLUE CAP")], _A
    )
    b = spark.createDataFrame(
        [
            (f"M{k}", "H1", 1, "footwear", "6403"),
            (f"M{k}", "H1", 2, "headgear", "6505"),
        ],
        _B,
    )
    return a, b


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"fence_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _ids(spark, table: str) -> list[int]:
    return sorted(r.batch_id for r in spark.table(table).collect())


@pytest.fixture
def prefix():
    return f"fence_{uuid.uuid4().hex[:8]}"


def test_replay_runs_no_job_and_folds_cost_the_same(spark, prefix):
    writer = knowledge_batch_writer(prefix)
    loads = [_load(spark, k) for k in range(3)]
    first = _jobs(spark, lambda: writer(*loads[0], 0))
    second = _jobs(spark, lambda: writer(*loads[1], 1))
    assert first > 0 and second == first
    n_votes = spark.table(f"{prefix}_votes").count()
    assert _jobs(spark, lambda: writer(*loads[1], 1)) == 0
    assert spark.table(f"{prefix}_votes").count() == n_votes
    assert _ids(spark, f"{prefix}_batches") == [0, 1]
    assert sorted(
        (r.original_description, r.frequency)
        for r in knowledge_store_kb(spark, prefix).collect()
    ) == [("BLUE CAP", 2), ("RED SHOE", 2)]


def test_restart_skips_ids_committed_on_disk(spark, prefix):
    knowledge_batch_writer(prefix)(*_load(spark, 0), 0)
    n_votes = spark.table(f"{prefix}_votes").count()
    restarted = knowledge_batch_writer(prefix)
    restarted(*_load(spark, 0), 0)
    assert spark.table(f"{prefix}_votes").count() == n_votes
    assert _ids(spark, f"{prefix}_batches") == [0]
    # its first call read the markers; from then on it trusts itself
    assert _jobs(spark, lambda: restarted(*_load(spark, 0), 0)) == 0


def test_batch_without_marker_is_folded_again(spark, prefix, monkeypatch):
    writer = knowledge_batch_writer(prefix)
    writer(*_load(spark, 0), 0)

    def crash(self, spark, batch_id):
        raise RuntimeError("crashed before the marker")

    monkeypatch.setattr(CommitFence, "commit", crash)
    with pytest.raises(RuntimeError):
        writer(*_load(spark, 1), 1)
    monkeypatch.undo()
    assert _ids(spark, f"{prefix}_batches") == [0]  # rows landed, no marker
    writer(*_load(spark, 1), 1)
    assert _ids(spark, f"{prefix}_batches") == [0, 1]
    # the replay's exact duplicates collapse: each item counted once per load
    assert sorted(
        (r.original_description, r.frequency)
        for r in knowledge_store_kb(spark, prefix).collect()
    ) == [("BLUE CAP", 2), ("RED SHOE", 2)]


def test_dropped_marker_table_is_recreated(spark, prefix):
    deleter = tombstone_writer(prefix, "doc_id")
    deleter(spark.createDataFrame([(1,)], "doc_id bigint"), 2)
    # compaction folds the tombstones out and drops both tables
    spark.sql(f"DROP TABLE {prefix}_tombstones")
    spark.sql(f"DROP TABLE {prefix}_del_batches")
    deleter(spark.createDataFrame([(5,)], "doc_id bigint"), 4)
    assert _ids(spark, f"{prefix}_del_batches") == [4]
    rows = spark.table(f"{prefix}_tombstones").collect()
    assert [(r.batch_id, r.doc_id) for r in rows] == [(4, 5)]


def test_marker_rows_are_bigint_ids(spark):
    df = marker_rows(spark, [3, 1, 2])
    assert df.schema.simpleString() == "struct<batch_id:bigint>"
    assert sorted(r.batch_id for r in df.collect()) == [1, 2, 3]

