"""The commit fence every streaming store writes through — the
reference's move-to-processed commit marker (its
``src/import_xml_history.py:181-216``: process only unseen inputs, then
fold them into history), re-expressed as idempotent ``foreachBatch``
replay protection.

Contract (stated once here; the stores point at it):

* Every store row carries its ``batch_id``, and a marker table
  ``(batch_id bigint)`` records the committed batches. A writer SKIPS
  a batch id that is already committed.
* The marker is written LAST. A batch that crashed before its marker
  is folded again in full; every store operator is deterministic, so
  the replay re-appends EXACT duplicates of the partial first attempt.
  The committed readers semi-join on the markers and collapse those
  replays with a ``distinct`` (a lakehouse table format would MERGE
  instead).
* Writers that share a marker table (the knowledge store's add and
  retract writers; a store's add and tombstone writers, whose versioned
  deletes compare ids) take their batch ids from ONE monotonically
  increasing sequence — a single maintenance stream's ``foreachBatch``
  ids are.
* A writer reads its marker table once, on its first call; after that
  it trusts its own commits. A replay of an id it committed runs no
  Spark job, and a restarted writer (a fresh instance on an existing
  store) still skips every id committed on disk. Maintenance jobs
  (compaction, rebuild) run with the stream quiesced, and a writer's
  later batch ids stay above their generation id.

The marker append is JVM-side SQL (``CREATE TABLE IF NOT EXISTS`` then
``INSERT INTO ... VALUES``), and the create runs on every commit
because compaction drops or renames marker tables. Compaction builds
its marker rows with :func:`marker_rows`, so markers are written one
way only.

A store supplies only its fold body: :func:`fenced` wraps it in the
skip → fold → marker sequence, :func:`batch_id_col` tags its rows, and
its committed readers start from :func:`committed_rows` (plus
:func:`drop_tombstoned` or :func:`committed_tombstones` for deletes).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
import pyspark.sql.functions as F


class CommitFence:
    """Replay protection over one marker table (see module docstring)."""

    def __init__(self, table: str) -> None:
        self.table = table
        self._ids: set[int] | None = None

    def committed(self, spark: SparkSession, batch_id: int) -> bool:
        if self._ids is None:
            self._ids = (
                {int(r.batch_id) for r in spark.table(self.table).collect()}
                if spark.catalog.tableExists(self.table)
                else set()
            )
        return int(batch_id) in self._ids

    def commit(self, spark: SparkSession, batch_id: int) -> None:
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.table} (batch_id bigint) "
            "USING parquet"
        )
        spark.sql(f"INSERT INTO {self.table} VALUES ({int(batch_id)})")
        if self._ids is not None:  # else the first check reads it back
            self._ids.add(int(batch_id))


def marker_rows(spark: SparkSession, ids: Iterable[int]) -> DataFrame:
    """Marker rows ``(batch_id bigint)`` for ``ids``, built JVM-side —
    what compaction swaps in as a store's new marker table."""
    values = ", ".join(f"({int(b)})" for b in ids)
    return spark.sql(
        f"SELECT CAST(b AS BIGINT) AS batch_id FROM VALUES {values} AS t(b)"
    )


def batch_id_col(batch_id: int) -> Column:
    """The ``batch_id bigint`` column every store row carries."""
    return F.lit(int(batch_id)).cast("bigint").alias("batch_id")


def fenced(markers: str, fold: Callable[..., None]) -> Callable[..., None]:
    """The one writer skeleton: ``write(*frames, batch_id)`` skips a
    ``batch_id`` committed in the ``markers`` table, else runs
    ``fold(*frames, batch_id)`` and then writes the marker. A fold that
    raises leaves no marker, so the next call folds the id again. Over
    a one-frame fold, ``write`` is a ``foreachBatch`` callable."""
    fence = CommitFence(markers)

    def write(*args: Any) -> None:
        *frames, batch_id = args
        spark: SparkSession = frames[0].sparkSession
        if fence.committed(spark, batch_id):
            return
        fold(*frames, batch_id)
        fence.commit(spark, batch_id)

    return write


def committed_rows(spark: SparkSession, table: str, markers: str) -> DataFrame:
    """Rows of ``table`` whose ``batch_id`` is committed in ``markers``
    (the marker table is batch-count sized, so it is broadcast). Replay
    duplicates are left in: each reader collapses them in its own
    order."""
    return spark.table(table).join(
        F.broadcast(spark.table(markers)), "batch_id", "left_semi"
    )


def tombstone_writer(
    table_prefix: str, id_col: str
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable appending each delete batch's ids to
    ``<prefix>_tombstones`` under the ``<prefix>_del_batches`` fence —
    every store's delete writer (each store's module docstring states
    its delete contract); :func:`committed_tombstones` is the read
    half."""
    t_tab = f"{table_prefix}_tombstones"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(batch_id_col(batch_id), F.col(id_col)).write.mode(
            "append"
        ).format("parquet").saveAsTable(t_tab)

    return fenced(f"{table_prefix}_del_batches", fold)


def committed_tombstones(
    spark: SparkSession, table_prefix: str
) -> DataFrame | None:
    """The committed ``(batch_id, id)`` tombstone rows, or None when no
    delete has been committed. Both tombstone tables must exist: a
    crash between the first tombstone append and the marker-table
    creation leaves ``<prefix>_tombstones`` without
    ``<prefix>_del_batches``, and the delete-free view must still
    serve."""
    t_tab = f"{table_prefix}_tombstones"
    dm_tab = f"{table_prefix}_del_batches"
    if not (spark.catalog.tableExists(t_tab) and spark.catalog.tableExists(dm_tab)):
        return None
    return committed_rows(spark, t_tab, dm_tab)


def drop_tombstoned(rows: DataFrame, table_prefix: str, id_col: str) -> DataFrame:
    """``rows`` (each with its add ``batch_id``) minus those a committed
    tombstone kills — the versioned delete: a row survives unless a
    committed tombstone for its id has delete-batch >= its add-batch,
    so a later re-add resurrects it. The tombstone side is id-grained
    and grows with the corpus, so it is joined without a pinned
    broadcast (AQE picks the strategy)."""
    dead = committed_tombstones(rows.sparkSession, table_prefix)
    if dead is None:
        return rows
    last_del = dead.groupBy(id_col).agg(F.max("batch_id").alias("_del_bid"))
    return (
        rows.join(last_del, id_col, "left")
        .filter(
            F.col("_del_bid").isNull() | (F.col("batch_id") > F.col("_del_bid"))
        )
        .drop("_del_bid")
    )
