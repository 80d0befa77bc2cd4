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
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
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


def tombstone_writer(
    table_prefix: str, id_col: str
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable appending each delete batch's ids to
    ``<prefix>_tombstones`` under the ``<prefix>_del_batches`` fence —
    the shared body of the stores' delete writers (each store's own
    docstring states what a committed tombstone means there)."""
    t_tab = f"{table_prefix}_tombstones"
    fence = CommitFence(f"{table_prefix}_del_batches")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark: SparkSession = batch_df.sparkSession
        if fence.committed(spark, batch_id):
            return
        batch_df.select(
            F.lit(int(batch_id)).cast("bigint").alias("batch_id"),
            F.col(id_col),
        ).write.mode("append").format("parquet").saveAsTable(t_tab)
        fence.commit(spark, batch_id)

    return write
