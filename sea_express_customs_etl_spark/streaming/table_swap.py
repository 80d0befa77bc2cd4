"""Backup-then-swap generation replacement for managed tables.

The compaction jobs (``sketch_store.compact_sketch_store``,
``ann_store.compact_ann_store``) replace a live table with a
freshly-written generation. A naive DROP-then-RENAME has a crash
window in which NO table exists and the old data is already deleted.
This helper sequences the swap so every crash point leaves the data
recoverable:

1. write the new generation to ``<table>_compact_staging``;
2. rename live → ``<table>_compact_backup``  (old data kept);
3. rename staging → live                     (new generation live);
4. drop the backup.

A crash between 2 and 3 leaves no LIVE table, but both generations
still exist on disk (backup = old, staging = new) — recovery is one
RENAME, never a data reload. This is not atomic (Spark's session
catalog has no multi-table transaction); it is crash-safe in the
no-data-loss sense, which is the property the maintenance job needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def backup_swap(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    bucket_col: str | None = None,
    num_buckets: int = 8,
) -> None:
    """Replace ``table`` with the generation ``df`` (parquet, bucketed
    by ``bucket_col`` into ``num_buckets`` when given, so the staging
    table carries the live table's bucket spec).

    The staging write is mode overwrite — reruns after a
    crash-before-swap simply rewrite it.
    """
    staging = f"{table}_compact_staging"
    backup = f"{table}_compact_backup"
    w = df.write.mode("overwrite").format("parquet")
    if bucket_col:
        w = w.bucketBy(num_buckets, bucket_col)
    w.saveAsTable(staging)
    # a leftover backup from a crashed prior swap is an already-
    # superseded generation — safe to clear before taking a new one
    spark.sql(f"DROP TABLE IF EXISTS {backup}")
    spark.sql(f"ALTER TABLE {table} RENAME TO {backup}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    spark.sql(f"DROP TABLE {backup}")
