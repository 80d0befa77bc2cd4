"""Bucketed tables — the co-located-join path for repeated big joins.

At 100 TB, re-shuffling the fact table for every join on the same key
is the dominant cost; writing it bucketed (+ sorted) by that key once
lets every subsequent equi-join and aggregation on the key run with
ZERO exchanges (Spark reads the bucketing from the catalog and plans
bucket-local joins). This module is the engine's answer to "the
link_key join runs nightly" — persist both sides bucketed by
``link_key``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 64,
    sort_cols: tuple[str, ...] | None = None,
) -> None:
    """Persist as a bucketed (optionally sorted) parquet catalog table.
    Bucket count should be sized so a bucket ≈ one task's memory
    (e.g. 100 TB / 64k buckets ≈ 1.6 GB/bucket pre-compression)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def append_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 64,
) -> None:
    """Append a batch into a bucketed catalog table, creating it on
    first call — the grow-only store shape (signature stores, CDC
    history). Spark enforces that appends match the table's bucket
    spec, so every batch lands bucket-aligned and later joins on the
    bucket key stay exchange-free on the store side."""
    df.write.mode("append").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    ).saveAsTable(table_name)
