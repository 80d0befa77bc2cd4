"""Streaming file ingestion — the reference's scan-and-move polling
loop (``src/import_xml_history.py:176-216``,
``src/process_excel_order.py:249-262``) as a Structured Streaming file
source.

Mapping (SURVEY.md §2.12):

* poll-dir-for-new-files → ``readStream.format("binaryFile")`` with
  exactly-once discovery via the checkpoint
* move-to-processed commit marker → ``cleanSource=archive`` +
  ``sourceArchiveDir`` (Spark archives a file only after its batch
  commits; uncommitted files are retried — same retry-by-not-moving
  semantics the reference implements by hand)
* per-file atomic parse→insert→move → ``foreachBatch`` writing the
  typed table, then the checkpoint commit

The same raw-parse UDTFs used in batch (``sources/``) run unchanged on
the streaming DataFrame — one ingestion code path for both modes.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from sea_express_customs_etl_spark.sources.excel_source import (
    RAW_SCHEMA as EXCEL_RAW_SCHEMA,
    _parse_partition as _parse_excel,
    declared_cargo,
)
from sea_express_customs_etl_spark.sources.xml_source import (
    RAW_SCHEMA as XML_RAW_SCHEMA,
    _parse_partition as _parse_xml,
    official_history,
)


def _binary_stream(
    spark: SparkSession,
    src_dir: str,
    glob: str,
    archive_dir: str | None,
    max_files: int | None,
) -> DataFrame:
    # the binaryFile source schema is fixed, but streaming sources
    # require it to be stated explicitly
    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", glob)
    )
    if archive_dir:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    if max_files:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return reader.load(src_dir).select("path", "content")


def stream_xml_history(
    spark: SparkSession,
    src_dir: str,
    archive_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming ``table_b_history``: XML/zip dir → typed rows."""
    raw = _binary_stream(
        spark, src_dir, "*.{xml,zip}", archive_dir, max_files_per_trigger
    ).mapInPandas(_parse_xml, XML_RAW_SCHEMA)
    return official_history(raw)


def stream_manifests(
    spark: SparkSession,
    src_dir: str,
    archive_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming ``table_a_raw``: Excel/CSV manifest dir → typed rows."""
    raw = _binary_stream(
        spark, src_dir, "*.{xlsx,xls,csv}", archive_dir, max_files_per_trigger
    ).mapInPandas(_parse_excel, EXCEL_RAW_SCHEMA)
    return declared_cargo(raw)


def run_availablenow(
    stream_df: DataFrame,
    sink_path: str,
    checkpoint: str,
    batch_writer: Callable[[DataFrame, int], None] | None = None,
) -> None:
    """Drain everything currently available (the reference's one polling
    pass), writing parquet appends per batch, then stop. Re-running with
    the same checkpoint is a no-op for already-committed files —
    exactly-once, replacing the reference's move-as-commit."""
    writer = batch_writer or (
        lambda batch, _id: batch.write.mode("append").parquet(sink_path)
    )
    q = (
        stream_df.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
