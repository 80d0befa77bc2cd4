"""JSONL (newline-delimited JSON) corpus source.

Training corpora overwhelmingly ship as ``.jsonl`` / ``.jsonl.gz``
(one document object per line); this connector is the documents-table
entry point for that format, built entirely on Spark's native JSON
reader so schema enforcement, predicate pushdown and codec handling
stay JVM-side — no Python parse loop.

Robustness contract (mirrors the XML connector's containment rules,
cf. reference src/import_xml.py:21-29 try/except-per-file):

- PERMISSIVE mode: a malformed line becomes one row whose
  ``_corrupt_record`` column holds the raw text and whose typed
  columns are NULL — the batch never fails, and the caller can route
  corrupt rows to a quarantine sink (count them via ``observe``).
- An explicit schema is REQUIRED. Schema inference reads the corpus
  twice and samples non-deterministically at 100 TB; the pipeline owns
  its schema.
- gzip members decompress inline (Spark handles ``.gz`` natively);
  gzip is non-splittable, so at scale prefer many medium files over
  one giant archive — partition parallelism = file count for .gz.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def read_jsonl_docs(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENT_SCHEMA,
    path_glob: str | None = "*.jsonl*",
) -> DataFrame:
    """Read a JSONL document corpus with corrupt-line containment.

    Returns the typed columns plus ``_corrupt_record`` (NULL for clean
    rows). One JSON object per line is what makes the format
    splittable — a single 1 TB .jsonl file still parallelizes by byte
    range.

    Implementation: a text scan + ``from_json`` projection rather than
    ``spark.read.json``. Same JVM-side parser, but the raw line stays
    addressable, which sidesteps the native reader's
    QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction (it refuses plans
    that project only the corrupt column) — the quarantine path is a
    first-class consumer here, not an afterthought.
    """
    reader = spark.read
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    lines = reader.text(path)
    parsed = lines.select(
        F.from_json(
            F.col("value"),
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("_p")
    )
    return parsed.select("_p.*")


def clean_docs(df: DataFrame) -> DataFrame:
    """Drop corrupt rows and rows without the two mandatory fields
    (id + text) — the OP-FIL-SKIP policy applied to JSONL."""
    return df.filter(
        F.col("_corrupt_record").isNull()
        & F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
    ).drop("_corrupt_record")
