"""Customs-broker XML / zip-of-XML connector (OP-SRC-XML, OP-SRC-ZIP).

Reference behavior reproduced (``src/import_xml_history.py``):

* recursive ``.//BID_HEAD`` record discovery (``:47``)
* zip members filtered to ``*.xml``, excluding ``__MACOSX``/hidden
  (``startswith('__')``, ``:144``), streamed without temp files
  (``:150-155``)
* provenance tag ``zip_name::member_name`` (``:154``)
* member-level error containment: a corrupt member is logged and
  skipped, the rest of the zip proceeds (``:157-158``)
* rows with empty ``HAWB_NO`` dropped (``:51-53``)
* per-(member, HAWB) item sequence in document order (``:44,56,73``) —
  the counter scope is the XML member, never the whole zip
* ``clean_doc_no``, date-part, lenient numeric coercion, guarded unit
  price (``:60-102``)

Spark-first split: the ``mapInPandas`` UDTF parses bytes → raw strings
+ ``_row_idx`` (document order is load-bearing; SURVEY §7.3.1); every
derivation after that is a Catalyst expression. One task per file —
zips aren't splittable, but a directory of thousands of zips
parallelizes per-file, which is the reference's real workload shape
(hundreds of member XMLs per zip, many zips per day).
"""

from __future__ import annotations

import io
import logging
import zipfile
from collections.abc import Iterator
from xml.etree import ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.functions.datetimes import iso_date_part
from sea_express_customs_etl_spark.functions.numeric import (
    guarded_unit_price,
    num_coerce,
)
from sea_express_customs_etl_spark.functions.strings import clean_doc_no

log = logging.getLogger(__name__)

#: BID_HEAD child elements consumed by the pipeline
#: (reference ``src/import_xml_history.py:59-111``).
BID_HEAD_FIELDS = (
    "DCL_DOC_NO",
    "MAWB",
    "HAWB_NO",
    "FLY_NO",
    "IMPORT_DATE",
    "DESCRIPTION",
    "CLASSIFY_NO",
    "QTY",
    "QTY_UM",
    "PAY_TAX_AMT",
    "FOB_AMT_TWD",
    "IMPORT_DUTY_RATE",
    "CNEE_BAN_ID",
    "CNEE_E_NAME",
    "OTHER_ITEN_2",
    "SHPR_E_NAME",
    "FROM_CODE",
)

RAW_SCHEMA = (
    "source_file string, _row_idx long, item_sequence int, "
    + ", ".join(f"{f} string" for f in BID_HEAD_FIELDS)
)

# ---------------------------------------------------------------------------
# typed source layer (SURVEY §1.3)
# ---------------------------------------------------------------------------

#: XSD simple type → Spark SQL type string. xs:decimal is unbounded in
#: XSD; DecimalType(38,12) keeps customs amounts (≤ 1e25 TWD) exact.
XSD_TO_SPARK = {
    "xs:string": "string",
    "xs:dateTime": "timestamp",
    "xs:date": "date",
    "xs:decimal": "decimal(38,12)",
    "xs:int": "int",
    "xs:integer": "long",
    "xs:long": "long",
    "xs:double": "double",
    "xs:float": "float",
    "xs:boolean": "boolean",
    "xs:base64Binary": "binary",
}

#: The declared types of the consumed BID_HEAD fields, as the inline
#: XSD of every ``uploads/xml_history`` member states them (sample
#: member line 1; see SURVEY §1.3 "Types actually exercised").
BID_HEAD_XSD_TYPES = {
    "IMPORT_DATE": "xs:dateTime",
    "QTY": "xs:decimal",
    "PAY_TAX_AMT": "xs:decimal",
    "FOB_AMT_TWD": "xs:decimal",
    "IMPORT_DUTY_RATE": "xs:decimal",
    # every other consumed field is xs:string
}

_XS_NS = "{http://www.w3.org/2001/XMLSchema}"


def parse_inline_xsd(content: bytes, record: str = "BID_HEAD") -> dict[str, str]:
    """Field → XSD type for one record element of a GicDataSet member.

    The broker's XML carries its schema inline (``<xs:schema>`` as the
    first child — .NET DataSet style); this reads the declared
    ``<xs:element name=... type=.../>`` list for ``record`` so the
    typed projection can be derived from the DATA rather than
    hard-coded. Unknown/missing schema → empty dict (caller falls back
    to :data:`BID_HEAD_XSD_TYPES`).
    """
    try:
        root = ET.fromstring(content)
    except ET.ParseError:
        return {}
    for el in root.iter(f"{_XS_NS}element"):
        if el.get("name") != record:
            continue
        return {
            sub.get("name"): sub.get("type")
            for sub in el.iter(f"{_XS_NS}element")
            if sub.get("name") != record and sub.get("type")
        }
    return {}


def typed_bid_heads(
    raw: DataFrame, xsd_types: dict[str, str] | None = None
) -> DataFrame:
    """Raw string records → XSD-typed source rows (SURVEY §1.3).

    Each consumed field is cast to the Spark type its XSD declaration
    maps to (``XSD_TO_SPARK``), via ``try_cast`` so the reference's
    string-leniency survives: junk in a decimal field becomes NULL at
    this layer (and 0 later via ``num_coerce`` if the pipeline asks
    for reference parity), never an ANSI error. base64Binary fields
    decode with ``unbase64``. Provenance/order columns pass through.
    """
    types = dict(BID_HEAD_XSD_TYPES if xsd_types is None else xsd_types)
    cols: list[F.Column] = [
        F.col("source_file"),
        F.col("_row_idx"),
        F.col("item_sequence"),
    ]
    for f in BID_HEAD_FIELDS:
        xsd = types.get(f, "xs:string")
        spark_t = XSD_TO_SPARK.get(xsd, "string")
        if spark_t == "string":
            cols.append(F.col(f))
        elif spark_t == "binary":
            cols.append(F.unbase64(F.col(f)).alias(f))
        else:
            cols.append(F.col(f).try_cast(spark_t).alias(f))
    return raw.select(*cols)


def _records_from_xml_bytes(
    content: bytes, source_name: str
) -> Iterator[dict]:
    """One XML member → BID_HEAD records.

    Empty-HAWB records are skipped and the per-HAWB ``item_sequence``
    counter runs in document order, scoped to THIS member (reference
    ``src/import_xml_history.py:44-56`` — a ``defaultdict`` counter per
    file). Sequencing is a parse-time property of the document, so
    computing it here costs zero shuffles and keeps the typed
    projection streaming-safe (no window over an unbounded stream).
    """
    root = ET.fromstring(content)
    counters: dict[str, int] = {}
    for idx, bid in enumerate(root.iter("BID_HEAD")):
        hawb = (bid.findtext("HAWB_NO") or "").strip()
        if not hawb:
            continue  # OP-FIL-SKIP, reference :51-53
        counters[hawb] = counters.get(hawb, 0) + 1
        row = {
            "source_file": source_name,
            "_row_idx": idx,
            "item_sequence": counters[hawb],
        }
        for f in BID_HEAD_FIELDS:
            row[f] = bid.findtext(f)
        yield row


def _parse_files(pdf: pd.DataFrame) -> tuple[list[dict], list[dict]]:
    """One binaryFile batch → (records, quarantine rows).

    The containment policy is the reference's (member-level try/except,
    ``src/import_xml_history.py:157-158``) — but instead of ONLY
    logging, every dropped unit is also captured as a quarantine row
    (source_file, member, reason, error, raw_bytes) so bad data is
    auditable and replayable, not a log line (r6 VERDICT #4). Reasons:
    ``bad_zip`` (container unreadable), ``bad_member`` (zip member
    failed to read/parse), ``bad_xml`` (standalone file failed to
    parse)."""
    out: list[dict] = []
    bad: list[dict] = []

    def _q(fname, member, reason, err, raw):
        bad.append(
            {
                "source_file": fname,
                "member": member,
                "reason": reason,
                "error": str(err)[:500],
                "raw_bytes": bytes(raw) if raw is not None else None,
            }
        )

    for path, content in zip(pdf["path"], pdf["content"]):
        fname = path.rsplit("/", 1)[-1]
        if fname.lower().endswith(".zip"):
            try:
                zf = zipfile.ZipFile(io.BytesIO(content))
            except zipfile.BadZipFile as e:
                log.error("not a valid zip: %s", fname)
                _q(fname, None, "bad_zip", e, content)
                continue
            members = [
                m
                for m in zf.namelist()
                if m.lower().endswith(".xml") and not m.startswith("__")
            ]
            for member in members:
                data = None
                try:
                    with zf.open(member) as fh:
                        data = fh.read()
                    out.extend(
                        _records_from_xml_bytes(data, f"{fname}::{member}")
                    )
                except Exception as e:  # member-level containment
                    log.warning("failed zip member %s: %s", member, e)
                    _q(fname, member, "bad_member", e, data)
        else:
            # Catch Exception, not just ET.ParseError: encoding/IO
            # failures on a loose file must hit the same quarantine
            # containment as zip members, never fail the Spark task
            # (ADVICE r7).
            try:
                out.extend(_records_from_xml_bytes(content, fname))
            except Exception as e:
                log.error("XML parse failure %s: %s", fname, e)
                _q(fname, None, "bad_xml", e, content)
    return out, bad


_RAW_COLS = ["source_file", "_row_idx", "item_sequence", *BID_HEAD_FIELDS]
_QUAR_COLS = ["member", "reason", "error", "raw_bytes"]

#: RAW_SCHEMA plus the quarantine columns — one UDTF pass emits both
#: row kinds; a record row has ``reason`` NULL, a quarantine row has
#: every record column NULL. Split with :func:`split_quarantine`.
QUARANTINED_SCHEMA = (
    RAW_SCHEMA + ", member string, reason string, error string, "
    "raw_bytes binary"
)


def _parse_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out, _ = _parse_files(pdf)
        yield pd.DataFrame(out, columns=_RAW_COLS) if out else pd.DataFrame(
            {c: pd.Series(dtype=object) for c in _RAW_COLS}
        )


def _parse_partition_quarantined(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    cols = _RAW_COLS + _QUAR_COLS
    for pdf in batches:
        out, bad = _parse_files(pdf)
        rows = [
            {**r, "member": None, "reason": None, "error": None,
             "raw_bytes": None}
            for r in out
        ]
        rows += [{**{c: None for c in _RAW_COLS}, **b} for b in bad]
        yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(
            {c: pd.Series(dtype=object) for c in cols}
        )


def read_bid_heads_raw(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Scan ``.xml``/``.zip`` files → raw BID_HEAD string records.

    ``path`` may contain a glob (e.g. ``dir/*.{xml,zip}``); or pass
    ``glob`` as a ``pathGlobFilter``.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return (
        reader.load(path)
        .select("path", "content")
        .mapInPandas(_parse_partition, RAW_SCHEMA)
    )


def read_bid_heads_quarantined(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Like :func:`read_bid_heads_raw` but ONE scan emits records AND
    quarantine rows (``QUARANTINED_SCHEMA``); split downstream with
    :func:`split_quarantine`. At 100 TB this is the right shape: the
    quarantine stream costs zero extra file reads, and bad units ride
    the same partitioning as the good rows until the split."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return (
        reader.load(path)
        .select("path", "content")
        .mapInPandas(_parse_partition_quarantined, QUARANTINED_SCHEMA)
    )


def split_quarantine(both: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(records, quarantine) from the combined quarantined frame.
    Records carry the RAW_SCHEMA columns; quarantine rows carry
    (source_file, member, reason, error, raw_bytes). Each side is a
    filter over the same scan — persist the combined frame first if
    both sides are consumed in one job."""
    records = both.filter(F.col("reason").isNull()).select(*_RAW_COLS)
    quarantine = both.filter(F.col("reason").isNotNull()).select(
        "source_file", *_QUAR_COLS
    )
    return records, quarantine


def official_history(raw: DataFrame) -> DataFrame:
    """Raw BID_HEAD strings → typed ``table_b_history`` rows.

    All-Catalyst derivation (reference ``src/import_xml_history.py:
    50-111``). Amount semantics mirror the reference's single
    try-block: if EITHER amount fails to parse, both amounts and the
    unit price are zeroed (``:87-102``).
    """
    qty = num_coerce(F.col("QTY"))
    # findtext default-0 semantics: missing element → '0'; present but
    # unparseable → coercion failure
    pay_ok = F.coalesce(F.col("PAY_TAX_AMT"), F.lit("0")).try_cast("double").isNotNull()
    fob_ok = F.coalesce(F.col("FOB_AMT_TWD"), F.lit("0")).try_cast("double").isNotNull()
    amounts_ok = pay_ok & fob_ok
    item_total = F.when(amounts_ok, num_coerce(F.col("PAY_TAX_AMT"))).otherwise(0.0)
    hawb_total = F.when(amounts_ok, num_coerce(F.col("FOB_AMT_TWD"))).otherwise(0.0)
    seq = F.col("item_sequence")
    return (
        raw.filter(F.trim(F.coalesce(F.col("HAWB_NO"), F.lit(""))) != "")
        .withColumn("hawb_no", F.trim(F.col("HAWB_NO")))
        .select(
            F.col("source_file").alias("data_source_file"),
            clean_doc_no(F.col("DCL_DOC_NO")).alias("dcl_doc_no"),
            F.col("MAWB").alias("mawb_no"),
            "hawb_no",
            F.col("FLY_NO").alias("flight_no"),
            iso_date_part(F.col("IMPORT_DATE")).alias("import_date"),
            seq.alias("item_sequence"),
            F.col("DESCRIPTION").alias("description_official"),
            F.col("CLASSIFY_NO").alias("ccc_code"),
            qty.alias("qty"),
            F.col("QTY_UM").alias("qty_unit"),
            item_total.alias("item_total_amount"),
            hawb_total.alias("hawb_total_amount"),
            F.when(amounts_ok, guarded_unit_price(item_total, qty))
            .otherwise(0.0)
            .alias("unit_price_calculated"),
            F.col("IMPORT_DUTY_RATE").alias("duty_rate"),
            F.col("CNEE_BAN_ID").alias("consignee_id"),
            F.col("CNEE_E_NAME").alias("consignee_name"),
            F.col("OTHER_ITEN_2").alias("consignee_phone"),
            F.col("SHPR_E_NAME").alias("shipper_name"),
            F.col("FROM_CODE").alias("export_port"),
            F.col("_row_idx"),
        )
    )
