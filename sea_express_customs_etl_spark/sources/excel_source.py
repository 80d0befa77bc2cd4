"""Shipper manifest Excel/CSV connector (OP-SRC-XLSX, OP-SRC-CSV,
OP-SRC-CELL, OP-PROJ / OP-PROJ-POS, OP-HDRNORM, OP-FIL-*).

Reference behavior reproduced (``src/process_excel_order.py``):

* MAWB resolution: A1 cell if strictly alphanumeric
  (``^[A-Za-z0-9]+$``), else filename stem (``:25-78``)
* format dispatch per FILE: "old format" when header row 4 (0-based 3)
  contains the normalized column ``分提單號碼`` (``:195-209``);
  otherwise "new format" with header row 3 (0-based 2) and positional
  columns A/D/J/K/N/O, requiring ≥15 columns (``:122-143``)
* header normalization: strip + drop embedded newlines (``:86,203``)
* merged-cell HAWB repair by forward-fill in sheet order (``:94,146``)
* old-format row filter: HAWB AND item-number present (``:95``);
  new-format: HAWB AND description present (``:149``)
* new-format item numbering: cumcount+1 per HAWB (``:156``)
* lenient numeric coercion → 0, trims, TWD/PENDING literals

The UDTF parses bytes → per-sheet raw string cells + ``_row_idx``
(sheet order is load-bearing for ffill/cumcount); the ffill, filters
and sequencing are per-file sheet-order properties, so they run
vectorized (pandas column ops — ffill / notna mask / groupby-cumcount,
the reference's own shape at ``:94-95,146-156``) inside the parser;
typing happens in Catalyst afterwards.

``.xlsx`` binaries are parsed with the pure-stdlib SpreadsheetML reader
(:mod:`.xlsx_stdlib` — zipfile + a regex tokenizer), legacy ``.xls`` with the
pure-stdlib BIFF8 reader (:mod:`.xls_stdlib` — OLE2 + record parse);
``.csv`` flows through ``pd.read_csv``. All three feed the identical
downstream plan — the full trio the reference accepts
(``src/process_excel_order.py:254``).

Deliberate divergence (cf. the vote tie-break note, SURVEY §7.3.2):
where the reference's ``astype(str)`` turns a missing 货物名称 /
consignee cell into the literal string ``'nan'``
(``process_excel_order.py:100,115-119``), this parser emits NULL —
a SQL-typed engine should not materialize pandas' repr of NaN as
data. Rows are never dropped differently (the row filters run on the
pre-``astype`` values in both engines); only the padding value for
present-row/absent-cell differs, and NULL is strictly more faithful.
"""

from __future__ import annotations

import io
import logging
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.functions.numeric import num_coerce
from sea_express_customs_etl_spark.sources import xlsx_stdlib

log = logging.getLogger(__name__)

_ALNUM = re.compile(r"^[A-Za-z0-9]+$")

OLD_REQUIRED = ("分提單號碼", "貨物編號", "货物名称", "數量", "單價金額", "發票總金額")

RAW_SCHEMA = (
    "source_file string, mawb_no string, fmt string, _row_idx long, "
    "hawb_raw string, item_no int, desc_raw string, qty_raw string, "
    "unit_raw string, net_weight_raw string, price_raw string, total_raw string, "
    "consignee_name_raw string, consignee_id_raw string, consignee_phone_raw string"
)
_RAW_COLS = [c.split(" ")[0] for c in RAW_SCHEMA.split(", ")]

_EMPTY = pd.DataFrame({c: pd.Series(dtype=object) for c in _RAW_COLS})


def _norm_headers(cols) -> list[str]:
    return [str(c).strip().replace("\n", "") for c in cols]


def _is_meaningful(val: str | None) -> bool:
    return bool(val) and str(val).strip().lower() not in ("nan", "none", "")


def _probe_a1(content: bytes, fname: str, grid: list[list] | None) -> str | None:
    """Cell A1 (OP-SRC-CELL): a workbook's from the caller's parsed
    ``grid``, a CSV's (``grid`` None) from its first line only."""
    try:
        if grid is None:
            df = pd.read_csv(
                io.BytesIO(content), nrows=1, header=None, usecols=[0]
            )
            v = None if df.empty else df.iloc[0, 0]
        else:
            v = grid[0][0] if grid and grid[0] else None
        if v is not None and _is_meaningful(str(v)):
            return str(v).strip()
    except Exception as e:
        log.warning("A1 probe failed for %s: %s", fname, e)
    return None


def _is_old_header(cols) -> bool:
    names = _norm_headers(cols)
    return all(c in names for c in OLD_REQUIRED)


def _manifest_frame(
    content: bytes, grid: list[list] | None
) -> tuple[str, pd.DataFrame]:
    """The file's format and its one frame: "old" when header row 4
    (0-based 3) names every ``OLD_REQUIRED`` column (headers
    normalized), else "new" under header row 3 (0-based 2). A workbook
    is decided from its ``grid`` rows before any frame is built; a CSV
    (``grid`` None) is read under each header in turn. Raises when the
    file has no such header row."""
    if grid is not None:
        if len(grid) > 3 and _is_old_header(xlsx_stdlib.header_names(grid, 3)):
            df = xlsx_stdlib.grid_to_frame(grid, 3)
            df.columns = _norm_headers(df.columns)
            return "old", df
        return "new", xlsx_stdlib.grid_to_frame(grid, 2)
    try:
        df = pd.read_csv(io.BytesIO(content), header=3, dtype=object)
        df.columns = _norm_headers(df.columns)
        if _is_old_header(df.columns):
            return "old", df
    except Exception as e:
        log.info("read with header=3 failed: %s", e)
    return "new", pd.read_csv(io.BytesIO(content), header=2, dtype=object)


def _read_grid(content: bytes, fname: str) -> list[list]:
    """Workbook bytes → cell grid: SpreadsheetML for ``.xlsx``, BIFF8
    for legacy ``.xls`` (both stdlib readers, same grid shape)."""
    if fname.lower().endswith(".xls"):
        from sea_express_customs_etl_spark.sources import xls_stdlib

        return xls_stdlib.read_xls_grid(content)
    return xlsx_stdlib.read_xlsx_grid(content)


def _str_or_none(ser: pd.Series) -> pd.Series:
    """Vectorized ``str(v)`` with NaN/None → None (the reference's
    per-cell handling, minus the 'nan' literal — see module docstring)."""
    mask = ser.notna()
    out = pd.Series([None] * len(ser), index=ser.index, dtype=object)
    out[mask] = ser[mask].astype(str)
    return out


def _assemble(
    fname: str, mawb: str, fmt: str, cols: dict[str, pd.Series | object]
) -> pd.DataFrame:
    n = len(cols["_row_idx"])
    out = pd.DataFrame(index=range(n))
    base = {"source_file": fname, "mawb_no": mawb, "fmt": fmt}
    for name in _RAW_COLS:
        if name in cols:
            v = cols[name]
            out[name] = v.to_numpy() if isinstance(v, pd.Series) else v
        elif name in base:
            out[name] = base[name]
        else:
            out[name] = None
    return out


def _old_format_frame(df: pd.DataFrame, fname: str, mawb: str) -> pd.DataFrame:
    """Old format: named columns, ffill merged HAWBs, keep rows with
    HAWB AND item number (reference ``:94-119``) — all column ops."""
    df = df.reset_index(drop=True)
    hawb = df["分提單號碼"].ffill()
    mask = hawb.notna() & df["貨物編號"].notna()
    sub = df[mask]
    item_no = (
        pd.to_numeric(sub["貨物編號"], errors="coerce").fillna(0).astype(int)
    )
    opt = {
        "unit_raw": "數量單位",
        "net_weight_raw": "淨重",
        "consignee_name_raw": "進口人英文名稱",
        "consignee_id_raw": "進口人統一編號",
        "consignee_phone_raw": "進口人電話",
    }
    cols: dict[str, pd.Series | object] = {
        "_row_idx": pd.Series(sub.index, index=sub.index),
        "hawb_raw": _str_or_none(hawb[mask]),
        "item_no": item_no,
        "desc_raw": _str_or_none(sub["货物名称"]),
        "qty_raw": _str_or_none(sub["數量"]),
        "price_raw": _str_or_none(sub["單價金額"]),
        "total_raw": _str_or_none(sub["發票總金額"]),
    }
    for out_name, col in opt.items():
        if col in df.columns:
            cols[out_name] = _str_or_none(sub[col])
    return _assemble(fname, mawb, "old", cols)


def _new_format_frame(df: pd.DataFrame, fname: str, mawb: str) -> pd.DataFrame:
    """New format: positional A/D/J/K/N/O, ffill HAWB, keep rows with
    HAWB AND description, item_no = per-HAWB cumcount+1 (``:122-156``)."""
    df = df.reset_index(drop=True)
    hawb = df.iloc[:, 0].ffill()
    mask = hawb.notna() & df.iloc[:, 3].notna()
    sub = df[mask]
    hawb_s = _str_or_none(hawb[mask])
    cols: dict[str, pd.Series | object] = {
        "_row_idx": pd.Series(sub.index, index=sub.index),
        "hawb_raw": hawb_s,
        "item_no": hawb_s.groupby(hawb_s).cumcount() + 1,
        "desc_raw": _str_or_none(sub.iloc[:, 3]),
        "qty_raw": _str_or_none(sub.iloc[:, 9]),
        "unit_raw": _str_or_none(sub.iloc[:, 10]),
        "price_raw": _str_or_none(sub.iloc[:, 13]),
        "total_raw": _str_or_none(sub.iloc[:, 14]),
    }
    return _assemble(fname, mawb, "new", cols)


def _rows_for_file(fname: str, content: bytes) -> pd.DataFrame:
    low = fname.lower()
    grid: list[list] | None = None
    if low.endswith((".xlsx", ".xls")):
        try:
            grid = _read_grid(content, fname)
        except Exception as e:
            log.error("cannot read workbook %s: %s", fname, e)
            return _EMPTY
    elif not low.endswith(".csv"):
        log.error("unsupported manifest format: %s", fname)
        return _EMPTY

    # MAWB: A1 if strictly alphanumeric, else filename stem
    a1 = _probe_a1(content, fname, grid)
    mawb = (
        a1
        if a1 and _ALNUM.match(a1)
        else fname.rsplit("/", 1)[-1].rsplit(".", 1)[0].strip()
    )

    try:
        fmt, df = _manifest_frame(content, grid)
    except Exception as e:
        log.info("no header row in %s: %s", fname, e)
        return _EMPTY
    # Old format: header row 4, named columns
    if fmt == "old":
        return _old_format_frame(df, fname, mawb)
    # New format: header row 3, positional A/D/J/K/N/O, ≥15 columns
    if len(df.columns) < 15:
        log.error(
            "new format needs ≥15 columns, %s has %d", fname, len(df.columns)
        )
        return _EMPTY
    return _new_format_frame(df, fname, mawb)


def _parse_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        frames: list[pd.DataFrame] = []
        for path, content in zip(pdf["path"], pdf["content"]):
            fname = path.rsplit("/", 1)[-1]
            try:
                frames.append(_rows_for_file(fname, content))
            except Exception as e:
                log.error("unexpected failure parsing %s: %s", fname, e)
        frames = [f for f in frames if len(f)]
        yield pd.concat(frames, ignore_index=True) if frames else _EMPTY


def read_manifests_raw(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Scan ``.xlsx``/``.xls``/``.csv`` manifests → raw string cells."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return (
        reader.load(path)
        .select("path", "content")
        .mapInPandas(_parse_partition, RAW_SCHEMA)
    )


def declared_cargo(raw: DataFrame) -> DataFrame:
    """Raw manifest cells → typed ``table_a_raw`` rows.

    Pure projections/coercions (the order-dependent ffill/sequencing
    already happened at parse time inside the file) — streaming-safe
    and shuffle-free.
    """
    return raw.select(
        F.col("mawb_no"),
        F.trim(F.col("hawb_raw")).alias("hawb_no"),
        F.col("item_no"),
        F.trim(F.col("desc_raw")).alias("description_original"),
        num_coerce(F.col("qty_raw")).alias("qty"),
        F.trim(F.col("unit_raw")).alias("qty_unit"),
        F.when(F.col("fmt") == "old", num_coerce(F.col("net_weight_raw")))
        .otherwise(F.lit(None).cast("double"))
        .alias("net_weight"),
        num_coerce(F.col("price_raw")).alias("unit_price"),
        num_coerce(F.col("total_raw")).alias("total_amount"),
        F.lit("TWD").alias("currency"),
        F.trim(F.col("consignee_name_raw")).alias("consignee_name"),
        F.trim(F.col("consignee_id_raw")).alias("consignee_id"),
        F.trim(F.col("consignee_phone_raw")).alias("consignee_phone"),
        F.lit("PENDING").alias("processing_status"),
        F.col("source_file"),
        F.col("_row_idx"),
    )
