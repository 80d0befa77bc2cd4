"""Seeded input generators for the benchmark.

* :func:`write_sf_tables` writes the three TPC-H-shaped tables the
  customs stand-ins read (``lineitem``, ``orders``, ``part``), with the
  same key ranges and uniform draws as the repository's TPC-H-ish testdata,
  at any scale factor.
* :func:`write_night` writes one night's ingest drop: zip-of-XML broker
  declarations and new-format xlsx shipper manifests that share
  MAWB/HAWB keys, in the shapes of ``bench.py``'s ingest fixtures and
  the BASELINE.md size ranges. It returns the row counts and content
  checksums the ingested tables must reproduce.

The same seed always gives the same bytes.
"""

from __future__ import annotations

import os
import zipfile
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
TYPES = "LARGE ECONOMY SMALL STANDARD MEDIUM PROMO".split()


def write_sf_tables(root: str, sf: float, seed: int) -> None:
    """``lineitem``/``orders``/``part`` parquet at scale ``sf`` under
    ``root``."""
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_part, n_cust = int(200_000 * sf), int(150_000 * sf)
    tables = {
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
                "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
                "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{ADJ[a]} {NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2)).tolist()
                ],
                "p_brand": [
                    f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()
                ],
                "p_type": [TYPES[t] for t in rng.integers(0, 6, n_part).tolist()],
            }
        ),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))


def _cents(c: int) -> str:
    return f"{c // 100}.{c % 100:02d}"


def _checksum(rows) -> int:
    """Order-insensitive checksum: sum of crc32 over ``|``-joined
    fields. The benchmark's read-back computes the same sum in Spark."""
    return sum(zlib.crc32("|".join(map(str, r)).encode("utf-8")) for r in rows)


def _bid_head(mawb: str, hawb: str, desc: str, ccc: str, qty: int, pay: int, fob: int) -> str:
    return (
        "<BID_HEAD>"
        f"<DCL_DOC_NO>BY/  /14/{zlib.crc32(hawb.encode()) % 997} /FUSZH</DCL_DOC_NO>"
        f"<MAWB>{mawb}</MAWB><HAWB_NO>{hawb}</HAWB_NO>"
        "<FLY_NO>250401</FLY_NO>"
        "<IMPORT_DATE>2025-04-01T00:00:00+08:00</IMPORT_DATE>"
        f"<DESCRIPTION>{desc}</DESCRIPTION><CLASSIFY_NO>{ccc}</CLASSIFY_NO>"
        f"<QTY>{qty}</QTY><QTY_UM>PCE</QTY_UM>"
        f"<PAY_TAX_AMT>{_cents(pay)}</PAY_TAX_AMT>"
        f"<FOB_AMT_TWD>{_cents(fob)}</FOB_AMT_TWD>"
        "<IMPORT_DUTY_RATE>5.0</IMPORT_DUTY_RATE>"
        "<CNEE_BAN_ID>A123</CNEE_BAN_ID><CNEE_E_NAME>WANG</CNEE_E_NAME>"
        "<OTHER_ITEN_2>TEL0912</OTHER_ITEN_2>"
        "<SHPR_E_NAME>SHIPPER</SHPR_E_NAME><FROM_CODE>CNXMN</FROM_CODE>"
        "</BID_HEAD>"
    )


def write_night(
    root: str,
    night: int,
    n_zip: int,
    n_xlsx: int,
    rng: np.random.Generator,
    members: tuple[int, int] = (795, 1347),
    rows: tuple[int, int] = (5400, 8000),
    sizes: np.random.Generator | None = None,
) -> dict[str, int]:
    """One night's drop under ``root/xml`` and ``root/xlsx``.

    File ``j`` of either kind carries MAWB ``25<night><j>EX``; the xlsx
    manifest of a MAWB lists the same HAWBs as its zip, three item rows
    per HAWB with the HAWB cell filled on the first (the new-format
    ffill shape). Each zip has ``members`` (inclusive range) members of
    six BID_HEAD items; each xlsx has ``rows`` item rows. The defaults
    are the BASELINE.md ranges. File sizes are drawn from ``sizes`` and
    contents from ``rng``; ``sizes`` defaults to ``rng``.
    """
    sizes = sizes or rng
    from sea_express_customs_etl_spark.sources.xlsx_stdlib import write_xlsx

    xml_dir, xlsx_dir = os.path.join(root, "xml"), os.path.join(root, "xlsx")
    os.makedirs(xml_dir)
    os.makedirs(xlsx_dir)
    off_rows, decl_rows = [], []
    for j in range(max(n_zip, n_xlsx)):
        mawb = f"25{night:04d}{j}EX"
        n_members = int(sizes.integers(members[0], members[1] + 1))
        hawbs = [f"{j}LV{night:04d}{i:05d}" for i in range(n_members)]
        if j < n_zip:
            words = rng.integers(0, 64, (n_members, 6))
            nums = rng.integers(1, 10**5, (n_members, 6, 2))
            with zipfile.ZipFile(
                os.path.join(xml_dir, f"{mawb}.zip"), "w", zipfile.ZIP_DEFLATED
            ) as zf:
                for i, hawb in enumerate(hawbs):
                    items = []
                    for k in range(6):
                        desc = f"紙盒 {ADJ[words[i, k] // 8]} {NOUN[words[i, k] % 8]}"
                        ccc = f"4819.40.00.{words[i, k]:02d}-5"
                        qty, pay, fob = k + 1, int(nums[i, k, 0]), int(nums[i, k, 1])
                        items.append(_bid_head(mawb, hawb, desc, ccc, qty, pay, fob))
                        off_rows.append((mawb, hawb, k + 1, desc, qty * 100, pay))
                    zf.writestr(
                        f"member_{i:05d}.xml",
                        '<?xml version="1.0" encoding="utf-8"?><GicDataSet>'
                        + "".join(items)
                        + "</GicDataSet>",
                    )
        if j < n_xlsx:
            n_rows = int(sizes.integers(rows[0], rows[1] + 1))
            qty = rng.integers(1, 8, n_rows).tolist()
            price = rng.integers(100, 10**4, n_rows).tolist()
            words = rng.integers(0, 64, n_rows).tolist()
            grid: list[list] = [[mawb] + [None] * 14, [None] * 15, ["提單號"] + ["h"] * 14]
            for r in range(n_rows):
                hawb = hawbs[(r // 3) % n_members]
                desc = f"宝宝辅食机 {ADJ[words[r] // 8]} {NOUN[words[r] % 8]}"
                total = qty[r] * price[r]
                grid.append(
                    [hawb if r % 3 == 0 else None, "x", "x", desc, "x", "x", "x",
                     "x", "x", qty[r], "PCE", "x", "x", price[r] / 100, total / 100]
                )
                # HAWB groups repeat once the rows outrun the members;
                # the parser keeps numbering a HAWB's items across them
                item_no = (r // (3 * n_members)) * 3 + r % 3 + 1
                decl_rows.append((mawb, hawb, item_no, desc, qty[r] * 100, total))
            with open(os.path.join(xlsx_dir, f"{mawb}.xlsx"), "wb") as f:
                f.write(write_xlsx(grid))
    return {
        "official_rows": len(off_rows),
        "official_sum": _checksum(off_rows),
        "declared_rows": len(decl_rows),
        "declared_sum": _checksum(decl_rows),
    }
