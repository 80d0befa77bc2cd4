"""Connector tests: XML / zip-of-XML and Excel-CSV manifests, driven
through the real binaryFile + mapInPandas path with fixture files
modeled on FIXTURES.md §4."""

from __future__ import annotations

import zipfile

import pytest

from sea_express_customs_etl_spark.sources import (
    declared_cargo,
    official_history,
    read_bid_heads_raw,
    read_manifests_raw,
)


def _bid_head(
    hawb="472LV0087047",
    dcl="BY/  /14/472 /FUSZH",
    qty="2",
    pay="100.5",
    fob="201.0",
    desc="紙盒",
    ccc="4819.40.00.00-5",
) -> str:
    return f"""  <BID_HEAD>
    <DCL_DOC_NO>{dcl}</DCL_DOC_NO>
    <MAWB>25032203EX</MAWB>
    <HAWB_NO>{hawb}</HAWB_NO>
    <FLY_NO>250322</FLY_NO>
    <IMPORT_DATE>2025-03-22T00:00:00+08:00</IMPORT_DATE>
    <DESCRIPTION>{desc}</DESCRIPTION>
    <CLASSIFY_NO>{ccc}</CLASSIFY_NO>
    <QTY>{qty}</QTY>
    <QTY_UM>PCE</QTY_UM>
    <PAY_TAX_AMT>{pay}</PAY_TAX_AMT>
    <FOB_AMT_TWD>{fob}</FOB_AMT_TWD>
    <IMPORT_DUTY_RATE>5.0</IMPORT_DUTY_RATE>
    <CNEE_BAN_ID>A123</CNEE_BAN_ID>
    <CNEE_E_NAME>WANG</CNEE_E_NAME>
    <OTHER_ITEN_2>TEL0912345678</OTHER_ITEN_2>
    <SHPR_E_NAME>SHIPPER CO</SHPR_E_NAME>
    <FROM_CODE>CNXMN</FROM_CODE>
  </BID_HEAD>"""


def _xml_doc(*bid_heads: str) -> str:
    return (
        '<?xml version="1.0" encoding="utf-8"?>\n<GicDataSet>\n'
        + "\n".join(bid_heads)
        + "\n</GicDataSet>"
    )


@pytest.fixture()
def xml_dir(tmp_path):
    d = tmp_path / "xml_in"
    d.mkdir()
    # loose XML: 2 items same HAWB, 1 other HAWB, 1 empty-HAWB (skipped),
    # 1 unparseable QTY, 1 broken amounts
    (d / "loose.xml").write_text(
        _xml_doc(
            _bid_head(hawb="H1", qty="2", pay="10", fob="20"),
            _bid_head(hawb=""),  # skipped
            _bid_head(hawb="H1", qty="junk", pay="9", fob="20"),
            _bid_head(hawb="H2", qty="4", pay="junk", fob="20"),
        ),
        encoding="utf-8",
    )
    # zip: 2 valid members (counter must reset per member), a __MACOSX
    # decoy, a non-xml member, and a corrupt member
    with zipfile.ZipFile(d / "batch.zip", "w") as zf:
        zf.writestr("m1.xml", _xml_doc(_bid_head(hawb="Z1"), _bid_head(hawb="Z1")))
        zf.writestr("m2.xml", _xml_doc(_bid_head(hawb="Z1")))
        zf.writestr("__MACOSX/m1.xml", "decoy")
        zf.writestr("readme.txt", "not xml")
        zf.writestr("corrupt.xml", "<GicDataSet><BID_HEAD>")
    return str(d)


def test_xml_history_end_to_end(spark, xml_dir):
    hist = official_history(read_bid_heads_raw(spark, xml_dir)).collect()
    by_src = {}
    for r in hist:
        by_src.setdefault(r.data_source_file, []).append(r)

    loose = sorted(by_src["loose.xml"], key=lambda r: r._row_idx)
    assert len(loose) == 3  # empty-HAWB row dropped
    h1 = [r for r in loose if r.hawb_no == "H1"]
    assert [r.item_sequence for r in h1] == [1, 2]  # per-HAWB counter
    assert h1[0].dcl_doc_no == "BY14472FUSZH"  # clean_doc_no
    assert str(h1[0].import_date) == "2025-03-22"
    assert h1[0].qty == 2.0 and h1[0].item_total_amount == 10.0
    assert h1[0].unit_price_calculated == 5.0
    # unparseable QTY → qty=0 → unit price 0
    assert h1[1].qty == 0.0 and h1[1].unit_price_calculated == 0.0
    # unparseable PAY_TAX_AMT → both amounts and unit price zeroed
    h2 = [r for r in loose if r.hawb_no == "H2"][0]
    assert (
        h2.item_total_amount == 0.0
        and h2.hawb_total_amount == 0.0
        and h2.unit_price_calculated == 0.0
    )

    # zip: provenance + per-member sequence scope
    assert set(by_src) == {"loose.xml", "batch.zip::m1.xml", "batch.zip::m2.xml"}
    m1 = sorted(by_src["batch.zip::m1.xml"], key=lambda r: r.item_sequence)
    assert [r.item_sequence for r in m1] == [1, 2]
    assert [r.item_sequence for r in by_src["batch.zip::m2.xml"]] == [1]


_XSD_HEADER = (
    '<xs:schema id="GicDataSet" xmlns:xs="http://www.w3.org/2001/XMLSchema">'
    '<xs:element name="GicDataSet"><xs:complexType><xs:choice>'
    '<xs:element name="BID_HEAD"><xs:complexType><xs:sequence>'
    '<xs:element name="IMPORT_DATE" type="xs:dateTime" minOccurs="0"/>'
    '<xs:element name="HAWB_NO" type="xs:string" minOccurs="0"/>'
    '<xs:element name="QTY" type="xs:decimal" minOccurs="0"/>'
    '<xs:element name="PAY_TAX_AMT" type="xs:decimal" minOccurs="0"/>'
    '<xs:element name="FOB_AMT_TWD" type="xs:decimal" minOccurs="0"/>'
    '<xs:element name="IMPORT_DUTY_RATE" type="xs:decimal" minOccurs="0"/>'
    "</xs:sequence></xs:complexType></xs:element>"
    "</xs:choice></xs:complexType></xs:element></xs:schema>"
)


def test_typed_bid_heads_schema_from_inline_xsd(spark, tmp_path):
    """SURVEY §1.3 / VERDICT r1 #7: the source layer surfaces the XSD's
    TimestampType/DecimalType via try_cast, string leniency intact."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from sea_express_customs_etl_spark.sources import (
        parse_inline_xsd,
        typed_bid_heads,
    )

    doc = (
        '<?xml version="1.0" encoding="utf-8"?>\n<GicDataSet>'
        + _XSD_HEADER
        + _bid_head(hawb="T1", qty="2.5", pay="100.5")
        + _bid_head(hawb="T2", qty="junk")  # leniency: NULL, not error
        + "</GicDataSet>"
    )
    d = tmp_path / "typed_xml"
    d.mkdir()
    (d / "typed.xml").write_text(doc, encoding="utf-8")

    # schema derived from the DATA's own inline XSD
    declared = parse_inline_xsd(doc.encode("utf-8"))
    assert declared["IMPORT_DATE"] == "xs:dateTime"
    assert declared["QTY"] == "xs:decimal"
    assert declared["HAWB_NO"] == "xs:string"

    from sea_express_customs_etl_spark.sources import read_bid_heads_raw

    typed = typed_bid_heads(read_bid_heads_raw(spark, str(d)), declared)
    sch = dict(typed.dtypes)
    assert sch["IMPORT_DATE"] == "timestamp"
    assert sch["QTY"] == "decimal(38,12)"
    assert sch["PAY_TAX_AMT"] == "decimal(38,12)"
    assert sch["HAWB_NO"] == "string"

    rows = {r.HAWB_NO: r for r in typed.collect()}
    assert rows["T1"].QTY == Decimal("2.5")
    assert rows["T1"].IMPORT_DATE is not None
    assert rows["T2"].QTY is None  # junk → NULL at typed layer

    # default static map (no XSD passed) gives the same surface
    typed_default = typed_bid_heads(read_bid_heads_raw(spark, str(d)))
    assert dict(typed_default.dtypes)["QTY"] == "decimal(38,12)"
    assert isinstance(
        typed_default.schema["IMPORT_DATE"].dataType, T.TimestampType
    )


def test_typed_bid_heads_base64_binary(spark, tmp_path):
    import base64

    from sea_express_customs_etl_spark.sources import (
        read_bid_heads_raw,
        typed_bid_heads,
    )

    payload = base64.b64encode(b"attachment-bytes").decode()
    doc = _xml_doc(_bid_head(hawb="B1").replace(
        "<OTHER_ITEN_2>TEL0912345678</OTHER_ITEN_2>",
        f"<OTHER_ITEN_2>{payload}</OTHER_ITEN_2>",
    ))
    d = tmp_path / "b64_xml"
    d.mkdir()
    (d / "b.xml").write_text(doc, encoding="utf-8")
    typed = typed_bid_heads(
        read_bid_heads_raw(spark, str(d)),
        {"OTHER_ITEN_2": "xs:base64Binary"},
    )
    assert dict(typed.dtypes)["OTHER_ITEN_2"] == "binary"
    assert bytes(typed.collect()[0].OTHER_ITEN_2) == b"attachment-bytes"


OLD_CSV = """主提單號碼:,,,,,,,,,,
,,,,,,,,,,
,,,,,,,,,,
分提單號碼,貨物編號,货物名称,數量,數量單位,淨重,單價金額,發票總金額,進口人英文名稱,進口人統一編號,進口人電話
H001,1,宝宝辅食机/料理机,2,PCE,1.5,100,200,WANG,A1,TEL09
,2,USB风扇,1,PCE,0.5,50,50,WANG,A1,TEL09
H002,1,手机贴膜,junk,SET,,30,30,LI,B2,TEL08
,,,,,,,,,,
"""

NEW_CSV = (
    "25040104EX,,,,,,,,,,,,,,\n"
    + ",,,,,,,,,,,,,,\n"
    + "col_a,b,c,col_d,e,f,g,h,i,col_j,col_k,l,m,col_n,col_o\n"
    + "N001,x,x,自拍杆/架,x,x,x,x,x,3,PCE,x,x,25,75\n"
    + ",x,x,Polo衫,x,x,x,x,x,2,PCE,x,x,40,80\n"
    + "N002,x,x,充電器,x,x,x,x,x,1,SET,x,x,99,99\n"
)


@pytest.fixture()
def excel_dir(tmp_path):
    d = tmp_path / "excel_in"
    d.mkdir()
    (d / "old_manifest.csv").write_text(OLD_CSV, encoding="utf-8")
    (d / "new_manifest.csv").write_text(NEW_CSV, encoding="utf-8")
    return str(d)


def _csv_to_rows(csv_text: str) -> list[list]:
    """CSV fixture text → cell grid for the stdlib xlsx writer (strings
    stay strings; empty cells become None, like real blank xlsx cells)."""
    rows = []
    for line in csv_text.strip("\n").split("\n"):
        rows.append([c if c != "" else None for c in line.split(",")])
    return rows


@pytest.fixture()
def xlsx_dir(tmp_path):
    from sea_express_customs_etl_spark.sources.xlsx_stdlib import write_xlsx

    d = tmp_path / "xlsx_in"
    d.mkdir()
    # same manifests as the CSV fixtures, as genuine .xlsx byte-streams:
    # old format via sharedStrings, new format via inline strings so the
    # UDTF exercises both SpreadsheetML string encodings
    (d / "old_manifest.xlsx").write_bytes(write_xlsx(_csv_to_rows(OLD_CSV)))
    (d / "new_manifest.xlsx").write_bytes(
        write_xlsx(_csv_to_rows(NEW_CSV), inline=True)
    )
    return str(d)


def test_manifest_end_to_end_xlsx(spark, xlsx_dir):
    """The reference's primary input format (.xlsx binaries,
    process_excel_order.py:200,218) parsed for real — stdlib reader,
    no openpyxl (VERDICT r1 #2)."""
    cargo = declared_cargo(read_manifests_raw(spark, xlsx_dir)).collect()
    by_file = {}
    for r in cargo:
        by_file.setdefault(r.source_file, []).append(r)

    old = sorted(by_file["old_manifest.xlsx"], key=lambda r: r._row_idx)
    # A1 '主提單號碼:' not alphanumeric → filename stem (A1 probe on xlsx)
    assert all(r.mawb_no == "old_manifest" for r in old)
    assert [r.hawb_no for r in old] == ["H001", "H001", "H002"]
    assert [r.item_no for r in old] == [1, 2, 1]
    assert old[0].qty == 2.0 and old[2].qty == 0.0
    assert old[0].net_weight == 1.5 and old[0].consignee_name == "WANG"

    new = sorted(by_file["new_manifest.xlsx"], key=lambda r: r._row_idx)
    # A1 '25040104EX' alphanumeric → used as MAWB (xlsx A1 probe)
    assert all(r.mawb_no == "25040104EX" for r in new)
    assert [r.hawb_no for r in new] == ["N001", "N001", "N002"]
    assert [r.item_no for r in new] == [1, 2, 1]
    assert new[0].description_original == "自拍杆/架"
    assert new[0].qty == 3.0 and new[0].total_amount == 75.0


def test_xlsx_numeric_cells_and_a1_probe(spark, tmp_path):
    """Numeric xlsx cells (real type, not strings) coerce identically;
    ints don't grow a '.0'."""
    from sea_express_customs_etl_spark.sources.xlsx_stdlib import write_xlsx

    rows = _csv_to_rows(NEW_CSV)
    for r in rows[3:]:
        for col in (9, 13, 14):  # qty/price/total as true numerics
            if r[col] is not None:
                r[col] = float(r[col]) if "." in r[col] else int(r[col])
    d = tmp_path / "numeric_xlsx"
    d.mkdir()
    (d / "m.xlsx").write_bytes(write_xlsx(rows))
    got = sorted(
        declared_cargo(read_manifests_raw(spark, str(d))).collect(),
        key=lambda r: r._row_idx,
    )
    assert [r.qty for r in got] == [3.0, 2.0, 1.0]
    assert [r.unit_price for r in got] == [25.0, 40.0, 99.0]
    assert all(r.mawb_no == "25040104EX" for r in got)


def test_xlsx_corrupt_is_contained(spark, tmp_path):
    d = tmp_path / "badxlsx"
    d.mkdir()
    (d / "broken.xlsx").write_bytes(b"PK\x03\x04not really a workbook")
    (d / "ok.csv").write_text(NEW_CSV, encoding="utf-8")
    cargo = declared_cargo(read_manifests_raw(spark, str(d))).collect()
    assert {r.source_file for r in cargo} == {"ok.csv"}
    assert len(cargo) == 3


def test_manifest_end_to_end_xls_biff8(spark, tmp_path):
    """Legacy .xls (BIFF8/OLE2) manifests parse for real: mini-stream
    compound doc, RK/NUMBER/LABELSST cells, CJK via UTF-16 strings."""
    from tests.xls_writer import write_xls

    d = tmp_path / "xls_in"
    d.mkdir()
    (d / "old_manifest.xls").write_bytes(write_xls(_csv_to_rows(OLD_CSV)))
    new_rows = _csv_to_rows(NEW_CSV)
    for r in new_rows[3:]:
        for col in (9, 13, 14):  # numeric cells exercise RK/NUMBER
            if r[col] is not None:
                r[col] = float(r[col]) if "." in r[col] else int(r[col])
    (d / "new_manifest.xls").write_bytes(write_xls(new_rows))

    cargo = declared_cargo(read_manifests_raw(spark, str(d))).collect()
    by_file = {}
    for r in cargo:
        by_file.setdefault(r.source_file, []).append(r)

    old = sorted(by_file["old_manifest.xls"], key=lambda r: r._row_idx)
    assert all(r.mawb_no == "old_manifest" for r in old)  # A1 non-alnum
    assert [r.hawb_no for r in old] == ["H001", "H001", "H002"]
    assert [r.item_no for r in old] == [1, 2, 1]
    assert old[0].description_original == "宝宝辅食机/料理机"

    new = sorted(by_file["new_manifest.xls"], key=lambda r: r._row_idx)
    assert all(r.mawb_no == "25040104EX" for r in new)  # A1 probe on BIFF
    assert [r.item_no for r in new] == [1, 2, 1]
    assert new[0].qty == 3.0 and new[0].total_amount == 75.0


def test_xls_continue_split_sst_and_corruption(spark, tmp_path):
    from tests.xls_writer import write_xls

    d = tmp_path / "xls_mixed"
    d.mkdir()
    # SST forced across CONTINUE records (the large-real-file shape)
    (d / "m.xls").write_bytes(write_xls(_csv_to_rows(NEW_CSV), sst_split_every=5))
    (d / "broken.xls").write_bytes(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1 truncated")
    cargo = declared_cargo(read_manifests_raw(spark, str(d))).collect()
    assert {r.source_file for r in cargo} == {"m.xls"}
    assert len(cargo) == 3


def test_xls_workbook_is_parsed_once_per_file(monkeypatch):
    """A1 comes from the one BIFF8 grid the rows are read from: one
    ``read_xls_grid`` call per file, and the same rows and MAWB rule."""
    from sea_express_customs_etl_spark.sources import excel_source, xls_stdlib
    from tests.xls_writer import write_xls

    calls = []
    read = xls_stdlib.read_xls_grid

    def counting(content):
        calls.append(len(content))
        return read(content)

    monkeypatch.setattr(xls_stdlib, "read_xls_grid", counting)
    old = excel_source._rows_for_file(
        "old_manifest.xls", write_xls(_csv_to_rows(OLD_CSV))
    )
    assert len(calls) == 1
    new = excel_source._rows_for_file(
        "new_manifest.xls", write_xls(_csv_to_rows(NEW_CSV))
    )
    assert len(calls) == 2

    assert list(old.columns) == excel_source._RAW_COLS
    assert set(old["mawb_no"]) == {"old_manifest"}  # A1 not alphanumeric
    assert list(old["fmt"]) == ["old"] * 3
    assert list(old["hawb_raw"]) == ["H001", "H001", "H002"]
    assert list(old["item_no"]) == [1, 2, 1]
    assert old["desc_raw"][0] == "宝宝辅食机/料理机"
    assert set(new["mawb_no"]) == {"25040104EX"}  # A1 from the grid
    assert list(new["fmt"]) == ["new"] * 3
    assert list(new["hawb_raw"]) == ["N001", "N001", "N002"]
    assert list(new["item_no"]) == [1, 2, 1]
    assert list(new["qty_raw"]) == ["3", "2", "1"]


def test_xlsx_workbook_is_parsed_and_framed_once_per_file(monkeypatch):
    """An xlsx manifest's sheet is tokenized once (A1 included) and
    framed once, under the header row its format was picked from."""
    from sea_express_customs_etl_spark.sources import excel_source, xlsx_stdlib
    from sea_express_customs_etl_spark.sources.xlsx_stdlib import write_xlsx

    calls = []
    for name in ("read_xlsx_grid", "grid_to_frame"):
        fn = getattr(xlsx_stdlib, name)
        monkeypatch.setattr(
            xlsx_stdlib,
            name,
            lambda *a, _fn=fn, _name=name: calls.append(_name) or _fn(*a),
        )
    old = excel_source._rows_for_file(
        "old_manifest.xlsx", write_xlsx(_csv_to_rows(OLD_CSV))
    )
    assert calls == ["read_xlsx_grid", "grid_to_frame"]
    new = excel_source._rows_for_file(
        "new_manifest.xlsx", write_xlsx(_csv_to_rows(NEW_CSV), inline=True)
    )
    assert calls == ["read_xlsx_grid", "grid_to_frame"] * 2

    assert set(old["mawb_no"]) == {"old_manifest"}  # A1 not alphanumeric
    assert list(old["fmt"]) == ["old"] * 3
    assert list(old["item_no"]) == [1, 2, 1]
    assert set(new["mawb_no"]) == {"25040104EX"}  # A1 from the grid
    assert list(new["fmt"]) == ["new"] * 3
    assert list(new["hawb_raw"]) == ["N001", "N001", "N002"]
    assert list(new["qty_raw"]) == ["3", "2", "1"]


def test_manifest_rejects_narrow_and_junk_files(spark, tmp_path):
    d = tmp_path / "bad_in"
    d.mkdir()
    # neither old-format headers nor ≥15 columns → rejected, logged
    (d / "narrow.csv").write_text("a,b,c\n1,2,3\n4,5,6\n7,8,9\n10,11,12\n")
    cargo = declared_cargo(read_manifests_raw(spark, str(d)))
    assert cargo.count() == 0


def test_corrupt_zip_is_contained(spark, tmp_path):
    d = tmp_path / "badzip"
    d.mkdir()
    (d / "broken.zip").write_bytes(b"PK\x03\x04 this is not really a zip")
    (d / "ok.xml").write_text(_xml_doc(_bid_head(hawb="OK1")), encoding="utf-8")
    hist = official_history(read_bid_heads_raw(spark, str(d))).collect()
    # the bad zip is skipped; the good file still ingests
    assert [r.hawb_no for r in hist] == ["OK1"]


def test_manifest_end_to_end(spark, excel_dir):
    cargo = declared_cargo(read_manifests_raw(spark, excel_dir)).collect()
    by_file = {}
    for r in cargo:
        by_file.setdefault(r.source_file, []).append(r)

    old = sorted(by_file["old_manifest.csv"], key=lambda r: r._row_idx)
    # A1 '主提單號碼:' is not alphanumeric → filename stem used as MAWB
    assert all(r.mawb_no == "old_manifest" for r in old)
    assert len(old) == 3  # fully-empty trailing row filtered (no 貨物編號)
    # merged-cell ffill: row 2 inherits H001
    assert [r.hawb_no for r in old] == ["H001", "H001", "H002"]
    assert [r.item_no for r in old] == [1, 2, 1]
    assert old[0].qty == 2.0 and old[2].qty == 0.0  # 'junk' → 0
    assert old[0].net_weight == 1.5
    assert old[0].consignee_name == "WANG"
    assert all(r.currency == "TWD" and r.processing_status == "PENDING" for r in old)

    new = sorted(by_file["new_manifest.csv"], key=lambda r: r._row_idx)
    # A1 '25040104EX' is alphanumeric → used as MAWB
    assert all(r.mawb_no == "25040104EX" for r in new)
    assert [r.hawb_no for r in new] == ["N001", "N001", "N002"]
    # new format: item_no = cumcount+1 per HAWB
    assert [r.item_no for r in new] == [1, 2, 1]
    assert new[0].description_original == "自拍杆/架"
    assert new[0].qty == 3.0 and new[0].unit_price == 25.0 and new[0].total_amount == 75.0
    # new format has no consignee columns
    assert new[0].consignee_name is None and new[0].net_weight is None


def test_batch_quarantine_reconciles_with_plain_reader(spark, xml_dir):
    """Quarantine table e2e (r6 VERDICT #4): every dropped unit lands
    as an auditable row with its raw bytes, ingested + quarantined
    reconcile with the planted corruption, and the records side is
    byte-identical to the plain reader."""
    import os

    from sea_express_customs_etl_spark.sources.xml_source import (
        read_bid_heads_quarantined,
        split_quarantine,
    )

    with open(os.path.join(xml_dir, "junk.zip"), "wb") as f:
        f.write(b"PK\x03\x04 not really a zip")
    with open(os.path.join(xml_dir, "bad.xml"), "wb") as f:
        f.write(b"<<< not xml")

    records, quarantine = split_quarantine(
        read_bid_heads_quarantined(spark, xml_dir)
    )
    got_q = {(r.source_file, r.member, r.reason) for r in quarantine.collect()}
    assert got_q == {
        ("batch.zip", "corrupt.xml", "bad_member"),
        ("junk.zip", None, "bad_zip"),
        ("bad.xml", None, "bad_xml"),
    }
    # raw bytes captured verbatim for the audit
    raw = {r.member or r.source_file: bytes(r.raw_bytes)
           for r in quarantine.collect()}
    assert raw["corrupt.xml"] == b"<GicDataSet><BID_HEAD>"
    assert raw["junk.zip"].startswith(b"PK\x03\x04")
    # records side identical to the plain (non-quarantined) reader
    want_rec = sorted(map(tuple, read_bid_heads_raw(spark, xml_dir).collect()))
    assert sorted(map(tuple, records.collect())) == want_rec


def test_loose_xml_non_parse_error_is_quarantined():
    """ADVICE r7: the standalone-.xml branch must contain ANY failure
    (not just ET.ParseError) as a bad_xml quarantine row, mirroring the
    zip-member containment — a TypeError/encoding error on a loose file
    must never escape and fail the whole Spark task."""
    import pandas as pd

    from sea_express_customs_etl_spark.sources.xml_source import (
        _parse_files,
    )

    good = (
        b"<ROOT><BID_HEAD><HAWB_NO>H1</HAWB_NO></BID_HEAD></ROOT>"
    )
    pdf = pd.DataFrame(
        {
            "path": ["/in/a.xml", "/in/b.xml"],
            # None → ET.fromstring raises TypeError, not ParseError
            "content": [good, None],
        }
    )
    out, bad = _parse_files(pdf)
    assert [r["source_file"] for r in out] == ["a.xml"]
    assert len(bad) == 1
    assert bad[0]["source_file"] == "b.xml"
    assert bad[0]["reason"] == "bad_xml"
