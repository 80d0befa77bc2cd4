"""End-to-end customs pipeline: manifest CSV + broker XML → connectors
→ typed tables → link-and-vote knowledge base. This is the reference's
full production flow (ingest → ingest → batch_train) run through the
engine on crafted fixtures with known expected knowledge."""

from __future__ import annotations

import zipfile

from sea_express_customs_etl_spark.plans.knowledge import knowledge_base
from sea_express_customs_etl_spark.sources import (
    declared_cargo,
    official_history,
    read_bid_heads_raw,
    read_manifests_raw,
)

from test_sources import _bid_head, _xml_doc

# manifest for MAWB 25032203EX (A1 alphanumeric → used as MAWB), new
# format: two HAWBs; H1 has 2 items, H2 has 1
MANIFEST_CSV = (
    "25032203EX,,,,,,,,,,,,,,\n"
    + ",,,,,,,,,,,,,,\n"
    + "h,b,c,d,e,f,g,h,i,j,k,l,m,n,o\n"
    + "H1,x,x,宝宝辅食机/料理机,x,x,x,x,x,1,PCE,x,x,10,10\n"
    + ",x,x,USB风扇,x,x,x,x,x,2,PCE,x,x,5,10\n"
    + "H2,x,x,手机贴膜,x,x,x,x,x,3,SET,x,x,2,6\n"
)


def _xml_bytes() -> str:
    # broker declarations for the same waybills; H1's two items in
    # document order align positionally with the manifest's item 1 and 2
    return _xml_doc(
        _bid_head(hawb="H1", desc="嬰兒食品調理機", ccc="8509.40.00.00-1"),
        _bid_head(hawb="H1", desc="風扇", ccc="8414.51.00.00-5"),
        _bid_head(hawb="H2", desc="保護貼", ccc="3919.90.00.00-9"),
        _bid_head(hawb="H9", desc="孤兒", ccc="0000.00.00.00-0"),  # B-only → dropped
    )


def test_full_customs_flow(spark, tmp_path):
    excel_dir = tmp_path / "daily_excel"
    excel_dir.mkdir()
    (excel_dir / "25032203EX.csv").write_text(MANIFEST_CSV, encoding="utf-8")

    xml_dir = tmp_path / "xml_history"
    xml_dir.mkdir()
    with zipfile.ZipFile(xml_dir / "25032203EX.zip", "w") as zf:
        zf.writestr("KEVIN_1.xml", _xml_bytes())

    table_a = declared_cargo(read_manifests_raw(spark, str(excel_dir)))
    table_b = official_history(read_bid_heads_raw(spark, str(xml_dir)))

    # XML mawb comes from the MAWB element (25032203EX in the fixture);
    # manifest mawb from A1 — keys link after scrubbing
    kb = knowledge_base(table_a, table_b, use_nfkc=True)
    got = {
        r.original_description: (r.official_description, r.ccc_code, r.frequency)
        for r in kb.collect()
    }
    # normalize_text: '宝宝辅食机/料理机' → split-last → '料理机'
    assert got == {
        "料理机": ("嬰兒食品調理機", "8509.40.00.00-1", 1),
        "USB风扇": ("風扇", "8414.51.00.00-5", 1),
        "手机贴膜": ("保護貼", "3919.90.00.00-9", 1),
    }


def test_count_mismatch_waybill_excluded_e2e(spark, tmp_path):
    excel_dir = tmp_path / "excel2"
    excel_dir.mkdir()
    (excel_dir / "25032203EX.csv").write_text(MANIFEST_CSV, encoding="utf-8")
    xml_dir = tmp_path / "xml2"
    xml_dir.mkdir()
    # H1 declared with 2 items in A but brokered as 3 → count mismatch
    (xml_dir / "d.xml").write_text(
        _xml_doc(
            _bid_head(hawb="H1", desc="多了一筆", ccc="X"),
            _bid_head(hawb="H1", desc="嬰兒食品調理機", ccc="8509.40.00.00-1"),
            _bid_head(hawb="H1", desc="風扇", ccc="8414.51.00.00-5"),
            _bid_head(hawb="H2", desc="保護貼", ccc="3919.90.00.00-9"),
        ),
        encoding="utf-8",
    )
    table_a = declared_cargo(read_manifests_raw(spark, str(excel_dir)))
    table_b = official_history(read_bid_heads_raw(spark, str(xml_dir)))
    kb = knowledge_base(table_a, table_b, use_nfkc=True)
    got = {r.original_description for r in kb.collect()}
    assert got == {"手机贴膜"}  # only the count-matched waybill trains
