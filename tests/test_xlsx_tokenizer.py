"""The xlsx worksheet tokenizer reads a sheet the way ElementTree does.

No Spark session. ``_oracle_grid`` is the ElementTree reading that the
tokenizer in ``xlsx_stdlib.read_xlsx_grid`` replaced: an iterparse over
the sheet part, one element per cell. Each test compares the two grids,
values and their types, on hand-written sheets that each exercise one
SpreadsheetML or XML feature, on generated sheets, on the writer's
output and on the benchmark generator's manifests. Broken sheets must
raise in both; a sheet with a DOCTYPE raises in the tokenizer only (a
deliberate change: OPC forbids DTDs in package parts).
"""

from __future__ import annotations

import io
import sys
import zipfile
import xml.etree.ElementTree as ET
from pathlib import Path

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sea_express_customs_etl_spark.sources import xlsx_stdlib
from sea_express_customs_etl_spark.sources.xlsx_stdlib import (
    read_xlsx_grid,
    write_xlsx,
)
from tests.test_sources import NEW_CSV, OLD_CSV, _csv_to_rows

MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS = "{" + MAIN + "}"


# --------------------------------------------------------------------------
# the ElementTree oracle
# --------------------------------------------------------------------------


def _oracle_text(el: ET.Element) -> str:
    # the base text: <rPh> phonetic runs are not displayed
    return "".join(
        t.text or ""
        for child in el
        if child.tag != f"{_NS}rPh"
        for t in child.iter(f"{_NS}t")
    )


def _oracle_value(c: ET.Element, shared: list[str]):
    t = c.get("t", "n")
    if t == "inlineStr":
        is_el = c.find(f"{_NS}is")
        return _oracle_text(is_el) if is_el is not None else None
    v = c.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    text = v.text
    if t == "s":
        return shared[int(text)]
    if t == "str":
        return text
    if t == "b":
        return bool(int(text))
    if t == "e":
        return None
    return int(text) if xlsx_stdlib._INT.match(text) else float(text)


def _oracle_grid(content: bytes) -> list[list]:
    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        shared = xlsx_stdlib._shared_strings(zf)
        sheet = zf.read(xlsx_stdlib._first_sheet_path(zf))
    grid: list[list] = []
    for _event, row in ET.iterparse(io.BytesIO(sheet)):
        if row.tag != f"{_NS}row":
            continue
        r_attr = row.get("r")
        row_idx = int(r_attr) - 1 if r_attr else len(grid)
        while len(grid) <= row_idx:
            grid.append([])
        cells = grid[row_idx]
        for c in row.iter(f"{_NS}c"):
            ref = c.get("r")
            m = xlsx_stdlib._CELL_REF.match(ref) if ref else None
            col = xlsx_stdlib._col_index(m.group(1)) if m else len(cells)
            while len(cells) <= col:
                cells.append(None)
            cells[col] = _oracle_value(c, shared)
        row.clear()
    return grid


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def _package(sheet: bytes, strings: tuple[str, ...] = ()) -> bytes:
    """An xlsx whose first sheet part is ``sheet`` and whose shared
    strings are ``strings``, in order (they must be distinct)."""
    base = zipfile.ZipFile(io.BytesIO(write_xlsx([list(strings)])))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name in base.namelist():
            part = sheet if name == "xl/worksheets/sheet1.xml" else base.read(name)
            zf.writestr(name, part)
    return buf.getvalue()


def _sheet(body: str, prefix: str = "", encoding: str = "UTF-8") -> bytes:
    """A worksheet part around ``body``; ``{p}`` in ``body`` stands for
    the SpreadsheetML prefix. The UTF-16 codecs without a BOM declare
    plain UTF-16, as expat names it."""
    p = f"{prefix}:" if prefix else ""
    xmlns = f"xmlns:{prefix}" if prefix else "xmlns"
    declared = "UTF-16" if encoding.startswith("UTF-16") else encoding
    return (
        f'<?xml version="1.0" encoding="{declared}" standalone="yes"?>\r\n'
        f'<{p}worksheet {xmlns}="{MAIN}"><{p}sheetData>'
        + body.replace("{p}", p)
        + f"</{p}sheetData></{p}worksheet>"
    ).encode(encoding)


def _typed(grid: list[list]) -> list[list]:
    # True == 1 and 1 == 1.0 in Python: compare the types too
    return [[(type(v).__name__, v) for v in row] for row in grid]


def _same(content: bytes) -> list[list]:
    want = _oracle_grid(content)
    assert _typed(read_xlsx_grid(content)) == _typed(want)
    return want


STRINGS = ("s0", "s1 & <two>", "三")


# --------------------------------------------------------------------------
# hand-written sheets, one feature each
# --------------------------------------------------------------------------


@pytest.mark.parametrize("prefix", ["", "x"])
def test_prefix_and_attribute_order(prefix):
    body = (
        '<{p}row spans="1:4" r="1" ht="15">'
        '<{p}c t="s" s="1" r="B1"><{p}v>1</{p}v></{p}c>'
        '<{p}c s="2" r="A1" t="n"><{p}v>7</{p}v></{p}c>'
        "<{p}c r='C1' t='s'><{p}v>2</{p}v></{p}c>"
        '<{p}c  r = "D1"\n t="str" ><{p}v >x</{p}v ></{p}c >'
        "</{p}row >"
        '<{p}row r="2"><{p}c r="A2" s="3" t="s"><{p}v>0</{p}v></{p}c></{p}row>'
    )
    grid = _same(_package(_sheet(body, prefix), STRINGS))
    assert grid == [[7, "s1 & <two>", "三", "x"], ["s0"]]


def test_prefix_bound_elsewhere_reads_nothing():
    # the cells' prefix is not the SpreadsheetML namespace: no rows
    sheet = (
        f'<x:worksheet xmlns:x="{MAIN}" xmlns:y="urn:other"><x:sheetData>'
        '<y:row r="1"><y:c r="A1"><y:v>1</y:v></y:c></y:row>'
        "</x:sheetData></x:worksheet>"
    ).encode()
    assert _same(_package(sheet)) == []
    unbound = b'<worksheet><sheetData><row><c><v>1</v></c></row></sheetData></worksheet>'
    assert _same(_package(unbound)) == []


def test_rows_and_cells_without_r():
    body = (
        '<row r="3"><c r="B3"><v>1</v></c></row>'
        '<row><c><v>2</v></c><c t="s"><v>0</v></c></row>'
        '<row r="6"><c r="C6"><v>3</v></c><c><v>4</v></c></row>'
        '<row><c r="A7"><v>5</v></c></row>'
    )
    grid = _same(_package(_sheet(body), STRINGS))
    assert grid[2:] == [[None, 1], [2, "s0"], [], [None, None, 3, 4], [5]]


def test_cells_outside_rows_are_ignored():
    body = (
        '<c r="A1"><v>1</v></c>'
        '<row r="1"><c r="A1"><v>2</v></c></row>'
        '<c r="B1"><v>3</v></c><c t="s"><v>0</v></c>'
        '<row r="2"/><c r="C2"><v>4</v></c>'
    )
    assert _same(_package(_sheet(body), STRINGS)) == [[2], []]


def test_self_closing_rows_and_cells():
    body = (
        '<row r="1"/>'
        '<row r="2"><c r="C2"/><c r="A2" s="1"/><c r="B2" s="1"></c></row>'
        '<row r="4" spans="1:2"/>'
        '<row r="5"><c r="B5" t="s"/><c r="C5" t="inlineStr"/></row>'
    )
    assert _same(_package(_sheet(body))) == [
        [], [None, None, None], [], [], [None, None, None]
    ]
    empty = f'<worksheet xmlns="{MAIN}"><sheetData/></worksheet>'.encode()
    assert _same(_package(empty)) == []


def test_inline_and_rich_text():
    body = (
        '<row r="1">'
        '<c r="A1" t="inlineStr"><is><t xml:space="preserve"> plain </t></is></c>'
        '<c r="B1" t="inlineStr"><is><r><rPr><b/><sz val="11"/></rPr><t>bo</t></r>'
        '<r><t xml:space="preserve">ld </t></r><rPh sb="0" eb="1"><t>るび</t></rPh>'
        '<phoneticPr fontId="1"/></is></c>'
        '<c r="C1" t="inlineStr"><is/></c>'
        '<c r="D1" t="inlineStr"><is><t/></is></c>'
        '<c r="E1" t="inlineStr"><is><t></t></is></c>'
        '<c r="F1" t="inlineStr"><v>5</v></c>'
        '<c r="G1" t="s"><is><t>not shared</t></is></c>'
        '<c r="H1" t="inlineStr"><is><t>a<b/>b</t></is></c>'
        "</row>"
    )
    assert _same(_package(_sheet(body))) == [
        [" plain ", "bold ", "", "", "", None, None, "a"]
    ]


def test_phonetic_runs_are_not_shared_string_text():
    sst = (
        f'<sst xmlns="{MAIN}">'
        '<si><r><t>bo</t></r><r><t xml:space="preserve">ld </t></r>'
        '<rPh sb="0" eb="1"><t>るび</t></rPh><phoneticPr fontId="1"/></si>'
        "<si><t>漢字</t><rPh sb=\"0\" eb=\"2\"><t>かんじ</t></rPh></si>"
        "</sst>"
    ).encode()
    body = '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
    base = zipfile.ZipFile(io.BytesIO(_package(_sheet(body), ("a", "b"))))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name in base.namelist():
            zf.writestr(
                name, sst if name == "xl/sharedStrings.xml" else base.read(name)
            )
    assert read_xlsx_grid(buf.getvalue()) == [["bold ", "漢字"]]


def test_entities_and_character_references():
    body = (
        '<row r="1">'
        "<c r=\"A1\"><v>&#49;&#x32;</v></c>"
        '<c r="B1" t="str"><v>&lt;a&amp;b&gt; &quot;&apos;&#x4E2D;&#25991;</v></c>'
        '<c r="C1" t="inlineStr"><is><t>&amp;amp; &#x1F600;</t></is></c>'
        '<c r="&#68;1" t="&#115;"><v>1</v></c>'
        '<c r="E1" t="inlineStr"><is><t>&#13;&#10;&#9;</t></is></c>'
        "</row>"
        '<row r="&#50;"><c r="B2&#10;"><v>3</v></c><c r="A&#9;2"><v>4</v></c></row>'
    )
    assert _same(_package(_sheet(body), STRINGS)) == [
        [12, '<a&b> "\'中文', "&amp; \U0001F600", "s1 & <two>", "\r\n\t"],
        [None, 3, 4],
    ]


def test_line_ends_inside_text_and_attributes():
    body = (
        '<row r="1">'
        '<c r="A1" t="inlineStr"><is><t>a\r\nb\rc\n</t></is></c>'
        '<c r="B1" t="str"><v>x\r\n</v></c>'
        "</row>"
        '<row r="2"><c r="C2\r\n"><v>1</v></c><c\r\nr="A2"\tt="str"><v>y</v></c></row>'
    )
    assert _same(_package(_sheet(body))) == [["a\nb\nc\n", "x\n"], ["y"]]


def test_formula_before_value():
    body = (
        '<row r="1">'
        '<c r="A1" t="str"><f>"a"&amp;"b"</f><v>ab</v></c>'
        '<c r="B1" s="1"><f t="shared" ref="B1:B3" si="0">A1*2</f><v>4</v></c>'
        '<c r="C1"><f>NOW()</f></c>'
        '<c r="D1" t="b"><f>TRUE()</f><v>1</v></c>'
        "</row>"
    )
    assert _same(_package(_sheet(body))) == [["ab", 4, None, True]]


def test_boolean_error_string_and_number_cells():
    body = (
        '<row r="1">'
        '<c r="A1" t="b"><v>0</v></c><c r="B1" t="b"><v>1</v></c>'
        '<c r="C1" t="e"><v>#N/A</v></c><c r="D1" t="str"><v>007</v></c>'
        '<c r="E1" t="n"><v>-3</v></c><c r="F1"><v>2.50</v></c>'
        '<c r="G1"><v>1e3</v></c><c r="H1" t=""><v>-0</v></c>'
        "</row>"
    )
    assert _same(_package(_sheet(body))) == [
        [False, True, None, "007", -3, 2.5, 1000.0, 0]
    ]


def test_empty_v():
    body = (
        '<row r="1"><c r="A1"><v/></c><c r="B1"><v></v></c>'
        '<c r="C1" t="s"><v/></c><c r="D1" t="str"><v></v></c>'
        '<c r="E1"><v><![CDATA[]]></v></c><c r="F1"><v><!-- x --></v></c></row>'
    )
    assert _same(_package(_sheet(body), STRINGS)) == [[None] * 6]


def test_cdata():
    body = (
        '<row r="1">'
        '<c r="A1"><v><![CDATA[12]]></v></c>'
        '<c r="B1" t="str"><v>a<![CDATA[<b>&amp;]]>c</v></c>'
        '<c r="C1" t="inlineStr"><is><t><![CDATA[</c></row><row r="9"><c r="A9">]]></t></is></c>'
        '<c r="D1" t="s"><v><![CDATA[2]]></v></c>'
        "</row>"
    )
    assert _same(_package(_sheet(body), STRINGS)) == [
        [12, "a<b>&amp;c", '</c></row><row r="9"><c r="A9">', "三"]
    ]


def test_comments_and_processing_instructions():
    body = (
        '<!-- <row r="5"><c r="A5"><v>9</v></c></row> -->'
        '<row r="1"><!-- <c r="A1"><v>8</v></c> --><c r="B1"><v>1<!-- x -->2</v></c>'
        '<?app hint="<c>"?><c r="C1" t="inlineStr"><is><t>a<!-- ]]> -->b</t></is></c></row>'
        '<?app <row r="7"/>?>'
        '<row r="2"><c r="A2" t="str"><v>p<?pi?>q</v></c></row>'
    )
    assert _same(_package(_sheet(body))) == [[None, 12, "ab"], ["pq"]]


@pytest.mark.parametrize("encoding", ["UTF-16", "UTF-16-LE", "UTF-16-BE"])
def test_utf16_sheet(encoding):
    body = (
        '<row r="1"><c r="A1" t="inlineStr"><is><t>宝宝辅食机 &#x1F600;</t></is></c>'
        '<c r="B1" t="s"><v>2</v></c><c r="C1"><v>3.5</v></c></row>'
    )
    sheet = _sheet(body, encoding=encoding)
    assert _same(_package(sheet, STRINGS)) == [["宝宝辅食机 \U0001F600", "三", 3.5]]


def test_utf8_bom_and_single_byte_encoding():
    body = '<row r="1"><c r="A1" t="str"><v>café</v></c></row>'
    bom = b"\xef\xbb\xbf" + _sheet(body)
    assert _same(_package(bom)) == [["café"]]
    latin = _sheet(body, encoding="ISO-8859-1")
    assert _same(_package(latin)) == [["café"]]


# --------------------------------------------------------------------------
# sheets that must raise
# --------------------------------------------------------------------------

_GOOD = _sheet(
    '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>1.5</v></c></row>'
    '<row r="2"><c r="A2" t="inlineStr"><is><t>x</t></is></c></row>'
)


@pytest.mark.parametrize("cut", [10, 60, 150, 200, len(_GOOD) - 30, len(_GOOD) - 1])
def test_truncated_sheet_raises(cut):
    content = _package(_GOOD[:cut], STRINGS)
    with pytest.raises(ET.ParseError):
        _oracle_grid(content)
    with pytest.raises(Exception):
        read_xlsx_grid(content)


@pytest.mark.parametrize(
    "body",
    [
        '<row r="1"><c r="A1"><v>1</v></row>',  # mismatched end tag
        '<row r="1"><c r="A1" t="str"><v>&nbsp;</v></c></row>',  # undefined entity
        '<row r="1"><c r="A1" t="str"><v>a < b</v></c></row>',  # raw '<'
        '<row r="1"><c r="A1" r="B1"><v>1</v></c></row>',  # duplicate attribute
        '<row r="1"><c r="A1"><v>1</v></c></row><row r="1">',  # unclosed row
        '<row r="1"><c r="A1" t="str"><v>x</v></c></row><y:z/>',  # unbound prefix
    ],
)
def test_malformed_sheet_raises(body):
    content = _package(_sheet(body))
    with pytest.raises(ET.ParseError):
        _oracle_grid(content)
    with pytest.raises(Exception):
        read_xlsx_grid(content)


def test_non_numeric_value_raises():
    content = _package(_sheet('<row r="1"><c r="A1"><v>n/a</v></c></row>'))
    with pytest.raises(ValueError):
        _oracle_grid(content)
    with pytest.raises(ValueError):
        read_xlsx_grid(content)


@pytest.mark.parametrize("entity", [True, False])
def test_doctype_is_rejected(entity):
    """OPC (ECMA-376 Part 2) forbids DTDs in package parts. ElementTree
    reads them, internal entities included; the tokenizer raises, so the
    connector skips the file."""
    dtd = '<!DOCTYPE worksheet [<!ENTITY e "expanded">]>' if entity else "<!DOCTYPE worksheet>"
    value = "&e;" if entity else "v"
    sheet = (
        f'<?xml version="1.0"?>{dtd}<worksheet xmlns="{MAIN}"><sheetData>'
        f'<row r="1"><c r="A1" t="str"><v>{value}</v></c></row>'
        "</sheetData></worksheet>"
    ).encode()
    content = _package(sheet)
    assert _oracle_grid(content) == [["expanded" if entity else "v"]]
    with pytest.raises(ValueError, match="DTD"):
        read_xlsx_grid(content)


# --------------------------------------------------------------------------
# generated sheets
# --------------------------------------------------------------------------

_CHAR = st.one_of(
    st.characters(blacklist_categories=("Cs", "Cc", "Cn")),
    st.sampled_from("\t\n\r&<>\"' ]"),
)
_VALUE = st.one_of(
    st.none(),
    st.integers(-(10**15), 10**15),
    st.floats(allow_nan=False, allow_infinity=False),
    st.booleans(),
    st.text(_CHAR, max_size=10),
)


def _escape(draw, text: str) -> str:
    """Character data for ``text``, each character written raw where
    XML allows it or as a reference, at random."""
    out = []
    for ch in text:
        if ch == "&":
            out.append(draw(st.sampled_from(["&amp;", "&#38;", "&#x26;"])))
        elif ch == "<":
            out.append(draw(st.sampled_from(["&lt;", "&#60;"])))
        elif ch == "\r":
            out.append("&#13;")  # a raw CR would read back as LF
        elif draw(st.integers(0, 9)) == 0:
            out.append(draw(st.sampled_from([f"&#{ord(ch)};", f"&#x{ord(ch):X};"])))
        elif ch == ">" and draw(st.booleans()):
            out.append("&gt;")
        else:
            out.append(ch)
    if "]]>" not in text and "\r" not in text and draw(st.integers(0, 4)) == 0:
        return f"<![CDATA[{text}]]>"
    return "".join(out)


def _attrs(draw, pairs: list[tuple[str, str]]) -> str:
    pairs = draw(st.permutations(pairs))
    q = draw(st.sampled_from(['"', "'"]))
    return "".join(f" {k}={q}{v}{q}" for k, v in pairs)


@st.composite
def _sheets(draw):
    """(xlsx bytes, the drawn grid) for a sheet written in any of the
    forms SpreadsheetML and XML allow."""
    grid = draw(st.lists(st.lists(_VALUE, max_size=6), max_size=6))
    prefix = draw(st.sampled_from(["", "x"]))
    p = f"{prefix}:" if prefix else ""
    shared: list[str] = []
    rows = []
    for ri, row in enumerate(grid):
        cells = []
        for ci, val in enumerate(row):
            ref = f"{chr(65 + ci)}{ri + 1}"
            pairs = [] if draw(st.integers(0, 5)) == 0 else [("r", ref)]
            if draw(st.booleans()):
                pairs.append(("s", str(draw(st.integers(0, 3)))))
            if val is None:
                if draw(st.booleans()):
                    continue
                cells.append(f"<{p}c{_attrs(draw, pairs)}/>")
                continue
            if isinstance(val, bool):
                pairs.append(("t", "b"))
                inner = f"<{p}v>{int(val)}</{p}v>"
            elif isinstance(val, (int, float)):
                if draw(st.booleans()):
                    pairs.append(("t", "n"))
                inner = f"<{p}v>{_escape(draw, repr(val))}</{p}v>"
            else:
                form = draw(st.sampled_from(["s", "inline", "rich", "str"]))
                if form == "s":
                    if val not in shared:
                        shared.append(val)
                    pairs.append(("t", "s"))
                    inner = f"<{p}v>{shared.index(val)}</{p}v>"
                elif form == "str":
                    pairs.append(("t", "str"))
                    inner = f"<{p}f>T(A1)</{p}f><{p}v>{_escape(draw, val)}</{p}v>"
                else:
                    pairs.append(("t", "inlineStr"))
                    cut = draw(st.integers(0, len(val)))
                    if form == "inline":
                        runs = f'<{p}t xml:space="preserve">{_escape(draw, val)}</{p}t>'
                    else:
                        head, tail = _escape(draw, val[:cut]), _escape(draw, val[cut:])
                        runs = (
                            f"<{p}r><{p}rPr><{p}b/></{p}rPr><{p}t>{head}</{p}t></{p}r>"
                            f"<{p}r><{p}t>{tail}</{p}t></{p}r>"
                            f'<{p}rPh sb="0" eb="1"><{p}t>{head}</{p}t></{p}rPh>'
                        )
                    inner = f"<{p}is>{runs}</{p}is>"
            if draw(st.integers(0, 5)) == 0:
                inner = f"<!-- {ri},{ci} -->" + inner
            cells.append(f"<{p}c{_attrs(draw, pairs)}>{inner}</{p}c>")
        row_pairs = [("spans", f"1:{len(row) or 1}")]
        if draw(st.integers(0, 4)):
            row_pairs.append(("r", str(ri + 1)))
        start = f"<{p}row{_attrs(draw, row_pairs)}"
        if not cells and draw(st.booleans()):
            rows.append(f"{start}/>")
        else:
            rows.append(f"{start}>{''.join(cells)}</{p}row>")
    encoding = draw(st.sampled_from(["UTF-8", "UTF-16"]))
    sheet = _sheet("".join(rows), prefix, encoding)
    return _package(sheet, tuple(shared)), grid


@settings(max_examples=150, deadline=None)
@given(_sheets())
def test_generated_sheets_match_oracle(case):
    _same(case[0])


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(_VALUE, max_size=8), max_size=8), st.booleans())
def test_writer_output_matches_oracle(rows, inline):
    _same(write_xlsx(rows, inline=inline))


# --------------------------------------------------------------------------
# the connector's fixtures and the benchmark's manifests
# --------------------------------------------------------------------------


@pytest.mark.parametrize("inline", [False, True])
@pytest.mark.parametrize("csv", [OLD_CSV, NEW_CSV], ids=["old", "new"])
def test_connector_fixtures_match_oracle(csv, inline):
    rows = _csv_to_rows(csv)
    assert _same(write_xlsx(rows, inline=inline))[0][0] == rows[0][0]


def test_benchmark_manifests_match_oracle(tmp_path):
    """``perfbench/gen.py`` manifests (smaller than the benchmark's,
    same shape): every one reads as the oracle reads it."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
    try:
        from gen import write_night
    finally:
        sys.path.pop(0)
    write_night(
        str(tmp_path), 3, 1, 3, np.random.default_rng(7),
        members=(20, 30), rows=(150, 300),
    )
    manifests = sorted((tmp_path / "xlsx").glob("*.xlsx"))
    assert len(manifests) == 3
    for path in manifests:
        grid = _same(path.read_bytes())
        assert grid[0][0] == path.stem and len(grid) > 150
