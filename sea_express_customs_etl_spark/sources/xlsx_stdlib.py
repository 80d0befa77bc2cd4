"""Pure-stdlib ``.xlsx`` reader + writer (OP-SRC-XLSX, OP-SRC-CELL).

The reference ingests shipper manifests with ``pd.read_excel``
(``src/process_excel_order.py:200,218``), which needs openpyxl — absent
in this container. An ``.xlsx`` file is just a ZIP of SpreadsheetML
parts, so this module reads it with ``zipfile`` plus a stdlib XML
tokenizer:

* ``read_xlsx_grid(content)`` — first worksheet → row-major grid of
  typed cells (None / str / int / float / bool). Handles sharedStrings,
  inline and rich-text strings, formula-string, boolean, error and
  numeric cells, skipped rows/cells (placed by their ``r=`` references,
  gaps left as None). Cell A1 of a manifest (OP-SRC-CELL; reference
  ``get_mawb_no`` reads only A1, ``:48-56``) is ``grid[0][0]``.
* ``grid_to_frame(grid, header)`` — mimics
  ``pd.read_excel(header=N, dtype=object)``: header row becomes column
  labels (missing → ``Unnamed: i``, duplicates mangled ``.1``/``.2``),
  data rows padded to sheet width, everything object-dtype.
* ``write_xlsx(rows)`` — minimal writer used to build genuine .xlsx
  fixture bytes in tests/benchmarks (sharedStrings by default, inline
  strings optionally) — no third-party writer exists in this
  environment either.

The worksheet part is tokenized in three steps instead of building an
element per cell. An expat parse with no per-element handlers checks
that the part is well-formed, so a truncated or malformed sheet raises
(and the connector skips the file) exactly as an ElementTree parse
would. One compiled regex pass over the ``<sheetData>`` slice then
yields rows and cells: the canonical ``<c r=".." s=".." t="..">`` form
with one ``<v>`` or one plain inline string is matched directly, any
other cell (other attribute order, ``<f>`` before ``<v>``, rich text,
self-closing) by a general cell pattern. A short Python loop places the
values and resolves shared strings. The grid equals the ElementTree
reading of the same part (``tests/test_xlsx_tokenizer.py`` checks it
against an ElementTree oracle) for any namespace prefix, any attribute
order, rows and cells without ``r``, entities and character references,
CDATA, comments and processing instructions, and UTF-8 or UTF-16 parts.
The sheet part is held whole in memory, as ``zipfile`` reads it; the
small workbook, relationship and shared-string parts are still read
with ElementTree.

Rejected or not handled (documented limits): a worksheet with a
DOCTYPE raises — OPC (ECMA-376 Part 2) forbids DTD declarations in
package parts, and without one the only entities are XML's five
predefined ones, which the tokenizer decodes. The SpreadsheetML elements must use
the prefix bound on ``<sheetData>`` or its root element (no rebinding
inside the sheet data). Date serial→datetime conversion is not done
(the manifests carry no date columns; serials surface as numbers);
only the first sheet is read (the reference reads only the
active/first sheet); legacy BIFF ``.xls`` is :mod:`.xls_stdlib`.
"""

from __future__ import annotations

import functools
import io
import re
import zipfile
import xml.etree.ElementTree as ET
from xml.parsers import expat

_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS = "{" + _MAIN + "}"
_PKG_REL = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)
_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")
_INT = re.compile(r"^-?\d+$")


def _col_index(letters: str) -> int:
    """'A' -> 0, 'Z' -> 25, 'AA' -> 26 ..."""
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _si_text(si: ET.Element) -> str:
    # a shared-string item is either one <t> or rich-text runs <r><t>;
    # its <rPh> phonetic runs are not part of the displayed text
    return "".join(
        t.text or ""
        for part in si
        if part.tag != f"{_NS}rPh"
        for t in part.iter(f"{_NS}t")
    )


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    return [_si_text(si) for si in root.iter(f"{_NS}si")]


def _first_sheet_path(zf: zipfile.ZipFile) -> str:
    """Resolve the first sheet in workbook order via the rels part."""
    try:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        sheet = next(iter(wb.iter(f"{_NS}sheet")))
        rid = sheet.get(_PKG_REL)
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        for rel in rels.iter(
            "{http://schemas.openxmlformats.org/package/2006/relationships}"
            "Relationship"
        ):
            if rel.get("Id") == rid:
                target = rel.get("Target", "")
                if target.startswith("/"):
                    return target.lstrip("/")
                return "xl/" + target
    except (KeyError, StopIteration, ET.ParseError):
        pass
    return "xl/worksheets/sheet1.xml"


# --------------------------------------------------------------------------
# worksheet tokenizer
# --------------------------------------------------------------------------

# a start tag's attribute list (a value may hold '>' but never '<'),
# captured, and the same list skipped
_ATTR_LIST = r"""(?:\s+[^\s=/>]+\s*=\s*(?:"[^"]*"|'[^']*'))*"""
_ATTRS = rf"({_ATTR_LIST})\s*"
_SKIP_ATTRS = rf"{_ATTR_LIST}\s*"
_ATTR = re.compile(r"""([^\s=]+)\s*=\s*(?:"([^"]*)"|'([^']*)')""")
_START = re.compile(r"<[^\s/>]+" + _ATTRS + "/?>")
_SHEET_DATA = re.compile(r"<(?:([^\s/>:]+):)?sheetData" + _ATTRS + "(/?)>")
# markup that carries no element: comments, processing instructions
# (the XML declaration among them) and CDATA sections
_MARKUP = re.compile(r"<!--.*?-->|<\?.*?\?>|<!\[CDATA\[(.*?)\]\]>", re.S)
_ENCODING = re.compile(
    rb"(?:\xef\xbb\xbf)?<\?xml[^>]*?encoding\s*=\s*[\"']([A-Za-z][\w.-]*)[\"']"
)
_REF = re.compile(r"&(?:#x([0-9a-fA-F]+)|#([0-9]+)|(lt|gt|amp|quot|apos));")
_PREDEFINED = {"lt": "<", "gt": ">", "amp": "&", "quot": '"', "apos": "'"}
_ATTR_WS = str.maketrans("\t\n", "  ")


def _no_dtd(*_) -> None:
    raise ValueError("worksheet part declares a DTD")


def _decode(data: bytes) -> str:
    """Sheet part bytes → text, by BOM, then the XML declaration's
    encoding, then UTF-8 (XML 1.0 Appendix F)."""
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return data.decode("utf-16")
    if data[:4] == b"<\x00?\x00":
        return data.decode("utf-16-le")
    if data[:4] == b"\x00<\x00?":
        return data.decode("utf-16-be")
    m = _ENCODING.match(data)
    text = data.decode(m.group(1).decode("ascii") if m else "utf-8")
    return text[1:] if text[:1] == "\ufeff" else text


def _unmark(m: re.Match) -> str:
    # comments and PIs vanish; a CDATA section becomes escaped text
    cdata = m.group(1)
    return "" if cdata is None else cdata.replace("&", "&amp;").replace("<", "&lt;")


def _deref(m: re.Match) -> str:
    hex_, dec, name = m.groups()
    if name:
        return _PREDEFINED[name]
    return chr(int(hex_, 16) if hex_ else int(dec))


def _text(s: str) -> str:
    """Character data with its entity and character references decoded."""
    return _REF.sub(_deref, s) if "&" in s else s


def _attrs(s: str) -> dict[str, str]:
    """Attribute list → values, normalized as an XML parser does."""
    return {k: _text((dq or sq).translate(_ATTR_WS)) for k, dq, sq in _ATTR.findall(s)}


@functools.cache
def _patterns(prefix: str) -> tuple[re.Pattern, ...]:
    """(cell/row tokens, row start, other cell, ``<v>`` text, ``<is>``
    body, ``<t>`` text, ``<rPh>`` element) for SpreadsheetML elements
    written with ``prefix`` ('' or 'x:')."""
    p = re.escape(prefix)
    tokens = re.compile(
        # a canonical cell whose text holds no reference → (column
        # letters, t, <v> text, '>' + inline text); few groups keep the
        # pass fast
        rf'<{p}c r="([A-Z]+)[0-9]+"(?: s="[0-9]+")?(?: t="([a-zA-Z]+)")?'
        rf"(?:/>|>(?:<{p}v>([^<&]*)</{p}v>"
        rf'|<{p}is><{p}t(?: xml:space="preserve")?(>[^<&]*)</{p}t></{p}is>)?</{p}c>)'
        # any other cell, a row start or a row end → the whole element
        rf"|(<{p}c{_SKIP_ATTRS}(?:/>|>.*?</{p}c\s*>)|<{p}row{_SKIP_ATTRS}/?>|</{p}row\s*>)",
        re.S,
    )
    row = re.compile(rf'<{p}row(?: r="([0-9]+)")?{_ATTRS}(/?)>')
    cell = re.compile(rf"<{p}c{_ATTRS}(?:/>|>(.*))", re.S)
    # an element's text is the character data before its first child
    v = re.compile(rf"<{p}v{_SKIP_ATTRS}(?:/>|>([^<]*))")
    is_ = re.compile(rf"<{p}is{_SKIP_ATTRS}(?:/>|>(.*?)</{p}is\s*>)", re.S)
    t = re.compile(rf"<{p}t{_SKIP_ATTRS}(?:/>|>([^<]*))")
    rph = re.compile(rf"<{p}rPh{_SKIP_ATTRS}(?:/>|>.*?</{p}rPh\s*>)", re.S)
    return tokens, row, cell, v, is_, t, rph


def _typed(t: str, text: str, shared: list[str]):
    """A non-inline cell's ``<v>`` text as its typed value."""
    if t == "s":
        return shared[int(text)]
    if t == "str":
        return text
    if t == "b":
        return bool(int(text))
    if t == "e":
        return None
    # numeric: ints stay ints (matches openpyxl, so str() later gives
    # '3' not '3.0' — load-bearing for downstream raw-string parity)
    return int(text) if _INT.match(text) else float(text)


def read_xlsx_grid(content: bytes) -> list[list]:
    """First worksheet of an xlsx byte-stream → row-major ragged grid."""
    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        shared = _shared_strings(zf)
        sheet_xml = zf.read(_first_sheet_path(zf))

    # namespace-aware, as ElementTree parses: an unbound prefix raises too
    parser = expat.ParserCreate(namespace_separator="}")
    parser.StartDoctypeDeclHandler = _no_dtd
    parser.Parse(sheet_xml, True)  # raises on a malformed part

    text = _decode(sheet_xml)
    if "\r" in text:  # XML line-end normalization
        text = text.replace("\r\n", "\n").replace("\r", "\n")
    text = _MARKUP.sub(_unmark, text)
    sd = _SHEET_DATA.search(text)
    if sd is None or sd.group(3):
        return []
    prefix = sd.group(1)
    xmlns = f"xmlns:{prefix}" if prefix else "xmlns"
    bound = _attrs(sd.group(2)).get(xmlns)
    if bound is None:
        bound = _attrs(_START.search(text).group(1)).get(xmlns)
    if bound != _MAIN:
        return []
    prefix = f"{prefix}:" if prefix else ""
    body = text[sd.end() : text.index(f"</{prefix}sheetData", sd.end())]
    tokens, row_pat, cell_pat, v_pat, is_pat, t_pat, rph_pat = _patterns(prefix)

    grid: list[list] = []
    cells: list | None = None  # the open row's cells
    cols: dict[str, int] = {}  # column letters → index
    for letters, t, v, inline, element in tokens.findall(body):
        if letters:
            if cells is None:  # a cell outside any row
                continue
            col = cols.get(letters)
            if col is None:
                col = cols[letters] = _col_index(letters)
            if t == "inlineStr":
                val = inline[1:] if inline else None
            else:
                val = _typed(t, v, shared) if v else None
        elif element[1] == "/":  # row end
            cells = None
            continue
        elif row := row_pat.match(element):
            r, attrs, closed = row.groups()
            if not r and attrs:
                r = _attrs(attrs).get("r")
            row_idx = int(r) - 1 if r else len(grid)
            while len(grid) <= row_idx:
                grid.append([])
            cells = None if closed else grid[row_idx]
            continue
        elif cells is None:
            continue
        else:
            attrs, inner = cell_pat.match(element).groups()
            a = _attrs(attrs)
            ref = a.get("r")
            m = _CELL_REF.match(ref) if ref else None
            col = _col_index(m.group(1)) if m else len(cells)
            t = a.get("t", "n")
            if t == "inlineStr":
                is_m = is_pat.search(inner or "")
                if is_m:
                    # the base text: <rPh> phonetic runs are not displayed
                    runs = rph_pat.sub("", is_m.group(1) or "")
                    val = "".join(map(_text, t_pat.findall(runs)))
                else:
                    val = None
            else:
                v_m = v_pat.search(inner or "")
                v = v_m.group(1) if v_m else None
                val = _typed(t, _text(v), shared) if v else None
        if col == len(cells):
            cells.append(val)
        else:
            while len(cells) <= col:
                cells.append(None)
            cells[col] = val
    return grid


# --------------------------------------------------------------------------
# pandas adapter
# --------------------------------------------------------------------------


def header_names(grid: list[list], header: int) -> list:
    """The column labels ``pd.read_excel(header=N)`` gives the grid:
    missing → ``Unnamed: i``, duplicates mangled ``.1``/``.2``, one per
    column of the widest row."""
    if len(grid) <= header:
        raise ValueError(f"sheet has {len(grid)} rows, header={header}")
    width = max((len(r) for r in grid), default=0)
    raw_header = grid[header] + [None] * (width - len(grid[header]))
    names: list = []
    seen: dict[str, int] = {}
    for i, h in enumerate(raw_header):
        name = f"Unnamed: {i}" if h is None else h
        key = str(name)
        if key in seen:  # pandas-style duplicate mangling
            seen[key] += 1
            name = f"{name}.{seen[key]}"
        else:
            seen[key] = 0
        names.append(name)
    return names


def grid_to_frame(grid: list[list], header: int):
    """Mimic ``pd.read_excel(header=N, dtype=object)`` over a grid."""
    import pandas as pd

    names = header_names(grid, header)
    width = len(names)
    data = [r + [None] * (width - len(r)) for r in grid[header + 1 :]]
    return pd.DataFrame(data, columns=names, dtype=object)


# --------------------------------------------------------------------------
# writer (fixtures / round-trip tests)
# --------------------------------------------------------------------------

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WB_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>
</Relationships>"""


def _ref(row: int, col: int) -> str:
    letters = ""
    col += 1
    while col:
        col, rem = divmod(col - 1, 26)
        letters = chr(65 + rem) + letters
    return f"{letters}{row + 1}"


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def write_xlsx(rows: list[list], inline: bool = False) -> bytes:
    """Rows (None/str/int/float/bool cells) → minimal xlsx bytes.

    ``inline=False`` (default) encodes strings via sharedStrings.xml —
    the encoding every mainstream writer emits; ``inline=True`` uses
    ``t="inlineStr"`` so tests cover both reader paths.
    """
    shared: dict[str, int] = {}
    body: list[str] = []
    for ri, row in enumerate(rows):
        cells = []
        for ci, val in enumerate(row):
            if val is None:
                continue
            ref = _ref(ri, ci)
            if isinstance(val, bool):
                cells.append(f'<c r="{ref}" t="b"><v>{int(val)}</v></c>')
            elif isinstance(val, (int, float)):
                cells.append(f'<c r="{ref}"><v>{val!r}</v></c>')
            elif inline:
                cells.append(
                    f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                    f"{_esc(str(val))}</t></is></c>"
                )
            else:
                idx = shared.setdefault(str(val), len(shared))
                cells.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
        body.append(f'<row r="{ri + 1}">{"".join(cells)}</row>')

    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
        + "".join(body)
        + "</sheetData></worksheet>"
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/'
        f'main" count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(
            f'<si><t xml:space="preserve">{_esc(s)}</t></si>' for s in shared
        )
        + "</sst>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", _WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        zf.writestr("xl/sharedStrings.xml", sst)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()
