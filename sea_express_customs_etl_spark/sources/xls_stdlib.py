"""Pure-stdlib legacy ``.xls`` (BIFF8) reader (OP-SRC-XLSX's
sibling — the reference accepts ``.xls`` uploads too,
``src/process_excel_order.py:254`` ``endswith(('.xlsx','.xls','.csv'))``).

A ``.xls`` file is an OLE2/CFB compound document whose ``Workbook``
stream holds BIFF8 records. This module implements the minimal honest
subset a manifest reader needs, from the public [MS-CFB]/[MS-XLS]
specifications:

* CFB: header, DIFAT, FAT chains, directory, AND the mini-stream/
  miniFAT path — small real-world files (< 4096-byte stream) always
  live in the mini stream, so skipping it would mean reading only
  large files.
* BIFF8 records: BOF/EOF, BOUNDSHEET, SST (+ CONTINUE spanning, with
  the per-continuation ``fHighByte`` re-flag), LABELSST, LABEL,
  NUMBER, RK, MULRK, BOOLERR, and FORMULA numeric results. Unicode
  strings in both compressed (latin-1) and UTF-16 forms.

``read_xls_grid`` returns the same row-major grid shape as
``xlsx_stdlib.read_xlsx_grid``, so the manifest connector treats both
formats identically past the cell-extraction step. The matching
minimal writer that builds the tests' fixture bytes is
``tests/xls_writer.py``.

Not handled: encrypted workbooks (FILEPASS), BIFF5 and earlier,
multi-sheet selection beyond the first BOUNDSHEET, cached formula
strings (the following STRING record) beyond numeric results.
"""

from __future__ import annotations

import struct

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_FREE = 0xFFFFFFFF
_ENDCHAIN = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD

# ---------------------------------------------------------------------------
# CFB (OLE2 compound file) reader
# ---------------------------------------------------------------------------


def _chain(fat: list[int], start: int) -> list[int]:
    out, s, seen = [], start, set()
    while s not in (_ENDCHAIN, _FREE) and s < len(fat):
        if s in seen:
            raise ValueError("cyclic FAT chain")
        seen.add(s)
        out.append(s)
        s = fat[s]
    return out


def _cfb_open(data: bytes) -> dict[str, bytes]:
    """Compound document → {stream_name: bytes} (top-level streams)."""
    if data[:8] != _CFB_MAGIC:
        raise ValueError("not an OLE2 compound document")
    (sector_shift,) = struct.unpack_from("<H", data, 30)
    (mini_shift,) = struct.unpack_from("<H", data, 32)
    ssz, msz = 1 << sector_shift, 1 << mini_shift
    (first_dir,) = struct.unpack_from("<I", data, 48)
    (mini_cutoff,) = struct.unpack_from("<I", data, 56)
    (first_minifat,) = struct.unpack_from("<I", data, 60)
    (n_minifat,) = struct.unpack_from("<I", data, 64)
    (first_difat,) = struct.unpack_from("<I", data, 68)
    (n_difat,) = struct.unpack_from("<I", data, 72)

    def sector(i: int) -> bytes:
        off = 512 + i * ssz
        return data[off : off + ssz]

    # DIFAT: 109 header entries + chained DIFAT sectors
    difat = list(struct.unpack_from("<109I", data, 76))
    s = first_difat
    for _ in range(n_difat):
        if s in (_ENDCHAIN, _FREE):
            break
        body = sector(s)
        entries = struct.unpack(f"<{ssz // 4}I", body)
        difat.extend(entries[:-1])
        s = entries[-1]
    fat_sectors = [x for x in difat if x not in (_FREE, _ENDCHAIN)]

    fat: list[int] = []
    for fs in fat_sectors:
        fat.extend(struct.unpack(f"<{ssz // 4}I", sector(fs)))

    def read_chain(start: int, size: int) -> bytes:
        return b"".join(sector(s) for s in _chain(fat, start))[:size]

    # directory
    dir_bytes = b"".join(sector(s) for s in _chain(fat, first_dir))
    entries = []
    for off in range(0, len(dir_bytes), 128):
        ent = dir_bytes[off : off + 128]
        if len(ent) < 128:
            break
        (name_len,) = struct.unpack_from("<H", ent, 64)
        if name_len < 2:
            continue
        name = ent[: name_len - 2].decode("utf-16-le", "replace")
        obj_type = ent[66]
        (start,) = struct.unpack_from("<I", ent, 116)
        (size,) = struct.unpack_from("<Q", ent, 120)
        entries.append((name, obj_type, start, size))

    root = next(e for e in entries if e[1] == 5)
    mini_container = read_chain(root[2], root[3]) if root[3] else b""
    minifat: list[int] = []
    if n_minifat:
        mf_bytes = b"".join(sector(s) for s in _chain(fat, first_minifat))
        minifat = list(struct.unpack(f"<{len(mf_bytes) // 4}I", mf_bytes))

    def read_mini(start: int, size: int) -> bytes:
        out = b"".join(
            mini_container[s * msz : (s + 1) * msz] for s in _chain(minifat, start)
        )
        return out[:size]

    streams: dict[str, bytes] = {}
    for name, obj_type, start, size in entries:
        if obj_type != 2:  # stream objects only
            continue
        streams[name] = (
            read_mini(start, size) if size < mini_cutoff else read_chain(start, size)
        )
    return streams


# ---------------------------------------------------------------------------
# BIFF8 reader
# ---------------------------------------------------------------------------

_R_BOF = 0x0809
_R_EOF = 0x000A
_R_BOUNDSHEET = 0x0085
_R_SST = 0x00FC
_R_CONTINUE = 0x003C
_R_LABELSST = 0x00FD
_R_LABEL = 0x0204
_R_NUMBER = 0x0203
_R_RK = 0x027E
_R_MULRK = 0x00BD
_R_BOOLERR = 0x0205
_R_FORMULA = 0x0006
_R_FILEPASS = 0x002F


def _records(stream: bytes, pos: int = 0):
    n = len(stream)
    while pos + 4 <= n:
        rectype, ln = struct.unpack_from("<HH", stream, pos)
        if rectype == 0:
            return
        yield rectype, stream[pos + 4 : pos + 4 + ln], pos
        pos += 4 + ln


class _Chunks:
    """Byte cursor over an SST record plus its CONTINUE records,
    implementing the BIFF8 rule that character data split across a
    continuation restarts with a fresh ``fHighByte`` option byte."""

    def __init__(self, chunks: list[bytes]):
        self.chunks = chunks
        self.ci = 0
        self.pos = 0

    def _remaining(self) -> int:
        return len(self.chunks[self.ci]) - self.pos

    def _advance(self) -> None:
        while self.ci < len(self.chunks) and self._remaining() == 0:
            self.ci += 1
            self.pos = 0

    def eof(self) -> bool:
        self._advance()
        return self.ci >= len(self.chunks)

    def read(self, n: int) -> bytes:
        out = b""
        while n:
            self._advance()
            take = min(n, self._remaining())
            c = self.chunks[self.ci]
            out += c[self.pos : self.pos + take]
            self.pos += take
            n -= take
        return out

    def read_chars(self, cch: int, high: bool) -> str:
        """Character data, re-reading the grbit byte at each
        continuation boundary ([MS-XLS] 2.5.293)."""
        out = ""
        while cch:
            self._advance()
            avail = self._remaining()
            if avail == 0:
                raise ValueError("truncated SST string")
            width = 2 if high else 1
            take = min(cch, avail // width)
            if take == 0:
                raise ValueError("split mid-character")
            raw = self.read(take * width)
            out += raw.decode("utf-16-le" if high else "latin-1")
            cch -= take
            if cch:
                high = bool(self.read(1)[0] & 1)  # fresh grbit after split
        return out


def _read_unicode_string(cur: _Chunks) -> str:
    cch, grbit = struct.unpack("<HB", cur.read(3))
    high = bool(grbit & 0x01)
    rich = bool(grbit & 0x08)
    ext = bool(grbit & 0x04)
    c_run = struct.unpack("<H", cur.read(2))[0] if rich else 0
    cb_ext = struct.unpack("<I", cur.read(4))[0] if ext else 0
    s = cur.read_chars(cch, high)
    if c_run:
        cur.read(4 * c_run)
    if cb_ext:
        cur.read(cb_ext)
    return s


def _inline_string(payload: bytes) -> str:
    cur = _Chunks([payload])
    return _read_unicode_string(cur)


def _rk_value(v: int):
    cents = v & 0x02
    if v & 0x01:  # 30-bit signed integer
        n = v >> 2
        if n & 0x20000000:
            n -= 0x40000000
        val: float | int = n
    else:  # high 30 bits of an IEEE double
        (val,) = struct.unpack("<d", struct.pack("<Q", (v & 0xFFFFFFFC) << 32))
    if cents:
        val = val / 100
    if isinstance(val, float) and val.is_integer() and abs(val) < 2**53:
        # match the int-vs-float surface of the xlsx reader
        return int(val)
    return val


def read_xls_grid(content: bytes) -> list[list]:
    """First worksheet of a BIFF8 ``.xls`` byte-stream → ragged grid
    (same shape/typing as ``xlsx_stdlib.read_xlsx_grid``)."""
    streams = _cfb_open(content)
    wb = streams.get("Workbook") or streams.get("Book")
    if wb is None:
        raise ValueError("no Workbook stream in compound document")

    # pass 1 — workbook globals: SST + first sheet offset
    sst: list[str] = []
    sheet_offsets: list[int] = []
    pending_sst: list[bytes] | None = None
    n_sst = 0
    for rectype, payload, _pos in _records(wb):
        if rectype == _R_FILEPASS:
            raise ValueError("encrypted .xls not supported")
        if rectype == _R_SST:
            n_sst = struct.unpack_from("<I", payload, 4)[0]
            pending_sst = [payload[8:]]
        elif rectype == _R_CONTINUE and pending_sst is not None:
            pending_sst.append(payload)
        elif rectype == _R_BOUNDSHEET:
            sheet_offsets.append(struct.unpack_from("<I", payload, 0)[0])
        elif rectype == _R_EOF:
            break
        elif pending_sst is not None and rectype != _R_CONTINUE:
            # SST chunk list is closed by any non-CONTINUE record
            cur = _Chunks(pending_sst)
            for _ in range(n_sst):
                sst.append(_read_unicode_string(cur))
            pending_sst = None
    if pending_sst is not None:
        cur = _Chunks(pending_sst)
        for _ in range(n_sst):
            sst.append(_read_unicode_string(cur))

    if not sheet_offsets:
        raise ValueError("no BOUNDSHEET records")

    # pass 2 — first worksheet substream
    grid: list[list] = []

    def put(row: int, col: int, val) -> None:
        while len(grid) <= row:
            grid.append([])
        cells = grid[row]
        while len(cells) <= col:
            cells.append(None)
        cells[col] = val

    started = False
    for rectype, payload, _pos in _records(wb, sheet_offsets[0]):
        if rectype == _R_BOF:
            if started:
                break
            started = True
        elif rectype == _R_EOF:
            break
        elif rectype == _R_LABELSST:
            row, col, _xf, isst = struct.unpack_from("<HHHI", payload)
            put(row, col, sst[isst])
        elif rectype == _R_LABEL:
            row, col = struct.unpack_from("<HH", payload)
            put(row, col, _inline_string(payload[6:]))
        elif rectype == _R_NUMBER:
            row, col, _xf = struct.unpack_from("<HHH", payload)
            (val,) = struct.unpack_from("<d", payload, 6)
            put(row, col, int(val) if val.is_integer() and abs(val) < 2**53 else val)
        elif rectype == _R_RK:
            row, col, _xf, rk = struct.unpack_from("<HHHI", payload)
            put(row, col, _rk_value(rk))
        elif rectype == _R_MULRK:
            row, col_first = struct.unpack_from("<HH", payload)
            n = (len(payload) - 6) // 6
            for i in range(n):
                _xf, rk = struct.unpack_from("<HI", payload, 4 + 6 * i)
                put(row, col_first + i, _rk_value(rk))
        elif rectype == _R_BOOLERR:
            row, col, _xf, val, is_err = struct.unpack_from("<HHHBB", payload)
            put(row, col, None if is_err else bool(val))
        elif rectype == _R_FORMULA:
            row, col, _xf = struct.unpack_from("<HHH", payload)
            result = payload[6:14]
            if result[6:8] != b"\xff\xff":  # cached numeric result
                (val,) = struct.unpack("<d", result)
                put(row, col, int(val) if val.is_integer() and abs(val) < 2**53 else val)
    return grid
