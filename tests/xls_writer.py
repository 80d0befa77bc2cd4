"""Minimal BIFF8 ``.xls`` writer for test fixtures: the counterpart of
the reader in ``sea_express_customs_etl_spark/sources/xls_stdlib.py``.

``write_xls`` emits a genuine OLE2/CFB compound document (mini stream
for small workbooks, regular FAT stream for large, CONTINUE-split SSTs
when asked) so the reader is tested on real bytes — no third-party xls
writer is installed.
"""

from __future__ import annotations

import struct

from sea_express_customs_etl_spark.sources.xls_stdlib import (
    _CFB_MAGIC,
    _ENDCHAIN,
    _FATSECT,
    _FREE,
    _R_BOF,
    _R_BOOLERR,
    _R_BOUNDSHEET,
    _R_CONTINUE,
    _R_EOF,
    _R_LABELSST,
    _R_NUMBER,
    _R_RK,
    _R_SST,
)


def _rec(rectype: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rectype, len(payload)) + payload


def _enc_string(s: str) -> bytes:
    """XLUnicodeRichExtendedString, compressed when latin-1 fits."""
    try:
        raw = s.encode("latin-1")
        return struct.pack("<HB", len(s), 0x00) + raw
    except UnicodeEncodeError:
        return struct.pack("<HB", len(s), 0x01) + s.encode("utf-16-le")


def _sst_records(strings: list[str], split_every: int | None) -> bytes:
    """SST (+ CONTINUE records when ``split_every`` strings per chunk
    is set — exercises the continuation path the way large real files
    do)."""
    chunks: list[bytes] = []
    buf: list[bytes] = []
    for i, s in enumerate(strings):
        if split_every and i and i % split_every == 0:
            chunks.append(b"".join(buf))
            buf = []
        buf.append(_enc_string(s))
    chunks.append(b"".join(buf))
    head = struct.pack("<II", len(strings), len(strings)) + chunks[0]
    out = _rec(_R_SST, head)
    for c in chunks[1:]:
        out += _rec(_R_CONTINUE, c)
    return out


def _workbook_stream(rows: list[list], sst_split_every: int | None) -> bytes:
    strings: list[str] = []
    index: dict[str, int] = {}
    for r in rows:
        for v in r:
            if isinstance(v, str) and v not in index:
                index[v] = len(strings)
                strings.append(v)

    # worksheet substream (list-accumulate: += on bytes is quadratic)
    parts = [
        _rec(_R_BOF, struct.pack("<HHHHII", 0x0600, 0x0010, 0x3515, 0x0130, 0, 0))
    ]
    for ri, row in enumerate(rows):
        for ci, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, bool):
                parts.append(
                    _rec(_R_BOOLERR, struct.pack("<HHHBB", ri, ci, 0, int(v), 0))
                )
            elif isinstance(v, int) and -(2**29) <= v < 2**29:
                # RK integer form (what real writers emit for small ints)
                rk = ((v & 0x3FFFFFFF) << 2) | 1
                parts.append(_rec(_R_RK, struct.pack("<HHHI", ri, ci, 0, rk)))
            elif isinstance(v, (int, float)):
                parts.append(
                    _rec(
                        _R_NUMBER,
                        struct.pack("<HHH", ri, ci, 0) + struct.pack("<d", float(v)),
                    )
                )
            else:
                parts.append(
                    _rec(_R_LABELSST, struct.pack("<HHHI", ri, ci, 0, index[str(v)]))
                )
    parts.append(_rec(_R_EOF, b""))
    sheet = b"".join(parts)

    # globals — BOUNDSHEET needs the sheet's absolute offset: assemble
    # with a placeholder, then patch (the offset only depends on the
    # globals' own length)
    name = b"\x06\x00Sheet1"  # cch=6, compressed
    def globals_bytes(offset: int) -> bytes:
        g = _rec(_R_BOF, struct.pack("<HHHHII", 0x0600, 0x0005, 0x3515, 0x0130, 0, 0))
        g += _rec(_R_BOUNDSHEET, struct.pack("<IBB", offset, 0, 0) + name)
        g += _sst_records(strings, sst_split_every)
        g += _rec(_R_EOF, b"")
        return g

    glen = len(globals_bytes(0))
    g = globals_bytes(glen)
    assert len(g) == glen
    return g + sheet


def _cfb_wrap(stream: bytes) -> bytes:
    """Wrap one 'Workbook' stream in a minimal compound document.
    Streams < 4096 bytes go through the mini stream + miniFAT (the
    spec-mandated path real small files use); larger ones through the
    regular FAT."""
    ssz, msz = 512, 64
    use_mini = len(stream) < 4096

    if use_mini:
        n_mini = max(1, -(-len(stream) // msz))
        container = stream + b"\x00" * (n_mini * msz - len(stream))
        n_container = -(-len(container) // ssz)
        container += b"\x00" * (n_container * ssz - len(container))
        # sector layout: [FAT][directory][miniFAT][container...]
        n_fat = 1
        dir_sec = n_fat
        minifat_sec = dir_sec + 1
        cont_start = minifat_sec + 1
        total = cont_start + n_container
        if total > ssz // 4:
            raise ValueError("fixture too large for single-FAT writer")
        fat = [_FREE] * (ssz // 4)
        fat[0] = _FATSECT
        fat[dir_sec] = _ENDCHAIN
        fat[minifat_sec] = _ENDCHAIN
        for i in range(n_container):
            fat[cont_start + i] = (
                cont_start + i + 1 if i + 1 < n_container else _ENDCHAIN
            )
        minifat = [_FREE] * (ssz // 4)
        for i in range(n_mini):
            minifat[i] = i + 1 if i + 1 < n_mini else _ENDCHAIN
        root_start, root_size = cont_start, n_mini * msz
        wb_start, wb_size = 0, len(stream)  # mini-sector 0
        first_minifat, n_minifat_sectors = minifat_sec, 1
        data_sectors = struct.pack(f"<{ssz // 4}I", *minifat) + container
    else:
        n_data = -(-len(stream) // ssz)
        padded = stream + b"\x00" * (n_data * ssz - len(stream))
        n_fat = 1
        while (n_fat * (ssz // 4)) < (n_fat + 1 + n_data):
            n_fat += 1
        if n_fat > 109:
            # chained DIFAT sectors not implemented — fixture writer
            # caps at 109 FAT sectors ≈ 7 MB of stream
            raise ValueError("stream too large for this minimal writer (~7 MB max)")
        dir_sec = n_fat
        data_start = dir_sec + 1
        total = data_start + n_data
        fat_len = n_fat * (ssz // 4)
        if total > fat_len:
            raise ValueError("stream too large for this minimal writer")
        fat = [_FREE] * fat_len
        for i in range(n_fat):
            fat[i] = _FATSECT
        fat[dir_sec] = _ENDCHAIN
        for i in range(n_data):
            fat[data_start + i] = (
                data_start + i + 1 if i + 1 < n_data else _ENDCHAIN
            )
        root_start, root_size = _ENDCHAIN, 0
        wb_start, wb_size = data_start, len(stream)
        first_minifat, n_minifat_sectors = _ENDCHAIN, 0
        minifat = None
        data_sectors = padded

    def dirent(name: str, obj_type: int, start: int, size: int) -> bytes:
        nm = name.encode("utf-16-le")
        ent = nm + b"\x00" * (64 - len(nm))
        ent += struct.pack("<H", len(nm) + 2)
        ent += struct.pack("<BB", obj_type, 1)  # type, black
        ent += struct.pack("<iii", -1, -1, 1 if obj_type == 5 else -1)
        ent += b"\x00" * 16  # CLSID
        ent += b"\x00" * 4  # state
        ent += b"\x00" * 16  # times
        ent += struct.pack("<I", start)
        ent += struct.pack("<Q", size)
        return ent

    directory = dirent("Root Entry", 5, root_start, root_size)
    directory += dirent("Workbook", 2, wb_start, wb_size)
    directory += b"\x00" * (ssz - len(directory))

    difat = [0] + ([i for i in range(1, n_fat)] if n_fat > 1 else [])
    difat += [_FREE] * (109 - len(difat))

    header = _CFB_MAGIC
    header += b"\x00" * 16  # CLSID
    header += struct.pack("<HH", 0x003E, 0x0003)  # minor, major(3 → 512B)
    header += struct.pack("<H", 0xFFFE)  # little-endian
    header += struct.pack("<HH", 9, 6)  # sector/mini shifts
    header += b"\x00" * 6
    header += struct.pack("<I", 0)  # directory sector count (v3: 0)
    header += struct.pack("<I", n_fat)
    header += struct.pack("<I", dir_sec)
    header += struct.pack("<I", 0)  # transaction
    header += struct.pack("<I", 4096)  # mini cutoff
    header += struct.pack("<I", first_minifat)
    header += struct.pack("<I", n_minifat_sectors)
    header += struct.pack("<I", _ENDCHAIN)  # first DIFAT sector
    header += struct.pack("<I", 0)  # DIFAT sector count
    header += struct.pack("<109I", *difat)
    assert len(header) == 512

    fat_bytes = struct.pack(f"<{len(fat)}I", *fat)
    return header + fat_bytes + directory + data_sectors


def write_xls(rows: list[list], sst_split_every: int | None = None) -> bytes:
    """Rows (None/str/int/float/bool cells) → minimal BIFF8 ``.xls``
    bytes. ``sst_split_every`` forces the shared-string table to span
    CONTINUE records every N strings (tests the continuation path)."""
    return _cfb_wrap(_workbook_stream(rows, sst_split_every))
