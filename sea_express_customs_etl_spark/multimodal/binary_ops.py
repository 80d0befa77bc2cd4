"""Multimodal columns: opaque ``binary`` payloads + typed metadata.

Design for the 100 TB pipeline: media bytes live in a BinaryType column
(or out-of-line object-store keys), metadata in sibling typed columns;
decode / feature-extraction / frame-sampling run as Arrow-batched
``mapInPandas`` stages so each Python worker touches a columnar batch
of byte strings, never row-at-a-time.

Decode story, honestly split by what this container can do:

* **Raw netpbm rasters (P6 PPM / P5 PGM)** — a real public format
  (ffmpeg's ``-vcodec ppm`` pipe output) that needs no codec library:
  ``decode_images`` parses headers+pixels with numpy for real, and
  ``resize_images`` / ``extract_ppm_frames`` do real nearest-neighbor
  resampling and frame splitting on the pixel data.
* **Compressed formats (png/jpeg/…)** — need Pillow, absent here:
  such rows surface ``decode_error`` (per-row containment, the only
  scale-safe behavior) rather than failing the stage; with Pillow
  installed the same kernel decodes them.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

try:  # optional codec dependency
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

#: magic-byte prefixes → declared format
_MAGIC = (
    (b"\x89PNG\r\n\x1a\n", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"RIFF", "wav"),
    (b"GIF8", "gif"),
    (b"\x00\x00\x00", "mp4"),
    (b"P6", "ppm"),
    (b"P5", "pgm"),
)


def _parse_pnm_header(buf: bytes) -> tuple[str, int, int, int, int]:
    """netpbm header → (kind, width, height, maxval, data_offset).
    Handles the spec's whitespace and ``#`` comments."""
    if buf[:2] not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM")
    kind = buf[:2].decode()
    pos, fields = 2, []
    n = len(buf)
    while len(fields) < 3:
        while pos < n and buf[pos : pos + 1].isspace():
            pos += 1
        if pos < n and buf[pos : pos + 1] == b"#":  # comment to EOL
            while pos < n and buf[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < n and not buf[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PNM header")
        fields.append(int(buf[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    return kind, w, h, maxval, pos


def decode_pnm(buf: bytes) -> tuple["np.ndarray", int]:
    """P6/P5 bytes → (H, W, C) uint8 array + total bytes consumed.
    Real decoding — no codec library involved."""
    kind, w, h, maxval, off = _parse_pnm_header(buf)
    if maxval > 255:
        raise ValueError("16-bit PNM unsupported")
    ch = 3 if kind == "P6" else 1
    need = w * h * ch
    pixels = np.frombuffer(buf, dtype=np.uint8, count=need, offset=off)
    return pixels.reshape(h, w, ch), off + need


def encode_ppm(arr: "np.ndarray") -> bytes:
    h, w, ch = arr.shape
    kind = b"P6" if ch == 3 else b"P5"
    return kind + f"\n{w} {h}\n255\n".encode() + arr.astype(np.uint8).tobytes()


_DECODE_SCHEMA = (
    "media_id long, media_format string, width int, height int, "
    "n_channels int, mean_luma double, decode_error string"
)


def decode_images(
    df: DataFrame, binary_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """Image decode → dimensions + mean luma. PPM/PGM decode natively
    (numpy); compressed formats decode when Pillow is present and
    otherwise surface ``decode_error`` per row — a bad or unsupported
    payload never fails the stage (the only viable semantics when one
    task holds thousands of files)."""

    def one(content: bytes) -> tuple:
        try:
            if content[:2] in (b"P6", b"P5"):
                arr, _ = decode_pnm(content)
            elif _HAS_PIL:
                import io as _io

                from PIL import Image as _Image

                with _Image.open(_io.BytesIO(bytes(content))) as im:
                    arr = np.asarray(im.convert("RGB"))
            else:
                return (None, None, None, None, "no codec for format")
            if arr.shape[2] == 3:
                luma = (
                    0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
                ).mean()
            else:
                luma = float(arr.mean())
            h, w, ch = arr.shape
            return (w, h, ch, round(float(luma), 4), None)
        except Exception as e:
            return (None, None, None, None, str(e)[:200])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, out = [], []
            for content in pdf[binary_col]:
                b = bytes(content)
                fmt = next(
                    (name for magic, name in _MAGIC if b.startswith(magic)),
                    "unknown",
                )
                fmts.append(fmt)
                out.append(one(b))
            w, h, ch, luma, err = (list(x) for x in zip(*out)) if out else ([],) * 5
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "media_format": fmts,
                    "width": pd.array(w, dtype="Int32"),
                    "height": pd.array(h, dtype="Int32"),
                    "n_channels": pd.array(ch, dtype="Int32"),
                    "mean_luma": pd.array(luma, dtype="Float64"),
                    "decode_error": err,
                }
            )

    return df.select(id_col, binary_col).mapInPandas(kernel, _DECODE_SCHEMA)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    binary_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Real nearest-neighbor resize of PPM/PGM payloads (numpy index
    sampling), re-encoded as PPM. Undecodable rows pass through with
    NULL payload + ``resize_error``."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, errs = [], []
            for content in pdf[binary_col]:
                try:
                    arr, _ = decode_pnm(bytes(content))
                    h0, w0, _c = arr.shape
                    yi = (np.arange(height) * h0 // height).clip(0, h0 - 1)
                    xi = (np.arange(width) * w0 // width).clip(0, w0 - 1)
                    payloads.append(encode_ppm(arr[yi[:, None], xi[None, :]]))
                    errs.append(None)
                except Exception as e:
                    payloads.append(None)
                    errs.append(str(e)[:200])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": payloads,
                    "width": width,
                    "height": height,
                    "resize_error": errs,
                }
            )

    return df.select(id_col, binary_col).mapInPandas(
        kernel,
        f"{id_col} long, payload binary, width int, height int, resize_error string",
    )


def extract_ppm_frames(
    df: DataFrame,
    every_n: int = 1,
    binary_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Frame extraction from a concatenated-PPM stream (what
    ``ffmpeg -f image2pipe -vcodec ppm`` emits): split the byte stream
    into frames, keep every ``every_n``-th, one output row per kept
    frame. Real parsing; corrupt tails stop the frame walk for that
    row only."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, content in zip(pdf[id_col], pdf[binary_col]):
                buf = bytes(content)
                pos = frame_no = 0
                while pos < len(buf):
                    try:
                        arr, consumed = decode_pnm(buf[pos:])
                    except Exception:
                        break  # corrupt tail: keep frames seen so far
                    if frame_no % every_n == 0:
                        ids.append(mid)
                        idxs.append(frame_no)
                        frames.append(buf[pos : pos + consumed])
                    pos += consumed
                    frame_no += 1
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "frame": frames}
            )

    return df.select(id_col, binary_col).mapInPandas(
        kernel, f"{id_col} long, frame_idx int, frame binary"
    )


def synth_pgm_payloads(
    ids: DataFrame, id_col: str = "media_id", corrupt_every: int = 29
) -> DataFrame:
    """Deterministic P5 (PGM) payload per id — the ENCODE direction of
    the netpbm path, used to oracle-check the decode direction from
    raw bytes: width = 4 + id%13, height = 4 + id%11, pixel(i, j) =
    (3·id + 5·i + 7·j) mod 251. Every ``corrupt_every``-th id gets a
    non-image payload instead (magic b"JUNKDATA"), exercising the
    per-row decode-error containment. A SQL oracle recomputes the
    analytic pixel sum from the same closed form, so the full
    bytes → header parse → numpy decode → luma chain is hash-checked.

    Arrow-batched ``mapInPandas``, vectorized per image (numpy index
    grids); output: (id, payload binary).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                mid = int(mid)
                if corrupt_every and mid % corrupt_every == 0:
                    payloads.append(b"JUNKDATA")
                    continue
                w, h = 4 + mid % 13, 4 + mid % 11
                i = np.arange(h)[:, None]
                j = np.arange(w)[None, :]
                arr = ((3 * mid + 5 * i + 7 * j) % 251).astype(np.uint8)
                payloads.append(encode_ppm(arr[:, :, None]))
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return ids.select(id_col).mapInPandas(
        kernel, f"{id_col} long, payload binary"
    )


def synth_video_payloads(
    ids: DataFrame,
    n_frames: int = 5,
    id_col: str = "media_id",
) -> DataFrame:
    """Deterministic concatenated-PGM frame stream per id (the
    ``ffmpeg image2pipe`` shape ``extract_ppm_frames`` consumes):
    ``n_frames`` frames of w = 4 + id%7, h = 4 + id%5, pixel(f, i, j) =
    (3·id + 11·f + 5·i + 7·j) mod 251 — frame index folded into the
    same closed form the SQL oracle recomputes. Output: (id, payload).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = 4 + mid % 7, 4 + mid % 5
                i = np.arange(h)[:, None]
                j = np.arange(w)[None, :]
                chunks = []
                for f in range(n_frames):
                    arr = ((3 * mid + 11 * f + 5 * i + 7 * j) % 251).astype(
                        np.uint8
                    )
                    chunks.append(encode_ppm(arr[:, :, None]))
                payloads.append(b"".join(chunks))
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return ids.select(id_col).mapInPandas(
        kernel, f"{id_col} long, payload binary"
    )


def synth_wav_payloads(
    ids: DataFrame,
    n_samples: int = 400,
    sample_rate: int = 8000,
    id_col: str = "media_id",
) -> DataFrame:
    """Deterministic 16-bit mono PCM WAV per id — a REAL RIFF/WAVE
    container (fmt + data chunks) holding the closed-form sawtooth
    ``sample(k) = ((id·13 + k·7) mod 65536) − 32768`` the SQL oracle
    recomputes analytically. WAV-PCM needs no codec library in either
    direction — it is the one mainstream audio format a stdlib+numpy
    engine can decode for real."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                mid = int(mid)
                k = np.arange(n_samples, dtype=np.int64)
                samples = ((mid * 13 + k * 7) % 65536 - 32768).astype("<i2")
                data = samples.tobytes()
                byte_rate = sample_rate * 2
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(data))
                    + b"WAVEfmt "
                    + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                                  byte_rate, 2, 16)
                    + b"data"
                    + struct.pack("<I", len(data))
                )
                payloads.append(hdr + data)
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return ids.select(id_col).mapInPandas(
        kernel, f"{id_col} long, payload binary"
    )


_WAV_SCHEMA = (
    "media_id long, sample_rate int, n_channels int, bits int, "
    "n_samples int, duration_ms bigint, abs_sum bigint, decode_error string"
)


def _parse_wav(buf: bytes) -> tuple[int, int, int, "np.ndarray"]:
    """RIFF chunk walk (fmt then data, skipping unknown chunks per
    spec, word-aligned) → (rate, n_channels, bits, int samples).
    Raises on malformed/unsupported input — callers contain per row."""
    import struct

    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (clen,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        body = buf[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing chunk")
    audio_fmt, n_ch, rate, _br, _ba, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16):
        raise ValueError(f"unsupported fmt {audio_fmt}/{bits}")
    dt = np.dtype("<i2") if bits == 16 else np.dtype("u1")
    samples = np.frombuffer(data, dtype=dt)
    if bits == 8:
        samples = samples.astype(np.int64) - 128
    return rate, n_ch, bits, samples


def decode_wav(
    df: DataFrame, binary_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """REAL WAV/PCM decode — RIFF chunk walk (fmt then data, skipping
    unknown chunks per spec), int16/int8 PCM sample extraction — no
    codec library. Output per row: format fields, exact sample count,
    floor-division duration in ms, and the exact integer sum of
    absolute sample values (the loudness surrogate that stays
    hash-portable where a float RMS would not). Non-WAV or truncated
    payloads surface ``decode_error`` per row, never fail the stage."""

    def one(buf: bytes) -> tuple:
        try:
            rate, n_ch, bits, samples = _parse_wav(buf)
            n = len(samples) // n_ch
            dur_ms = (n * 1000) // rate
            abs_sum = int(np.abs(samples.astype(np.int64)).sum())
            return (rate, n_ch, bits, n, dur_ms, abs_sum, None)
        except Exception as e:
            return (None, None, None, None, None, None, str(e)[:200])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [one(bytes(c)) for c in pdf[binary_col]]
            rate, ch, bits, n, dur, s, err = (
                (list(x) for x in zip(*out)) if out else ([],) * 7
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "sample_rate": pd.array(rate, dtype="Int32"),
                    "n_channels": pd.array(ch, dtype="Int32"),
                    "bits": pd.array(bits, dtype="Int32"),
                    "n_samples": pd.array(n, dtype="Int32"),
                    "duration_ms": pd.array(dur, dtype="Int64"),
                    "abs_sum": pd.array(s, dtype="Int64"),
                    "decode_error": err,
                }
            )

    return df.select(id_col, binary_col).mapInPandas(kernel, _WAV_SCHEMA)


def _per_payload(
    df: DataFrame,
    one: Callable[[bytes], tuple],
    cols: tuple[str, ...],
    binary_col: str,
    id_col: str,
) -> DataFrame:
    """Arrow-batched ``mapInPandas`` of a fingerprint kernel:
    ``one(payload)`` returns one tuple per row — the bigint values of
    ``cols[:-1]`` and, last, the ``cols[-1]`` error string (NULL values
    with it, so a bad payload is contained to its row). Map-only: the
    decode cost IS the operator; downstream dedup touches only the
    (id, fingerprint) rows. Output: id, *cols."""
    *vals, err = cols

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [one(bytes(c)) for c in pdf[binary_col]]
            cols_out = [list(x) for x in zip(*out)] if out else [[]] * len(cols)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    **{
                        c: pd.array(v, dtype="Int64")
                        for c, v in zip(vals, cols_out)
                    },
                    err: cols_out[-1],
                }
            )

    schema = ", ".join(
        [f"{id_col} long", *(f"{c} long" for c in vals), f"{err} string"]
    )
    return df.select(id_col, binary_col).mapInPandas(kernel, schema)


# --------------------------------------------------------------------------
# perceptual image dedup: average-hash (aHash) over REAL decoded pixels
# — the multimodal × dedup crossover a training-data pipeline runs to
# drop re-encoded/brightness-shifted duplicate images. All arithmetic
# is integer (index-sampled downscale, strict sum comparison), so the
# hashes themselves hash-match an analytic SQL oracle.
# --------------------------------------------------------------------------


def synth_pgm_near_dups(
    ids: DataFrame,
    id_col: str = "media_id",
    every: int = 10,
    offset: int = 100_000,
) -> DataFrame:
    """The near-dup fixture for the perceptual-hash path: every id
    gets a deterministic PGM whose gradient and curvature COEFFICIENTS
    depend on the id — ``w = 16 + id%13``, ``h = 16 + id%11``,
    ``pixel(i, j) = (3·id + (5 + id%7)·i + (7 + id%5)·j
    + (1 + id%11)·i·j) mod 251`` — so different ids produce
    structurally different bit patterns (a pure constant-offset family
    would be a degenerate fixture: aHash is brightness-shift
    invariant, everything would near-dup everything). Every
    ``every``-th id ALSO emits a
    brightness-perturbed copy under ``id + offset`` (every pixel +1
    mod 251) — visually identical, not byte-identical: exactly what a
    hash-of-bytes dedup misses and a perceptual hash must catch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, payloads = [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = 16 + mid % 13, 16 + mid % 11
                i = np.arange(h)[:, None]
                j = np.arange(w)[None, :]
                arr = (
                    (
                        3 * mid
                        + (5 + mid % 7) * i
                        + (7 + mid % 5) * j
                        + (1 + mid % 11) * i * j
                    )
                    % 251
                ).astype(np.uint8)
                out_ids.append(mid)
                payloads.append(encode_ppm(arr[:, :, None]))
                if every and mid % every == 0:
                    out_ids.append(mid + offset)
                    payloads.append(
                        encode_ppm((((arr.astype(np.int64)) + 1) % 251)
                                   .astype(np.uint8)[:, :, None])
                    )
            yield pd.DataFrame({id_col: out_ids, "payload": payloads})

    return ids.select(id_col).mapInPandas(
        kernel, f"{id_col} long, payload binary"
    )


def image_ahash(
    df: DataFrame, binary_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """64-bit average hash from REAL PNM decode: nearest-neighbor
    index-sample an 8×8 grid (``row k → k·h//8`` — pure integer, so
    any engine replays it), gray = channel 0 (PGM) or integer
    ``(r+g+b)//3`` (PPM), bit_k = 1 iff ``p_k·64 > Σp`` (strict,
    division-free). The hash ships as TWO 32-bit words (ahash_hi bits
    63..32, ahash_lo bits 31..0) — no int64 sign games in either
    engine. Undecodable rows surface ``ahash_error`` per row
    (:func:`_per_payload`)."""

    def one(content: bytes) -> tuple:
        try:
            arr, _ = decode_pnm(content)
            gray = (
                arr[:, :, 0].astype(np.int64)
                if arr.shape[2] == 1
                else arr.astype(np.int64).sum(axis=2) // 3
            )
            h, w = gray.shape
            yi = np.arange(8) * h // 8
            xi = np.arange(8) * w // 8
            s = gray[yi[:, None], xi[None, :]]
            total = int(s.sum())
            bits = (s * 64 > total).astype(np.int64).ravel()  # k = i*8 + j
            hi = int((bits[32:] << np.arange(32)).sum())
            lo = int((bits[:32] << np.arange(32)).sum())
            return (hi, lo, None)
        except Exception as e:
            return (None, None, str(e)[:200])

    return _per_payload(
        df, one, ("ahash_hi", "ahash_lo", "ahash_error"), binary_col, id_col
    )


# --------------------------------------------------------------------------
# perceptual audio dedup: energy-difference fingerprint (Haitsma-
# Kalker shape, integer-exact) over REAL WAV decode — the audio
# sibling of image_ahash: catches re-mastered/attenuated duplicates a
# byte-digest misses.
# --------------------------------------------------------------------------


def synth_wav_near_dups(
    ids: DataFrame,
    n_samples: int = 512,
    sample_rate: int = 8000,
    id_col: str = "media_id",
    every: int = 10,
    offset: int = 100_000,
) -> DataFrame:
    """Near-dup WAV fixture: per id a REAL 16-bit mono PCM container
    holding ``v(k) = ((g+k)²·(g+2k+1) mod 65536) − 32768`` — the
    id-mixing makes energy profiles structurally distinct across ids
    (a linear sawtooth family is degenerate for a DIFFERENTIAL
    fingerprint: every window carries the same energy). Every
    ``every``-th id also emits an ATTENUATED copy under ``id +
    offset``: magnitude scaled to ``m − m·//64`` (≈ −1.6%), sign kept —
    audibly identical, byte-distinct."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def container(samples: "np.ndarray") -> bytes:
            data = samples.astype("<i2").tobytes()
            return (
                b"RIFF"
                + struct.pack("<I", 36 + len(data))
                + b"WAVEfmt "
                + struct.pack(
                    "<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
                )
                + b"data"
                + struct.pack("<I", len(data))
                + data
            )

        for pdf in batches:
            out_ids, payloads = [], []
            for mid in pdf[id_col]:
                g = int(mid)
                k = np.arange(n_samples, dtype=np.int64)
                v = ((g + k) * (g + k) * (g + 2 * k + 1)) % 65536 - 32768
                out_ids.append(g)
                payloads.append(container(v))
                if every and g % every == 0:
                    m = np.abs(v)
                    att = np.sign(v) * (m - m // 64)
                    out_ids.append(g + offset)
                    payloads.append(container(att))
            yield pd.DataFrame({id_col: out_ids, "payload": payloads})

    return ids.select(id_col).mapInPandas(
        kernel, f"{id_col} long, payload binary"
    )


def audio_fingerprint(
    df: DataFrame,
    binary_col: str = "payload",
    id_col: str = "media_id",
    n_windows: int = 32,
    win: int = 16,
) -> DataFrame:
    """31-bit energy-difference fingerprint from REAL WAV decode:
    window ``w`` energy ``E_w = Σ|sample|`` over ``win`` samples,
    ``bit_w = 1 iff E_{w+1} > E_w`` (w = 0..n_windows−2) — the
    differential coding that makes the fingerprint invariant to
    uniform attenuation (both sides of every comparison scale
    together). Pure integers end-to-end → hash-portable. Short or
    malformed payloads surface ``fp_error`` per row
    (:func:`_per_payload`)."""
    need = n_windows * win

    def one(buf: bytes) -> tuple:
        try:
            _rate, n_ch, _bits, samples = _parse_wav(buf)
            if n_ch != 1:
                return (None, "multichannel unsupported")
            if len(samples) < need:
                return (None, f"need {need} samples, got {len(samples)}")
            m = np.abs(samples[:need].astype(np.int64))
            e = m.reshape(n_windows, win).sum(axis=1)
            bits = (e[1:] > e[:-1]).astype(np.int64)
            return (int((bits << np.arange(n_windows - 1)).sum()), None)
        except Exception as exc:
            return (None, str(exc)[:200])

    return _per_payload(df, one, ("fp", "fp_error"), binary_col, id_col)


def synth_video_scenes(
    ids: DataFrame,
    n_frames: int = 6,
    cut_at: int = 3,
    id_col: str = "media_id",
) -> DataFrame:
    """Deterministic frame stream WITH scene changes: frames below
    ``cut_at`` use gradient coefficients (5, 7); from ``cut_at`` on,
    ids divisible by 3 switch to (13, 17) — a real structural change
    (FIXTURES.md rule: vary structure, not a constant offset, so
    difference-based detectors see it) while the other ids stay
    continuous. pixel(f, i, j) = (3·id + 11·f + a·i + b·j) mod 251,
    w = 4 + id%7, h = 4 + id%5 — the same closed form the SQL oracle
    replays."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = 4 + mid % 7, 4 + mid % 5
                i = np.arange(h)[:, None]
                j = np.arange(w)[None, :]
                chunks = []
                for f in range(n_frames):
                    a, b = (
                        (13, 17)
                        if f >= cut_at and mid % 3 == 0
                        else (5, 7)
                    )
                    arr = (
                        (3 * mid + 11 * f + a * i + b * j) % 251
                    ).astype(np.uint8)
                    chunks.append(encode_ppm(arr[:, :, None]))
                payloads.append(b"".join(chunks))
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return ids.select(id_col).mapInPandas(
        kernel, f"{id_col} long, payload binary"
    )


def video_scene_sads(
    df: DataFrame,
    binary_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Scene-change signal from a concatenated-PPM stream: REAL frame
    decode, then the sum of absolute pixel differences (SAD) between
    each consecutive frame pair — the classic cut detector. Output:
    (id, frame_idx of the LATER frame, sad bigint, n_px int).

    Stream-local by construction: consecutive frames live in the same
    payload row, so the whole computation is one Arrow ``mapInPandas``
    pass — no join, no shuffle; corrupt tails stop the walk for that
    row only (frames seen so far still pair up). At 100 TB this is the
    map-only decode shape (the scan IS the cost), like
    ``image_decode_stats``."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sads, npx = [], [], [], []
            for mid, content in zip(pdf[id_col], pdf[binary_col]):
                buf = bytes(content)
                pos = frame_no = 0
                prev = None
                while pos < len(buf):
                    try:
                        arr, consumed = decode_pnm(buf[pos:])
                    except Exception:
                        break
                    cur = arr.astype(np.int64)
                    if prev is not None and prev.shape == cur.shape:
                        ids.append(mid)
                        idxs.append(frame_no)
                        sads.append(int(np.abs(cur - prev).sum()))
                        npx.append(int(cur.shape[0] * cur.shape[1]))
                    prev = cur
                    pos += consumed
                    frame_no += 1
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "frame_idx": idxs,
                    "sad": sads,
                    "n_px": npx,
                }
            )

    return df.select(id_col, binary_col).mapInPandas(
        kernel, f"{id_col} long, frame_idx int, sad long, n_px int"
    )


def synth_video_near_dups(
    ids: DataFrame,
    n_frames: int = 33,
    id_col: str = "media_id",
    every: int = 10,
    offset: int = 100_000,
) -> DataFrame:
    """Near-dup video fixture (completes the image/audio/video
    perceptual trio): per id a concatenated-PGM frame stream whose
    TEMPORAL luminance trajectory is id-mixed through a double
    modulus — ``pixel(f, i, j) = (((g+f)²·(g+2f+1)) mod 65536
    + 5i + 7j) mod 251``, w = 4+g%7, h = 4+g%5. The inner mod-65536
    breaks the mod-251 polynomial aliasing (a single-modulus driver
    makes ids ≡ (mod 251) fingerprint-collide — measured 6k
    accidental pairs vs 24 with the double mod; the FIXTURES.md
    structure-not-offset rule applied to TIME). Every ``every``-th id
    also emits a brightness-perturbed re-encode under ``id + offset``
    (every pixel +1 mod 251): the same footage, byte-distinct —
    what a content-digest dedup misses and the ordinal temporal
    fingerprint catches."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def frames(g: int, dd: int) -> bytes:
            h, w = 4 + g % 5, 4 + g % 7
            f = np.arange(n_frames, dtype=np.int64)[:, None, None]
            i = np.arange(h, dtype=np.int64)[None, :, None]
            j = np.arange(w, dtype=np.int64)[None, None, :]
            base = ((g + f) * (g + f) * (g + 2 * f + 1)) % 65536
            px = ((base + 5 * i + 7 * j + dd) % 251).astype(np.uint8)
            return b"".join(
                encode_ppm(px[k][:, :, None]) for k in range(n_frames)
            )

        for pdf in batches:
            out_ids, payloads = [], []
            for mid in pdf[id_col]:
                g = int(mid)
                out_ids.append(g)
                payloads.append(frames(g, 0))
                if every and g % every == 0:
                    out_ids.append(g + offset)
                    payloads.append(frames(g, 1))
            yield pd.DataFrame({id_col: out_ids, "payload": payloads})

    return ids.select(id_col).mapInPandas(
        kernel, f"{id_col} long, payload binary"
    )


def video_fingerprint(
    df: DataFrame,
    binary_col: str = "payload",
    id_col: str = "media_id",
    n_frames: int = 33,
) -> DataFrame:
    """(n_frames−1)-bit temporal-ordinal fingerprint from REAL frame
    decode: per-frame luminance sum S_f, ``bit_f = 1 iff S_{f+1} >
    S_f`` — the ordinal coding that is invariant to uniform brightness
    shifts (both sides of every comparison move together; pixels that
    wrap at the 251 modulus can flip a near-tie bit, which the banded
    ≤3-hamming verify absorbs — the audio attenuation contract).
    Short/malformed payloads surface ``fp_error`` per row
    (:func:`_per_payload`)."""

    def one(buf: bytes) -> tuple:
        try:
            pos, sums = 0, []
            while pos < len(buf) and len(sums) < n_frames:
                arr, consumed = decode_pnm(buf[pos:])
                sums.append(int(arr.astype(np.int64).sum()))
                pos += consumed
            if len(sums) < n_frames:
                return (None, f"need {n_frames} frames, got {len(sums)}")
            e = np.asarray(sums, dtype=np.int64)
            bits = (e[1:] > e[:-1]).astype(np.int64)
            return (int((bits << np.arange(n_frames - 1)).sum()), None)
        except Exception as exc:
            return (None, str(exc)[:200])

    return _per_payload(df, one, ("fp", "fp_error"), binary_col, id_col)


# --------------------------------------------------------------------------
# audio segmentation: silence-span detection over REAL decoded PCM —
# the VAD-shaped preprocessing a speech-data pipeline runs before
# transcription (split on silence, drop dead air). Window energies are
# exact integer |sample| sums, so decode → energy → span merge is
# hash-checkable end-to-end against an analytic closed form.
# --------------------------------------------------------------------------


def synth_wav_silence(
    ids: DataFrame,
    n_samples: int = 400,
    window_samples: int = 50,
    sample_rate: int = 8000,
    id_col: str = "media_id",
) -> DataFrame:
    """Deterministic PCM WAV per id with PLANTED per-id silence
    layout (the FIXTURES.md vary-structure rule — every id gets its
    own span geometry, nothing degenerate): with W = n/window windows,
    window ``w`` is silent iff

        (id·7 + w) mod W  <  2 + (id mod 3)

    — a contiguous run of 2-4 silent windows in circular window space,
    so some ids wrap around the clip edge and exercise the
    NOT-merged-across-the-gap case. Silent windows are all-zero
    samples; loud windows carry the sawtooth
    ``((id·13 + k·7) mod 65536) − 32768`` (never 50 consecutive
    zeros — adjacent samples differ by 7). The SQL oracle recomputes
    the silent set from the same closed form."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        n_windows = n_samples // window_samples
        for pdf in batches:
            payloads = []
            for mid in pdf[id_col]:
                mid = int(mid)
                k = np.arange(n_samples, dtype=np.int64)
                samples = ((mid * 13 + k * 7) % 65536 - 32768).astype(
                    np.int64
                )
                w = k // window_samples
                run = 2 + mid % 3
                silent = (mid * 7 + w) % n_windows < run
                samples[silent] = 0
                data = samples.astype("<i2").tobytes()
                byte_rate = sample_rate * 2
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(data))
                    + b"WAVEfmt "
                    + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                                  byte_rate, 2, 16)
                    + b"data"
                    + struct.pack("<I", len(data))
                )
                payloads.append(hdr + data)
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return ids.select(id_col).mapInPandas(
        kernel, f"{id_col} long, payload binary"
    )


def wav_window_energy(
    df: DataFrame,
    window_samples: int = 50,
    binary_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-window exact integer energy (Σ|sample|) over REAL decoded
    PCM — one stream-local Arrow pass, no shuffle (the video_scene_sads
    shape). Only FULL windows are emitted (the winnowing full-window
    discipline). Corrupt payloads surface as one (win NULL,
    decode_error) row — contained per row, never failing the stage."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_out: list[int] = []
            wins: list[int | None] = []
            energies: list[int | None] = []
            errs: list[str | None] = []
            for mid, buf in zip(pdf[id_col], pdf[binary_col]):
                try:
                    _rate, n_ch, _bits, samples = _parse_wav(bytes(buf))
                    if n_ch != 1:
                        raise ValueError("multichannel")
                    n_full = len(samples) // window_samples
                    a = (
                        np.abs(samples[: n_full * window_samples]
                               .astype(np.int64))
                        .reshape(n_full, window_samples)
                        .sum(axis=1)
                    )
                    for w in range(n_full):
                        ids_out.append(int(mid))
                        wins.append(w)
                        energies.append(int(a[w]))
                        errs.append(None)
                except Exception as e:  # noqa: BLE001 — per-row containment
                    ids_out.append(int(mid))
                    wins.append(None)
                    energies.append(None)
                    errs.append(str(e)[:200])
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids_out, dtype="Int64"),
                    "win": pd.array(wins, dtype="Int32"),
                    "energy": pd.array(energies, dtype="Int64"),
                    "decode_error": errs,
                }
            )

    return df.select(id_col, binary_col).mapInPandas(
        kernel, f"{id_col} long, win int, energy bigint, decode_error string"
    )


def silence_spans(
    energy: DataFrame,
    threshold: int = 0,
    id_col: str = "media_id",
) -> DataFrame:
    """Merge consecutive silent windows (energy ≤ threshold) into
    spans — the gaps-and-islands grouping (win − row_number is
    constant within a run), per media id. The window partitions BY
    MEDIA — clip-bounded state, distributed across clips. Output:
    id, start_win, end_win, n_windows."""
    from pyspark.sql import Window as W

    silent = energy.filter(
        F.col("decode_error").isNull() & (F.col("energy") <= threshold)
    )
    grp = (
        F.col("win")
        - F.row_number().over(W.partitionBy(id_col).orderBy("win"))
    ).alias("_g")
    return (
        silent.select(id_col, "win", grp)
        .groupBy(id_col, "_g")
        .agg(
            F.min("win").alias("start_win"),
            F.max("win").alias("end_win"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        )
        .select(id_col, "start_win", "end_win", "n_windows")
    )
