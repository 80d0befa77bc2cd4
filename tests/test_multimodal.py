"""Multimodal tests: REAL PPM/PGM decode + resize + frame extraction,
per-row containment of undecodable payloads, and the perceptual
fingerprints with their planted-copy recall through ``hamming_pairs``."""

from __future__ import annotations

import numpy as np

from sea_express_customs_etl_spark.multimodal import decode_images
from sea_express_customs_etl_spark.multimodal.binary_ops import (
    decode_pnm,
    encode_ppm,
    extract_ppm_frames,
    resize_images,
)


def _ppm(w, h, value=None):
    """Deterministic gradient P6 image (or constant when value set)."""
    arr = np.zeros((h, w, 3), dtype=np.uint8)
    if value is None:
        for y in range(h):
            for x in range(w):
                arr[y, x] = ((x * 7) % 256, (y * 11) % 256, ((x + y) * 3) % 256)
    else:
        arr[:, :] = value
    return encode_ppm(arr)


def _media(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\n" + b"x" * 10),
        (2, b"\xff\xd8\xff\xe0" + b"y" * 5),
        (3, b"RIFFxxxxWAVE"),
        (4, b"garbage-bytes"),
        (5, _ppm(6, 4)),
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_decode_images_real_pnm_and_containment(spark):
    """PPM rows decode for real (dims + luma); compressed formats
    without a codec and garbage rows surface decode_error per row —
    the stage never fails."""
    got = {r.media_id: r for r in decode_images(_media(spark)).collect()}
    ok = got[5]
    assert (ok.width, ok.height, ok.n_channels) == (6, 4, 3)
    arr, _ = decode_pnm(_ppm(6, 4))
    expect = (
        0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
    ).mean()
    assert abs(ok.mean_luma - expect) < 1e-3
    assert ok.decode_error is None
    for mid in (1, 2, 4):  # png/jpeg need Pillow (absent); garbage is garbage
        assert got[mid].width is None and got[mid].decode_error is not None


def test_decode_constant_image_luma(spark):
    df = spark.createDataFrame(
        [(9, _ppm(3, 3, value=(255, 0, 0)))], "media_id long, payload binary"
    )
    r = decode_images(df).collect()[0]
    assert abs(r.mean_luma - 0.299 * 255) < 0.05  # pure red → R-weight luma


def test_resize_images_nearest_neighbor(spark):
    df = spark.createDataFrame(
        [(1, _ppm(8, 8)), (2, b"not an image")], "media_id long, payload binary"
    )
    got = {r.media_id: r for r in resize_images(df, width=4, height=2).collect()}
    out = got[1]
    assert out.resize_error is None
    arr, _ = decode_pnm(bytes(out.payload))
    assert arr.shape == (2, 4, 3)
    src, _ = decode_pnm(_ppm(8, 8))
    # nearest-neighbor: output pixel (0,0) is source pixel (0,0)
    assert (arr[0, 0] == src[0, 0]).all()
    assert got[2].payload is None and got[2].resize_error is not None


def test_extract_ppm_frames_stream(spark):
    """Concatenated-PPM 'video' (the ffmpeg image2pipe shape): every
    2nd frame extracted; a corrupt tail keeps earlier frames."""
    frames = [_ppm(4, 3, value=(i, i, i)) for i in range(5)]
    stream = b"".join(frames)
    df = spark.createDataFrame(
        [(1, stream), (2, stream + b"P6 corrupt")],
        "media_id long, payload binary",
    )
    got: dict[int, list] = {}
    for r in extract_ppm_frames(df, every_n=2).collect():
        got.setdefault(r.media_id, []).append((r.frame_idx, bytes(r.frame)))
    for mid in (1, 2):
        idxs = sorted(i for i, _ in got[mid])
        assert idxs == [0, 2, 4]
        by_idx = dict(got[mid])
        arr, _ = decode_pnm(by_idx[4])
        assert (arr == 4).all()  # frame 4 carries its constant value


def test_synth_pgm_roundtrip_and_corruption(spark):
    """Encode direction matches the closed form through the REAL
    decode kernel; the corrupt id is contained per-row."""
    from sea_express_customs_etl_spark.multimodal.binary_ops import (
        decode_images,
        synth_pgm_payloads,
    )

    ids = spark.createDataFrame([(3,), (29,), (7,)], "media_id long")
    got = {
        r.media_id: r
        for r in decode_images(synth_pgm_payloads(ids)).collect()
    }
    r3 = got[3]
    assert (r3.width, r3.height) == (4 + 3 % 13, 4 + 3 % 11)
    assert r3.media_format == "pgm" and r3.decode_error is None
    w, h = r3.width, r3.height
    s = sum((3 * 3 + 5 * i + 7 * j) % 251 for i in range(h) for j in range(w))
    assert round(r3.mean_luma * w * h) == s
    bad = got[29]
    assert bad.media_format == "unknown" and bad.width is None
    assert bad.decode_error == "no codec for format"


def test_decode_wav_roundtrip_and_chunk_skip(spark):
    """Real RIFF walk: decodes the synthesized container, skips
    unknown chunks (LIST before data), handles 8-bit PCM, contains
    truncated payloads per-row."""
    import struct

    import numpy as np

    from sea_express_customs_etl_spark.multimodal.binary_ops import (
        decode_wav,
        synth_wav_payloads,
    )

    ids = spark.createDataFrame([(5,)], "media_id long")
    r = decode_wav(synth_wav_payloads(ids, n_samples=100)).collect()[0]
    k = np.arange(100)
    expect = int(np.abs((5 * 13 + k * 7) % 65536 - 32768).sum())
    assert (r.sample_rate, r.n_channels, r.bits, r.n_samples) == (8000, 1, 16, 100)
    assert r.duration_ms == 100 * 1000 // 8000 and r.abs_sum == expect

    # hand-built 8-bit mono WAV with a LIST chunk before data
    samples8 = bytes([128, 130, 126, 128])  # -> 0, +2, -2, 0
    wav = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 4000, 4000, 1, 8)
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + b"data" + struct.pack("<I", len(samples8)) + samples8
    )
    df = spark.createDataFrame([(1, wav), (2, b"RIFFxxxx")],
                               "media_id long, payload binary")
    got = {r.media_id: r for r in decode_wav(df).collect()}
    assert (got[1].bits, got[1].n_samples, got[1].abs_sum) == (8, 4, 4)
    assert got[2].decode_error is not None


def test_synth_video_frames_walk(spark):
    from sea_express_customs_etl_spark.multimodal.binary_ops import (
        extract_ppm_frames,
        synth_video_payloads,
    )

    ids = spark.createDataFrame([(3,)], "media_id long")
    frames = extract_ppm_frames(
        synth_video_payloads(ids, n_frames=4), every_n=1
    ).collect()
    assert [f.frame_idx for f in frames] == [0, 1, 2, 3]
    assert all(bytes(f.frame)[:2] == b"P5" for f in frames)


def test_image_ahash_brightness_invariance_and_containment(spark):
    """aHash must be invariant to a uniform brightness shift with no
    mod-wrap (the perceptual property), and undecodable payloads must
    surface ahash_error per row instead of failing the stage."""
    import numpy as np

    from sea_express_customs_etl_spark.multimodal.binary_ops import (
        encode_ppm,
        image_ahash,
    )

    rng = np.random.default_rng(7)
    base = rng.integers(40, 160, size=(12, 17), dtype=np.int64)  # +60 safe
    rows = [
        (1, bytearray(encode_ppm(base.astype(np.uint8)[:, :, None]))),
        (2, bytearray(encode_ppm((base + 60).astype(np.uint8)[:, :, None]))),
        (3, bytearray(b"JUNKDATA")),
    ]
    got = {
        r.media_id: r
        for r in image_ahash(
            spark.createDataFrame(rows, "media_id long, payload binary")
        ).collect()
    }
    assert got[1].ahash_error is None and got[2].ahash_error is None
    assert (got[1].ahash_hi, got[1].ahash_lo) == (
        got[2].ahash_hi,
        got[2].ahash_lo,
    )
    assert got[3].ahash_error is not None
    assert got[3].ahash_hi is None


def test_ahash_pairs_catch_planted_dups(spark):
    import pyspark.sql.functions as F

    from sea_express_customs_etl_spark.multimodal.binary_ops import (
        image_ahash,
        synth_pgm_near_dups,
    )
    from sea_express_customs_etl_spark.operators.dedup import hamming_pairs

    ids = spark.range(1, 80).select(F.col("id").alias("media_id"))
    hashes = image_ahash(synth_pgm_near_dups(ids)).select(
        "media_id",
        F.shiftleft("ahash_hi", 32).bitwiseOR(F.col("ahash_lo")).alias("ahash"),
    )
    pairs = hamming_pairs(hashes, "ahash", 64, 4, 3, "media_id").collect()
    planted = {
        (r.id_a, r.id_b): r.hamming
        for r in pairs
        if r.id_b - r.id_a == 100_000
    }
    # most +1-brightness copies survive at hamming <= 3 (wrap pixels
    # can flip bits; a handful escaping is the honest behavior)
    assert len(planted) >= 5
    assert all(h <= 3 for h in planted.values())


def test_audio_fingerprint_attenuation_invariance_and_containment(spark):
    """The differential fingerprint must be EXACTLY invariant to
    uniform attenuation (energy ordering preserved when every window
    scales together), and malformed/short/multichannel payloads must
    surface fp_error per row."""
    import numpy as np
    import struct

    from sea_express_customs_etl_spark.multimodal.binary_ops import (
        audio_fingerprint,
    )

    def wav(samples, n_ch=1):
        data = samples.astype("<i2").tobytes()
        return bytearray(
            b"RIFF"
            + struct.pack("<I", 36 + len(data))
            + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, n_ch, 8000, 16000, 2, 16)
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )

    rng = np.random.default_rng(11)
    base = rng.integers(-20000, 20000, size=512, dtype=np.int64)
    halved = base // 2  # uniform scaling keeps every E_{w+1} vs E_w order
    rows = [
        (1, wav(base)),
        (2, wav(np.abs(base) // 2 * np.sign(base))),
        (3, wav(base[:100])),          # too short
        (4, bytearray(b"JUNKDATA")),   # not RIFF
        (5, wav(np.tile(base, 2), n_ch=2)),  # multichannel
    ]
    del halved
    got = {
        r.media_id: r
        for r in audio_fingerprint(
            spark.createDataFrame(rows, "media_id long, payload binary")
        ).collect()
    }
    assert got[1].fp_error is None and got[2].fp_error is None
    assert got[1].fp == got[2].fp
    for bad in (3, 4, 5):
        assert got[bad].fp is None and got[bad].fp_error is not None


def test_audio_fp_pairs_catch_planted_attenuated_copies(spark):
    import pyspark.sql.functions as F

    from sea_express_customs_etl_spark.multimodal.binary_ops import (
        audio_fingerprint,
        synth_wav_near_dups,
    )
    from sea_express_customs_etl_spark.operators.dedup import hamming_pairs

    ids = spark.range(1, 80).select(F.col("id").alias("media_id"))
    fps = audio_fingerprint(synth_wav_near_dups(ids))
    pairs = hamming_pairs(fps, "fp", 32, 4, 3, "media_id").collect()
    planted = [r for r in pairs if r.id_b - r.id_a == 100_000]
    assert len(planted) == 7  # ids 10, 20, ..., 70
    assert all(r.hamming == 0 for r in planted)


def test_video_scene_sads_detects_planted_cut(spark):
    """The SAD signal spikes exactly at the planted coefficient switch
    (frame 3, ids % 3 == 0) and stays continuous elsewhere; a corrupt
    tail drops later pairs for that row only."""
    from sea_express_customs_etl_spark.multimodal.binary_ops import (
        synth_video_scenes,
        video_scene_sads,
    )
    import pyspark.sql.functions as F

    ids = spark.createDataFrame([(3,), (4,)], ["media_id"])
    out = video_scene_sads(synth_video_scenes(ids)).collect()
    by = {(r.media_id, r.frame_idx): r for r in out}
    # 6 frames -> 5 consecutive pairs per id
    assert sorted(k for k in by) == [
        (m, f) for m in (3, 4) for f in range(1, 6)
    ]
    # id 3 (planted): the frame-2->3 SAD dwarfs its neighbours
    r3 = {f: by[(3, f)].sad for f in range(1, 6)}
    assert r3[3] > 3 * max(r3[1], r3[2], r3[4], r3[5])
    # id 4 (continuous): no pair stands out by that margin
    r4 = {f: by[(4, f)].sad for f in range(1, 6)}
    assert max(r4.values()) <= 3 * min(r4.values())

    # corrupt tail: truncate mid-stream, AFTER several complete
    # frames, so the pairs seen before the corruption must survive
    # (id 3: 60-byte frames -> 3 complete + a torn 4th -> pairs 1, 2;
    # id 4: 75-byte frames -> 2 complete + torn -> pair 1)
    vids = synth_video_scenes(ids)
    cut = vids.select(
        "media_id",
        F.expr("substring(payload, 1, 200)").alias("payload"),
    )
    short = video_scene_sads(cut).collect()
    got = sorted((r.media_id, r.frame_idx) for r in short)
    assert got == [(3, 1), (3, 2), (4, 1)]


def test_video_fp_brightness_invariance_and_containment(spark):
    """The planted +1-brightness re-encode fingerprints (near-)equal
    to its original; truncated frame streams surface fp_error per row
    instead of failing the stage; fingerprints match the analytic
    closed form (the oracle's recipe) bit for bit."""
    import pyspark.sql.functions as F

    from sea_express_customs_etl_spark.multimodal.binary_ops import (
        synth_video_near_dups,
        video_fingerprint,
    )

    ids = spark.range(10, 11).select(F.col("id").alias("media_id"))
    fps = {
        r.media_id: r
        for r in video_fingerprint(synth_video_near_dups(ids)).collect()
    }
    assert fps[10].fp_error is None and fps[100010].fp_error is None
    # closed-form mirror
    def closed(g, dd):
        h, w = 4 + g % 5, 4 + g % 7
        f = np.arange(33, dtype=np.int64)[:, None, None]
        i = np.arange(h, dtype=np.int64)[None, :, None]
        j = np.arange(w, dtype=np.int64)[None, None, :]
        base = ((g + f) * (g + f) * (g + 2 * f + 1)) % 65536
        s = (((base + 5 * i + 7 * j + dd) % 251)
             .reshape(33, -1).sum(axis=1))
        bits = (s[1:] > s[:-1]).astype(np.int64)
        return int((bits << np.arange(32)).sum())

    assert fps[10].fp == closed(10, 0)
    assert fps[100010].fp == closed(10, 1)
    assert bin(fps[10].fp ^ fps[100010].fp).count("1") <= 3

    # containment: a truncated payload errors per-row, others survive
    full = synth_video_near_dups(ids, every=0)
    bad = full.select(
        (F.col("media_id") + 1).alias("media_id"),
        F.expr("substring(payload, 1, 40)").alias("payload"),
    )
    got = {
        r.media_id: r
        for r in video_fingerprint(full.unionByName(bad)).collect()
    }
    assert got[10].fp_error is None
    assert got[11].fp_error is not None and got[11].fp is None


def test_video_fp_pairs_catch_planted_copies(spark):
    import pyspark.sql.functions as F

    from sea_express_customs_etl_spark.multimodal.binary_ops import (
        synth_video_near_dups,
        video_fingerprint,
    )
    from sea_express_customs_etl_spark.operators.dedup import hamming_pairs

    ids = spark.range(1, 80).select(F.col("id").alias("media_id"))
    fps = video_fingerprint(synth_video_near_dups(ids))
    pairs = hamming_pairs(fps, "fp", 32, 4, 3, "media_id").collect()
    planted = [r for r in pairs if r.id_b - r.id_a == 100_000]
    assert len(planted) == 7  # ids 10, 20, ..., 70
    assert all(r.hamming <= 3 for r in planted)
