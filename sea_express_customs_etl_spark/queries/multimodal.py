"""Image, audio and video decode, fingerprints and derived statistics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sea_express_customs_etl_spark.multimodal.binary_ops import (
    ahash_hamming_pairs,
    audio_fingerprint,
    audio_fp_hamming_pairs,
    decode_images,
    decode_wav,
    extract_ppm_frames,
    image_ahash,
    resize_images,
    silence_spans,
    synth_pgm_near_dups,
    synth_pgm_payloads,
    synth_video_near_dups,
    synth_video_payloads,
    synth_video_scenes,
    synth_wav_near_dups,
    synth_wav_payloads,
    synth_wav_silence,
    video_fingerprint,
    video_fp_hamming_pairs,
    video_scene_sads,
    wav_window_energy,
)
from sea_express_customs_etl_spark.plans import oracles_ext as ext, oracles_wx as wx
from sea_express_customs_etl_spark.plans.standins import load_table
from sea_express_customs_etl_spark.queries import query


@query(oracle=ext.IMAGE_AHASH_DUPS_SQL)
def _q_image_ahash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup from raw bytes: deterministic PGMs (every
    10th id also ships a brightness-shifted copy), REAL PNM decode →
    8×8 integer average-hash → 4×16-bit band LSH → popcount verify.
    Catches the visually-identical/not-byte-identical duplicates a
    content-digest dedup misses; the oracle recomputes the hashes
    analytically from the fixture's closed form, so the whole decode →
    hash → dedup chain is hash-checked."""
    ids = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("media_id"))
        .filter(F.col("media_id") <= 2000)
    )
    return ahash_hamming_pairs(image_ahash(synth_pgm_near_dups(ids)))


@query(oracle=ext.AUDIO_FP_DUPS_SQL)
def _q_audio_fp_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio dedup from raw bytes: real RIFF/PCM decode →
    31-bit energy-difference fingerprint (attenuation-invariant by
    construction — both sides of every window comparison scale
    together) → banded Hamming pairs. Catches the −1.6%-attenuated
    planted copies whose byte digests differ; oracle replays the
    fingerprint analytically from the fixture's closed form."""
    ids = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("media_id"))
        .filter(F.col("media_id") <= 2000)
    )
    return audio_fp_hamming_pairs(audio_fingerprint(synth_wav_near_dups(ids)))


@query(oracle=ext.VIDEO_FP_DUPS_SQL)
def _q_video_fp_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual video dedup from raw bytes — completes the
    image/audio/video perceptual trio: deterministic concatenated-PGM
    frame streams (every 10th id also ships a brightness-perturbed
    re-encode), REAL frame-walk decode → per-frame luminance sums →
    32-bit temporal-ordinal fingerprint (S_{f+1} > S_f — invariant to
    uniform brightness shift by construction) → 4×8-bit band LSH +
    popcount verify. Fixture quality measured: 200/200 planted copies
    caught at ≤2 hamming vs 24 accidental pairs over 2.4M candidates
    (the double-modulus temporal driver — a single mod-251 polynomial
    aliases ids ≡ (mod 251) into 6k false families). Oracle replays
    the fingerprint analytically from the closed form."""
    ids = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("media_id"))
        .filter(F.col("media_id") <= 2000)
    )
    return video_fp_hamming_pairs(video_fingerprint(synth_video_near_dups(ids)))


@query(oracle=ext.IMAGE_DECODE_STATS_SQL)
def _q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode oracle-checked FROM RAW BYTES: deterministic
    P5/PGM payloads are synthesized per part id (closed-form gradient
    pixels, every 29th id a corrupt non-image), pushed through the
    production Arrow ``mapInPandas`` decode kernel (real netpbm header
    parse + numpy pixel decode), and the EXACT integer pixel sum is
    recovered from the 4dp mean luma (round(mean·w·h) — the 4dp error
    bound is far below 0.5 at ≤224 pixels). DuckDB recomputes the sum
    analytically from the same closed form, so dimensions, format
    sniffing, per-row error containment AND the decoded pixel values
    all hash-check. Fully distributed: generate → decode → project,
    no driver-side bytes, no temp files."""
    ids = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 60)
        .select(F.col("p_partkey").alias("media_id"))
    )
    dec = decode_images(synth_pgm_payloads(ids))
    return dec.select(
        "media_id",
        "media_format",
        "width",
        "height",
        "n_channels",
        F.round(F.col("mean_luma") * F.col("width") * F.col("height"))
        .cast("bigint")
        .alias("luma_sum"),
        "decode_error",
    )


@query(oracle=ext.VIDEO_SCENE_CUTS_SQL)
def _q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change detection from raw bytes: 6-frame PGM streams with
    a REAL structural scene switch planted at frame 3 for every third
    id, decoded frame by frame and scored by consecutive-frame SAD in
    one stream-local Arrow pass (no join, no shuffle — the map-only
    decode shape). Exact sums + an exact threshold flag hash-match the
    analytic closed-form oracle."""
    ids = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 40)
        .select(F.col("p_partkey").alias("media_id"))
    )
    sads = video_scene_sads(synth_video_scenes(ids))
    return sads.select(
        "media_id",
        "frame_idx",
        "sad",
        "n_px",
        (F.col("sad") > 40 * F.col("n_px")).cast("int").alias("is_cut"),
    )


@query(oracle=ext.AUDIO_DECODE_STATS_SQL)
def _q_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode hash-checked from raw bytes: genuine
    RIFF/WAVE PCM containers are synthesized per part id (closed-form
    int16 sawtooth), every 29th payload corrupted, and the production
    ``decode_wav`` kernel (RIFF chunk walk + numpy PCM extraction — no
    codec library; WAV-PCM needs none) recovers format fields, exact
    sample counts, floor-division durations and exact integer
    |sample| sums that DuckDB recomputes analytically."""
    ids = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 60)
        .select(F.col("p_partkey").alias("media_id"))
    )
    wav = synth_wav_payloads(ids).withColumn(
        "payload",
        F.when(
            F.col("media_id") % 29 == 0, F.lit(b"JUNKDATA")
        ).otherwise(F.col("payload")),
    )
    return decode_wav(wav)


@query(oracle=ext.VIDEO_FRAME_STATS_SQL)
def _q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling chain hash-checked from raw bytes: 5-frame
    concatenated-PGM streams (the ffmpeg image2pipe shape) are
    synthesized per part id, ``extract_ppm_frames`` keeps every 2nd
    frame (real stream walking — each frame's header is parsed to find
    the next), and each kept frame goes through the production image
    decode; per-frame exact pixel sums hash-match the analytic oracle.
    The (media, frame) key is packed into one id for the decode stage
    and unpacked after — the standard composite-key trick when a
    kernel keys on a single column."""
    ids = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 40)
        .select(F.col("p_partkey").alias("media_id"))
    )
    frames = extract_ppm_frames(synth_video_payloads(ids), every_n=2)
    packed = frames.select(
        (F.col("media_id") * 10 + F.col("frame_idx")).alias("media_id"),
        F.col("frame").alias("payload"),
    )
    dec = decode_images(packed)
    return dec.select(
        F.expr("media_id div 10").alias("media_id"),
        (F.col("media_id") % 10).cast("int").alias("frame_idx"),
        "width",
        "height",
        F.round(F.col("mean_luma") * F.col("width") * F.col("height"))
        .cast("bigint")
        .alias("luma_sum"),
    )


@query(oracle=ext.AUDIO_SILENCE_SPANS_SQL)
def _q_audio_silence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-shaped audio segmentation hash-checked from raw bytes:
    WAV-PCM clips with per-id planted silence geometry are decoded for
    real (RIFF walk + numpy), per-window exact |sample| sums mark
    silent windows, gaps-and-islands merges them into spans; corrupt
    payloads contained per row. The oracle recomputes the silent set
    from the fixture's closed form — decode → energy → segmentation
    all inside the hash."""
    ids = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 96)
        .select(F.col("p_partkey").alias("media_id"))
    )
    wav = synth_wav_silence(ids).withColumn(
        "payload",
        F.when(F.col("media_id") % 17 == 5, F.lit(b"JUNK")).otherwise(
            F.col("payload")
        ),
    )
    return silence_spans(wav_window_energy(wav), threshold=0)


@query(oracle=wx.IMAGE_RESIZE_STATS_SQL)
def _q_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize oracle-checked FROM RAW BYTES: synthetic PGM
    payloads run through the REAL nearest-neighbor resize kernel
    (numpy index sampling, re-encoded PPM) and the real decode; DuckDB
    recomputes the resized pixel sum analytically from the same index
    map (yi = (i·h0) DIV out_h), so the resample arithmetic itself is
    hash-checked. Corrupt payloads surface as resize_failed rows."""
    ids = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 60)
        .select(F.col("p_partkey").alias("media_id"))
    )
    res = resize_images(synth_pgm_payloads(ids), width=6, height=5)
    ok = decode_images(res.filter(F.col("payload").isNotNull())).select(
        "media_id",
        "width",
        "height",
        F.round(F.col("mean_luma") * F.col("width") * F.col("height"))
        .cast("bigint")
        .alias("luma_sum"),
        F.lit(False).alias("resize_failed"),
    )
    bad = res.filter(F.col("payload").isNull()).select(
        "media_id",
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("bigint").alias("luma_sum"),
        F.lit(True).alias("resize_failed"),
    )
    return ok.unionByName(bad)
