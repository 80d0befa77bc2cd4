"""Multimodal (image/audio/video) column plumbing."""

from sea_express_customs_etl_spark.multimodal.binary_ops import (  # noqa: F401
    decode_images,
    decode_pnm,
    encode_ppm,
    extract_ppm_frames,
    resize_images,
)
