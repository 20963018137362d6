"""Multimodal (image/audio/video) column plumbing.

Opaque ``binary`` payloads + typed metadata structs, processed with
Arrow-batched ``mapInPandas`` pipelines (decode / feature-extract /
resize / frame-sample). Decoding is pure stdlib for BMP / PNM / PNG / GIF /
JPEG (baseline, progressive, 12-bit, lossless, arithmetic,
hierarchical) / WAV and the deterministic ``FAKE`` container; the few
remaining exotic forms gate on PIL with NotImplementedError — the
Spark-side schema, partitioning, UDF signatures, and batch shapes are
real and tested either way.
"""

from .binary import (  # noqa: F401
    MEDIA_SCHEMA,
    decode_images,
    extract_patch_features,
    sample_frames,
    synthesize_media,
)
