"""Multimodal binary-column queries over ``documents`` (SURVEY brief:
multimodal; the codecs of ``multimodal/binary.py`` run inside
``mapInPandas`` on the driver contract).

The fixtures carry no media files, so the opaque payload is the
document's own bytes (``CAST(text AS BINARY)``) — the point is the
*plumbing*: a real binary column, Arrow-batched ``mapInPandas``
feature extraction, 1→1 and 1→N output shapes, all with exact DuckDB
oracle twins (LENGTH/MD5/SUBSTRING over the same blob), so the
engine's Python-UDF surface is driver-hash-checked, not pytest-only.

Scale: mapInPandas crosses the Python boundary per Arrow batch, not
per row; payload bytes stay out of every plan that doesn't select
them (column pruning), and the patch query's output is a skinny
(id, patch_id, digest) stream — the same shape real image/audio
feature extraction produces at 100 TB.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_PATCH = 64  # bytes per patch (stands in for pixel tiles)
_MAX_PATCHES = 4


@register(
    "x50_multimodal_meta",
    oracle="""
    -- documents.text is pure ASCII (asserted by the Spark side's
    -- byte-level md5 matching): STRLEN/SUBSTR over VARCHAR are exact
    -- byte equivalents, and DuckDB's SUBSTRING/MD5 don't take BLOB
    SELECT doc_id,
           STRLEN(text) AS n_bytes,
           MD5(text) AS digest,
           LOWER(HEX(SUBSTR(text, 1, 8))) AS head8_hex
    FROM documents
    ORDER BY doc_id
    """,
)
def x50_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata extraction from an opaque binary payload via
    Arrow-batched mapInPandas (1 row → 1 row): byte length, md5
    digest, head-bytes hex. The real-format codecs of
    multimodal/binary.py run through the same plumbing in x63, x64,
    x73 and x343."""
    docs = load_table(spark, sf_dir, "documents")
    # measured: repartitioning here LOSES (shuffling payload bytes
    # costs more than the cheap per-item work saves) — only x64's
    # LZW codec stage is compute-heavy enough to split; see there
    payloads = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                out.append(
                    (int(did), len(b), hashlib.md5(b).hexdigest(), b[:8].hex())
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "n_bytes", "digest", "head8_hex"]
            )

    schema = "doc_id BIGINT, n_bytes BIGINT, digest STRING, head8_hex STRING"
    return payloads.mapInPandas(fn, schema).orderBy("doc_id")


@register(
    "x51_multimodal_patches",
    oracle=f"""
    WITH patches AS (
      SELECT doc_id, CAST(g.p AS INT) AS patch_id,
             SUBSTR(text, g.p * {_PATCH} + 1, {_PATCH}) AS chunk
      FROM documents,
           (SELECT UNNEST(RANGE(0, {_MAX_PATCHES})) AS p) g
      WHERE STRLEN(text) > g.p * {_PATCH})
    SELECT doc_id, patch_id,
           STRLEN(chunk) AS patch_bytes,
           MD5(chunk) AS patch_digest
    FROM patches
    ORDER BY doc_id, patch_id
    """,
)
def x51_multimodal_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patch/tile extraction shape (1 row → N rows) via mapInPandas:
    the payload splits into fixed-size byte patches (capped), each
    emitted as a skinny (doc_id, patch_id, size, digest) row — the
    resize/crop/frame-sample plumbing over a text-backed payload."""
    docs = load_table(spark, sf_dir, "documents")
    # measured: repartitioning here LOSES (shuffling payload bytes
    # costs more than the cheap per-item work saves) — only x64's
    # LZW codec stage is compute-heavy enough to split; see there
    payloads = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for pid in range(_MAX_PATCHES):
                    chunk = b[pid * _PATCH : (pid + 1) * _PATCH]
                    if not chunk:
                        break
                    out.append(
                        (int(did), pid, len(chunk), hashlib.md5(chunk).hexdigest())
                    )
            yield pd.DataFrame(
                out, columns=["doc_id", "patch_id", "patch_bytes", "patch_digest"]
            )

    schema = (
        "doc_id BIGINT, patch_id INT, patch_bytes BIGINT, patch_digest STRING"
    )
    return payloads.mapInPandas(fn, schema).orderBy("doc_id", "patch_id")


# ------------------------------------------------------ audio (WAV)

_SR = 8000  # fixture sample rate

# DuckDB twin computes over the raw ASCII bytes the WAV samples are
# built from: unicode(char) == byte value for the ASCII fixture text
# (byte-exactness already asserted by x50's md5 match).
_CHARS = "string_split(text, '')"
_X63_SQL = f"""
    SELECT doc_id,
           CAST({_SR} AS INT) AS sample_rate,
           CAST(STRLEN(text) AS BIGINT) AS n_samples,
           CAST(COALESCE(list_sum(list_transform({_CHARS},
                x -> unicode(x))), 0) AS BIGINT) AS sum_amp,
           CAST(COALESCE(list_sum(list_transform({_CHARS},
                x -> unicode(x) * unicode(x))), 0) AS BIGINT) AS sum_sq,
           MD5(text) AS digest
    FROM documents
    ORDER BY doc_id
    """


@register("x63_audio_stats", oracle=_X63_SQL)
def x63_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode path: each document's bytes become an 8-bit mono
    PCM RIFF/WAVE container (real stdlib ``wave`` writer), and the
    mapInPandas stage parses the container back (``decode_wav``, real
    header walk + frame read) before computing per-clip stats —
    sample count, amplitude sums (exact integers: no float-order
    hazard), content digest. The oracle recomputes the stats from the
    source bytes, so a digest match proves the container round-trip
    and the stats are independently hash-checked.

    Scale: 1→1 skinny output (five scalars per clip); payload bytes
    cross the Python boundary once per Arrow batch and never shuffle
    — the same shape as real audio feature extraction (loudness /
    clipping / duration screens) over a 100 TB media lake.
    """
    from ..multimodal.binary import decode_wav, encode_wav

    docs = load_table(spark, sf_dir, "documents")
    # measured: repartitioning here LOSES (shuffling payload bytes
    # costs more than the cheap per-item work saves) — only x64's
    # LZW codec stage is compute-heavy enough to split; see there
    payloads = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                wav = encode_wav(bytes(payload), _SR)
                (_ch, _sw, rate, n), samples = decode_wav(wav)
                out.append(
                    (
                        int(did),
                        rate,
                        n,
                        sum(samples),
                        sum(s * s for s in samples),
                        hashlib.md5(samples).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "sample_rate", "n_samples",
                    "sum_amp", "sum_sq", "digest",
                ],
            )

    schema = (
        "doc_id BIGINT, sample_rate INT, n_samples BIGINT, "
        "sum_amp BIGINT, sum_sq BIGINT, digest STRING"
    )
    return payloads.mapInPandas(fn, schema).orderBy("doc_id")


# ------------------------------------------- video frame sampling (GIF)

_FRAME_W = 8
_FRAME_H = 8
_FRAME_BYTES = _FRAME_W * _FRAME_H
_MAX_FRAMES = 4
_SAMPLE_EVERY = 2

_X64_SQL = f"""
    WITH f AS (
      SELECT doc_id, CAST(g.f AS INT) AS frame_id,
             SUBSTR(text, g.f * {_FRAME_BYTES} + 1, {_FRAME_BYTES}) AS chunk
      FROM documents,
           (SELECT UNNEST(RANGE(0, {_MAX_FRAMES})) AS f) g
      WHERE STRLEN(text) >= (g.f + 1) * {_FRAME_BYTES}
        AND g.f % {_SAMPLE_EVERY} = 0)
    SELECT doc_id, frame_id, MD5(chunk) AS frame_digest,
           CAST(list_sum(list_transform(string_split(chunk, ''),
                x -> unicode(x))) AS BIGINT) AS sum_luma
    FROM f
    ORDER BY doc_id, frame_id
    """


@register("x64_frame_sample", oracle=_X64_SQL)
def x64_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling path: the document's bytes become pixel
    indices of a real multi-frame GIF89a (grayscale palette, in-repo
    LZW codec), the mapInPandas stage decodes the animation back
    (``_decode_gif``, real LZW + palette walk), samples every
    {every}-th frame, and emits per-sampled-frame digest + exact luma
    sum. The grayscale palette makes decoded luma == source byte, so
    the DuckDB twin recomputes both from the text slices — a frame
    digest match proves the whole encode→LZW→decode round trip.

    Scale: 1→N skinny rows (one per sampled frame), the canonical
    keyframe-extraction shape; full frames never leave the Python
    worker, and payload columns prune out of any plan not selecting
    them.
    """
    from ..multimodal.binary import _decode_gif, encode_gif

    docs = load_table(spark, sf_dir, "documents")
    # the fixture is one parquet file = one input split; the
    # per-item codec work is large relative to input bytes, so split
    # the narrow stage across cores first (same rationale as x02's
    # signature expansion — cheap at any scale for compute-bound maps)
    payloads = docs.select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    ).repartition(spark.sparkContext.defaultParallelism)
    palette = [(i, i, i) for i in range(256)]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames = min(len(b) // _FRAME_BYTES, _MAX_FRAMES)
                if n_frames == 0:
                    continue
                frames = [
                    b[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES]
                    for i in range(n_frames)
                ]
                gif = encode_gif(_FRAME_W, _FRAME_H, frames, palette)
                _w, _h, decoded = _decode_gif(gif)
                for fid in range(0, n_frames, _SAMPLE_EVERY):
                    fr = decoded[fid]
                    out.append(
                        (int(did), fid, hashlib.md5(fr).hexdigest(), sum(fr))
                    )
            yield pd.DataFrame(
                out, columns=["doc_id", "frame_id", "frame_digest", "sum_luma"]
            )

    schema = (
        "doc_id BIGINT, frame_id INT, frame_digest STRING, sum_luma BIGINT"
    )
    return payloads.mapInPandas(fn, schema).orderBy("doc_id", "frame_id")


x64_frame_sample.__doc__ = x64_frame_sample.__doc__.format(every=_SAMPLE_EVERY)


# ------------------------------------- audio autocorrelation (pitch)

_MAX_LAG = 4

_X73_LAGS = ", ".join(
    f"""CAST(COALESCE(list_sum(list_transform(
          RANGE(1, GREATEST(CAST(STRLEN(text) AS BIGINT) - {k}, 0) + 1),
          i -> unicode(SUBSTR(text, CAST(i AS INT), 1))
               * unicode(SUBSTR(text, CAST(i AS INT) + {k}, 1)))), 0)
        AS BIGINT) AS r{k}"""
    for k in range(1, _MAX_LAG + 1)
)

_X73_BEST = (
    "CASE "
    + " ".join(
        f"WHEN r{k} >= GREATEST({', '.join(f'r{j}' for j in range(1, _MAX_LAG + 1))})"
        f" THEN {k}"
        for k in range(1, _MAX_LAG + 1)
    )
    + " END"
)

_X73_SQL = f"""
    WITH r AS (
      SELECT doc_id, {_X73_LAGS} FROM documents)
    SELECT doc_id, r1, r2, r3, r4,
           CAST({_X73_BEST} AS INT) AS best_lag
    FROM r
    ORDER BY doc_id
    """


@register("x73_audio_autocorr", oracle=_X73_SQL)
def x73_audio_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio periodicity screen: per clip, the raw autocorrelation at
    lags 1..{maxlag} over the decoded 8-bit samples plus the
    strongest lag (ties → smallest) — the integer core of a
    pitch/periodicity detector, kept in exact int64 so the DuckDB
    twin (per-character products over the same bytes) is bit-exact.
    The clip goes through the real WAV container round trip
    (encode_wav → decode_wav) before the numpy lag products, so the
    audio decode path is exercised end to end again.

    Scale: same 1→1 mapInPandas envelope as x63 — vectorized numpy
    per Arrow batch, O(samples · {maxlag}) per clip, five scalars
    out; nothing shuffles but the final skinny frame.
    """
    import numpy as np

    from ..multimodal.binary import decode_wav, encode_wav

    docs = load_table(spark, sf_dir, "documents")
    # measured: repartitioning here LOSES (shuffling payload bytes
    # costs more than the cheap per-item work saves) — only x64's
    # LZW codec stage is compute-heavy enough to split; see there
    payloads = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                _meta, samples = decode_wav(encode_wav(bytes(payload)))
                s = np.frombuffer(samples, dtype=np.uint8).astype(np.int64)
                rs = [
                    int((s[:-k] * s[k:]).sum()) if len(s) > k else 0
                    for k in range(1, _MAX_LAG + 1)
                ]
                best = 1 + max(range(_MAX_LAG), key=lambda i: (rs[i], -i))
                out.append((int(did), *rs, best))
            yield pd.DataFrame(
                out, columns=["doc_id", "r1", "r2", "r3", "r4", "best_lag"]
            )

    schema = (
        "doc_id BIGINT, r1 BIGINT, r2 BIGINT, r3 BIGINT, r4 BIGINT, best_lag INT"
    )
    return payloads.mapInPandas(fn, schema).orderBy("doc_id")


x73_audio_autocorr.__doc__ = x73_audio_autocorr.__doc__.format(maxlag=_MAX_LAG)


# ------------------------------------------------------ resize (x93)

_X93_ROW = 16  # raster width: payload bytes laid out row-major
_X93_BOX = 4  # box-filter edge (16x? raster -> 4-wide block grid)

_X93_SQL = f"""
    WITH px AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(0, STRLEN(text)),
               j -> STRUCT_PACK(idx := j,
                                v := unicode(SUBSTR(text, j + 1, 1)))))
               AS s
      FROM documents),
    blocks AS (
      SELECT doc_id,
             CAST((s.idx // {_X93_ROW}) // {_X93_BOX} AS INT) AS by,
             CAST((s.idx % {_X93_ROW}) // {_X93_BOX} AS INT) AS bx,
             s.v AS v
      FROM px)
    SELECT doc_id, by, bx,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 4) AS mean_luma
    FROM blocks
    GROUP BY doc_id, by, bx
    ORDER BY doc_id, by, bx
    """


@register("x93_resize_grid", oracle=_X93_SQL)
def x93_resize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-filter resize shape, driver-checked (1 row → block-grid
    rows): the payload bytes form a {row}-wide row-major luma raster;
    each {box}×{box} block averages to one output pixel — the
    thumbnail/normalize stage of an image-ingest pipeline, surfaced
    on the text-backed payload so the DuckDB twin is exact; the
    query hash-checks the mapInPandas plumbing and the box-mean
    arithmetic on the driver contract.

    Scale: mapInPandas emits skinny (doc, by, bx, n, sum) rows —
    raster bytes cross the Arrow boundary once and never shuffle; the
    block rollup happens inside the UDF (per-doc state only), so the
    only exchange is the final ORDER BY. Mean = exact int sum ÷ count
    with one ROUND(4) — the repo's float-determinism contract.
    """
    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized per batch (spark_optimization_guide §4.2: hand
        # whole batches to NumPy instead of looping rows — the old
        # per-byte Python dict loop dominated this query's runtime).
        # Exact integer block sums: identical values to the scalar
        # loop, only the loop is gone.
        import numpy as np

        empty = pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "by": pd.Series([], dtype="int32"),
                "bx": pd.Series([], dtype="int32"),
                "n_px": pd.Series([], dtype="int64"),
                "sum_v": pd.Series([], dtype="int64"),
            }
        )
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            lens = np.fromiter(
                (len(p) for p in payloads), dtype=np.int64, count=len(payloads)
            )
            total = int(lens.sum())
            if total == 0:
                yield empty
                continue
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            doc_idx = np.repeat(np.arange(len(payloads), dtype=np.int64), lens)
            offsets = np.cumsum(lens) - lens
            j = np.arange(total, dtype=np.int64) - np.repeat(offsets, lens)
            by = (j // _X93_ROW) // _X93_BOX
            bx = (j % _X93_ROW) // _X93_BOX
            # (doc, by, bx) packed into one int64 key; by < 2^24 needs
            # docs < 2^32 rows/batch and payloads < 2^28 bytes — far
            # above any Arrow batch.
            key = (doc_idx << 32) | (by << 8) | bx
            uk, inv = np.unique(key, return_inverse=True)
            counts = np.bincount(inv)
            # float64 sums are exact here (≤ 255 · len < 2^53)
            sums = np.bincount(inv, weights=buf).astype(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": ids[(uk >> 32)],
                    "by": (uk >> 8 & 0xFFFFFF).astype(np.int32),
                    "bx": (uk & 0xFF).astype(np.int32),
                    "n_px": counts.astype(np.int64),
                    "sum_v": sums,
                }
            )

    schema = "doc_id BIGINT, by INT, bx INT, n_px BIGINT, sum_v BIGINT"
    return (
        payloads.mapInPandas(fn, schema)
        .select(
            "doc_id",
            "by",
            "bx",
            "n_px",
            F.round(F.col("sum_v").cast("double") / F.col("n_px"), 4).alias(
                "mean_luma"
            ),
        )
        .orderBy("doc_id", "by", "bx")
    )


x93_resize_grid.__doc__ = x93_resize_grid.__doc__.format(
    row=_X93_ROW, box=_X93_BOX
)


# ------------------------------------- codec-matrix round trip (x343)

_X343_W = 8
_X343_H = 8
_X343_BYTES = _X343_W * _X343_H
_X343_FORMATS = (
    "gif_interlaced", "gif_subrect", "jpeg_lossless", "png16",
    "png8_adam7", "pnm16",
)

_X343_SQL = f"""
    WITH f AS (
      SELECT doc_id, g.fmt,
             SUBSTR(text, 1, {_X343_BYTES}) AS chunk
      FROM documents,
           (SELECT UNNEST(['gif_interlaced', 'gif_subrect',
                           'jpeg_lossless', 'png16',
                           'png8_adam7', 'pnm16']) AS fmt) g
      WHERE STRLEN(text) >= {_X343_BYTES})
    SELECT doc_id, fmt, MD5(chunk) AS digest,
           CAST(list_sum(list_transform(string_split(chunk, ''),
                x -> unicode(x))) AS BIGINT) AS sum_luma
    FROM f
    ORDER BY doc_id, fmt
    """


@register("x343_codec_matrix", oracle=_X343_SQL)
def x343_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless codec-matrix round trip: the document's head bytes
    become an 8x8 gray raster encoded through SIX distinct real
    container paths — 4-pass interlaced GIF, sub-rectangle GIF with a
    fully-transparent GCE overlay frame (compositing must leave the
    canvas untouched), lossless SOF3 JPEG (Annex-H predictive coding,
    predictor 4 — exact at 8-bit, no DCT anywhere), 16-bit PNG
    (samples v*257, so the decoded high byte is exactly v),
    Adam7-interlaced 8-bit PNG, and 16-bit
    PNM (maxval 65535) — then decoded back by the pure-stdlib
    decoders inside mapInPandas. Every path is lossless on gray
    rasters, so each decoded frame must digest-match the source
    bytes; the DuckDB twin recomputes digest + luma sum from the
    text slice per format. A hash match proves all six
    encode→entropy-code→decode round trips inside the engine.

    Scale: 1→6 skinny rows per doc; compute-bound codec stage split
    across cores first (same rationale as x64), payload bytes pruned
    from any plan not selecting them.
    """
    from ..multimodal.binary import (
        _decode_gif,
        _decode_jpeg,
        _decode_png,
        _decode_pnm,
        encode_gif,
        encode_jpeg_lossless,
        encode_png,
        encode_pnm,
    )

    docs = load_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    ).repartition(spark.sparkContext.defaultParallelism)
    palette = [(i, i, i) for i in range(256)]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        for pdf in batches:
            out = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)[:_X343_BYTES]
                if len(b) < _X343_BYTES:
                    continue
                rows8 = [
                    b[y * _X343_W : (y + 1) * _X343_W]
                    for y in range(_X343_H)
                ]
                decoded = {}
                decoded["gif_interlaced"] = _decode_gif(
                    encode_gif(_X343_W, _X343_H, [list(b)], palette,
                               interlace=True)
                )[2][-1]
                # frame 0 carries the raster; frame 1 is a 4x4 overlay
                # whose pixels are ALL the transparent index — GCE
                # compositing must leave the canvas bit-identical
                decoded["gif_subrect"] = _decode_gif(
                    encode_gif(
                        _X343_W, _X343_H, [list(b), [0] * 16], palette,
                        rects=[None, (2, 2, 4, 4)],
                        gces=[None, (0, 0)],
                    )
                )[2][-1]
                decoded["jpeg_lossless"] = _decode_jpeg(
                    encode_jpeg_lossless(_X343_W, _X343_H, rows8,
                                         predictor=4)
                )[2][0]
                rows16 = [
                    b"".join(_struct.pack(">H", v * 257) for v in r)
                    for r in rows8
                ]
                decoded["png16"] = _decode_png(
                    encode_png(_X343_W, _X343_H, rows16, 0,
                               filter_type=1, depth=16)
                )[2][0]
                decoded["png8_adam7"] = _decode_png(
                    encode_png(_X343_W, _X343_H, rows8, 0,
                               filter_type=4, interlace=1)
                )[2][0]
                decoded["pnm16"] = _decode_pnm(
                    encode_pnm(_X343_W, _X343_H,
                               [v * 257 for v in b], maxval=65535)
                )[2][0]
                for fmt in _X343_FORMATS:
                    fr = decoded[fmt]
                    out.append(
                        (int(did), fmt, hashlib.md5(fr).hexdigest(), sum(fr))
                    )
            yield pd.DataFrame(
                out, columns=["doc_id", "fmt", "digest", "sum_luma"]
            )

    schema = "doc_id BIGINT, fmt STRING, digest STRING, sum_luma BIGINT"
    return payloads.mapInPandas(fn, schema).orderBy("doc_id", "fmt")
