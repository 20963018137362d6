"""Multimodal plumbing tests: schema, determinism, batch shape, and
the NotImplementedError gate for real formats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from capgemini_himss24_fhirbulkdata_demo_spark.multimodal import (
    decode_images,
    extract_patch_features,
    sample_frames,
    synthesize_media,
)
from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import encode_fake


def test_decode_images_deterministic(spark):
    media = synthesize_media(spark, 12).repartition(4)
    decoded = decode_images(media)
    rows = {r.media_id: r for r in decoded.collect()}
    assert len(rows) == 12
    r0 = rows[0]
    assert (r0.width, r0.height, r0.n_frames) == (16, 16, 1)
    assert 0 <= r0.mean_pixel <= 255
    assert len(r0.histogram) == 8
    assert abs(sum(r0.histogram) - 1.0) < 1e-9
    # deterministic across runs
    rows2 = {r.media_id: r for r in decode_images(media).collect()}
    assert rows2[5].mean_pixel == rows[5].mean_pixel
    assert rows2[5].histogram == rows[5].histogram


def test_meta_filter_prunes_payload(spark):
    """Filtering on meta only must not deserialize payloads: the plan's
    ReadSchema/production should carry just the pruned columns."""
    media = synthesize_media(spark, 8)
    small = media.filter(F.col("meta.width") == 16).select("media_id", "meta.width")
    assert small.count() > 0
    assert "payload" not in small.columns


def test_patch_features_fanout(spark):
    media = synthesize_media(spark, 4)
    feats = extract_patch_features(media, patch=8)
    got = feats.groupBy("media_id").count().orderBy("media_id").collect()
    # media 0: 16x16 -> 4 patches; media 1: 24x24 -> 9; media 2: 32x32 -> 16
    assert [r["count"] for r in got][:3] == [4, 9, 16]
    f = feats.filter((F.col("media_id") == 0) & (F.col("patch_id") == 0)).first()
    assert len(f.feature) == 3
    assert 0.0 <= f.feature[1] <= f.feature[0] <= f.feature[2] <= 255.0


def test_sample_frames_video(spark):
    media = synthesize_media(spark, 6, kind="video")
    frames = sample_frames(media, every=2)
    per = {r.media_id: r["cnt"] for r in frames.groupBy("media_id").agg(
        F.count("*").alias("cnt")).collect()}
    # n_frames = 2 + (i % 3); sampled every 2 -> ceil(n/2)
    for i in range(6):
        nf = 2 + (i % 3)
        assert per[i] == (nf + 1) // 2


def test_real_format_gated(spark):
    df = spark.createDataFrame(
        [(99, "image", bytearray(b"\x89PNG\r\n" + b"\x00" * 64),
          {"format": "png", "width": 1, "height": 1, "n_frames": 1})],
        "media_id BIGINT, kind STRING, payload BINARY, "
        "meta STRUCT<format: STRING, width: INT, height: INT, n_frames: INT>",
    )
    with pytest.raises(Exception, match="NotImplementedError|real media decoding"):
        decode_images(df).collect()


def test_fake_container_layout():
    b = encode_fake(7, "image", 16, 16, 1)
    assert b[:4] == b"FAKE" and b[4:5] == b"I"
    assert len(b) == 11 + 16 * 16
    assert encode_fake(7, "image", 16, 16, 1) == b  # deterministic


def test_binaryfile_ingestion_roundtrip(spark, tmp_path):
    """binaryFile source ingestion: files written to a landing dir
    come back with payload bytes intact and the meta struct parsed
    JVM-side, matching the in-memory synthesized table exactly."""
    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        read_media_dir,
        write_fake_files,
    )

    d = str(tmp_path / "media")
    write_fake_files(d, 7, kind="video")
    got = read_media_dir(spark, d)
    ref = synthesize_media(spark, 7, kind="video")

    g = {r.media_id: r for r in got.collect()}
    r = {r.media_id: r for r in ref.collect()}
    assert set(g) == set(r) == set(range(7))
    for i in range(7):
        assert bytes(g[i].payload) == bytes(r[i].payload)
        assert g[i].kind == r[i].kind == "video"
        assert g[i].meta.asDict() == r[i].meta.asDict()

    # the parsed meta feeds the same downstream decoders
    decoded = {row.media_id: row for row in decode_images(got).collect()}
    assert decoded[0].width == g[0].meta.width
    assert decoded[0].n_frames == g[0].meta.n_frames


def test_bmp_decodes_dependency_free(spark):
    """Real-format decode without PIL: uncompressed 24-bit BMP runs
    through the same mapInPandas path as FAKE payloads, with exact
    integer-luma stats."""
    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        encode_bmp24,
    )

    w, h = 5, 3  # odd width exercises row padding
    rgb_rows = [
        [((x * 50) % 256, (y * 80) % 256, (x * y * 30) % 256) for x in range(w)]
        for y in range(h)
    ]
    lumas = [
        (299 * r + 587 * g + 114 * b) // 1000 for row in rgb_rows for (r, g, b) in row
    ]
    payload = encode_bmp24(w, h, rgb_rows)
    df = spark.createDataFrame(
        [(1, "image", bytearray(payload),
          {"format": "bmp", "width": w, "height": h, "n_frames": 1})],
        "media_id BIGINT, kind STRING, payload BINARY, "
        "meta STRUCT<format: STRING, width: INT, height: INT, n_frames: INT>",
    )
    row = decode_images(df).collect()[0]
    assert (row.width, row.height, row.n_frames) == (w, h, 1)
    assert row.mean_pixel == sum(lumas) / len(lumas)
    hist = [0.0] * 8
    for v in lumas:
        hist[v >> 5] += 1
    assert row.histogram == [c / len(lumas) for c in hist]


def test_pnm_decodes_dependency_free(spark):
    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        encode_pnm,
    )

    w, h = 4, 2
    gray = list(range(0, 256, 32))  # 8 pixels
    p5 = encode_pnm(w, h, gray)
    rgb = [(v, 0, 255 - v) for v in gray]
    p6 = encode_pnm(w, h, rgb, rgb=True)
    lumas6 = [(299 * r + 587 * g + 114 * b) // 1000 for (r, g, b) in rgb]
    df = spark.createDataFrame(
        [(1, "image", bytearray(p5),
          {"format": "pgm", "width": w, "height": h, "n_frames": 1}),
         (2, "image", bytearray(p6),
          {"format": "ppm", "width": w, "height": h, "n_frames": 1})],
        "media_id BIGINT, kind STRING, payload BINARY, "
        "meta STRUCT<format: STRING, width: INT, height: INT, n_frames: INT>",
    )
    rows = {r.media_id: r for r in decode_images(df).collect()}
    assert rows[1].mean_pixel == sum(gray) / len(gray)
    assert rows[2].mean_pixel == sum(lumas6) / len(lumas6)
    # comment + 8-bit-paletted headers stay parseable
    commented = b"P5\n# a comment\n4 2\n255\n" + bytes(gray)
    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_pnm,
    )

    assert _decode_pnm(commented) == (4, 2, [bytes(gray)])


def test_bmp_8bit_paletted(spark):
    """8-bit paletted BMP: indices map through the palette's luma."""
    import struct as _struct

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_bmp,
    )

    w, h = 3, 2
    # palette: entry i = (B,G,R,0) = (i, i, i, 0) → luma i
    palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
    row_size = (w + 3) & ~3
    idx_rows = [[10, 20, 30], [40, 50, 60]]
    pixel_data = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        pixel_data += bytes(idx_rows[y]) + b"\x00" * (row_size - w)
    pixel_off = 14 + 40 + len(palette)
    hdr = b"BM" + _struct.pack("<IHHI", pixel_off + len(pixel_data), 0, 0, pixel_off)
    dib = _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(pixel_data),
                       2835, 2835, 256, 0)
    got = _decode_bmp(hdr + dib + palette + pixel_data)
    assert got == (w, h, [bytes([10, 20, 30, 40, 50, 60])])


def test_decode_images_handles_png_payloads(spark):
    """A PNG payload decodes through the mapInPandas stats path
    exactly like FAKE/BMP/PNM — the in-sandbox compressed-format
    story (stdlib zlib inflate, no PIL)."""
    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        decode_images,
        encode_png,
    )

    rows = [bytes((x * 7 + y * 3) % 256 for x in range(8)) for y in range(4)]
    png = encode_png(8, 4, rows, color_type=0, filter_type=2)
    media = spark.createDataFrame(
        [(7, "image", bytearray(png),
          {"format": "PNG", "width": 8, "height": 4, "n_frames": 1})],
        "media_id BIGINT, kind STRING, payload BINARY, "
        "meta STRUCT<format: STRING, width: INT, height: INT, n_frames: INT>",
    )
    out = decode_images(media).collect()
    assert len(out) == 1
    r = out[0]
    flat = b"".join(rows)
    assert (r["width"], r["height"], r["n_frames"]) == (8, 4, 1)
    assert r["mean_pixel"] == sum(flat) / len(flat)


def test_decode_images_handles_jpeg_payloads(spark):
    """A baseline JPEG payload decodes through the mapInPandas stats
    path (stdlib Huffman+IDCT, no PIL); mean_pixel stays within the
    near-lossless quant=1 error band of the source."""
    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        decode_images,
        encode_jpeg,
    )

    rows = [[(x * 11 + y * 5) % 256 for x in range(16)] for y in range(8)]
    jp = encode_jpeg(16, 8, rows, quant=1)
    media = spark.createDataFrame(
        [(9, "image", bytearray(jp),
          {"format": "JPEG", "width": 16, "height": 8, "n_frames": 1})],
        "media_id BIGINT, kind STRING, payload BINARY, "
        "meta STRUCT<format: STRING, width: INT, height: INT, n_frames: INT>",
    )
    out = decode_images(media).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["width"], r["height"], r["n_frames"]) == (16, 8, 1)
    true_mean = sum(v for row in rows for v in row) / (16 * 8)
    assert abs(r["mean_pixel"] - true_mean) <= 3.0


def test_sample_frames_on_real_gif(spark):
    """Frame sampling works on a REAL multi-frame container: a 4-frame
    GIF flows through the mapInPandas sample_frames path (every 2nd
    frame) with exact per-frame means."""
    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _luma,
        encode_gif,
        sample_frames,
    )

    pal = [((i * 5) % 256, (i * 11) % 256, (i * 3) % 256) for i in range(16)]
    frames = [[(f * 7 + i) % 16 for i in range(12 * 6)] for f in range(4)]
    gif = encode_gif(12, 6, frames, pal)
    media = spark.createDataFrame(
        [(4, "video", bytearray(gif),
          {"format": "GIF", "width": 12, "height": 6, "n_frames": 4})],
        "media_id BIGINT, kind STRING, payload BINARY, "
        "meta STRUCT<format: STRING, width: INT, height: INT, n_frames: INT>",
    )
    out = {r["frame_idx"]: r["frame_mean"]
           for r in sample_frames(media, every=2).collect()}
    assert sorted(out) == [0, 2]
    for f in (0, 2):
        lumas = [_luma(*pal[i]) for i in frames[f]]
        assert out[f] == sum(lumas) / len(lumas)


def test_gif_lzw_tail_width_boundary():
    """Regression (r5): when the FINAL data code lands the decoder's
    dictionary at exactly 2^width - 1, the decoder's early width bump
    fires before reading EOI — the encoder must emit EOI at the
    bumped width even though it assigns nothing after the last code
    (63 pixels / 64-color palette hits the 127 == 2^7 - 1 boundary)."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_gif,
        encode_gif,
    )

    def b(tag, i):
        return hashlib.md5(f"0:{tag}:{i}".encode()).digest()[0]

    pal = [(b("r", i), b("g", i), b("b", i)) for i in range(64)]
    frames = [[b(0, i) % 64 for i in range(63)]]
    w, h, got = _decode_gif(encode_gif(3, 21, frames, pal))
    assert (w, h, len(got)) == (3, 21, 1)


def test_gif_truncated_at_frame_boundary_raises():
    """Regression (r5): a multi-frame GIF cut cleanly BETWEEN frames
    (after a frame's 0-size sub-block terminator, before the next
    image descriptor) must raise, not silently return fewer frames."""
    import pytest

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_gif,
        encode_gif,
    )

    pal = [(i, i, i) for i in range(4)]
    frames = [[(f + i) % 4 for i in range(11)] for f in range(2)]
    gif = encode_gif(1, 11, frames, pal)
    # find the end of frame 1: second 0x2c starts frame 2
    second = gif.index(b"\x2c", gif.index(b"\x2c") + 1)
    with pytest.raises(ValueError, match="missing trailer"):
        _decode_gif(gif[:second])


def test_resize_frames_exact_box_means(spark):
    """Area-average resize: a 6x4 raster resized to 3x2 produces the
    exact 2x2-box means, per frame; uneven edges (5 -> 2) split 3+2."""
    import struct

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        resize_frames,
    )

    def fake(w, h, frames):
        return (
            b"FAKE" + b"V" + struct.pack(">HHH", w, h, len(frames))
            + b"".join(bytes(f) for f in frames)
        )

    w, h = 6, 4
    frames = [[(f * 10 + i) % 251 for i in range(w * h)] for f in range(2)]
    payload = fake(w, h, frames)
    media = spark.createDataFrame(
        [(7, bytearray(payload))], "media_id BIGINT, payload BINARY"
    )
    rows = {r["frame_idx"]: r for r in resize_frames(media, 3, 2).collect()}
    assert sorted(rows) == [0, 1]
    for fi, f in enumerate(frames):
        r = rows[fi]
        assert (r["out_w"], r["out_h"]) == (3, 2)
        expect = []
        for yi in (0, 2):
            for xi in (0, 2, 4):
                vals = [
                    f[y * w + x]
                    for y in range(yi, yi + 2)
                    for x in range(xi, xi + 2)
                ]
                expect.append(sum(vals) / 4)
        assert r["pixels"] == expect

    # uneven split: 5 wide -> 2 boxes of 3+2 columns
    w2, h2 = 5, 2
    f2 = [list(range(w2 * h2))]
    media2 = spark.createDataFrame(
        [(8, bytearray(fake(w2, h2, f2)))],
        "media_id BIGINT, payload BINARY",
    )
    r2 = resize_frames(media2, 2, 1).collect()[0]
    assert (r2["out_w"], r2["out_h"]) == (2, 1)
    left = [0, 1, 2, 5, 6, 7]
    right = [3, 4, 8, 9]
    assert r2["pixels"] == [sum(left) / 6, sum(right) / 4]


def test_multimodal_pipeline_composition(spark):
    """End-to-end multimodal prep: synthesize media → decode stats →
    exact-dedup on payload digest → attach captions. Pins that the
    pieces compose (the realistic pipeline, not just each stage in
    isolation): dedup removes the planted duplicates and keeps the
    lowest id of each payload, every surviving payload is its source
    payload byte for byte, and each row carries its decode stat and
    caption."""
    media = synthesize_media(spark, 12)
    # plant duplicates: ids 100.. share payloads with ids 0..3
    dupes = media.filter(F.col("media_id") < 4).withColumn(
        "media_id", F.col("media_id") + 100
    )
    corpus = media.unionByName(dupes)
    stats = decode_images(corpus).select("media_id", "mean_pixel")
    keyed = (
        corpus.join(stats, "media_id")
        .withColumn("digest", F.md5(F.col("payload")))
        .withColumn("caption", F.concat(F.lit("item "), F.col("media_id")))
    )
    # exact dedup, keep-min id per payload digest (x01's shape)
    keep = keyed.groupBy("digest").agg(F.min("media_id").alias("media_id"))
    deduped = keyed.join(keep, ["digest", "media_id"]).select(
        F.format_string("%06d", F.col("media_id")).alias("key"),
        "payload", "caption", "mean_pixel",
    )
    rows = {r["key"]: r for r in deduped.collect()}
    assert sorted(rows) == [f"{i:06d}" for i in range(12)]  # the 4 planted duplicates are gone
    src = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    mean_pixel = {r["media_id"]: r["mean_pixel"] for r in decode_images(media).collect()}
    for k, r in rows.items():
        assert bytes(r["payload"]) == src[int(k)]
        assert r["mean_pixel"] == mean_pixel[int(k)]
        assert r["caption"] == f"item {int(k)}"
