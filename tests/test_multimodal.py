"""Media codec tests: the dependency-free decoders the multimodal
queries run, on hand-built and encoder-built payloads."""

from __future__ import annotations

import pytest

import struct
import tracemalloc
import zlib

from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
    _decode_gif,
    _decode_jpeg,
    _decode_png,
    _decode_pnm,
    _luma,
    decode_wav,
    encode_gif,
    encode_jpeg_lossless,
    encode_png,
    encode_pnm,
    encode_wav,
)


def test_pnm_decodes_dependency_free():
    w, h = 4, 2
    gray = list(range(0, 256, 32))  # 8 pixels
    p5 = encode_pnm(w, h, gray)
    rgb = [(v, 0, 255 - v) for v in gray]
    p6 = encode_pnm(w, h, rgb, rgb=True)
    lumas6 = [(299 * r + 587 * g + 114 * b) // 1000 for (r, g, b) in rgb]
    assert _decode_pnm(p5) == (w, h, [bytes(gray)])
    assert _decode_pnm(p6) == (w, h, [bytes(lumas6)])
    # comment + 8-bit-paletted headers stay parseable
    commented = b"P5\n# a comment\n4 2\n255\n" + bytes(gray)
    assert _decode_pnm(commented) == (4, 2, [bytes(gray)])


def test_png_payload_decodes_to_exact_luma():
    """A filtered 8-bit gray PNG decodes back to its exact raster
    (stdlib zlib inflate, no imaging library)."""
    rows = [bytes((x * 7 + y * 3) % 256 for x in range(8)) for y in range(4)]
    png = encode_png(8, 4, rows, color_type=0, filter_type=2)
    assert _decode_png(png) == (8, 4, [b"".join(rows)])


@pytest.mark.parametrize("width", [8, 5])
def test_adam7_png_decodes_to_exact_luma(width):
    """Adam7's seven passes scatter back to the exact raster, also when
    the width leaves some passes empty."""
    rows = [bytes((x * 7 + y * 3) % 256 for x in range(width)) for y in range(4)]
    png = encode_png(width, 4, rows, color_type=0, filter_type=4, interlace=1)
    assert _decode_png(png) == (width, 4, [b"".join(rows)])


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", zlib.crc32(tag + body))


def _png(ihdr: bytes, raster: bytes) -> bytes:
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raster)) + _png_chunk(b"IEND", b""))


@pytest.mark.parametrize(
    ("ihdr", "match"),
    [
        (struct.pack(">IIBB", 2, 2, 8, 0), "IHDR is 10 bytes"),
        (struct.pack(">IIBBBBB", 0, 2, 8, 0, 0, 0, 0), "no pixels"),
        (struct.pack(">IIBBBBB", 65535, 65535, 8, 0, 0, 0, 0), "size mismatch"),
        (struct.pack(">IIBBBBB", 65535, 65535, 8, 0, 0, 0, 1), "size mismatch"),
    ],
    ids=["short-ihdr", "zero-width", "huge-ihdr-tiny-idat", "huge-adam7-tiny-idat"],
)
def test_png_header_disagreeing_with_its_data_raises_before_allocating(ihdr, match):
    """An IHDR that is short, has no pixels, or claims a raster its IDAT
    does not hold is corrupt input: ValueError, not a struct error or a
    4 GB pixel buffer."""
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match=match):
            _decode_png(_png(ihdr, b"\x00\x01\x02"))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20


def test_png_with_truncated_idat_stream_raises():
    png = encode_png(4, 2, [bytes(4), bytes(4)])
    start = png.index(b"IDAT") + 4
    length = struct.unpack(">I", png[start - 8 : start - 4])[0]
    cut = _png_chunk(b"IDAT", png[start : start + length - 4])
    with pytest.raises(ValueError, match="IDAT"):
        _decode_png(png[: start - 8] + cut + _png_chunk(b"IEND", b""))


@pytest.mark.parametrize(
    "cut",
    [lambda w: w[: w.index(b"fmt ") + 14],
     lambda w: w.replace(b"fmt \x10", b"fmt \x81")],
    ids=["truncated-fmt-chunk", "fmt-chunk-overruns-payload"],
)
def test_wav_corrupt_header_raises_value_error(cut):
    """The stdlib reader's EOFError and RuntimeError on a corrupt
    header surface as ValueError, as every decoder's do."""
    wav = encode_wav(bytes(range(0, 256, 8)))
    assert decode_wav(wav)[0] == (1, 1, 8000, 32)
    with pytest.raises(ValueError, match="bad WAV payload"):
        decode_wav(cut(wav))


def test_gif_frames_decode_to_exact_means():
    """A REAL multi-frame container: every frame of a 4-frame GIF
    decodes to its exact palette luma, so per-frame means are exact."""
    pal = [((i * 5) % 256, (i * 11) % 256, (i * 3) % 256) for i in range(16)]
    frames = [[(f * 7 + i) % 16 for i in range(12 * 6)] for f in range(4)]
    w, h, got = _decode_gif(encode_gif(12, 6, frames, pal))
    assert (w, h, len(got)) == (12, 6, 4)
    for f in range(4):
        lumas = [_luma(*pal[i]) for i in frames[f]]
        assert sum(got[f]) / len(got[f]) == sum(lumas) / len(lumas)


@pytest.mark.parametrize(
    "tag", [0xC0, 0xC1, 0xC2, 0xC9, 0xCA, 0xDE],
    ids=["SOF0", "SOF1", "SOF2", "SOF9", "SOF10", "DHP"],
)
def test_jpeg_frame_other_than_sof3_not_implemented(tag):
    """Only lossless SOF3 decodes: the same stream under a DCT,
    arithmetic or hierarchical frame marker raises
    NotImplementedError instead of decoding as lossless."""
    jp = encode_jpeg_lossless(4, 4, [[v] * 4 for v in range(4)])
    assert jp[2:4] == b"\xff\xc3"
    assert _decode_jpeg(jp)[:2] == (4, 4)
    with pytest.raises(NotImplementedError, match="only lossless SOF3"):
        _decode_jpeg(jp[:3] + bytes([tag]) + jp[4:])


@pytest.mark.parametrize("tag", [0xC3, 0xDD, 0xDA], ids=["SOF3", "DRI", "SOS"])
def test_jpeg_short_segment_raises_value_error(tag):
    """A segment whose declared length is too short for its fields is
    corrupt input: ValueError, not a struct or index error."""
    sof3 = bytes((0xFF, 0xC3, 0, 11, 8, 0, 1, 0, 1, 1, 1, 0x11, 0))
    head = b"\xff\xd8" + (b"" if tag == 0xC3 else sof3)
    with pytest.raises(ValueError, match="short JPEG"):
        _decode_jpeg(head + bytes((0xFF, tag, 0, 2)) + b"\xff\xd9")


def test_gif_lzw_tail_width_boundary():
    """Regression (r5): when the FINAL data code lands the decoder's
    dictionary at exactly 2^width - 1, the decoder's early width bump
    fires before reading EOI — the encoder must emit EOI at the
    bumped width even though it assigns nothing after the last code
    (63 pixels / 64-color palette hits the 127 == 2^7 - 1 boundary)."""
    import hashlib

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
    pal = [(i, i, i) for i in range(4)]
    frames = [[(f + i) % 4 for i in range(11)] for f in range(2)]
    gif = encode_gif(1, 11, frames, pal)
    # find the end of frame 1: second 0x2c starts frame 2
    second = gif.index(b"\x2c", gif.index(b"\x2c") + 1)
    with pytest.raises(ValueError, match="missing trailer"):
        _decode_gif(gif[:second])
