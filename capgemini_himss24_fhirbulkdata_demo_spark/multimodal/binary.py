"""Pure-stdlib media codecs for the multimodal queries (SURVEY brief:
multimodal).

The registered queries in ``queries/multimodal.py`` encode document
bytes into real containers and decode them again inside
``mapInPandas``: 8-bit mono WAV (x63, x73), multi-frame GIF87a/89a
(x64, x343; LZW, global/local palettes, sub-rectangle frames
composited with GCE disposal/transparency, 4-pass interlace), PNG
(x343; every legal depth/color-type combination, all five row
filters, non-interlaced and Adam7, inflate via stdlib zlib), binary
PNM (x343; P5/P6, 8- and 16-bit with exact maxval rescale) and
lossless SOF3 JPEG (x343; T.81 Annex H, 2..16-bit grayscale,
predictors 1-7, point transform, DRI/RST). Each encoder is the
fixture twin of its decoder. No imaging library is needed; a JPEG
frame type other than SOF3 raises NotImplementedError. Color decodes
to 8-bit luma via integer BT.601 weights
((299 r + 587 g + 114 b) // 1000), so stats are bit-identical across
hosts. Truncated or corrupt payloads raise ValueError.
"""

from __future__ import annotations

import struct


def _luma(r: int, g: int, b: int) -> int:
    # integer BT.601 — deterministic across hosts, no float rounding
    return (299 * r + 587 * g + 114 * b) // 1000


def encode_wav(samples: bytes, framerate: int = 8000) -> bytes:
    """8-bit mono PCM RIFF/WAVE container via the stdlib ``wave``
    writer — the audio leg of the media path (fixture twin of
    ``decode_wav``). One byte per sample, unsigned."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(framerate)
        w.writeframes(samples)
    return buf.getvalue()


def decode_wav(payload: bytes):
    """Parse a RIFF/WAVE container with the stdlib ``wave`` reader →
    ((channels, sampwidth, framerate, n_frames), sample bytes).
    Truncated payloads (header frame count exceeding the data chunk)
    raise ValueError, matching the other decoders' contract."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            meta = (
                w.getnchannels(),
                w.getsampwidth(),
                w.getframerate(),
                w.getnframes(),
            )
            frames = w.readframes(meta[3])
    except (wave.Error, EOFError, RuntimeError) as e:
        raise ValueError(f"bad WAV payload: {e}") from e
    if len(frames) != meta[0] * meta[1] * meta[3]:
        raise ValueError("truncated WAV payload")
    return meta, frames


def encode_pnm(width: int, height: int, pixels, rgb: bool = False,
               maxval: int = 255) -> bytes:
    """Binary PNM writer: P6 from (r,g,b) tuples or P5 from luma
    samples — fixture twin of ``_decode_pnm``. ``maxval`` > 255
    writes two-byte big-endian samples (16-bit PNM)."""
    header = (
        f"{'P6' if rgb else 'P5'}\n{width} {height}\n{maxval}\n".encode()
    )
    flat = [v for px in pixels for v in px] if rgb else list(pixels)
    if maxval > 255:
        return header + b"".join(struct.pack(">H", v) for v in flat)
    return header + bytes(flat)



def _decode_pnm(payload: bytes):
    """Binary PNM (P5 grayscale / P6 RGB, maxval ≤ 255) →
    (width, height, [luma frame]). Pure stdlib."""
    magic = payload[:2]
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:  # width, height, maxval; '#' comments legal
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raster
    width, height, maxval = fields
    if maxval <= 0 or maxval > 65535:
        raise ValueError(f"invalid PNM maxval {maxval}")
    # two-byte big-endian samples when maxval > 255 (per spec);
    # scaled to 8-bit luma with exact integer arithmetic
    sw = 2 if maxval > 255 else 1
    nch = 1 if magic == b"P5" else 3
    need = nch * sw * width * height
    if pos + need > len(payload):
        raise ValueError(
            f"truncated {magic.decode()} raster: need {need} bytes after "
            f"header, have {len(payload) - pos}"
        )
    raster = payload[pos : pos + need]

    def sample(i: int) -> int:
        if sw == 1:
            v = raster[i]
        else:
            v = (raster[2 * i] << 8) | raster[2 * i + 1]
        if v > maxval:
            raise ValueError(f"PNM sample {v} exceeds maxval {maxval}")
        return v * 255 // maxval

    if magic == b"P5":
        if sw == 1 and maxval == 255:
            return width, height, [raster]
        px = bytes(sample(i) for i in range(width * height))
        return width, height, [px]
    px = bytes(
        _luma(sample(3 * i), sample(3 * i + 1), sample(3 * i + 2))
        for i in range(width * height)
    )
    return width, height, [px]


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# channels per PNG color type (bit depth 8 only)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# Adam7 pass geometry: (x_start, y_start, x_step, y_step) per pass.
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_filter_rows(rows, ch: int, filter_type: int) -> bytes:
    """Apply one PNG row filter to a raster (encoder side). ``rows``
    is a list of equal-length byte sequences; the up-neighbor of the
    first row is the zero row (per spec, independently per Adam7
    pass)."""
    raw = bytearray()
    prev = bytes(len(rows[0])) if rows else b""
    for row in rows:
        row = bytes(row)
        filt = bytearray(len(row))
        for i, x in enumerate(row):
            a = row[i - ch] if i >= ch else 0  # left
            b = prev[i]  # up
            c = prev[i - ch] if i >= ch else 0  # up-left
            if filter_type == 0:
                filt[i] = x
            elif filter_type == 1:
                filt[i] = (x - a) & 0xFF
            elif filter_type == 2:
                filt[i] = (x - b) & 0xFF
            elif filter_type == 3:
                filt[i] = (x - (a + b) // 2) & 0xFF
            else:  # 4: Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[i] = (x - pred) & 0xFF
        raw += bytes((filter_type,)) + bytes(filt)
        prev = row
    return bytes(raw)


def _png_pack_bits(samples, depth: int) -> bytes:
    """Pack sub-8-bit samples into bytes, MSB-first (PNG bit order).
    The last byte's unused low bits stay zero, per spec."""
    per_byte = 8 // depth
    maxv = (1 << depth) - 1
    out = bytearray((len(samples) + per_byte - 1) // per_byte)
    for x, v in enumerate(samples):
        if not 0 <= v <= maxv:
            raise ValueError(f"PNG sample {v} exceeds depth-{depth} range")
        out[x // per_byte] |= v << (8 - depth - (x % per_byte) * depth)
    return bytes(out)


def encode_png(width: int, height: int, rows, color_type: int = 0,
               palette: list[tuple[int, int, int]] | None = None,
               filter_type: int = 0, interlace: int = 0,
               depth: int = 8) -> bytes:
    """Minimal PNG writer (1/2/4/8/16-bit) — fixture twin of
    ``_decode_png``. ``rows`` is a list of per-row byte sequences in
    raw channel order (two big-endian bytes per sample at
    ``depth=16``); at sub-8-bit depths (gray or palette only, per
    spec) each row is a sequence of per-pixel sample VALUES
    (0..2^depth−1) that the writer packs MSB-first. ``filter_type``
    applies that PNG filter to every row so decoder filter paths
    (0=None 1=Sub 2=Up 3=Average 4=Paeth) are individually
    exercisable; ``interlace=1`` writes Adam7 pass order (each pass
    filtered independently, empty passes omitted, per spec)."""
    import zlib

    sub8 = depth < 8
    if sub8 and color_type not in (0, 3):
        raise ValueError(
            f"PNG depth {depth} is only legal for gray/palette "
            f"(color_type={color_type})"
        )
    # filter byte offset: whole bytes per pixel, min 1 (spec 4.5.2)
    ch = _PNG_CHANNELS[color_type] * (depth // 8) if not sub8 else 1

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    rows = [bytes(r) for r in rows]
    if interlace == 0:
        packed = [_png_pack_bits(r, depth) for r in rows] if sub8 else rows
        raw = _png_filter_rows(packed, ch, filter_type)
    else:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx if width > x0 else 0
            ph = (height - y0 + dy - 1) // dy if height > y0 else 0
            if pw == 0 or ph == 0:
                continue
            sub_rows = []
            for j in range(ph):
                row = rows[y0 + j * dy]
                if sub8:  # sample-level extraction, then repack
                    sub_rows.append(_png_pack_bits(
                        [row[x0 + i * dx] for i in range(pw)], depth))
                    continue
                sub = bytearray()
                for i in range(pw):
                    o = (x0 + i * dx) * ch
                    sub += row[o : o + ch]
                sub_rows.append(bytes(sub))
            raw += _png_filter_rows(sub_rows, ch, filter_type)
        raw = bytes(raw)
    ihdr = struct.pack(">IIBBBBB", width, height, depth, color_type, 0, 0,
                       1 if interlace else 0)
    out = _PNG_MAGIC + chunk(b"IHDR", ihdr)
    if color_type == 3:
        out += chunk(b"PLTE", b"".join(bytes(p) for p in palette))
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def _png_unfilter(raw, w: int, h: int, ch: int, stride: int | None = None):
    """Undo per-row PNG filters over an ``h`` × ``w*ch`` (sub-)raster
    (decoder side; the up-neighbor of the first row is the zero row,
    independently per Adam7 pass). ``stride`` overrides the
    ``w*ch`` row byte count for sub-8-bit rasters where pixels pack
    below byte granularity (filter offset ``ch`` stays 1 there, per
    spec 4.5.2). Returns the list of unfiltered row bytearrays;
    raises ValueError on size mismatch or an invalid filter byte."""
    if stride is None:
        stride = w * ch
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"PNG raster size mismatch: need {h * (1 + stride)} "
            f"bytes, inflated {len(raw)}"
        )
    rows = []
    prev = bytearray(stride)
    for y in range(h):
        f = raw[y * (1 + stride)]
        row = bytearray(raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)])
        if f == 1:  # Sub
            for i in range(ch, stride):
                row[i] = (row[i] + row[i - ch]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = row[i - ch] if i >= ch else 0
                row[i] = (row[i] + (a + prev[i]) // 2) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = row[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                b = prev[i]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"invalid PNG row filter {f}")
        rows.append(row)
        prev = row
    return rows


def _png_row_luma(row, w: int, color_type: int, palette) -> bytearray:
    """One unfiltered raw row → per-pixel luma bytes (alpha ignored
    for luma stats)."""
    out = bytearray(w)
    for x in range(w):
        if color_type == 0:
            out[x] = row[x]
        elif color_type == 2:
            out[x] = _luma(row[3 * x], row[3 * x + 1], row[3 * x + 2])
        elif color_type == 3:
            if palette is None:
                raise ValueError("paletted PNG missing PLTE")
            if row[x] >= len(palette):
                raise ValueError(
                    f"PNG palette index {row[x]} out of range "
                    f"({len(palette)} entries)"
                )
            out[x] = palette[row[x]]
        elif color_type == 4:
            out[x] = row[2 * x]
        else:  # 6: RGBA
            out[x] = _luma(row[4 * x], row[4 * x + 1], row[4 * x + 2])
    return out


def _decode_png(payload: bytes):
    """Pure-stdlib PNG decode (every legal depth/color-type combo:
    1/2/4-bit gray+palette, 8-bit types 0/2/3/4/6, 16-bit types
    0/2/4/6; all five row filters; non-interlaced AND
    Adam7-interlaced) → (width, height, [luma frame]). zlib does the
    inflate; alpha is ignored for luma stats. Truncated or corrupt
    streams raise ValueError (same contract as PNM)."""
    import zlib

    if len(payload) < 8 + 25:
        raise ValueError(f"truncated PNG: {len(payload)} bytes")
    pos = 8
    ihdr = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,), tag = struct.unpack(">I", payload[pos : pos + 4]), payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated PNG chunk")
        if tag == b"IHDR":
            if length != 13:
                raise ValueError(f"PNG IHDR is {length} bytes, not 13")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            palette = [
                _luma(body[3 * i], body[3 * i + 1], body[3 * i + 2])
                for i in range(len(body) // 3)
            ]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length  # len + tag + body + crc
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, _comp, _filt, interlace = ihdr
    legal = {0: (1, 2, 4, 8, 16), 3: (1, 2, 4, 8),
             2: (8, 16), 4: (8, 16), 6: (8, 16)}
    if color_type not in legal or depth not in legal[color_type]:
        raise ValueError(
            f"illegal PNG depth/color-type combination "
            f"(depth={depth}, color_type={color_type})"
        )
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    if width == 0 or height == 0:
        raise ValueError(f"PNG has no pixels ({width}x{height})")
    if not idat:
        raise ValueError("PNG missing IDAT")
    ch = _PNG_CHANNELS[color_type]
    sub8 = depth < 8
    # filter byte-offset: whole bytes per pixel, min 1 (spec 4.5.2)
    bpp = 1 if sub8 else ch * (depth // 8)

    def stride_of(w):  # packed row byte count
        return (w * ch * depth + 7) // 8

    # (x0, y0, dx, dy, pass width, pass height): one pass, or Adam7's
    # seven independently-filtered passes with the empty ones omitted
    passes = [(0, 0, 1, 1, width, height)] if interlace == 0 else [
        (x0, y0, dx, dy, (width - x0 + dx - 1) // dx, (height - y0 + dy - 1) // dy)
        for x0, y0, dx, dy in _ADAM7
        if width > x0 and height > y0
    ]
    # the raster size IHDR implies bounds the inflate, and is checked
    # before the pixel buffer is allocated
    need = sum(ph * (1 + stride_of(pw)) for *_, pw, ph in passes)
    inflater = zlib.decompressobj()
    try:
        raw = inflater.decompress(bytes(idat), need + 1)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    if len(raw) != need:
        raise ValueError(
            f"PNG raster size mismatch: need {need} bytes, inflated "
            f"{len(raw)}{' or more' if len(raw) > need else ''}"
        )
    if not inflater.eof:
        raise ValueError("corrupt PNG IDAT stream: incomplete or truncated stream")

    maxv = (1 << depth) - 1

    def row_luma(row, w):
        if sub8:
            # unpack MSB-first, then scale gray / look up palette
            per_byte = 8 // depth
            out = bytearray(w)
            for x in range(w):
                v = (row[x // per_byte]
                     >> (8 - depth - (x % per_byte) * depth)) & maxv
                if color_type == 0:
                    out[x] = v * 255 // maxv
                else:
                    if palette is None:
                        raise ValueError("paletted PNG missing PLTE")
                    if v >= len(palette):
                        raise ValueError(
                            f"PNG palette index {v} out of range "
                            f"({len(palette)} entries)"
                        )
                    out[x] = palette[v]
            return out
        if depth == 16:
            # high byte of each big-endian 16-bit sample == v*255//65535
            row = row[::2]
        return _png_row_luma(row, w, color_type, palette)

    px = bytearray(width * height)
    off = 0
    for x0, y0, dx, dy, pw, ph in passes:
        size = ph * (1 + stride_of(pw))
        rows = _png_unfilter(raw[off : off + size], pw, ph, bpp, stride_of(pw))
        off += size
        for j, row in enumerate(rows):
            y = y0 + j * dy
            px[y * width + x0 : (y + 1) * width : dx] = row_luma(row, pw)
    return width, height, [bytes(px)]


# ---- lossless JPEG (pure stdlib) ----


def _huff_codes(bits, vals):
    """Canonical Huffman (JPEG C.2): {(length, code): value}."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code, length):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-pad per spec



# Lossless-JPEG difference categories run 0..16 (mod-2^16 differences;
# SSSS=16 is the bit-less "diff == 32768" escape, T.81 H.1.2.2). A
# uniform 5-bit canonical table over all 17 symbols (Kraft 17/32 < 1)
# — the Annex-K DC table stops at SSSS=11, so it cannot carry
# 12..16-bit differences of high-precision samples.
_LL_BITS = [0, 0, 0, 0, 17] + [0] * 11
_LL_VALS = list(range(17))


def _ll_predict(rows, x: int, y: int, predictor: int, half: int) -> int:
    """T.81 H.1.2 sample prediction: boundary rules first (the sample
    above-left of everything predicts as 2^(P-1-Pt); the rest of the
    first line predicts from the left neighbor; the first column
    predicts from above), then the scan-selected predictor 1-7."""
    if y == 0 and x == 0:
        return half
    if y == 0:
        return rows[0][x - 1]
    if x == 0:
        return rows[y - 1][0]
    a, b, c = rows[y][x - 1], rows[y - 1][x], rows[y - 1][x - 1]
    if predictor == 1:
        return a
    if predictor == 2:
        return b
    if predictor == 3:
        return c
    if predictor == 4:
        return a + b - c
    if predictor == 5:
        return a + ((b - c) >> 1)
    if predictor == 6:
        return b + ((a - c) >> 1)
    return (a + b) >> 1  # 7


def encode_jpeg_lossless(width: int, height: int, rows,
                         predictor: int = 4, precision: int = 8,
                         point_transform: int = 0,
                         restart_interval: int = 0) -> bytes:
    """Lossless (SOF3) GRAYSCALE JPEG writer — fixture twin of the
    lossless decode path (T.81 Annex H). ``rows`` holds per-row
    sample values in [0, 2^precision); the encoder transmits
    ``sample >> point_transform`` (the Annex-H point transform — the
    near-lossless knob; exact round-trip at Pt=0), predicting each
    sample with ``predictor`` 1-7 under the spec boundary rules and
    Huffman-coding the mod-2^16 differences as SSSS category + value
    bits, SSSS=16 carrying diff=32768 with no bits.
    ``restart_interval`` emits DRI + RSTn every N samples (an MCU is
    one sample here); prediction resets to the scan-initial default
    for the sample after each restart (T.81 H.2.2)."""
    if not 1 <= predictor <= 7:
        raise ValueError(f"lossless JPEG predictor {predictor} not in 1..7")
    if not 2 <= precision <= 16:
        raise ValueError(f"lossless JPEG precision {precision} not in 2..16")
    enc = {v: lc for lc, v in _huff_codes(_LL_BITS, _LL_VALS).items()}

    def marker(tag, body):
        return bytes((0xFF, tag)) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += marker(
        0xC3,
        struct.pack(">BHHB", precision, height, width, 1) + bytes((1, 0x11, 0)),
    )
    out += marker(0xC4, bytes([0x00]) + bytes(_LL_BITS) + bytes(_LL_VALS))
    if restart_interval:
        out += marker(0xDD, struct.pack(">H", restart_interval))
    out += marker(
        0xDA, bytes((1, 1, 0x00, predictor, 0, point_transform))
    )

    half = 1 << (precision - 1 - point_transform)
    il = [[int(v) >> point_transform for v in r] for r in rows]
    w = _BitWriter()
    n = 0
    force_default = False
    for y in range(height):
        for x in range(width):
            if restart_interval and n and n % restart_interval == 0:
                w.flush()
                out += w.buf
                w = _BitWriter()
                out += bytes((0xFF, 0xD0 + (n // restart_interval - 1) % 8))
                force_default = True
            n += 1
            px = half if force_default else _ll_predict(
                il, x, y, predictor, half)
            force_default = False
            d = (il[y][x] - px) & 0xFFFF
            if d > 32768:
                d -= 65536
            if d == 32768:
                length, code = enc[16]
                w.write(code, length)
                continue
            size = 0 if d == 0 else (
                d.bit_length() if d > 0 else (-d).bit_length()
            )
            length, code = enc[size]
            w.write(code, length)
            if size:
                w.write(d if d > 0 else d + (1 << size) - 1, size)
    w.flush()
    out += w.buf
    out += b"\xff\xd9"
    return bytes(out)



class _BitReader:
    def __init__(self, data, pos):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self):
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG scan data")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG scan data")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            elif nxt == 0xD9:  # EOI reached while needing bits
                raise ValueError("truncated JPEG scan data (hit EOI)")
            elif 0xD0 <= nxt <= 0xD7:  # RST marker
                self.pos += 1
                self.acc = 0
                self.n = 0
                return self._fill()
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
        self.acc = (self.acc << 8) | b
        self.n += 8

    def restart(self):
        """Byte-align at a restart boundary: drop the previous MCU's
        pad bits and consume the expected RSTn marker."""
        self.acc = 0
        self.n = 0
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2

    def bit(self):
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k):
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table):
        length = 0
        code = 0
        while length < 16:
            code = (code << 1) | self.bit()
            length += 1
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("invalid JPEG Huffman code")


def _extend(v, size):
    # JPEG F.2.2.1 EXTEND: low values encode negatives
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_jpeg(payload: bytes):
    """Lossless (SOF3) grayscale JPEG → (width, height, [luma frame]),
    pure stdlib (T.81 Annex H, see ``_decode_lossless_scan``). Every
    other frame type (DCT baseline/extended/progressive, arithmetic,
    hierarchical) raises NotImplementedError; truncated or corrupt
    streams raise ValueError."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    dc_tabs = {}
    frame = None
    restart_interval = 0
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        tag = payload[pos + 1]
        if tag == 0xD9:
            break
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if tag == 0xC3:  # SOF3
            if len(body) < 6 or len(body) < 6 + 3 * body[5]:
                raise ValueError("short JPEG SOF3 segment")
            prec, h, wdt, nc = struct.unpack(">BHHB", body[:6])
            if not 2 <= prec <= 16:
                raise ValueError(f"illegal lossless JPEG precision {prec}")
            comps = {body[6 + 3 * i] for i in range(nc)}
            frame = {"w": wdt, "h": h, "prec": prec, "comps": comps}
        elif tag in (0xC0, 0xC1, 0xC2, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                     0xCB, 0xCD, 0xCE, 0xCF, 0xDE):
            # the other SOFn frames and the hierarchical DHP header
            raise NotImplementedError(
                f"JPEG frame type 0xFF{tag:02X}: only lossless SOF3 "
                "decodes here")
        elif tag == 0xC4:  # DHT
            p = 0
            while p < len(body):
                cls = body[p] >> 4
                tid = body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                vals = list(body[p + 17 : p + 17 + n])
                if len(vals) < n:
                    raise ValueError("truncated DHT")
                if cls == 0:  # lossless scans code with DC-class tables
                    dc_tabs[tid] = _huff_codes(bits, vals)
                p += 17 + n
        elif tag == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("short JPEG DRI segment")
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif tag == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if not body or len(body) < 4 + 2 * body[0]:
                raise ValueError("short JPEG SOS segment")
            ns = body[0]
            scan = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                if cs not in frame["comps"]:
                    raise ValueError(f"JPEG scan names unknown component {cs}")
                scan.append((cs, tt >> 4, tt & 0x0F))
            ss, _se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            return _decode_lossless_scan(
                payload, pos + 2 + seglen, frame, scan, ss,
                ahal & 0x0F, dc_tabs, restart_interval,
            )
        pos += 2 + seglen
    raise ValueError("JPEG has no scan data")


def _decode_lossless_scan(payload, pos, frame, scan, predictor, pt,
                          dc_tabs, restart_interval):
    """Lossless (SOF3) scan decode, T.81 Annex H: Huffman SSSS
    category + value bits give a mod-2^16 difference added to the
    predicted sample (Ss selects predictor 1-7; boundary rules in
    ``_ll_predict``); SSSS=16 is the bit-less diff=32768 escape.
    Reconstructed samples are shifted left by the point transform Pt
    and scaled to 8-bit luma by exact integer v*255//(2^P-1) (the PNM
    maxval rule). Single-component only — the engine's stats are
    luma-based; multi-component lossless raises NotImplementedError.
    A restart resets prediction to the scan-initial default for the
    next sample (T.81 H.2.2) and realigns the bit reader."""
    if len(scan) != 1:
        raise NotImplementedError(
            "multi-component lossless JPEG does not decode here")
    if not 1 <= predictor <= 7:
        raise ValueError(f"lossless JPEG predictor {predictor} not in 1..7")
    _comp, dc_id, _ = scan[0]
    if dc_id not in dc_tabs:
        raise ValueError(f"lossless JPEG scan references missing DHT {dc_id}")
    table = dc_tabs[dc_id]
    w, h, prec = frame["w"], frame["h"], frame["prec"]
    if pt >= prec:
        raise ValueError(
            f"lossless JPEG point transform {pt} >= precision {prec}")
    half = 1 << (prec - 1 - pt)
    maxval = (1 << prec) - 1
    r = _BitReader(payload, pos)
    rows = [[0] * w for _ in range(h)]
    n = 0
    force_default = False
    for y in range(h):
        for x in range(w):
            if restart_interval and n and n % restart_interval == 0:
                r.restart()
                force_default = True
            n += 1
            ssss = r.huff(table)
            if ssss == 16:
                diff = 32768
            elif ssss:
                diff = _extend(r.bits(ssss), ssss)
            else:
                diff = 0
            px = half if force_default else _ll_predict(
                rows, x, y, predictor, half)
            force_default = False
            rx = (px + diff) & 0xFFFF
            if rx << pt > maxval:
                raise ValueError(
                    f"corrupt lossless JPEG: sample {rx << pt} exceeds "
                    f"precision-{prec} range"
                )
            rows[y][x] = rx
    px8 = bytearray(w * h)
    for y in range(h):
        for x in range(w):
            px8[y * w + x] = (rows[y][x] << pt) * 255 // maxval
    return w, h, [bytes(px8)]


# ---- GIF (pure stdlib) — the real multi-frame container ----

_GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _lzw_compress(indices, min_code_size):
    """GIF-variant LZW: variable-width codes (LSB-first packing),
    clear/EOI codes, dictionary reset at 4096."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    buf = ()
    for idx in indices:
        cand = buf + (idx,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        table[cand] = next_code
        next_code += 1
        # EARLY bump (the canonical GIF pairing): grow width as soon
        # as the next assignable code reaches 2^width — the decoder's
        # dictionary lags by one entry, so its matching check fires at
        # len(table) == 2^width - 1 (see _lzw_decompress)
        if next_code >= (1 << width):
            if width < 12:
                width += 1
            else:
                emit(clear, width)
                table = {(i,): i for i in range(clear)}
                next_code = eoi + 1
                width = min_code_size + 1
        buf = (idx,)
    if buf:
        emit(table[buf], width)
        # The decoder appends a dictionary entry for this final code
        # too (reconstructing the one assigned after the PREVIOUS
        # emission) and applies its early width bump before reading
        # EOI — mirror that here even though the encoder itself has
        # nothing left to assign, or the decoder reads EOI one bit
        # wide (boundary: final code lands the table at 2^width - 1).
        if next_code + 1 >= (1 << width) and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data, min_code_size, expect_n):
    """Inverse of ``_lzw_compress``; raises ValueError on a corrupt
    or truncated code stream."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0
    acc = 0
    nbits = 0
    width = min_code_size + 1
    table = [bytes((i,)) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev = None

    def read_code():
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    while True:
        code = read_code()
        if code == clear:
            table = [bytes((i,)) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("invalid initial GIF LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("invalid GIF LZW code")
        out += entry
        prev = entry
        # mirror of the encoder's early bump, offset by the one-entry
        # dictionary lag: the encoder bumped after assigning code
        # len(table)+1, i.e. exactly when our table holds 2^width - 1
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
        if len(out) > expect_n:
            raise ValueError("GIF LZW stream overruns raster size")
    if len(out) != expect_n:
        raise ValueError(
            f"GIF raster size mismatch: expected {expect_n}, got {len(out)}"
        )
    return bytes(out)


def encode_gif(width: int, height: int, frames, palette, rects=None,
               interlace: bool = False, gces=None) -> bytes:
    """Minimal multi-frame GIF89a writer (global palette) — fixture
    twin of ``_decode_gif``. ``frames`` is a list of per-frame
    palette-index sequences (row-major; width*height, or fw*fh when
    ``rects`` gives that frame a (left, top, fw, fh) sub-rectangle);
    ``palette`` is up to 256 (r, g, b); ``interlace`` stores every
    frame's rows in GIF 4-pass order; ``gces`` is an optional list
    of per-frame (disposal, transparent_idx or None) written as
    Graphic Control Extensions."""
    n = max(2, (max(1, len(palette) - 1)).bit_length())
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | ((n - 1) & 7) << 4 | (n - 1), 0, 0)
    for i in range(1 << n):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        out += bytes((r, g, b))
    for fi, frame in enumerate(frames):
        left, top, fw, fh = (
            rects[fi] if rects and rects[fi] else (0, 0, width, height)
        )
        if gces and gces[fi]:
            disposal, t_idx = gces[fi]
            gflags = ((disposal & 7) << 2) | (1 if t_idx is not None else 0)
            out += b"\x21\xf9\x04" + bytes(
                (gflags, 0, 0, t_idx if t_idx is not None else 0)
            ) + b"\x00"
        frame = list(frame)
        if interlace:
            order = (
                list(range(0, fh, 8)) + list(range(4, fh, 8))
                + list(range(2, fh, 4)) + list(range(1, fh, 2))
            )
            frame = [v for r in order for v in frame[r * fw : (r + 1) * fw]]
        out += b"\x2c" + struct.pack(
            "<HHHHB", left, top, fw, fh, 0x40 if interlace else 0
        )
        out.append(n)  # LZW min code size
        data = _lzw_compress(frame, n)
        for off in range(0, len(data), 255):
            chunk = data[off : off + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)  # block terminator
    out += b"\x3b"  # trailer
    return bytes(out)


def _gif_deinterlace(idx: bytes, fw: int, fh: int) -> bytes:
    """Reorder GIF 4-pass interlaced rows (8/0, 8/4, 4/2, 2/1 =
    step/start) into display order."""
    order = (
        list(range(0, fh, 8)) + list(range(4, fh, 8))
        + list(range(2, fh, 4)) + list(range(1, fh, 2))
    )
    out = bytearray(fw * fh)
    for src, dst in enumerate(order):
        out[dst * fw : (dst + 1) * fw] = idx[src * fw : (src + 1) * fw]
    return bytes(out)


def _decode_gif(payload: bytes):
    """Multi-frame GIF → (width, height, [luma frames]) — the real-
    format path for x64's frame sampling. Pure-stdlib: global or local
    palettes, sub-rectangle frames composited onto the logical
    screen with Graphic Control Extension disposal (0/1 leave,
    2 restore-to-background, 3 restore-to-previous) and
    transparent-index skip, and 4-pass interlaced rasters.
    Truncated/corrupt streams raise ValueError."""
    if payload[:6] not in _GIF_MAGICS:
        raise ValueError("not a GIF")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    width, height, flags, bg_idx, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    global_pal = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        raw = payload[pos : pos + 3 * n]
        if len(raw) < 3 * n:
            raise ValueError("truncated GIF global palette")
        global_pal = [
            _luma(raw[3 * i], raw[3 * i + 1], raw[3 * i + 2]) for i in range(n)
        ]
        pos += 3 * n
    bg_luma = (
        global_pal[bg_idx] if global_pal and bg_idx < len(global_pal) else 0
    )
    canvas = bytearray([bg_luma]) * (width * height)
    frames = []
    saw_trailer = False
    pending_gce = None  # (disposal, transparent_idx or None)
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            saw_trailer = True
            break
        if block == 0x21:  # extension: label + sub-blocks
            label = payload[pos + 1] if pos + 1 < len(payload) else None
            pos += 2
            first = True
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF extension")
                sz = payload[pos]
                pos += 1
                if sz == 0:
                    break
                body = payload[pos : pos + sz]
                if len(body) < sz:
                    raise ValueError("truncated GIF extension")
                if label == 0xF9 and first and sz >= 4:
                    gflags = body[0]
                    pending_gce = (
                        (gflags >> 2) & 7,
                        body[3] if gflags & 1 else None,
                    )
                first = False
                pos += sz
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
        if pos + 10 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        left, top, fw, fh, iflags = struct.unpack("<HHHHB", payload[pos + 1 : pos + 10])
        pos += 10
        if left + fw > width or top + fh > height or fw == 0 or fh == 0:
            raise ValueError(
                f"GIF frame rect ({left},{top},{fw},{fh}) outside "
                f"{width}x{height} logical screen"
            )
        pal = global_pal
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            raw = payload[pos : pos + 3 * n]
            if len(raw) < 3 * n:
                raise ValueError("truncated GIF local palette")
            pal = [
                _luma(raw[3 * i], raw[3 * i + 1], raw[3 * i + 2])
                for i in range(n)
            ]
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF frame has no palette")
        if pos >= len(payload):
            raise ValueError("truncated GIF frame")
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        while True:
            if pos >= len(payload):
                raise ValueError("truncated GIF frame data")
            sz = payload[pos]
            pos += 1
            if sz == 0:
                break
            chunk = payload[pos : pos + sz]
            if len(chunk) < sz:
                raise ValueError("truncated GIF data sub-block")
            data += chunk
            pos += sz
        idx = _lzw_decompress(bytes(data), min_code, fw * fh)
        if iflags & 0x40:
            idx = _gif_deinterlace(idx, fw, fh)
        disposal, t_idx = pending_gce if pending_gce else (0, None)
        pending_gce = None
        snapshot = bytes(canvas) if disposal == 3 else None
        for r in range(fh):
            base = (top + r) * width + left
            rowoff = r * fw
            for c in range(fw):
                v = idx[rowoff + c]
                if t_idx is not None and v == t_idx:
                    continue
                canvas[base + c] = pal[v] if v < len(pal) else 0
        frames.append(bytes(canvas))
        if disposal == 2:  # restore rect to background
            for r in range(fh):
                base = (top + r) * width + left
                canvas[base : base + fw] = bytes([bg_luma]) * fw
        elif disposal == 3:  # restore to previous
            canvas = bytearray(snapshot)
    if not saw_trailer:
        # A stream ending cleanly at a frame boundary (after a 0-size
        # sub-block terminator, before the trailer) is still truncated:
        # later frames may have been cut off.
        raise ValueError("truncated GIF: missing trailer")
    if not frames:
        raise ValueError("GIF has no image frames")
    return width, height, frames

