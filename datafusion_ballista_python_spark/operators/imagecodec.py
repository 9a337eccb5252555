"""Pure-stdlib image codec: PNG (8-bit gray/gray+alpha/RGB/RGBA, all five
scanline filters) and 24-bit uncompressed BMP, encode + decode, plus a
nearest-neighbor resampler.

Exists so the multimodal decode/resize operators (operators/multimodal.py)
run a REAL codec for real image payloads instead of a stub — PNG is just
zlib (stdlib) + per-scanline unfiltering and BMP is raw BGR rows, so a
dependency-free implementation is small and exact.  The reference engine has no media surface (SURVEY §2.10); this is
the training-pipeline extension's codec.

Scale note: this runs INSIDE mapInPandas workers, per Arrow batch, where
the bytes already live — the operator layer's partitioning/shuffle shape is
unchanged by what codec runs here.  Per-pixel Python is ~100x slower than a
native codec.  It is the only decoder: no installed package (Pillow
included) changes which code decodes a payload, so the accepted subset and
the decoded pixels are the same on every host.

Decoded images are plain ``Image`` tuples of (width, height, channels,
pixels) with ``pixels`` a flat ``bytearray`` of length w*h*c, row-major,
RGB(A)/gray order — no numpy required.
"""

from __future__ import annotations

import struct
import zlib
from typing import NamedTuple, Optional

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# Decompression budget: IHDR dimensions are attacker-controlled, so a cap
# derived ONLY from them still admits a 65536x65536 RGBA declaration
# (~17 GB of "expected" output from a few-KB zlib stream).  Bound total
# pixels so the worst-case inflate budget is ~84 MB (RGBA + filter bytes)
# — far above any training-corpus thumbnail, far below executor OOM.
MAX_PIXELS = 1 << 24  # 16.7M px (4096 x 4096)

# PNG color types -> channel count (8-bit depth only; palette unsupported)
_COLOR_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class Image(NamedTuple):
    width: int
    height: int
    channels: int
    pixels: bytearray  # flat, row-major, w*h*c bytes


class ImageCodecError(ValueError):
    """Malformed or unsupported image payload."""


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

def _png_chunks(data: bytes):
    pos = len(PNG_MAGIC)
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ImageCodecError("truncated PNG chunk")
        yield ctype, body
        pos += 12 + length  # length + type + body + crc
        if ctype == b"IEND":
            return
    raise ImageCodecError("missing IEND")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> Image:
    """Decode an 8-bit non-interlaced PNG (gray / gray+alpha / RGB / RGBA)."""
    if not data.startswith(PNG_MAGIC):
        raise ImageCodecError("not a PNG")
    width = height = channels = None
    idat = bytearray()
    for ctype, body in _png_chunks(data):
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ImageCodecError(f"unsupported bit depth {depth}")
            if not (0 < width <= 1 << 16) or not (0 < height <= 1 << 16):
                raise ImageCodecError(f"bad dimensions {width}x{height}")
            if color not in _COLOR_CHANNELS:
                raise ImageCodecError(f"unsupported color type {color}")
            if interlace != 0:
                raise ImageCodecError("interlaced PNG unsupported")
            channels = _COLOR_CHANNELS[color]
            if width * height > MAX_PIXELS:
                raise ImageCodecError(
                    f"image too large ({width}x{height} > {MAX_PIXELS} px)"
                )
        elif ctype == b"IDAT":
            idat += body
    if width is None or not idat:
        raise ImageCodecError("missing IHDR/IDAT")
    stride = width * channels
    expected = (stride + 1) * height
    # bounded decompress: dimensions are validated from IHDR (incl. the
    # MAX_PIXELS budget above — the cap must not come from attacker-
    # controlled dims alone), but the IDAT stream itself is untrusted —
    # an unbounded zlib.decompress on a crafted payload could demand GBs
    # (decompression bomb) and OOM the executor task instead of raising.
    # Cap output at expected + 1: one extra byte distinguishes "too much
    # data" from an exact match, so surplus IDAT data is rejected too.
    d = zlib.decompressobj()
    raw = d.decompress(bytes(idat), expected + 1)
    if len(raw) != expected:
        raise ImageCodecError("scanline size mismatch")
    if not d.eof:
        # exactly `expected` bytes came out but the deflate stream never
        # terminated: truncated input (zlib.decompress would have raised;
        # a max_length-bounded decompressobj returns quietly instead)
        raise ImageCodecError("incomplete or truncated IDAT stream")
    out = bytearray(stride * height)
    prev = bytearray(stride)
    bpp = channels
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            raise ImageCodecError(f"unknown filter {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return Image(width, height, channels, out)


def encode_png(img: Image) -> bytes:
    """Encode as 8-bit PNG (filter 0 scanlines, one IDAT)."""
    color = {1: 0, 2: 4, 3: 2, 4: 6}.get(img.channels)
    if color is None:
        raise ImageCodecError(f"cannot encode {img.channels}-channel image")
    stride = img.width * img.channels
    if len(img.pixels) != stride * img.height:
        raise ImageCodecError("pixel buffer size mismatch")
    raw = bytearray()
    for y in range(img.height):
        raw.append(0)
        raw += img.pixels[y * stride : (y + 1) * stride]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", img.width, img.height, 8, color, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed, BITMAPINFOHEADER, bottom-up)
# ---------------------------------------------------------------------------

def decode_bmp(data: bytes) -> Image:
    if data[:2] != b"BM":
        raise ImageCodecError("not a BMP")
    (pixel_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40:
        raise ImageCodecError("unsupported BMP header")
    width, height = struct.unpack("<ii", data[18:26])
    planes, depth = struct.unpack("<HH", data[26:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if depth != 24 or compression != 0:
        raise ImageCodecError("only 24-bit uncompressed BMP supported")
    bottom_up = height > 0
    height = abs(height)
    if not (0 < width <= 1 << 16) or not (0 < height <= 1 << 16):
        raise ImageCodecError(f"bad dimensions {width}x{height}")
    # same attacker-controlled-header cap as PNG: without it a ~60-byte
    # payload declaring 65535x65535 would allocate ~12.9 GB below and OOM
    # the executor task instead of falling back (MemoryError is not in
    # decode_image's caught-exception tuple, by design)
    if width * height > MAX_PIXELS:
        raise ImageCodecError(
            f"image too large ({width}x{height} > {MAX_PIXELS} px)"
        )
    row = width * 3
    padded = (row + 3) & ~3
    out = bytearray(row * height)
    for y in range(height):
        src_y = (height - 1 - y) if bottom_up else y
        off = pixel_off + src_y * padded
        line = data[off : off + row]
        if len(line) != row:
            raise ImageCodecError("truncated BMP rows")
        dst = y * row
        for x in range(width):  # BGR -> RGB
            out[dst + 3 * x] = line[3 * x + 2]
            out[dst + 3 * x + 1] = line[3 * x + 1]
            out[dst + 3 * x + 2] = line[3 * x]
    return Image(width, height, 3, out)


def encode_bmp(img: Image) -> bytes:
    if img.channels != 3:
        raise ImageCodecError("BMP encoder takes 3-channel images")
    row = img.width * 3
    padded = (row + 3) & ~3
    body = bytearray()
    for y in range(img.height - 1, -1, -1):  # bottom-up
        line = bytearray(padded)
        src = y * row
        for x in range(img.width):  # RGB -> BGR
            line[3 * x] = img.pixels[src + 3 * x + 2]
            line[3 * x + 1] = img.pixels[src + 3 * x + 1]
            line[3 * x + 2] = img.pixels[src + 3 * x]
        body += line
    pixel_off = 14 + 40
    file_size = pixel_off + len(body)
    return (
        b"BM"
        + struct.pack("<IHHI", file_size, 0, 0, pixel_off)
        + struct.pack("<IiiHHIIiiII", 40, img.width, img.height, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        + bytes(body)
    )


# ---------------------------------------------------------------------------
# dispatch + resample
# ---------------------------------------------------------------------------

def decode_image(data: bytes) -> Optional[Image]:
    """Decode a PNG or BMP payload; None when the bytes are neither (the
    operator layer falls back to its deterministic non-image path)."""
    try:
        if data[:8] == PNG_MAGIC:
            return decode_png(data)
        if data[:2] == b"BM":
            return decode_bmp(data)
    # ValueError covers ImageCodecError and any stray conversion error a
    # corrupt header can provoke (e.g. negative buffer sizes) — a bad
    # payload must mean "fallback", never a crashed Spark task
    except (ValueError, zlib.error, struct.error, IndexError, OverflowError):
        return None
    return None


def resize_nearest(img: Image, width: int, height: int) -> Image:
    """Nearest-neighbor resample (deterministic: source index floor(d*src/dst))."""
    if width <= 0 or height <= 0:
        raise ImageCodecError("target dimensions must be positive")
    c = img.channels
    out = bytearray(width * height * c)
    for y in range(height):
        sy = y * img.height // height
        src_row = sy * img.width * c
        dst_row = y * width * c
        for x in range(width):
            sx = x * img.width // width
            s = src_row + sx * c
            d = dst_row + x * c
            out[d : d + c] = img.pixels[s : s + c]
    return Image(width, height, c, out)
