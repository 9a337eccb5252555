"""Pure-stdlib image codec (operators/imagecodec.py) + its wiring into the
multimodal decode/resize operators: real PNG/BMP bytes, generated in-test,
flow through Spark mapInPandas and come back with pixel-exact features."""

from __future__ import annotations

import struct
import zlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from datafusion_ballista_python_spark.operators import imagecodec as ic
from datafusion_ballista_python_spark.operators import multimodal


def gradient_image(w: int, h: int, c: int) -> ic.Image:
    px = bytearray(
        (x * 7 + y * 13 + ch * 29) % 256
        for y in range(h)
        for x in range(w)
        for ch in range(c)
    )
    return ic.Image(w, h, c, px)


@pytest.mark.parametrize("c", [1, 2, 3, 4])
def test_png_roundtrip_all_channel_counts(c):
    img = gradient_image(9, 7, c)
    back = ic.decode_png(ic.encode_png(img))
    assert (back.width, back.height, back.channels) == (9, 7, c)
    assert bytes(back.pixels) == bytes(img.pixels)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_decode_each_scanline_filter(ftype):
    """Hand-assemble a PNG whose every scanline uses the given filter type
    and check the decoder unfilters back to the source pixels."""
    img = gradient_image(8, 5, 3)
    stride, bpp = 8 * 3, 3
    raw = bytearray()
    prev = bytearray(stride)
    for y in range(5):
        line = bytearray(img.pixels[y * stride : (y + 1) * stride])
        filt = bytearray(stride)
        for i in range(stride):
            left = line[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                filt[i] = line[i]
            elif ftype == 1:
                filt[i] = (line[i] - left) & 0xFF
            elif ftype == 2:
                filt[i] = (line[i] - up) & 0xFF
            elif ftype == 3:
                filt[i] = (line[i] - ((left + up) >> 1)) & 0xFF
            else:
                filt[i] = (line[i] - ic._paeth(left, up, ul)) & 0xFF
        raw.append(ftype)
        raw += filt
        prev = line

    def chunk(ctype, body):
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    data = (
        ic.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    back = ic.decode_png(data)
    assert bytes(back.pixels) == bytes(img.pixels)


def test_bmp_roundtrip_with_row_padding():
    img = gradient_image(5, 4, 3)  # width 5 -> 15-byte rows, padded to 16
    back = ic.decode_bmp(ic.encode_bmp(img))
    assert (back.width, back.height, back.channels) == (5, 4, 3)
    assert bytes(back.pixels) == bytes(img.pixels)


def test_decode_image_dispatch_and_garbage():
    img = gradient_image(4, 4, 3)
    assert ic.decode_image(ic.encode_png(img)).pixels == img.pixels
    assert ic.decode_image(ic.encode_bmp(img)).pixels == img.pixels
    assert ic.decode_image(b"not an image at all") is None
    assert ic.decode_image(ic.PNG_MAGIC + b"\x00\x01garbage") is None


def test_resize_nearest_identity_and_downsample():
    img = gradient_image(8, 8, 3)
    same = ic.resize_nearest(img, 8, 8)
    assert bytes(same.pixels) == bytes(img.pixels)
    down = ic.resize_nearest(img, 4, 4)
    # nearest with floor(d*src/dst) picks every second pixel
    for y in range(4):
        for x in range(4):
            for ch in range(3):
                assert (
                    down.pixels[(y * 4 + x) * 3 + ch]
                    == img.pixels[(2 * y * 8 + 2 * x) * 3 + ch]
                )


MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), False),
        StructField(
            "media_meta",
            StructType([StructField("format", StringType(), False)]),
            False,
        ),
    ]
)


@pytest.fixture(scope="module")
def real_media(spark):
    rows = []
    for i in range(6):
        img = gradient_image(8 + i, 6, 3)
        payload = ic.encode_png(img) if i % 2 == 0 else ic.encode_bmp(img)
        fmt = "png" if i % 2 == 0 else "bmp"
        rows.append((i, bytearray(payload), {"format": fmt}))
    rows.append((99, b"plain text bytes, not an image", {"format": "wav"}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_features_real_images_via_spark(real_media):
    """End-to-end: real PNG/BMP bytes through mapInPandas come back with
    pixel-exact per-channel means; the non-image row takes the documented
    byte-bucket fallback."""
    out = {
        r["doc_id"]: r
        for r in multimodal.decode_features(real_media, dim=8).collect()
    }
    assert len(out) == 7
    for i in range(6):
        img = gradient_image(8 + i, 6, 3)
        feats = out[i]["features"]
        assert feats[:3] == [8.0 + i, 6.0, 3.0]
        n = (8 + i) * 6
        for ch in range(3):
            expected = round(sum(img.pixels[ch::3]) / n, 4)
            assert abs(feats[3 + ch] - expected) < 1e-3  # float32 storage
    # fallback row: byte-bucket means of the raw payload
    fallback = multimodal._fake_decode_vec(b"plain text bytes, not an image", 8)
    assert [round(v, 3) for v in out[99]["features"]] == [
        round(v, 3) for v in fallback
    ]


def test_resize_images_real_png_reencodes(real_media, spark):
    out = {
        r["doc_id"]: r for r in multimodal.resize_images(real_media, 4, 4).collect()
    }
    # only format='png' rows pass the pushed filter
    assert set(out) == {0, 2, 4}
    for i in (0, 2, 4):
        img = gradient_image(8 + i, 6, 3)
        expected = len(ic.encode_png(ic.resize_nearest(img, 4, 4)))
        assert out[i]["n_bytes"] == expected


def test_png_decompression_bomb_rejected_bounded():
    """A crafted IDAT whose decompressed size vastly exceeds the IHDR's
    scanline budget must raise, NOT materialize the payload (advisor
    finding r5: unbounded zlib.decompress = executor OOM vector).  The
    bounded decompressobj stops at expected+1 bytes, so this stays O(image
    size) regardless of the bomb's expansion ratio."""
    # IHDR claims 2x2 grayscale (expected raw = (2*1+1)*2 = 6 bytes) but
    # the IDAT inflates to 10 MB of zeros (~10000x expansion from ~10 KB)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * (10 * 1024 * 1024), 9)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    data = (
        ic.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ic.ImageCodecError, match="scanline size mismatch"):
        ic.decode_png(data)
    # and a SHORT stream (less data than the header promises) also raises
    short = zlib.compress(b"\x00" * 3)
    data2 = (
        ic.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", short)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ic.ImageCodecError, match="scanline size mismatch"):
        ic.decode_png(data2)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def test_png_huge_declared_dims_rejected():
    """The inflate budget is derived from IHDR dims, which are attacker-
    controlled: a 65536x65536 RGBA declaration would budget ~17 GB for a
    few-KB zlib stream (review finding r6).  MAX_PIXELS caps total pixel
    count BEFORE any allocation happens."""
    ihdr = struct.pack(">IIBBBBB", 1 << 16, 1 << 16, 8, 6, 0, 0, 0)
    data = (
        ic.PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 64))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ic.ImageCodecError, match="too large"):
        ic.decode_png(data)
    # just inside the budget still validates dims (fails later, on data)
    ihdr_ok = struct.pack(">IIBBBBB", 4096, 4096, 8, 0, 0, 0, 0)
    data_ok = (
        ic.PNG_MAGIC
        + _chunk(b"IHDR", ihdr_ok)
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 64))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ic.ImageCodecError, match="scanline size mismatch"):
        ic.decode_png(data_ok)


def test_png_truncated_idat_stream_rejected():
    """A deflate stream cut AFTER the final output byte but before the
    stream-end marker used to slip through the bounded decompressobj
    (zlib.decompress raised on it; max_length-bounded decompress returns
    quietly) — corrupt data must not decode as a valid image."""
    img = gradient_image(4, 3, 1)
    stride = 4
    raw = b"".join(b"\x00" + bytes(img.pixels[y * stride:(y + 1) * stride])
                   for y in range(3))
    full = zlib.compress(raw, 9)
    # find the shortest prefix that still yields ALL expected bytes: that
    # prefix is a truncated-but-complete-output stream (drops the trailer)
    cut = None
    for k in range(len(full) - 1, 0, -1):
        d = zlib.decompressobj()
        try:
            if len(d.decompress(full[:k], len(raw) + 1)) == len(raw) and not d.eof:
                cut = full[:k]
                break
        except zlib.error:
            continue
    assert cut is not None, "could not build a truncated stream"
    ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)
    data = (
        ic.PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", cut)
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ic.ImageCodecError, match="truncated IDAT"):
        ic.decode_png(data)
    # the untruncated stream still decodes exactly
    good = (
        ic.PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", full)
        + _chunk(b"IEND", b"")
    )
    assert ic.decode_png(good) == img


def test_bmp_dimension_bomb_rejected():
    """A ~60-byte BMP declaring 65535x65535 passes the per-axis dim check
    but must hit the pixel cap BEFORE the ~12.9 GB allocation (the PNG
    path had this cap; BMP was left unbounded)."""
    import struct

    w = h = 65535
    header = (
        b"BM" + struct.pack("<IHHI", 62, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, 0, 0, 0, 0, 0)
    )
    with pytest.raises(ic.ImageCodecError, match="too large"):
        ic.decode_bmp(header + b"\x00" * 8)
