"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata, processed by built-in binary expressions where possible and
Arrow-batched ``mapInPandas`` where a real codec would run.

The reference engine has no media operators; this is the training-data-
pipeline extension mandated by the blueprint (SURVEY §7 step 8).  Image
payloads (PNG/BMP) decode through a REAL pure-stdlib codec
(operators/imagecodec.py — PNG is zlib + scanline unfiltering, so no
Pillow dependency); audio/video formats have no stdlib codec, so those
payloads take a deterministic byte-bucket fallback — the Spark-side
plumbing (schema, partitioning, Arrow batch shape, UDF signatures) is the
same either way and fully tested.

Scale notes:
- payload stays an opaque ``binary`` column end-to-end; nothing is collected
  to the driver;
- metadata ops (byte length, checksums, frame offsets, slicing) are pure
  JVM expressions inside whole-stage codegen — no Python in that path;
- decode fans out via ``mapInPandas`` so each Arrow batch is decoded where
  the bytes already live; at 100 TB the stage is a pure map, no shuffle.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# metadata carried alongside every media payload
MEDIA_META_FIELDS = [
    StructField("format", StringType(), False),
    StructField("width", LongType(), True),
    StructField("height", LongType(), True),
    StructField("n_frames", LongType(), True),
    StructField("sample_rate", LongType(), True),
]

_FORMATS = ["png", "wav", "mp4"]


def attach_media(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Attach a deterministic synthetic media payload + metadata struct.

    Stands in for an ingest step that would read real bytes; payload is the
    utf-8 encoding of the text column (opaque to everything downstream),
    format/width/height/n_frames derive from the id so every engine can
    reproduce them.  All JVM-side expressions.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    fmt = F.element_at(F.array(*[F.lit(x) for x in _FORMATS]), (F.col(id_col) % 3 + 1).cast("int"))
    meta = F.struct(
        fmt.alias("format"),
        (F.col(id_col) % 7 * 64 + 64).cast("long").alias("width"),
        (F.col(id_col) % 5 * 64 + 64).cast("long").alias("height"),
        F.when(fmt == "mp4", (F.col(id_col) % 9 + 2).cast("long")).alias("n_frames"),
        F.when(fmt == "wav", F.lit(16000).cast("long")).alias("sample_rate"),
    )
    return df.select(
        F.col(id_col), payload.alias("payload"), meta.alias("media_meta")
    )


def media_stats(media: DataFrame) -> DataFrame:
    """Per-format corpus stats over payload bytes + metadata — the triage
    query a pipeline runs before spending decode cycles.  One partial-
    aggregated groupBy; payload never leaves the JVM."""
    return (
        media.groupBy(F.col("media_meta.format").alias("format"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.octet_length("payload")).cast("long").alias("total_bytes"),
            F.max(F.octet_length("payload")).cast("long").alias("max_bytes"),
            F.min("media_meta.width").alias("min_width"),
            F.max("media_meta.height").alias("max_height"),
        )
    )


def media_checksums(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Integrity fingerprints: md5 + byte length per item (dedup / corruption
    sweep primitive). Hex-encodes first so the hash matches any engine that
    lacks blob md5."""
    return media.select(
        F.col(id_col),
        F.col("media_meta.format").alias("format"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5(F.hex("payload")).alias("payload_md5"),
    )


def sample_frames(
    media: DataFrame, n_frames: int = 4, frame_bytes: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """Evenly-spaced frame sampling from a video payload: computes byte
    offsets with array expressions and slices frames with ``substring`` on
    the binary — zero Python, one row per sampled frame via posexplode.

    Frames are surfaced as uppercase hex so results are portable; the raw
    ``binary`` slice is kept too for downstream decode.
    """
    total = F.octet_length("payload")
    offsets = F.transform(
        F.sequence(F.lit(0), F.lit(n_frames - 1)),
        lambda i: F.floor(
            (i * F.greatest(total - F.lit(frame_bytes), F.lit(0)))
            / F.lit(max(n_frames - 1, 1))
        ),
    )
    frames = F.transform(
        offsets, lambda off: F.substring(F.col("payload"), off.cast("int") + 1, frame_bytes)
    )
    return (
        media.filter(F.col("media_meta.format") == "mp4")
        .select(
            F.col(id_col),
            total.cast("long").alias("n_bytes"),
            F.posexplode(frames).alias("frame_idx", "frame"),
        )
        .select(
            F.col(id_col),
            "n_bytes",
            "frame_idx",
            F.hex("frame").alias("frame_hex"),
            F.col("frame"),
        )
    )


# ---------------------------------------------------------------------------
# decode kernels — mapInPandas plumbing is real, and so is the image path:
# real PNG/BMP payloads decode through the pure-stdlib codec in
# operators/imagecodec.py (zlib + scanline unfiltering), the only image
# decoder.  Non-image payloads (audio/video formats with no stdlib
# codec, or the corpus's synthetic text-byte payloads) fall back to the
# deterministic byte-bucket kernel so the whole operator stays
# oracle-checkable.  The operator layer only calls
# decode_image/encode_png/resize_nearest.
# ---------------------------------------------------------------------------

DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("format", StringType(), False),
        StructField("features", ArrayType(FloatType()), False),
    ]
)


def _fake_decode_vec(payload: bytes, dim: int) -> list[float]:
    """Fallback for NON-image payloads: deterministic per-byte-bucket means
    (the declared stand-in for codecs the container lacks)."""
    if not payload:
        return [0.0] * dim
    acc = [0.0] * dim
    cnt = [0] * dim
    for i, b in enumerate(payload):
        acc[i % dim] += b
        cnt[i % dim] += 1
    return [round(a / c, 4) if c else 0.0 for a, c in zip(acc, cnt)]


def _image_features(img, dim: int) -> list[float]:
    """Real-decode feature vector: [width, height, channels,
    per-channel pixel means..., overall mean], zero-padded/truncated to
    ``dim``.  Deterministic integer-exact sums before one final round."""
    c, n = img.channels, img.width * img.height
    if n == 0:  # decoders reject 0-area images; belt-and-braces here
        return ([0.0] * dim)[:dim]
    sums = [0] * c
    px = img.pixels
    for i in range(0, len(px), c):
        for ch in range(c):
            sums[ch] += px[i + ch]
    feats = [float(img.width), float(img.height), float(c)]
    feats += [round(s / n, 4) for s in sums]
    feats.append(round(sum(sums) / (n * c), 4))
    return (feats + [0.0] * dim)[:dim]


def _decode_vec(payload: bytes, dim: int) -> list[float]:
    from . import imagecodec

    img = imagecodec.decode_image(bytes(payload))
    if img is not None:
        return _image_features(img, dim)
    return _fake_decode_vec(payload, dim)


def decode_features(media: DataFrame, dim: int = 8, id_col: str = "doc_id") -> DataFrame:
    """Decode payloads to fixed-dim feature vectors via ``mapInPandas``.

    Arrow-batched: each executor decodes the payloads of its own partitions
    batch-by-batch (no shuffle, no driver involvement); output schema is
    fixed so downstream ANN/dedup can consume ``features`` directly.
    """
    import pandas as pd  # local import keeps the module importable sans pandas

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "format": pdf["format"],
                    "features": [_decode_vec(p, dim) for p in pdf["payload"]],
                }
            )

    flat = media.select(
        F.col(id_col), F.col("media_meta.format").alias("format"), "payload"
    )
    return flat.mapInPandas(decode, schema=DECODE_SCHEMA)


def resize_images(
    media: DataFrame, width: int, height: int, id_col: str = "doc_id"
) -> DataFrame:
    """Resize via an Arrow-batched pandas iterator.  Real PNG/BMP payloads
    are decoded, nearest-neighbor resampled and re-encoded as PNG with the
    pure-stdlib codec (operators/imagecodec.py); payloads that are not
    decodable images keep the deterministic byte-size model so synthetic
    corpora stay reproducible.  Filter (format='png') is pushed before the
    Python stage so only image bytes cross the Arrow boundary."""
    import pandas as pd

    out_schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("width", LongType(), False),
            StructField("height", LongType(), False),
            StructField("n_bytes", LongType(), False),
        ]
    )
    target = max(width * height // 64, 1)

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from . import imagecodec

        def one(payload: bytes) -> int:
            img = imagecodec.decode_image(bytes(payload))
            if img is not None:
                resized = imagecodec.resize_nearest(img, width, height)
                return len(imagecodec.encode_png(resized))
            return min(len(payload), target)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": width,
                    "height": height,
                    "n_bytes": [one(p) for p in pdf["payload"]],
                }
            )

    imgs = media.filter(F.col("media_meta.format") == "png").select(
        F.col(id_col), "payload"
    )
    return imgs.mapInPandas(resize, schema=out_schema)


AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("channels", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("rms", DoubleType(), False),
        StructField("peak", LongType(), False),
    ]
)


def _audio_stats(samples, rate: int, channels: int):
    import math

    n = len(samples)
    if n == 0:
        return rate, channels, 0, 0.0, 0
    ss = 0
    peak = 0
    for s in samples:
        ss += s * s  # exact integer accumulation
        a = -s if s < 0 else s
        if a > peak:
            peak = a
    # sqrt is IEEE correctly-rounded on both Python and SQL engines, and
    # ss/n enters it as one exact-int / int division -> deterministic;
    # round half-even (Python round == DuckDB ROUND_EVEN)
    return rate, channels, n, round(math.sqrt(ss / n), 4), peak


def audio_features(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Audio stats (sample rate, channels, sample count, RMS level, peak)
    via ``mapInPandas``.  Real RIFF/WAV payloads decode through the
    pure-stdlib PCM codec (operators/audiocodec.py); payloads that are
    not WAV are treated as HEADERLESS unsigned 8-bit PCM at the
    metadata's sample rate — a deterministic fallback that shares the
    exact same stats kernel, so the whole operator stays
    oracle-checkable.  Filter (format='wav') is pushed before the Python
    stage; stats are exact-integer accumulations with one final
    correctly-rounded sqrt."""
    import pandas as pd

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from . import audiocodec

        def one(payload: bytes, fallback_rate):
            aud = audiocodec.decode_audio(bytes(payload))
            if aud is not None:
                return _audio_stats(aud.samples, aud.sample_rate, aud.channels)
            # Arrow delivers a NULL int64 to pandas as float NaN, so the
            # null check must be pd.isna, not `is None` (int(nan) raises)
            rate = 0 if pd.isna(fallback_rate) else int(fallback_rate)
            return _audio_stats([b - 128 for b in bytes(payload)], rate, 1)

        for pdf in batches:
            rows = [
                one(p, r)
                for p, r in zip(pdf["payload"], pdf["fallback_rate"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "sample_rate": [r[0] for r in rows],
                    "channels": [r[1] for r in rows],
                    "n_samples": [r[2] for r in rows],
                    "rms": [r[3] for r in rows],
                    "peak": [r[4] for r in rows],
                }
            )

    wavs = media.filter(F.col("media_meta.format") == "wav").select(
        F.col(id_col),
        "payload",
        F.col("media_meta.sample_rate").alias("fallback_rate"),
    )
    return wavs.mapInPandas(stats, schema=AUDIO_SCHEMA)
