"""Pure-stdlib WAV codec (operators/audiocodec.py) + its wiring into the
multimodal audio_features operator: real RIFF PCM bytes, generated
in-test, flow through Spark mapInPandas and come back sample-exact."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from datafusion_ballista_python_spark.operators import audiocodec as ac
from datafusion_ballista_python_spark.operators import multimodal


def sine_samples(n=480, rate=8000, freq=440, amp=12000):
    return [int(amp * math.sin(2 * math.pi * freq * i / rate)) for i in range(n)]


@pytest.mark.parametrize("width", [1, 2, 4])
def test_wav_roundtrip_widths(width):
    amp = {1: 100, 2: 12000, 4: 1_000_000}[width]
    samples = [int(s * amp / 12000) for s in sine_samples()]
    a = ac.Audio(8000, 1, width, samples)
    back = ac.decode_wav(ac.encode_wav(a))
    assert (back.sample_rate, back.channels, back.sample_width) == (8000, 1, width)
    assert back.samples == samples


def test_wav_stereo_interleaved_roundtrip():
    left = sine_samples(100)
    right = [-s for s in left]
    inter = [v for pair in zip(left, right) for v in pair]
    a = ac.Audio(44100, 2, 2, inter)
    back = ac.decode_wav(ac.encode_wav(a))
    assert back.channels == 2 and back.samples == inter


def test_decode_audio_dispatch_and_garbage():
    a = ac.Audio(8000, 1, 2, sine_samples(50))
    assert ac.decode_audio(ac.encode_wav(a)).samples == a.samples
    assert ac.decode_audio(b"not audio") is None
    assert ac.decode_audio(b"RIFF\x00\x00\x00\x00JUNK") is None


def test_odd_length_data_chunk_is_word_aligned():
    a = ac.Audio(8000, 1, 1, [1, 2, 3])  # 3-byte data chunk -> pad byte
    data = ac.encode_wav(a)
    assert len(data) % 2 == 0
    assert ac.decode_wav(data).samples == [1, 2, 3]


MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), False),
        StructField(
            "media_meta",
            StructType(
                [
                    StructField("format", StringType(), False),
                    StructField("sample_rate", LongType(), True),
                ]
            ),
            False,
        ),
    ]
)


def test_audio_features_real_wav_via_spark(spark):
    samples = sine_samples(480)
    wav = ac.encode_wav(ac.Audio(8000, 1, 2, samples))
    rows = [
        (1, bytearray(wav), {"format": "wav", "sample_rate": None}),
        (2, b"headerless raw bytes here", {"format": "wav", "sample_rate": 16000}),
        (3, b"ignored: not wav format", {"format": "png", "sample_rate": None}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["doc_id"]: r for r in multimodal.audio_features(media).collect()}
    assert set(out) == {1, 2}  # png row filtered before Python
    real = out[1]
    assert real["sample_rate"] == 8000 and real["channels"] == 1
    assert real["n_samples"] == 480
    expected_rms = round(math.sqrt(sum(s * s for s in samples) / 480), 4)
    assert real["rms"] == expected_rms
    assert real["peak"] == max(abs(s) for s in samples)
    fb = out[2]
    payload = b"headerless raw bytes here"
    fs = [b - 128 for b in payload]
    assert fb["sample_rate"] == 16000 and fb["n_samples"] == len(payload)
    assert fb["rms"] == round(math.sqrt(sum(s * s for s in fs) / len(fs)), 4)


def test_wav_near_full_scale_16bit_roundtrip():
    audio = ac.Audio(16000, 1, 2, [100, -100, 32000, -32000])
    assert ac.decode_wav(ac.encode_wav(audio)) == audio


def _riff(chunks: bytes) -> bytes:
    import struct

    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _fmt_chunk(channels=2, rate=8000, width=2) -> bytes:
    import struct

    block = channels * width
    body = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, width * 8)
    return b"fmt " + struct.pack("<I", len(body)) + body


def test_partial_frame_keeps_dangling_sample_stdlib():
    """A data chunk whose byte length is NOT a multiple of channels*width:
    the decoder keeps the dangling partial-frame sample rather than
    dropping it."""
    import struct

    pcm = struct.pack("<5h", 10, -10, 20, -20, 30)  # 2ch x 16-bit, 2.5 frames
    data = _riff(
        _fmt_chunk() + b"data" + struct.pack("<I", len(pcm)) + pcm + b"\x00"
    )
    a = ac.decode_wav(data)
    assert a.samples == [10, -10, 20, -20, 30]  # 5 samples, not 4


def test_multiple_data_chunks_keep_last_stdlib():
    """Two data chunks: the decoder keeps the LAST one."""
    import struct

    first = struct.pack("<2h", 1, 2)
    second = struct.pack("<2h", 7, 8)
    data = _riff(
        _fmt_chunk(channels=1)
        + b"data" + struct.pack("<I", len(first)) + first
        + b"data" + struct.pack("<I", len(second)) + second
    )
    assert ac.decode_wav(data).samples == [7, 8]
