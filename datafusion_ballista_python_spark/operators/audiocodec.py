"""Pure-stdlib WAV (RIFF PCM) codec: 8/16/32-bit integer PCM, mono or
multi-channel, encode + decode — the audio sibling of
operators/imagecodec.py, so the multimodal audio path runs a REAL codec
for real WAV payloads (RIFF PCM is just struct unpacking, so no
librosa/soundfile dependency is needed).  It is the only decoder: no
installed package changes which code decodes a payload, so the samples
are the same on every host.

Decoded audio is an ``Audio`` tuple (sample_rate, channels, samples) with
``samples`` a flat list of ints, frame-major (interleaved channels, as
stored) — no numpy required.  Runs inside mapInPandas workers per Arrow
batch.
"""

from __future__ import annotations

import struct
from typing import NamedTuple, Optional


class Audio(NamedTuple):
    sample_rate: int
    channels: int
    sample_width: int  # bytes per sample: 1, 2 or 4
    samples: list  # interleaved ints; length = n_frames * channels


class AudioCodecError(ValueError):
    """Malformed or unsupported audio payload."""


_WIDTH_FMT = {1: "b", 2: "h", 4: "i"}


def decode_wav(data: bytes) -> Audio:
    """Decode a RIFF/WAVE container with integer PCM samples."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise AudioCodecError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    pcm = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise AudioCodecError("truncated WAV chunk")
        if cid == b"fmt ":
            if size < 16:
                raise AudioCodecError("short fmt chunk")
            audio_fmt, channels, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1:
                raise AudioCodecError(f"only PCM supported (fmt {audio_fmt})")
            if bits not in (8, 16, 32):
                raise AudioCodecError(f"unsupported bit depth {bits}")
            fmt = (channels, rate, bits // 8)
        elif cid == b"data":
            pcm = body  # several data chunks: the last one wins
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise AudioCodecError("missing fmt/data chunk")
    channels, rate, width = fmt
    n = len(pcm) // width
    if width == 1:
        # WAV 8-bit is UNSIGNED; normalize to signed like wider widths
        samples = [b - 128 for b in pcm[:n]]
    else:
        samples = list(struct.unpack(f"<{n}{_WIDTH_FMT[width]}", pcm[: n * width]))
    return Audio(rate, channels, width, samples)


def encode_wav(audio: Audio) -> bytes:
    """Encode integer PCM samples as a canonical RIFF/WAVE container."""
    if audio.sample_width not in _WIDTH_FMT:
        raise AudioCodecError(f"unsupported sample width {audio.sample_width}")
    if audio.channels < 1:
        raise AudioCodecError("channels must be >= 1")
    w = audio.sample_width
    if w == 1:
        pcm = bytes((s + 128) & 0xFF for s in audio.samples)
    else:
        pcm = struct.pack(f"<{len(audio.samples)}{_WIDTH_FMT[w]}", *audio.samples)
    block_align = audio.channels * w
    fmt = struct.pack(
        "<HHIIHH", 1, audio.channels, audio.sample_rate,
        audio.sample_rate * block_align, block_align, w * 8,
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    if len(pcm) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_audio(data: bytes) -> Optional[Audio]:
    """Decode a WAV payload; None when the bytes are not RIFF PCM (the
    operator layer falls back to its deterministic non-audio path)."""
    try:
        if data[:4] == b"RIFF":
            return decode_wav(bytes(data))
    # ValueError covers AudioCodecError and stray conversion errors from
    # corrupt headers — bad payloads mean "fallback", never a crashed task
    except (ValueError, struct.error, IndexError, OverflowError):
        return None
    return None
