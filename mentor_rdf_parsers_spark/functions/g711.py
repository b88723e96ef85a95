"""IEEE-float WAV and G.711 A-law/µ-law decode — pure stdlib + numpy.

Python's ``wave`` module only reads WAVE_FORMAT_PCM; speech and ML
audio corpora also ship WAVE_FORMAT_IEEE_FLOAT (tag 3) and the G.711
telephony companding formats (tag 6 A-law, tag 7 µ-law). All three
have published closed-form decodes (IEEE 754 / ITU-T G.711 segment
expansion) — no codec library needed, and the expansion vectorizes
over the whole byte array.

No reference-repo counterpart (task-brief multimodal requirement).
"""

from __future__ import annotations

import struct
from typing import Optional

import numpy as np


def _wav_chunks(data: bytes):
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return
    i = 12
    while i + 8 <= len(data):
        cc = data[i : i + 4]
        (size,) = struct.unpack("<I", data[i + 4 : i + 8])
        yield cc, i + 8, min(size, len(data) - i - 8)
        i += 8 + size + (size & 1)


def decode_mulaw(codes: np.ndarray) -> np.ndarray:
    """G.711 µ-law bytes → float32 in [-1, 1] (segment expansion)."""
    u = ~codes.astype(np.int32) & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    magnitude = (((mantissa << 3) + 0x84) << exponent) - 0x84
    out = np.where(sign, -magnitude, magnitude).astype(np.float32)
    return out / 32768.0


def decode_alaw(codes: np.ndarray) -> np.ndarray:
    """G.711 A-law bytes → float32 in [-1, 1] (segment expansion;
    after the 0x55 toggle, a SET sign bit means positive)."""
    a = codes.astype(np.int32) ^ 0x55
    positive = (a & 0x80) != 0
    exponent = (a >> 4) & 0x07
    mantissa = a & 0x0F
    magnitude = np.where(
        exponent == 0,
        (mantissa << 4) + 8,
        ((mantissa << 4) + 0x108) << np.maximum(exponent - 1, 0),
    )
    out = np.where(positive, magnitude, -magnitude).astype(np.float32)
    return out / 32768.0


_FLOAT_DTYPES = {4: "<f4", 8: "<f8"}


def decode_wav_ext(data: bytes) -> Optional[tuple[int, np.ndarray, int]]:
    """Decode WAVE formats stdlib ``wave`` rejects: IEEE float (tag 3),
    A-law (6), µ-law (7). Returns (duration_ms, mono float32 samples,
    rate) or None for other/PCM formats (PCM goes through ``wave``)."""
    tag = channels = rate = 0
    width = 0
    body = None
    for cc, off, size in _wav_chunks(data):
        if cc == b"fmt " and size >= 16:
            tag, channels, rate = struct.unpack("<HHI", data[off : off + 8])
            width = struct.unpack("<H", data[off + 14 : off + 16])[0] // 8
        elif cc == b"data":
            body = data[off : off + size]
    if body is None or rate == 0 or channels == 0:
        return None
    if tag == 3 and width in _FLOAT_DTYPES:
        n = len(body) // width
        s = np.frombuffer(body, dtype=_FLOAT_DTYPES[width], count=n
                          ).astype(np.float32)
    elif tag == 6:
        s = decode_alaw(np.frombuffer(body, dtype=np.uint8))
    elif tag == 7:
        s = decode_mulaw(np.frombuffer(body, dtype=np.uint8))
    else:
        return None  # PCM (wave handles it) / ADPCM (adpcm.py) / other
    if channels > 1:
        s = s[: len(s) - len(s) % channels].reshape(-1, channels).mean(
            axis=1).astype(np.float32)
    return (int(len(s) * 1000 / rate), s, rate)
