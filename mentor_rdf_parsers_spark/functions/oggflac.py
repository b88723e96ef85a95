"""Ogg (Opus/Vorbis) page walk and FLAC STREAMINFO probe — pure stdlib.

Same honest boundary as functions/mpegaudio.py: sample DECODE for
these codecs genuinely needs libopus/libvorbis/libFLAC, but duration,
sample rate and channel count are published header fields (RFC 3533
Ogg pages, RFC 7845 OpusHead, the Vorbis I identification header, the
FLAC STREAMINFO block) — byte arithmetic, no codec. Feeds
probe_media / extract_audio_features real durations for the remaining
common audio containers.

Page CRCs are not checked by the walker, matching a metadata probe's
scope — the essence is never decoded.

No reference-repo counterpart (task-brief multimodal requirement).
"""

from __future__ import annotations

import struct
from typing import Optional


def is_ogg(data: bytes) -> bool:
    return data[:4] == b"OggS"


def is_flac(data: bytes) -> bool:
    return data[:4] == b"fLaC"


def _ogg_pages(data: bytes):
    """Yield (granule_pos, serial, seq, [packet segments joined])."""
    i = 0
    while i + 27 <= len(data):
        if data[i : i + 4] != b"OggS":
            return
        granule, serial, seq = struct.unpack(
            "<qII", data[i + 6 : i + 22])
        n_segs = data[i + 26]
        table = data[i + 27 : i + 27 + n_segs]
        if len(table) < n_segs:
            return
        body_start = i + 27 + n_segs
        body_len = sum(table)
        yield granule, serial, seq, data[body_start : body_start + body_len]
        i = body_start + body_len


def probe_ogg(data: bytes) -> Optional[dict]:
    """First audio stream's codec, rate, channels and duration from the
    identification header + the last page's granule position."""
    if not is_ogg(data):
        return None
    codec = None
    rate = 0
    channels = 0
    first_serial = None
    last_granule = 0
    pre_skip = 0
    for granule, serial, seq, body in _ogg_pages(data):
        if seq == 0 and codec is None:
            if body[:8] == b"OpusHead":
                codec = "opus"
                channels = body[9]
                pre_skip = struct.unpack("<H", body[10:12])[0]
                rate = 48000  # Opus granules always count at 48 kHz
                first_serial = serial
            elif body[:7] == b"\x01vorbis":
                codec = "vorbis"
                channels = body[11]
                rate = struct.unpack("<I", body[12:16])[0]
                first_serial = serial
        if serial == first_serial and granule > 0:
            last_granule = max(last_granule, granule)
    if codec is None or rate == 0:
        return None
    samples = max(0, last_granule - (pre_skip if codec == "opus" else 0))
    return {
        "codec": codec,
        "sample_rate": rate,
        "channels": channels,
        "duration_ms": int(samples * 1000 / rate),
    }


def probe_flac(data: bytes) -> Optional[dict]:
    """STREAMINFO: sample rate (20 bits), channels (3 bits + 1), total
    samples (36 bits) — the first metadata block after the marker."""
    if not is_flac(data) or len(data) < 8 + 34:
        return None
    # first block header: 1 bit last-flag, 7 bits type (0 = STREAMINFO)
    if data[4] & 0x7F != 0:
        return None
    si = data[8 : 8 + 34]
    rate = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
    channels = ((si[12] >> 1) & 0x07) + 1
    total = ((si[13] & 0x0F) << 32 | si[14] << 24 | si[15] << 16
             | si[16] << 8 | si[17])
    if rate == 0:
        return None
    return {
        "codec": "flac",
        "sample_rate": rate,
        "channels": channels,
        "duration_ms": int(total * 1000 / rate),
    }
