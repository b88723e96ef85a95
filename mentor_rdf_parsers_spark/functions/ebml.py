"""Pure-Python Matroska/WebM (EBML) container demux + MJPEG muxer.

Same honest boundary as functions/mp4.py: the CONTAINER is pure byte
arithmetic — EBML varints, element tree, track metadata, SimpleBlock
demux — and is real here; frame ESSENCE decodes for real only when the
codec is `V_MJPEG` (each block a standalone JPEG → functions/jpeg.py).
VP8/VP9/AV1 essence genuinely needs libvpx/ffmpeg and falls back to the
documented stub in operators/multimodal.py.

Element IDs follow the public Matroska spec (RFC 9559); the muxer
writes a minimal one-video-track `matroska` DocType file (V_MJPEG is
a registered Matroska codec ID) so tests round-trip container →
blocks → pixels with no external library.

No reference-repo counterpart (the reference has no media path — this
is the task brief's training-data-pipeline requirement).
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

# element IDs (with marker bits, as they appear on the wire)
_EBML = 0x1A45DFA3
_DOCTYPE = 0x4282
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMECODE_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_NUMBER = 0xD7
_TRACK_UID = 0x73C5
_TRACK_TYPE = 0x83
_CODEC_ID = 0x86
_VIDEO = 0xE0
_PIXEL_W = 0xB0
_PIXEL_H = 0xBA
_AUDIO = 0xE1
_SAMPLING_FREQ = 0xB5
_CHANNELS = 0x9F
_CLUSTER = 0x1F43B675
_TIMECODE = 0xE7
_SIMPLE_BLOCK = 0xA3


def is_ebml(data: bytes) -> bool:
    return data[:4] == b"\x1a\x45\xdf\xa3"


def _read_id(data: bytes, i: int) -> tuple[int, int]:
    b0 = data[i]
    n = 1
    mask = 0x80
    while n <= 4 and not (b0 & mask):
        mask >>= 1
        n += 1
    if n > 4:
        raise ValueError("EBML: invalid element ID")
    return int.from_bytes(data[i : i + n], "big"), i + n


def _read_size(data: bytes, i: int) -> tuple[Optional[int], int]:
    """Returns (size, next_i); size None = unknown ("to end")."""
    b0 = data[i]
    n = 1
    mask = 0x80
    while n <= 8 and not (b0 & mask):
        mask >>= 1
        n += 1
    if n > 8:
        raise ValueError("EBML: invalid size varint")
    v = int.from_bytes(data[i : i + n], "big") & ((1 << (7 * n)) - 1)
    if v == (1 << (7 * n)) - 1:  # all value bits set: unknown size
        return None, i + n
    return v, i + n


def _iter_elements(data: bytes, start: int, end: int):
    """Yield (element id, body_start, body_end) over a span."""
    i = start
    while i < end:
        eid, j = _read_id(data, i)
        size, k = _read_size(data, j)
        body_end = end if size is None else k + size
        if body_end > end:
            return
        yield eid, k, body_end
        i = body_end


def _iter_cluster_blocks(data: bytes, start: int, end: int):
    """Yield (body_start, body_end) of every SimpleBlock in a cluster
    body, recursing into nested Cluster elements — which occur when a
    live-streamed file writes clusters with UNKNOWN size (the previous
    cluster's span then runs to segment end and swallows its successors
    as apparent children)."""
    for eid, b, e in _iter_elements(data, start, end):
        if eid == _SIMPLE_BLOCK:
            yield b, e
        elif eid == _CLUSTER:
            yield from _iter_cluster_blocks(data, b, e)


def _uint(data: bytes, b: int, e: int) -> int:
    return int.from_bytes(data[b:e], "big")


def _float(data: bytes, b: int, e: int) -> float:
    if e - b == 4:
        return struct.unpack(">f", data[b:e])[0]
    if e - b == 8:
        return struct.unpack(">d", data[b:e])[0]
    return 0.0


def parse_matroska(data: bytes) -> dict:
    """Container metadata: doctype, duration, one dict per track, and
    the block count (demux via :func:`iter_blocks`)."""
    if not is_ebml(data):
        raise ValueError("not an EBML (Matroska/WebM) file")
    out: dict = {"doctype": "", "duration_ms": 0, "tracks": [],
                 "n_blocks": 0}
    tc_scale = 1_000_000  # ns per timecode tick (Matroska default)
    duration_ticks = 0.0
    for eid, b, e in _iter_elements(data, 0, len(data)):
        if eid == _EBML:
            for eid2, b2, e2 in _iter_elements(data, b, e):
                if eid2 == _DOCTYPE:
                    out["doctype"] = data[b2:e2].rstrip(b"\x00").decode(
                        "latin1")
        elif eid == _SEGMENT:
            for eid2, b2, e2 in _iter_elements(data, b, e):
                if eid2 == _INFO:
                    for eid3, b3, e3 in _iter_elements(data, b2, e2):
                        if eid3 == _TIMECODE_SCALE:
                            tc_scale = _uint(data, b3, e3)
                        elif eid3 == _DURATION:
                            duration_ticks = _float(data, b3, e3)
                elif eid2 == _TRACKS:
                    for eid3, b3, e3 in _iter_elements(data, b2, e2):
                        if eid3 == _TRACK_ENTRY:
                            out["tracks"].append(
                                _parse_track(data, b3, e3))
                elif eid2 == _CLUSTER:
                    for _b3, _e3 in _iter_cluster_blocks(data, b2, e2):
                        out["n_blocks"] += 1
    out["duration_ms"] = int(duration_ticks * tc_scale / 1_000_000)
    return out


def _parse_track(data: bytes, start: int, end: int) -> dict:
    trk = {"number": 0, "kind": "other", "codec": "", "width": 0,
           "height": 0, "sample_rate": 0.0, "channels": 0}
    for eid, b, e in _iter_elements(data, start, end):
        if eid == _TRACK_NUMBER:
            trk["number"] = _uint(data, b, e)
        elif eid == _TRACK_TYPE:
            trk["kind"] = {1: "video", 2: "audio"}.get(
                _uint(data, b, e), "other")
        elif eid == _CODEC_ID:
            trk["codec"] = data[b:e].rstrip(b"\x00").decode("latin1")
        elif eid == _VIDEO:
            for eid2, b2, e2 in _iter_elements(data, b, e):
                if eid2 == _PIXEL_W:
                    trk["width"] = _uint(data, b2, e2)
                elif eid2 == _PIXEL_H:
                    trk["height"] = _uint(data, b2, e2)
        elif eid == _AUDIO:
            for eid2, b2, e2 in _iter_elements(data, b, e):
                if eid2 == _SAMPLING_FREQ:
                    trk["sample_rate"] = _float(data, b2, e2)
                elif eid2 == _CHANNELS:
                    trk["channels"] = _uint(data, b2, e2)
    return trk


def iter_blocks(data: bytes, track_number: int) -> Iterator[bytes]:
    """Yield SimpleBlock frame payloads for one track, in cluster
    order. Laced blocks (rare for video) are skipped — demux stays
    exact for the no-lacing layout the muxer writes and MJPEG uses."""
    for eid, b, e in _iter_elements(data, 0, len(data)):
        if eid != _SEGMENT:
            continue
        for eid2, b2, e2 in _iter_elements(data, b, e):
            if eid2 != _CLUSTER:
                continue
            for b3, e3 in _iter_cluster_blocks(data, b2, e2):
                tn, j = _read_size(data, b3)  # track number: size-coded vint
                if tn != track_number:
                    continue
                flags = data[j + 2]
                if flags & 0x06:  # lacing
                    continue
                yield data[j + 3 : e3]


# ------------------------------------------------------------------ mux

def _vint(v: int) -> bytes:
    """Size varint, minimal width (never the all-ones unknown form)."""
    n = 1
    while v >= (1 << (7 * n)) - 1:
        n += 1
    return ((1 << (7 * n)) | v).to_bytes(n, "big")


def _eid(eid: int) -> bytes:
    return eid.to_bytes((eid.bit_length() + 7) // 8, "big")


def _el(eid: int, body: bytes) -> bytes:
    return _eid(eid) + _vint(len(body)) + body


def _el_uint(eid: int, v: int) -> bytes:
    return _el(eid, v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big"))


def encode_mkv_mjpeg(frames: list[bytes], fps: int = 10,
                     width: int = 0, height: int = 0) -> bytes:
    """Minimal standard Matroska file: one V_MJPEG video track, one
    cluster, one keyframe SimpleBlock per JPEG frame."""
    if not frames:
        raise ValueError("encode_mkv_mjpeg: no frames")
    if not (width and height):
        from .jpeg import decode_jpeg

        h_, w_ = decode_jpeg(frames[0]).shape[:2]
        width, height = width or w_, height or h_
    delta_ms = max(1, round(1000 / fps))

    header = _el(_EBML, b"".join([
        _el_uint(0x4286, 1),            # EBMLVersion
        _el_uint(0x42F7, 1),            # EBMLReadVersion
        _el_uint(0x42F2, 4),            # EBMLMaxIDLength
        _el_uint(0x42F3, 8),            # EBMLMaxSizeLength
        _el(_DOCTYPE, b"matroska"),
        _el_uint(0x4287, 4),            # DocTypeVersion
        _el_uint(0x4285, 2),            # DocTypeReadVersion
    ]))
    info = _el(_INFO, b"".join([
        _el_uint(_TIMECODE_SCALE, 1_000_000),  # 1 tick = 1 ms
        _el(_DURATION, struct.pack(">d", float(delta_ms * len(frames)))),
        _el(0x4D80, b"mentor_rdf_parsers_spark"),  # MuxingApp
        _el(0x5741, b"mentor_rdf_parsers_spark"),  # WritingApp
    ]))
    video = _el(_VIDEO, _el_uint(_PIXEL_W, width)
                + _el_uint(_PIXEL_H, height))
    tracks = _el(_TRACKS, _el(_TRACK_ENTRY, b"".join([
        _el_uint(_TRACK_NUMBER, 1),
        _el_uint(_TRACK_UID, 1),
        _el_uint(_TRACK_TYPE, 1),       # video
        _el_uint(0x9C, 0),              # FlagLacing off
        _el(_CODEC_ID, b"V_MJPEG"),
        video,
    ])))
    blocks = []
    for i, f in enumerate(frames):
        payload = (_vint(1) + struct.pack(">h", i * delta_ms)
                   + bytes([0x80]) + f)  # track 1, keyframe, no lacing
        blocks.append(_el(_SIMPLE_BLOCK, payload))
    cluster = _el(_CLUSTER, _el_uint(_TIMECODE, 0) + b"".join(blocks))
    segment = _el(_SEGMENT, info + tracks + cluster)
    return header + segment
