"""Pure-Python ISO BMFF (MP4/MOV) container demux + MJPEG muxer.

The task brief's multimodal requirement: make the Spark-side plumbing
real and push the honest codec boundary as far as stdlib+numpy allows.
For MP4 that boundary is the CONTAINER: box structure, track metadata
(duration, dimensions, codec fourcc) and per-sample demux via the
stsz/stsc/stco tables are pure byte arithmetic — no codec needed — so
they are real here. Frame ESSENCE stays honest: samples whose codec is
`jpeg`/`mjpa` (Motion-JPEG in MP4, each sample a standalone baseline
JPEG) decode for real via functions/jpeg.py; avc1/hev1/vp09 essence
genuinely needs ffmpeg and falls back to the documented stub in
operators/multimodal.py.

The muxer writes a minimal but fully standard one-video-track MP4
(ftyp + mdat + moov with mvhd/tkhd/mdhd/hdlr/vmhd/dinf/stbl) with a
`jpeg` VisualSampleEntry — QuickTime-compatible Motion-JPEG — so tests
can round-trip container → samples → pixels without any external
library, and the parser is exercised against spec-shaped input.

Box layouts follow ISO/IEC 14496-12 (public spec); no reference-repo
counterpart (the reference has no media path — task-brief requirement).
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional


def is_mp4(data: bytes) -> bool:
    return len(data) >= 12 and data[4:8] == b"ftyp"


def _iter_boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for the boxes in a span;
    handles 64-bit largesize and size==0 (box runs to span end)."""
    i = start
    while i + 8 <= end:
        (size,) = struct.unpack(">I", data[i : i + 4])
        typ = data[i + 4 : i + 8]
        body = i + 8
        if size == 1:  # 64-bit largesize follows
            if body + 8 > end:
                return
            (size,) = struct.unpack(">Q", data[body : body + 8])
            body += 8
            box_end = i + size
        elif size == 0:  # to end of enclosing span
            box_end = end
        else:
            box_end = i + size
        if box_end > end or box_end <= i:
            return  # malformed size: stop rather than loop
        yield typ, body, box_end
        i = box_end


def _find(data: bytes, start: int, end: int, path: list[bytes]):
    """First box matching a nested fourcc path; returns (body, end)."""
    span = (start, end)
    for name in path:
        found = None
        for typ, b, e in _iter_boxes(data, span[0], span[1]):
            if typ == name:
                found = (b, e)
                break
        if found is None:
            return None
        span = found
    return span


def _u32s(body: bytes, off: int, n: int) -> list[int]:
    return list(struct.unpack(">%dI" % n, body[off : off + 4 * n]))


def parse_mp4(data: bytes) -> dict:
    """Container metadata: movie duration + one dict per track with
    handler kind, codec fourcc, dimensions, timescale and the sample
    tables needed for demux (``iter_samples``). Fragmented files
    (fMP4/DASH: moof/traf/trun run lists instead of stbl tables) demux
    too — fragment samples land in each track's ``fragments`` list."""
    if not is_mp4(data):
        raise ValueError("not an ISO BMFF file (no ftyp)")
    out: dict = {"brand": data[8:12].decode("latin1"), "duration_ms": 0,
                 "tracks": []}
    moov = _find(data, 0, len(data), [b"moov"])
    if moov is None:
        raise ValueError("MP4: missing moov box")
    track_ids: dict[int, dict] = {}
    trex_sizes: dict[int, int] = {}
    for typ, b, e in _iter_boxes(data, moov[0], moov[1]):
        if typ == b"mvhd":
            ver = data[b]
            if ver == 1:
                ts, dur = struct.unpack(">IQ", data[b + 20 : b + 32])
            else:
                ts, dur = struct.unpack(">II", data[b + 12 : b + 20])
            out["duration_ms"] = int(dur * 1000 / ts) if ts else 0
        elif typ == b"trak":
            trk = _parse_trak(data, b, e)
            if trk:
                out["tracks"].append(trk)
                track_ids[trk["track_id"]] = trk
        elif typ == b"mvex":
            for typ2, b2, e2 in _iter_boxes(data, b, e):
                if typ2 == b"trex":
                    tid, _desc, _dur, size = struct.unpack(
                        ">IIII", data[b2 + 4 : b2 + 20])
                    trex_sizes[tid] = size
    for tid, size in trex_sizes.items():
        if tid in track_ids:
            track_ids[tid]["trex_size"] = size
    for typ, b, e in _iter_boxes(data, 0, len(data)):
        if typ == b"moof":
            _parse_moof(data, b, e, track_ids)
    for trk in out["tracks"]:
        trk["n_samples"] += len(trk["fragments"])
    return out


def _parse_moof(data: bytes, start: int, end: int,
                track_ids: dict[int, dict]) -> None:
    """Collect (absolute offset, size) per fragment sample into the
    owning track. Supports the common layouts: per-sample sizes or
    tfhd/trex default size; data offsets relative to the moof start
    (default-base-is-moof, tf_flags 0x020000) or an explicit
    base_data_offset (tf_flags 0x1); absent both, ISO defaults the base
    to the moof start for the first traf."""
    moof_start = start - 8  # box header precedes the body span
    for typ, b, e in _iter_boxes(data, start, end):
        if typ != b"traf":
            continue
        tf_flags = 0
        track_id = None
        base = moof_start
        default_size = 0
        for typ2, b2, e2 in _iter_boxes(data, b, e):
            if typ2 == b"tfhd":
                tf_flags = int.from_bytes(data[b2 + 1 : b2 + 4], "big")
                (track_id,) = struct.unpack(">I", data[b2 + 4 : b2 + 8])
                p = b2 + 8
                if tf_flags & 0x000001:  # base_data_offset
                    (base,) = struct.unpack(">Q", data[p : p + 8])
                    p += 8
                if tf_flags & 0x000002:  # sample_description_index
                    p += 4
                if tf_flags & 0x000008:  # default_sample_duration
                    p += 4
                if tf_flags & 0x000010:  # default_sample_size
                    (default_size,) = struct.unpack(">I", data[p : p + 4])
                    p += 4
        trk = track_ids.get(track_id)
        if trk is None:
            continue
        default_size = default_size or trk.get("trex_size", 0)
        for typ2, b2, e2 in _iter_boxes(data, b, e):
            if typ2 != b"trun":
                continue
            tr_flags = int.from_bytes(data[b2 + 1 : b2 + 4], "big")
            (count,) = struct.unpack(">I", data[b2 + 4 : b2 + 8])
            p = b2 + 8
            pos = base
            if tr_flags & 0x000001:  # data_offset (signed, from base)
                (doff,) = struct.unpack(">i", data[p : p + 4])
                p += 4
                pos = base + doff
            if tr_flags & 0x000004:  # first_sample_flags
                p += 4
            per_sample = 4 * (
                bool(tr_flags & 0x000100)   # duration
                + bool(tr_flags & 0x000200)  # size
                + bool(tr_flags & 0x000400)  # flags
                + bool(tr_flags & 0x000800)  # cts offset
            )
            for _ in range(count):
                q = p
                if tr_flags & 0x000100:
                    q += 4
                if tr_flags & 0x000200:
                    (size,) = struct.unpack(">I", data[q : q + 4])
                else:
                    size = default_size
                if size <= 0:
                    raise ValueError("MP4: fragment sample without a size")
                trk["fragments"].append((pos, size))
                pos += size
                p += per_sample


def _parse_trak(data: bytes, start: int, end: int) -> Optional[dict]:
    trk: dict = {"kind": "other", "codec": "", "width": 0, "height": 0,
                 "timescale": 0, "duration_ms": 0, "n_samples": 0,
                 "track_id": 0, "sizes": [], "stsc": [],
                 "chunk_offsets": [], "sync": None, "fragments": [],
                 "trex_size": 0}
    tkhd = _find(data, start, end, [b"tkhd"])
    if tkhd:
        b = tkhd[0]
        tid_off = b + (12 if data[b] == 0 else 20)
        (trk["track_id"],) = struct.unpack(">I", data[tid_off : tid_off + 4])
        # width/height are the trailing two 16.16 values of the box
        # (same tail position for version 0 and 1 layouts)
        w, h = struct.unpack(">II", data[tkhd[1] - 8 : tkhd[1]])
        trk["width"], trk["height"] = w >> 16, h >> 16
    mdia = _find(data, start, end, [b"mdia"])
    if mdia is None:
        return None
    mdhd = _find(data, mdia[0], mdia[1], [b"mdhd"])
    if mdhd:
        b = mdhd[0]
        if data[b] == 1:
            ts, dur = struct.unpack(">IQ", data[b + 20 : b + 32])
        else:
            ts, dur = struct.unpack(">II", data[b + 12 : b + 20])
        trk["timescale"] = ts
        trk["duration_ms"] = int(dur * 1000 / ts) if ts else 0
    hdlr = _find(data, mdia[0], mdia[1], [b"hdlr"])
    if hdlr:
        handler = data[hdlr[0] + 8 : hdlr[0] + 12]
        trk["kind"] = {b"vide": "video", b"soun": "audio"}.get(
            handler, handler.decode("latin1", "replace"))
    stbl = _find(data, mdia[0], mdia[1], [b"minf", b"stbl"])
    if stbl is None:
        return trk
    for typ, b, e in _iter_boxes(data, stbl[0], stbl[1]):
        body = data[b:e]
        if typ == b"stsd" and len(body) >= 16:
            # first sample entry's fourcc (codec)
            trk["codec"] = body[12:16].decode("latin1", "replace")
            if trk["kind"] == "video" and len(body) >= 44:
                sw, sh = struct.unpack(">HH", body[40:44])
                trk["width"] = trk["width"] or sw
                trk["height"] = trk["height"] or sh
        elif typ == b"stsz":
            fixed, count = struct.unpack(">II", body[4:12])
            trk["n_samples"] = count
            trk["sizes"] = ([fixed] * count if fixed
                            else _u32s(body, 12, count))
        elif typ == b"stsc":
            (count,) = struct.unpack(">I", body[4:8])
            trk["stsc"] = [
                tuple(_u32s(body, 8 + 12 * i, 3)) for i in range(count)
            ]
        elif typ == b"stco":
            (count,) = struct.unpack(">I", body[4:8])
            trk["chunk_offsets"] = _u32s(body, 8, count)
        elif typ == b"co64":
            (count,) = struct.unpack(">I", body[4:8])
            trk["chunk_offsets"] = list(
                struct.unpack(">%dQ" % count, body[8 : 8 + 8 * count]))
        elif typ == b"stss":
            (count,) = struct.unpack(">I", body[4:8])
            trk["sync"] = _u32s(body, 8, count)  # 1-based sample numbers
    return trk


def iter_samples(data: bytes, track: dict) -> Iterator[bytes]:
    """Demux a track's samples in order via stsc/stco/stsz, then any
    fragment (moof/trun) run lists — pure offset arithmetic, no codec.
    Works for any essence format."""
    sizes = track["sizes"]
    offsets = track["chunk_offsets"]
    stsc = track["stsc"]
    if sizes and offsets and stsc:
        si = 0
        n_chunks = len(offsets)
        for ei, (first, spc, _desc) in enumerate(stsc):
            last = stsc[ei + 1][0] - 1 if ei + 1 < len(stsc) else n_chunks
            for chunk in range(first, last + 1):
                pos = offsets[chunk - 1]
                for _ in range(spc):
                    if si >= len(sizes):
                        break
                    yield data[pos : pos + sizes[si]]
                    pos += sizes[si]
                    si += 1
    for pos, size in track.get("fragments", ()):
        yield data[pos : pos + size]


# ------------------------------------------------------------------ mux

def _box(typ: bytes, *bodies: bytes) -> bytes:
    body = b"".join(bodies)
    return struct.pack(">I", len(body) + 8) + typ + body


def _full(typ: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(typ, struct.pack(">B", version) + flags.to_bytes(3, "big"),
                body)


_UNITY_MATRIX = struct.pack(
    ">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)


def encode_mp4_mjpeg(frames: list[bytes], fps: int = 10,
                     width: int = 0, height: int = 0) -> bytes:
    """Minimal standard Motion-JPEG MP4: one video track whose samples
    are the given standalone JPEG byte strings (one chunk, all sync).
    Dimensions default to the first frame's SOF values when 0."""
    if not frames:
        raise ValueError("encode_mp4_mjpeg: no frames")
    if not (width and height):
        from .jpeg import decode_jpeg

        h_, w_ = decode_jpeg(frames[0]).shape[:2]
        width, height = width or w_, height or h_
    timescale = fps * 100
    delta = 100
    dur = delta * len(frames)

    ftyp = _box(b"ftyp", b"isom", struct.pack(">I", 0x200), b"isomiso2mp41")
    mdat_header_at = len(ftyp)
    mdat = _box(b"mdat", *frames)
    first_sample_off = mdat_header_at + 8

    stsd_entry = _box(
        b"jpeg",
        bytes(6), struct.pack(">H", 1),            # reserved, data_ref_idx
        bytes(16),                                  # predefined/reserved
        struct.pack(">HH", width, height),
        struct.pack(">II", 0x480000, 0x480000),     # 72 dpi
        bytes(4), struct.pack(">H", 1),             # reserved, frame_count
        bytes(32),                                  # compressorname
        struct.pack(">Hh", 24, -1),                 # depth, predefined
    )
    stbl = _box(
        b"stbl",
        _full(b"stsd", 0, 0, struct.pack(">I", 1) + stsd_entry),
        _full(b"stts", 0, 0, struct.pack(">III", 1, len(frames), delta)),
        _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, len(frames), 1)),
        _full(b"stsz", 0, 0, struct.pack(">II", 0, len(frames))
              + b"".join(struct.pack(">I", len(f)) for f in frames)),
        _full(b"stco", 0, 0, struct.pack(">II", 1, first_sample_off)),
    )
    minf = _box(
        b"minf",
        _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0)),
        _box(b"dinf", _full(b"dref", 0, 0, struct.pack(">I", 1)
                            + _full(b"url ", 0, 1, b""))),
        stbl,
    )
    mdia = _box(
        b"mdia",
        _full(b"mdhd", 0, 0, struct.pack(
            ">IIIIHH", 0, 0, timescale, dur, 0x55C4, 0)),  # lang 'und'
        _full(b"hdlr", 0, 0, bytes(4) + b"vide" + bytes(12)
              + b"VideoHandler\x00"),
        minf,
    )
    trak = _box(
        b"trak",
        _full(b"tkhd", 0, 7, struct.pack(">IIII", 0, 0, 1, 0)
              + struct.pack(">I", dur) + bytes(8)
              + struct.pack(">HHHH", 0, 0, 0, 0) + _UNITY_MATRIX
              + struct.pack(">II", width << 16, height << 16)),
        mdia,
    )
    moov = _box(
        b"moov",
        _full(b"mvhd", 0, 0, struct.pack(
            ">IIII", 0, 0, timescale, dur)
            + struct.pack(">IHH", 0x10000, 0x100, 0) + bytes(8)
            + _UNITY_MATRIX + bytes(24) + struct.pack(">I", 2)),
        trak,
    )
    return ftyp + mdat + moov


def encode_fmp4_mjpeg(frames: list[bytes], fps: int = 10,
                      width: int = 0, height: int = 0,
                      frames_per_fragment: int = 2) -> bytes:
    """Fragmented (DASH-style) Motion-JPEG MP4: an empty-stbl moov with
    mvex/trex, then one moof+mdat pair per ``frames_per_fragment``
    frames (tfhd default-base-is-moof, trun with per-sample sizes) —
    the streaming layout ``parse_mp4``'s fragment demux targets."""
    if not frames:
        raise ValueError("encode_fmp4_mjpeg: no frames")
    if not (width and height):
        from .jpeg import decode_jpeg

        h_, w_ = decode_jpeg(frames[0]).shape[:2]
        width, height = width or w_, height or h_
    timescale = fps * 100
    delta = 100

    init = bytearray(_box(b"ftyp", b"isom", struct.pack(">I", 0x200),
                          b"isomiso2mp41"))
    empty32 = _full(b"stts", 0, 0, struct.pack(">I", 0))
    stbl = _box(
        b"stbl",
        _full(b"stsd", 0, 0, struct.pack(">I", 1) + _box(
            b"jpeg",
            bytes(6), struct.pack(">H", 1),
            bytes(16),
            struct.pack(">HH", width, height),
            struct.pack(">II", 0x480000, 0x480000),
            bytes(4), struct.pack(">H", 1),
            bytes(32),
            struct.pack(">Hh", 24, -1),
        )),
        empty32,
        _full(b"stsc", 0, 0, struct.pack(">I", 0)),
        _full(b"stsz", 0, 0, struct.pack(">II", 0, 0)),
        _full(b"stco", 0, 0, struct.pack(">I", 0)),
    )
    minf = _box(
        b"minf",
        _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0)),
        _box(b"dinf", _full(b"dref", 0, 0, struct.pack(">I", 1)
                            + _full(b"url ", 0, 1, b""))),
        stbl,
    )
    mdia = _box(
        b"mdia",
        _full(b"mdhd", 0, 0, struct.pack(
            ">IIIIHH", 0, 0, timescale, 0, 0x55C4, 0)),
        _full(b"hdlr", 0, 0, bytes(4) + b"vide" + bytes(12)
              + b"VideoHandler\x00"),
        minf,
    )
    trak = _box(
        b"trak",
        _full(b"tkhd", 0, 7, struct.pack(">IIII", 0, 0, 1, 0)
              + struct.pack(">I", 0) + bytes(8)
              + struct.pack(">HHHH", 0, 0, 0, 0) + _UNITY_MATRIX
              + struct.pack(">II", width << 16, height << 16)),
        mdia,
    )
    mvex = _box(b"mvex", _full(
        b"trex", 0, 0, struct.pack(">IIIII", 1, 1, delta, 0, 0)))
    init += _box(
        b"moov",
        _full(b"mvhd", 0, 0, struct.pack(">IIII", 0, 0, timescale, 0)
              + struct.pack(">IHH", 0x10000, 0x100, 0) + bytes(8)
              + _UNITY_MATRIX + bytes(24) + struct.pack(">I", 2)),
        trak,
        mvex,
    )

    out = bytearray(init)
    seq = 1
    for i in range(0, len(frames), max(1, frames_per_fragment)):
        chunk = frames[i : i + frames_per_fragment]
        trun_body = struct.pack(">I", len(chunk))
        trun_body += struct.pack(">i", 0)  # data_offset patched below
        for f in chunk:
            trun_body += struct.pack(">I", len(f))
        traf = _box(
            b"traf",
            # tf_flags 0x020000: default-base-is-moof
            _box(b"tfhd", struct.pack(">B", 0)
                 + (0x020000).to_bytes(3, "big") + struct.pack(">I", 1)),
            _full(b"trun", 0, 0x000201, trun_body),  # data-offset + sizes
        )
        moof = bytearray(_box(
            b"moof",
            _full(b"mfhd", 0, 0, struct.pack(">I", seq)),
            traf,
        ))
        # patch trun data_offset: first mdat payload byte, moof-relative
        doff = len(moof) + 8
        pos = moof.find(b"trun") + 4 + 4 + 4  # fourcc, ver/flags, count
        moof[pos : pos + 4] = struct.pack(">i", doff)
        out += moof + _box(b"mdat", *chunk)
        seq += 1
    return bytes(out)
