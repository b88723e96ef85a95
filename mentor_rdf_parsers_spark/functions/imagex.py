"""BMP decode + TIFF/WebP header probes — pure stdlib + numpy.

Completes the image-format long tail for the multimodal operators:
BMP, binary netpbm and strip-based TIFF (none/LZW/deflate/PackBits
compression — LZW is the hand-rolled TIFF variant with EarlyChange,
deflate is stdlib zlib) decode for real; WebP gets a header-only
dimension probe — VP8/VP8L pixel payloads stay behind the documented
stub boundary, as does JPEG-in-TIFF.

Layouts per the public specs: BITMAPINFOHEADER, TIFF 6.0 IFDs, and
the WebP container (VP8 keyframe header / VP8L signature / VP8X
canvas). No reference-repo counterpart (task-brief requirement).
"""

from __future__ import annotations

import struct
from typing import Optional

import numpy as np


# ------------------------------------------------------------------ BMP

def is_bmp(data: bytes) -> bool:
    # 54 = file header (14) + BITMAPINFOHEADER (40): anything shorter
    # cannot carry the fields decode reads, and a 26-53-byte truncation
    # must fail closed as ValueError, not escape as struct.error
    return len(data) >= 54 and data[:2] == b"BM"


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP → (H, W, 3) uint8 RGB. Uncompressed (BI_RGB/BI_BITFIELDS
    with default masks) at 1/4/8-bit palette and 24/32-bit truecolor,
    plus BI_RLE8 (compression 1) and BI_RLE4 (compression 2) runs —
    the full BITMAPINFOHEADER surface short of custom bitfield masks.
    Rows are 4-byte aligned and stored bottom-up (top-down when height
    is negative; RLE bitmaps are bottom-up by spec)."""
    if not is_bmp(data):
        raise ValueError("not a BMP (bad magic)")
    (pixel_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40:
        raise NotImplementedError("BMP: BITMAPCOREHEADER not supported")
    w, h = struct.unpack("<ii", data[18:26])
    _planes, bpp = struct.unpack("<HH", data[26:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if compression not in (0, 1, 2, 3):
        raise NotImplementedError(f"BMP: compression {compression}")
    if compression == 1 and bpp != 8:
        raise ValueError("BMP: BI_RLE8 requires 8-bit pixels")
    if compression == 2 and bpp != 4:
        raise ValueError("BMP: BI_RLE4 requires 4-bit pixels")
    if bpp not in (1, 4, 8, 24, 32):
        raise NotImplementedError(f"BMP: {bpp}-bit pixels")
    top_down = h < 0
    h = abs(h)
    # Canvas plausibility: RLE decouples output size from input size
    # (few opcode bytes can claim a multi-GB canvas), so a corrupt
    # header must fail closed HERE, before np.zeros — a poison payload
    # that OOMs an executor is worse than one that raises.
    if w <= 0 or h == 0 or w * h > (1 << 26):
        raise ValueError(f"BMP: implausible dimensions {w}x{h}")
    palette = None
    if bpp <= 8:
        (n_colors,) = struct.unpack("<I", data[46:50])
        n_colors = n_colors or (1 << bpp)
        pal = np.frombuffer(
            data[14 + hdr_size : 14 + hdr_size + 4 * n_colors],
            dtype=np.uint8).reshape(-1, 4)
        palette = pal[:, [2, 1, 0]]  # BGRA → RGB
    if compression in (1, 2):
        idx = _bmp_rle(data[pixel_off:], w, h, nibble=(compression == 2))
        return palette[np.minimum(idx, len(palette) - 1)][::-1]
    stride = ((w * bpp + 7) // 8 + 3) & ~3
    need = pixel_off + stride * h
    if len(data) < need:
        raise ValueError("BMP: truncated pixel data")
    rows = np.frombuffer(data, dtype=np.uint8, count=stride * h,
                         offset=pixel_off).reshape(h, stride)
    if bpp <= 8:
        if bpp == 8:
            idx = rows[:, :w]
        else:  # unpack 1/4-bit indices, MSB-first within each byte
            bits = np.unpackbits(rows, axis=1)
            if bpp == 4:
                nib = bits.reshape(h, -1, 4)
                idx = (nib[:, :, 0] * 8 + nib[:, :, 1] * 4
                       + nib[:, :, 2] * 2 + nib[:, :, 3])[:, :w]
            else:
                idx = bits[:, :w]
        out = palette[np.minimum(idx, len(palette) - 1)]
    else:
        ch = bpp // 8
        px = rows[:, : w * ch].reshape(h, w, ch)
        out = px[:, :, [2, 1, 0]]  # BGR(A) → RGB
    return out if top_down else out[::-1]


def _bmp_rle(src: bytes, w: int, h: int, nibble: bool) -> np.ndarray:
    """BI_RLE8/BI_RLE4 → (H, W) palette indices, rows in FILE order
    (bottom-up; caller flips). Opcode pairs: (n>0, v) = run of n
    pixels (RLE4 alternates v's high/low nibbles); (0, 0) = end of
    line; (0, 1) = end of bitmap; (0, 2, dx, dy) = cursor delta;
    (0, n≥3) = n literal pixels, padded to a 16-bit boundary.
    Pixels the cursor skips (deltas / early EOL) stay index 0, which
    is how Windows defines the gaps."""
    idx = np.zeros((h, w), dtype=np.uint8)
    x = y = i = 0
    n = len(src)
    while i + 1 < n and y < h:
        cnt, val = src[i], src[i + 1]
        i += 2
        if cnt > 0:  # encoded run
            m = min(cnt, w - x)
            if nibble:
                pair = np.array([val >> 4, val & 0x0F], dtype=np.uint8)
                idx[y, x : x + m] = np.tile(pair, (cnt + 1) // 2)[:m]
            else:
                idx[y, x : x + m] = val
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta
            if i + 1 >= n:
                break
            x += src[i]
            y += src[i + 1]
            i += 2
        else:  # absolute mode: val literal pixels
            if nibble:
                nbytes = (val + 1) // 2
                chunk = np.frombuffer(src, np.uint8, min(nbytes, n - i), i)
                lits = np.empty(len(chunk) * 2, dtype=np.uint8)
                lits[0::2] = chunk >> 4
                lits[1::2] = chunk & 0x0F
                lits = lits[:val]
            else:
                nbytes = val
                lits = np.frombuffer(src, np.uint8, min(val, n - i), i)
            i += nbytes + (nbytes & 1)  # pad to 16-bit boundary
            m = min(len(lits), w - x)
            idx[y, x : x + m] = lits[:m]
            x += val
        if x > w:
            x = w
    return idx


def encode_bmp(arr: np.ndarray) -> bytes:
    """uint8 (H, W) or (H, W, 3) → 24-bit BI_RGB BMP (bottom-up)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = np.stack([a] * 3, axis=2)
    h, w = a.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = a[::-1, :, [2, 1, 0]].reshape(h, w * 3)
    pixels = body.tobytes()
    header = (b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(pixels), 2835, 2835, 0, 0))
    return header + pixels


# ---------------------------------------------------------------- netpbm

def is_pnm(data: bytes) -> bool:
    return len(data) > 2 and data[0:1] == b"P" and data[1:2] in b"56"


def decode_pnm(data: bytes) -> np.ndarray:
    """Binary netpbm: P5 (gray) / P6 (RGB), 8-bit maxval → (H, W, C)
    uint8. Header = magic, whitespace/comment-separated width, height,
    maxval, one whitespace byte, then raw samples."""
    if not is_pnm(data):
        raise ValueError("not a binary PGM/PPM (bad magic)")
    fields = []
    i = 2
    while len(fields) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if i < len(data) and data[i] == ord("#"):  # comment to EOL
            while i < len(data) and data[i] not in b"\r\n":
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("PNM: truncated header")
        fields.append(int(data[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError(f"PNM: maxval {maxval} (only 8-bit)")
    ch = 3 if data[1:2] == b"6" else 1
    need = w * h * ch
    px = np.frombuffer(data, dtype=np.uint8, count=need, offset=i)
    if len(px) < need:
        raise ValueError("PNM: truncated pixel data")
    arr = px.reshape(h, w, ch)
    return np.repeat(arr, 3, axis=2) if ch == 1 else arr


# ----------------------------------------------------------------- TIFF

def _tiff_ifd(data: bytes) -> Optional[tuple[str, dict]]:
    """(byte-order char, {tag: [values]}) for the first IFD."""
    if len(data) < 8 or data[:4] not in (b"II*\x00", b"MM\x00*"):
        return None
    bo = "<" if data[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack(bo + "I", data[4:8])
    if ifd_off + 2 > len(data):
        return None
    (n_entries,) = struct.unpack(bo + "H", data[ifd_off : ifd_off + 2])
    sizes = {1: 1, 3: 2, 4: 4, 7: 1}  # 7 = UNDEFINED (JPEGTables)
    fmts = {1: "B", 3: "H", 4: "I", 7: "B"}
    tags: dict[int, list[int]] = {}
    for k in range(n_entries):
        e = ifd_off + 2 + 12 * k
        if e + 12 > len(data):
            return None
        tag, typ = struct.unpack(bo + "HH", data[e : e + 4])
        (count,) = struct.unpack(bo + "I", data[e + 4 : e + 8])
        if typ not in sizes or count == 0 or count > 1 << 20:
            continue
        nbytes = sizes[typ] * count
        if nbytes <= 4:
            off = e + 8
        else:
            (off,) = struct.unpack(bo + "I", data[e + 8 : e + 12])
        if off + nbytes > len(data):
            continue
        tags[tag] = list(struct.unpack(
            bo + "%d%s" % (count, fmts[typ]), data[off : off + nbytes]))
    return bo, tags


def probe_tiff(data: bytes) -> Optional[dict]:
    """First IFD's ImageWidth/ImageLength (tags 256/257)."""
    parsed = _tiff_ifd(data)
    if parsed is None:
        return None
    _bo, tags = parsed
    if 256 not in tags or 257 not in tags:
        return None
    return {"width": tags[256][0], "height": tags[257][0]}


def _lzw_width(next_code: int) -> int:
    """TIFF EarlyChange code width for the given next-free entry
    number: the switch happens at 511/1023/2047 — one code earlier
    than information-theoretically required (TIFF6 §13 / libtiff)."""
    if next_code <= 510:
        return 9
    if next_code <= 1022:
        return 10
    if next_code <= 2046:
        return 11
    return 12


def _tiff_lzw(src: bytes) -> bytes:
    """TIFF-variant LZW (Compression 5): MSB-first code packing,
    8-bit symbols, Clear=256/EOI=257, EarlyChange widths. The decoder
    is one table entry behind the encoder, so it reads each code at
    ``_lzw_width(len(table) + 1)`` — that +1 is exactly the
    compensation the early switch exists for."""
    out = bytearray()
    base = [bytes([c]) for c in range(256)] + [b"", b""]
    table = list(base)
    acc = 0
    nbits = 0
    prev = None
    i = 0
    n = len(src)
    while True:
        width = _lzw_width(len(table) + 1)
        while nbits < width:
            if i >= n:
                return bytes(out)  # no EOI: tolerate truncation at a boundary
            acc = (acc << 8) | src[i]
            i += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == 256:  # clear
            table = list(base)
            prev = None
            continue
        if code == 257:  # EOI
            return bytes(out)
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4094:  # encoder must clear before 4094
                table.append(prev + entry[:1])
        elif code == len(table) and code < 4094:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("TIFF: LZW code out of range")
        out += entry
        prev = entry


def _packbits(src: bytes) -> bytes:
    """TIFF PackBits (Apple RLE): n in 0..127 → copy n+1 literal bytes;
    n in -127..-1 → repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(src):
        n = src[i] - 256 if src[i] > 127 else src[i]
        i += 1
        if n >= 0:
            out += src[i : i + n + 1]
            i += n + 1
        elif n != -128:
            out += src[i : i + 1] * (1 - n)
            i += 1
    return bytes(out)


def decode_tiff(data: bytes) -> np.ndarray:
    """Strip-based 8-bit gray/RGB TIFF → (H, W, 3) uint8. Handles
    Compression 1 (none), 5 (LZW — the TIFF MSB-first variant with
    EarlyChange), 8/32946 (zlib deflate — stdlib), 32773 (PackBits
    RLE) and 7 (new-style JPEG — strips decode through
    ``functions/jpeg.py``, with the shared-table stream from tag 347
    JPEGTables spliced in per TIFF-TN2); only old-style Compression 6
    stays behind the stub boundary (NotImplementedError names it)."""
    import zlib

    parsed = _tiff_ifd(data)
    if parsed is None:
        raise ValueError("not a TIFF")
    _bo, tags = parsed
    if 256 not in tags or 257 not in tags or 273 not in tags:
        raise ValueError("TIFF: missing dimension/strip tags")
    comp = tags.get(259, [1])[0]
    if comp not in (1, 5, 7, 8, 32946, 32773):
        raise NotImplementedError(f"TIFF: compression {comp} needs a codec")
    if comp == 7:
        return _decode_tiff_jpeg(data, tags)
    bits = tags.get(258, [8])
    if any(b != 8 for b in bits):
        raise NotImplementedError(f"TIFF: {bits}-bit samples")
    w, h = tags[256][0], tags[257][0]
    if w == 0 or h == 0 or w * h > (1 << 26):
        # fail closed before decompression: LZW/deflate strips expand
        # up to ~1000x, so corrupt dimension tags must raise, not OOM
        raise ValueError(f"TIFF: implausible dimensions {w}x{h}")
    spp = tags.get(277, [len(bits)])[0]
    if spp not in (1, 3):
        raise NotImplementedError(f"TIFF: {spp} samples/pixel")
    offsets = tags[273]
    counts = tags.get(279, [w * h * spp])
    need = w * h * spp
    buf = bytearray()
    for off, cnt in zip(offsets, counts):
        if len(buf) >= need:
            break  # enough pixels — don't inflate bomb tails
        strip = data[off : off + cnt]
        if comp in (8, 32946):
            # decompressobj(max_length=...) is the capped API —
            # zlib.decompress()'s bufsize arg is only an initial hint
            strip = zlib.decompressobj().decompress(strip, need - len(buf))
        elif comp == 5:
            strip = _tiff_lzw(strip)
        elif comp == 32773:
            strip = _packbits(strip)
        buf += strip
    if len(buf) < need:
        raise ValueError("TIFF: truncated strip data")
    arr = np.frombuffer(bytes(buf), dtype=np.uint8, count=need).reshape(
        h, w, spp)
    return np.repeat(arr, 3, axis=2) if spp == 1 else arr


def _decode_tiff_jpeg(data: bytes, tags: dict) -> np.ndarray:
    """Compression 7 (TIFF Technical Note 2 "new-style" JPEG): each
    strip holds an entropy-coded JPEG stream; if tag 347 (JPEGTables)
    is present it carries an abbreviated table stream (SOI,
    DQT/DHT..., EOI) whose segments must be seen before each strip's
    frame — splice tables[2:-2] after the strip's SOI. Strips decode
    independently (each has its own SOF/SOS), are stacked in row
    order, and the MCU-padded tail is cropped to ImageLength."""
    from .jpeg import decode_jpeg

    w, h = tags[256][0], tags[257][0]
    offsets = tags[273]
    counts = tags.get(279, [len(data) - offsets[0]])
    tables = bytes(tags.get(347, []))
    if tables and (tables[:2] != b"\xff\xd8" or tables[-2:] != b"\xff\xd9"):
        raise ValueError("TIFF: malformed JPEGTables stream")
    parts = []
    for off, cnt in zip(offsets, counts):
        strip = data[off : off + cnt]
        if strip[:2] != b"\xff\xd8":
            raise ValueError("TIFF: JPEG strip without SOI")
        if tables:
            strip = tables[:-2] + strip[2:]
        arr = decode_jpeg(strip)
        if arr.shape[2] == 1:
            arr = np.repeat(arr, 3, axis=2)
        parts.append(arr[:, :w])
    out = parts[0] if len(parts) == 1 else np.vstack(parts)
    if out.shape[0] < h or out.shape[1] < w:
        raise ValueError("TIFF: JPEG strips smaller than ImageLength")
    return out[:h]


def make_tiff(width: int, height: int, big_endian: bool = False) -> bytes:
    """Minimal spec-shaped TIFF: header + one IFD carrying the two
    dimension tags (no strip data — probes only read the IFD)."""
    bo = ">" if big_endian else "<"
    out = (b"MM\x00*" if big_endian else b"II*\x00")
    out += struct.pack(bo + "I", 8)
    entries = [
        struct.pack(bo + "HHI", 256, 4, 1) + struct.pack(bo + "I", width),
        struct.pack(bo + "HHI", 257, 4, 1) + struct.pack(bo + "I", height),
    ]
    out += struct.pack(bo + "H", len(entries)) + b"".join(entries)
    out += struct.pack(bo + "I", 0)  # no next IFD
    return out


# ------------------------------------------------------------------ ICO

def is_ico(data: bytes) -> bool:
    if len(data) < 6 or data[:4] != b"\x00\x00\x01\x00":
        return False
    (count,) = struct.unpack("<H", data[4:6])
    return 0 < count <= 64 and len(data) >= 6 + 16 * count


def probe_ico(data: bytes) -> Optional[dict]:
    """Favicon container: entry count + the largest entry's dims."""
    if not is_ico(data):
        return None
    (count,) = struct.unpack("<H", data[4:6])
    best = (0, 0)
    for k in range(count):
        e = 6 + 16 * k
        w = data[e] or 256  # 0 encodes 256
        h = data[e + 1] or 256
        if w * h > best[0] * best[1]:
            best = (w, h)
    return {"width": best[0], "height": best[1], "n_frames": count}


def decode_ico(data: bytes) -> np.ndarray:
    """Decode the largest image in an ICO. PNG-compressed entries (the
    modern favicon payload) decode via functions/png.py; classic DIB
    entries decode through the BMP path (the DIB inside an ICO is a
    headerless BMP whose height field counts image+mask)."""
    if not is_ico(data):
        raise ValueError("not an ICO")
    (count,) = struct.unpack("<H", data[4:6])
    best = None
    for k in range(count):
        e = 6 + 16 * k
        w = data[e] or 256
        h = data[e + 1] or 256
        size, off = struct.unpack("<II", data[e + 8 : e + 16])
        if best is None or w * h > best[0] * best[1]:
            best = (w, h, off, size)
    w, h, off, size = best
    payload = data[off : off + size]
    from .png import decode_png, is_png

    if is_png(payload):
        return decode_png(payload)
    # classic DIB: synthesize a BMP header; halve the doubled height
    if len(payload) < 40:
        raise ValueError("ICO: truncated DIB entry")
    hdr = bytearray(payload[:40])
    (dib_h,) = struct.unpack("<i", hdr[8:12])
    struct.pack_into("<i", hdr, 8, dib_h // 2)
    bmp = (b"BM" + struct.pack("<IHHI", 14 + len(payload), 0, 0,
                               14 + 40 +
                               _dib_palette_bytes(payload))
           + bytes(hdr) + payload[40:])
    arr = decode_bmp(bmp)
    return arr[:h, :w]


def _dib_palette_bytes(dib: bytes) -> int:
    (bpp,) = struct.unpack("<H", dib[14:16])
    if bpp > 8:
        return 0
    (n_colors,) = struct.unpack("<I", dib[32:36])
    return 4 * (n_colors or (1 << bpp))


# ----------------------------------------------------------------- WebP

def probe_webp(data: bytes) -> Optional[dict]:
    """Dimensions from the first VP8 (lossy keyframe), VP8L (lossless
    signature) or VP8X (extended canvas) chunk."""
    if len(data) < 16 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        return None
    i = 12
    while i + 8 <= len(data):
        cc = data[i : i + 4]
        (size,) = struct.unpack("<I", data[i + 4 : i + 8])
        body = data[i + 8 : i + 8 + size]
        if cc == b"VP8 " and len(body) >= 10:
            # 3-byte frame tag, 3-byte start code 9d 01 2a, then dims
            if body[3:6] == b"\x9d\x01\x2a":
                w, h = struct.unpack("<HH", body[6:10])
                return {"width": w & 0x3FFF, "height": h & 0x3FFF,
                        "codec": "vp8"}
        elif cc == b"VP8L" and len(body) >= 5 and body[0] == 0x2F:
            bits = int.from_bytes(body[1:5], "little")
            return {"width": (bits & 0x3FFF) + 1,
                    "height": ((bits >> 14) & 0x3FFF) + 1,
                    "codec": "vp8l"}
        elif cc == b"VP8X" and len(body) >= 10:
            w = int.from_bytes(body[4:7], "little") + 1
            h = int.from_bytes(body[7:10], "little") + 1
            return {"width": w, "height": h, "codec": "vp8x"}
        i += 8 + size + (size & 1)
    return None
