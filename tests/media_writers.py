"""Spec-shaped media writers used only as test fixtures: G.711 and
IEEE-float WAV, palette/RLE BMP, netpbm, TIFF (none/LZW/JPEG/deflate/
PackBits strips), PNG-in-ICO, a VP8L WebP header, Opus/Vorbis-in-Ogg
and FLAC STREAMINFO. Each is the round-trip partner of a decoder or
probe in ``mentor_rdf_parsers_spark.functions``."""

from __future__ import annotations

import struct
import zlib

import numpy as np

from mentor_rdf_parsers_spark.functions.imagex import _lzw_width
from mentor_rdf_parsers_spark.functions.jpeg import encode_jpeg
from mentor_rdf_parsers_spark.functions.png import encode_png


# ------------------------------------------------------- WAV / G.711

def encode_mulaw(samples: np.ndarray) -> bytes:
    """float in [-1, 1] → µ-law bytes (ITU-T G.711 segment compressor);
    the test-fixture inverse of :func:`decode_mulaw`."""
    x = np.clip(np.asarray(samples, dtype=np.float64) * 32768.0,
                -32635, 32635).astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.abs(x) + 0x84
    exponent = (np.floor(np.log2(mag)).astype(np.int32) - 7).clip(0, 7)
    mantissa = (mag >> (exponent + 3)) & 0x0F
    return bytes((~(sign | (exponent << 4) | mantissa) & 0xFF
                  ).astype(np.uint8).tobytes())


def encode_alaw(samples: np.ndarray) -> bytes:
    """float in [-1, 1] → A-law bytes (the canonical linear2alaw:
    13-bit domain, per-segment mantissa shift, 0x55/0xD5 toggle)."""
    x = np.clip(np.asarray(samples, dtype=np.float64) * 32768.0,
                -32768, 32767).astype(np.int32)
    x13 = x >> 3
    mask = np.where(x13 >= 0, 0xD5, 0x55)
    v = np.where(x13 >= 0, x13, -x13 - 1)
    seg = ((v > 0x1F).astype(np.int32) + (v > 0x3F) + (v > 0x7F)
           + (v > 0xFF) + (v > 0x1FF) + (v > 0x3FF) + (v > 0x7FF))
    mantissa = np.where(seg < 2, (v >> 1) & 0x0F,
                        (v >> seg) & 0x0F)
    return bytes((((seg << 4) | mantissa) ^ mask).astype(np.uint8).tobytes())


def make_wav(body: bytes, tag: int, channels: int, rate: int,
             bits: int) -> bytes:
    """Minimal RIFF/WAVE wrapper for fixture payloads."""
    byterate = rate * channels * bits // 8
    fmt = struct.pack("<HHIIHH", tag, channels, rate, byterate,
                      channels * bits // 8, bits)
    out = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WAVE" + out


# ------------------------------------------------------------ images

def _bmp_palette_header(idx: np.ndarray, palette: np.ndarray,
                        compression: int, body_len: int,
                        bpp: int) -> bytes:
    h, w = idx.shape
    pal = np.zeros((1 << bpp, 4), dtype=np.uint8)
    pal[: len(palette), :3] = np.asarray(palette, dtype=np.uint8)[:, [2, 1, 0]]
    pixel_off = 54 + pal.size
    return (b"BM" + struct.pack("<IHHI", pixel_off + body_len, 0, 0,
                                pixel_off)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, compression,
                          body_len, 2835, 2835, len(palette), 0)
            + pal.tobytes())


def encode_bmp_rle8(idx: np.ndarray, palette: np.ndarray) -> bytes:
    """(H, W) uint8 palette indices + (N, 3) RGB palette → BI_RLE8 BMP
    (bottom-up). Runs ≥2 become encoded runs; isolated stretches use
    absolute mode when ≥3 long (exercising both decoder paths), else
    length-1 runs. Round-trip partner of :func:`decode_bmp`."""
    a = np.asarray(idx, dtype=np.uint8)
    h, w = a.shape
    out = bytearray()
    for row in a[::-1]:  # file order is bottom-up
        x = 0
        while x < w:
            run = 1
            while x + run < w and row[x + run] == row[x] and run < 255:
                run += 1
            if run >= 2:
                out += bytes([run, row[x]])
                x += run
                continue
            # literal stretch: until the next run of ≥3 (or row end)
            j = x
            while j < w and j - x < 255:
                if j + 2 < w and row[j] == row[j + 1] == row[j + 2]:
                    break
                j += 1
            lits = row[x:j]
            if len(lits) >= 3:
                out += bytes([0, len(lits)]) + lits.tobytes()
                if len(lits) & 1:
                    out += b"\x00"  # pad to 16-bit boundary
            else:
                for v in lits:
                    out += bytes([1, v])
            x = j
        out += b"\x00\x00"  # end of line
    out += b"\x00\x01"  # end of bitmap
    return _bmp_palette_header(a, palette, 1, len(out), 8) + bytes(out)


def encode_bmp_rle4(idx: np.ndarray, palette: np.ndarray) -> bytes:
    """(H, W) indices <16 + palette → BI_RLE4 BMP (bottom-up), emitted
    as simple alternating-nibble runs."""
    a = np.asarray(idx, dtype=np.uint8)
    if a.max(initial=0) > 15:
        raise ValueError("RLE4 indices must be < 16")
    h, w = a.shape
    out = bytearray()
    for row in a[::-1]:
        x = 0
        while x < w:
            # run of the alternating pair (row[x], row[x+1], row[x], ...)
            v0 = row[x]
            v1 = row[x + 1] if x + 1 < w else v0
            run = 1
            while x + run < w and row[x + run] == (v0, v1)[run & 1] \
                    and run < 255:
                run += 1
            out += bytes([run, (int(v0) << 4) | int(v1)])
            x += run
        out += b"\x00\x00"
    out += b"\x00\x01"
    return _bmp_palette_header(a, palette, 2, len(out), 4) + bytes(out)


def encode_pnm(arr: np.ndarray) -> bytes:
    """uint8 (H, W) → P5, (H, W, 3) → P6."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    magic = b"P6" if a.ndim == 3 else b"P5"
    h, w = a.shape[:2]
    return magic + f"\n{w} {h}\n255\n".encode() + a.tobytes()


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF LZW writer (the ``_tiff_lzw`` inverse): MSB-first,
    EarlyChange widths, clear at table entry 4094 per spec."""
    table = {bytes([c]): c for c in range(256)}
    next_code = 258
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(256, _lzw_width(next_code))  # clear
    prev = b""
    for c in data:
        cur = prev + bytes([c])
        if cur in table:
            prev = cur
            continue
        emit(table[prev], _lzw_width(next_code))
        table[cur] = next_code
        next_code += 1
        prev = bytes([c])
        if next_code == 4094:  # spec: clear before the table fills
            emit(256, _lzw_width(next_code))
            table = {bytes([k]): k for k in range(256)}
            next_code = 258
    if prev:
        emit(table[prev], _lzw_width(next_code))
        next_code += 1
    emit(257, _lzw_width(next_code))
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def encode_tiff(arr: np.ndarray, compression: int = 1) -> bytes:
    """uint8 (H, W) or (H, W, 3) → little-endian TIFF (one strip).
    ``compression``: 1 = none, 5 = LZW, 7 = JPEG (a full interchange
    stream in the strip — legal per TIFF-TN2, no JPEGTables needed),
    8 = zlib deflate, 32773 = PackBits (all-literal runs — valid,
    exercises the decode path)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    h, w = a.shape[:2]
    spp = 3 if a.ndim == 3 else 1
    pixels = a.tobytes()
    if compression == 8:
        pixels = zlib.compress(pixels, 6)
    elif compression == 5:
        pixels = tiff_lzw_encode(pixels)
    elif compression == 7:
        pixels = encode_jpeg(a, quality=95)
    elif compression == 32773:
        enc = bytearray()
        for i in range(0, len(pixels), 128):
            chunk = pixels[i : i + 128]
            enc += bytes([len(chunk) - 1]) + chunk
        pixels = bytes(enc)
    elif compression != 1:
        raise ValueError(f"encode_tiff: compression {compression}")
    # layout: header(8) + pixel data + BitsPerSample array + IFD
    pix_off = 8
    bps_off = pix_off + len(pixels)
    ifd_off = bps_off + (2 * spp if spp > 1 else 0)
    entries = []

    def ent(tag, typ, count, value):
        entries.append(struct.pack("<HHI", tag, typ, count)
                       + struct.pack("<I", value))

    ent(256, 4, 1, w)
    ent(257, 4, 1, h)
    if spp == 1:
        ent(258, 3, 1, 8)
    else:
        ent(258, 3, 3, bps_off)
    ent(259, 3, 1, compression)
    # photometric: RGB=2 / gray=1; JPEG strips carry YCbCr (TN2) = 6
    ent(262, 3, 1, (6 if compression == 7 else 2) if spp == 3 else 1)
    ent(273, 4, 1, pix_off)        # strip offset
    ent(277, 3, 1, spp)
    ent(278, 4, 1, h)              # rows per strip
    ent(279, 4, 1, len(pixels))    # strip byte count
    ifd = (struct.pack("<H", len(entries)) + b"".join(entries)
           + struct.pack("<I", 0))
    out = b"II*\x00" + struct.pack("<I", ifd_off) + pixels
    if spp > 1:
        out += struct.pack("<HHH", 8, 8, 8)[: 2 * spp]
    return out + ifd


def encode_ico(arr: np.ndarray) -> bytes:
    """uint8 image → single-entry PNG-compressed ICO (the modern
    favicon layout)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w = a.shape[:2]
    if w > 256 or h > 256:
        raise ValueError("ICO entries are at most 256x256")
    png_bytes = encode_png(a)
    entry = bytes([w % 256, h % 256, 0, 0]) + struct.pack(
        "<HHII", 1, 32, len(png_bytes), 22)
    return b"\x00\x00\x01\x00\x01\x00" + entry + png_bytes


def make_webp_vp8l_header(width: int, height: int) -> bytes:
    """Spec-shaped WebP wrapper with a VP8L signature + dimension bits
    (no pixel stream — probes only; decode honestly needs libwebp)."""
    bits = (width - 1) & 0x3FFF | (((height - 1) & 0x3FFF) << 14)
    body = bytes([0x2F]) + bits.to_bytes(4, "little")
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


# -------------------------------------------------------- Ogg / FLAC

def _ogg_page(serial: int, seq: int, granule: int, body: bytes,
              header_type: int = 0) -> bytes:
    segs = []
    n = len(body)
    while True:
        segs.append(min(n, 255))
        n -= segs[-1]
        if segs[-1] < 255:
            break
    hdr = (b"OggS\x00" + bytes([header_type])
           + struct.pack("<qII", granule, serial, seq)
           + b"\x00\x00\x00\x00"  # CRC left zero: probe never checks it
           + bytes([len(segs)]) + bytes(segs))
    return hdr + body


def make_ogg_opus(duration_ms: int, channels: int = 2,
                  pre_skip: int = 312) -> bytes:
    """Spec-shaped Opus-in-Ogg stream: OpusHead page, OpusTags page,
    one data page whose granule encodes the duration at 48 kHz."""
    head = (b"OpusHead\x01" + bytes([channels])
            + struct.pack("<H", pre_skip)
            + struct.pack("<I", 48000) + b"\x00\x00\x00")
    tags = b"OpusTags" + struct.pack("<I", 4) + b"test" + struct.pack("<I", 0)
    granule = duration_ms * 48 + pre_skip
    return (_ogg_page(7, 0, 0, head, 2)
            + _ogg_page(7, 1, 0, tags)
            + _ogg_page(7, 2, granule, bytes(40), 4))


def make_ogg_vorbis(duration_ms: int, rate: int = 44100,
                    channels: int = 2) -> bytes:
    ident = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
             + struct.pack("<IiiI", rate, 0, 128000, 0)
             + bytes([0xB8, 0x01]))
    granule = duration_ms * rate // 1000
    return (_ogg_page(9, 0, 0, ident, 2)
            + _ogg_page(9, 1, granule, bytes(40), 4))


def make_flac(duration_ms: int, rate: int = 44100,
              channels: int = 2) -> bytes:
    total = duration_ms * rate // 1000
    si = bytearray(34)
    si[0:2] = struct.pack(">H", 4096)   # min block size
    si[2:4] = struct.pack(">H", 4096)   # max block size
    si[10] = (rate >> 12) & 0xFF
    si[11] = (rate >> 4) & 0xFF
    si[12] = ((rate & 0x0F) << 4) | ((channels - 1) << 1)
    si[13] = (15 << 4) | ((total >> 32) & 0x0F)  # bps-1=15 (16-bit)
    si[14:18] = struct.pack(">I", total & 0xFFFFFFFF)
    hdr = bytes([0x80]) + (34).to_bytes(3, "big")  # last block, type 0
    return b"fLaC" + hdr + bytes(si)
