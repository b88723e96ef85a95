"""functions/imagex.py — BMP decode + TIFF/WebP probes (r5) and the
multimodal dispatch for all three."""

from __future__ import annotations

import numpy as np
import pytest

from mentor_rdf_parsers_spark.functions import imagex
from tests import media_writers as mw


class TestBmp:
    def test_rgb_roundtrip_exact(self):
        rng = np.random.default_rng(3)
        img = rng.integers(0, 256, (21, 37, 3)).astype(np.uint8)
        out = imagex.decode_bmp(imagex.encode_bmp(img))
        np.testing.assert_array_equal(out, img)

    def test_gray_expands(self):
        g = np.arange(0, 150, dtype=np.uint8).reshape(10, 15)
        out = imagex.decode_bmp(imagex.encode_bmp(g))
        np.testing.assert_array_equal(out, np.stack([g] * 3, axis=2))

    def test_row_padding_widths(self):
        # strides land on all four 4-byte alignment cases
        for w in (5, 6, 7, 8):
            img = np.full((3, w, 3), 99, np.uint8)
            assert imagex.decode_bmp(imagex.encode_bmp(img)).shape == (3, w, 3)

    def test_rejects(self):
        assert not imagex.is_bmp(b"PNG")
        with pytest.raises(ValueError):
            imagex.decode_bmp(b"definitely not a bitmap")


class TestBmpRle:
    def _palette(self, n, seed=7):
        rng = np.random.default_rng(seed)
        return rng.integers(0, 256, (n, 3)).astype(np.uint8)

    def test_rle8_roundtrip_runs_and_literals(self):
        rng = np.random.default_rng(11)
        # mix of long runs (encoded-run opcode) and noise (absolute mode)
        idx = np.repeat(rng.integers(0, 200, (9, 11)), 3, axis=1).astype(np.uint8)
        idx[4] = rng.integers(0, 200, 33)  # one all-literal row
        pal = self._palette(200)
        out = imagex.decode_bmp(mw.encode_bmp_rle8(idx, pal))
        np.testing.assert_array_equal(out, pal[idx])

    def test_rle8_run_longer_than_255(self):
        idx = np.full((2, 300), 42, np.uint8)
        idx[1, :150] = 7
        pal = self._palette(64)
        out = imagex.decode_bmp(mw.encode_bmp_rle8(idx, pal))
        np.testing.assert_array_equal(out, pal[idx])

    def test_rle4_roundtrip(self):
        rng = np.random.default_rng(12)
        idx = rng.integers(0, 16, (7, 13)).astype(np.uint8)
        idx[2, :] = 5  # a solid row exercises the alternating-pair run
        pal = self._palette(16)
        out = imagex.decode_bmp(mw.encode_bmp_rle4(idx, pal))
        np.testing.assert_array_equal(out, pal[idx])

    def test_rle8_delta_and_early_eol_leave_zeros(self):
        # hand-crafted stream: row0 = 3×idx1, EOL; delta (2, 1) skips to
        # row2 col2; 2×idx2; end-of-bitmap — skipped pixels stay index 0
        pal = self._palette(8)
        body = bytes([3, 1, 0, 0,        # run, end of line
                      0, 2, 2, 1,        # delta dx=2 dy=1
                      2, 2, 0, 1])       # run, end of bitmap
        hdr = mw.encode_bmp_rle8(np.zeros((3, 4), np.uint8), pal)
        pixel_off = int.from_bytes(hdr[10:14], "little")
        bmp = bytearray(hdr[:pixel_off]) + body
        import struct as _s
        _s.pack_into("<I", bmp, 34, len(body))  # biSizeImage
        _s.pack_into("<I", bmp, 2, pixel_off + len(body))
        out = imagex.decode_bmp(bytes(bmp))
        expect = np.zeros((3, 4), np.uint8)  # rows in FILE order
        expect[0, :3] = 1       # bottom-up: file row 0 is image row 2
        expect[2, 2:4] = 2      # file row 2 (after delta) is image row 0
        np.testing.assert_array_equal(out, pal[expect][::-1])

    def test_rle4_requires_small_indices(self):
        with pytest.raises(ValueError, match="< 16"):
            mw.encode_bmp_rle4(np.full((2, 2), 99, np.uint8),
                               self._palette(16))

    def test_rle_compression_bpp_mismatch_named(self):
        pal = self._palette(16)
        raw = bytearray(mw.encode_bmp_rle4(np.zeros((2, 2), np.uint8), pal))
        import struct as _s
        _s.pack_into("<H", raw, 28, 8)  # claim 8bpp under BI_RLE4
        with pytest.raises(ValueError, match="BI_RLE4"):
            imagex.decode_bmp(bytes(raw))


class TestBmpLowBpp:
    def test_4bit_uncompressed(self):
        rng = np.random.default_rng(13)
        idx = rng.integers(0, 16, (5, 9)).astype(np.uint8)
        pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
        bmp = _pack_lowbpp_bmp(idx, pal, bpp=4)
        np.testing.assert_array_equal(imagex.decode_bmp(bmp), pal[idx])

    def test_1bit_uncompressed(self):
        rng = np.random.default_rng(14)
        idx = rng.integers(0, 2, (6, 19)).astype(np.uint8)
        pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
        bmp = _pack_lowbpp_bmp(idx, pal, bpp=1)
        np.testing.assert_array_equal(imagex.decode_bmp(bmp), pal[idx])


class TestDecompressionBombs:
    """Corrupt headers claiming multi-GB canvases must raise ValueError
    in milliseconds — found by the RLE fuzz (a bit-flipped height put
    17 GB on an executor's heap before this guard existed)."""

    def test_bmp_rle_huge_canvas_rejected(self):
        import struct as _s

        pal = np.zeros((4, 3), np.uint8)
        p = bytearray(mw.encode_bmp_rle8(np.zeros((4, 4), np.uint8), pal))
        _s.pack_into("<ii", p, 18, 1 << 20, 1 << 20)  # 1Mx1M canvas
        with pytest.raises(ValueError, match="implausible"):
            imagex.decode_bmp(bytes(p))

    def test_tiff_huge_dims_rejected(self):
        import struct as _s

        p = bytearray(mw.encode_tiff(np.zeros((4, 4), np.uint8), 5))
        # patch ImageWidth/ImageLength (tags 256/257) to 2^20 each
        parsed = imagex._tiff_ifd(bytes(p))
        assert parsed is not None
        (ifd_off,) = _s.unpack("<I", p[4:8])
        (n,) = _s.unpack("<H", p[ifd_off : ifd_off + 2])
        for k in range(n):
            e = ifd_off + 2 + 12 * k
            (tag,) = _s.unpack("<H", p[e : e + 2])
            if tag in (256, 257):
                _s.pack_into("<I", p, e + 8, 1 << 20)
        with pytest.raises(ValueError, match="implausible"):
            imagex.decode_tiff(bytes(p))

    def test_png_huge_dims_rejected(self):
        import struct as _s

        from mentor_rdf_parsers_spark.functions import png

        p = bytearray(png.encode_png(np.zeros((4, 4, 3), np.uint8)))
        ihdr = p.index(b"IHDR")
        _s.pack_into(">II", p, ihdr + 4, 1 << 20, 1 << 20)
        _s.pack_into(">I", p, ihdr + 17,
                     __import__("zlib").crc32(p[ihdr : ihdr + 17]))
        with pytest.raises(ValueError, match="implausible"):
            png.decode_png(bytes(p))

    def test_gif_huge_screen_and_stray_frame_rejected(self):
        import struct as _s

        from mentor_rdf_parsers_spark.functions import gif

        p = bytearray(gif.encode_gif(np.zeros((4, 4, 3), np.uint8)))
        q = bytearray(p)
        _s.pack_into("<HH", q, 6, 0xFFFF, 0xFFFF)
        with pytest.raises(ValueError, match="implausible"):
            gif.decode_gif(bytes(q))
        # frame descriptor outside the screen
        fi = p.index(b"\x2c")  # image separator
        _s.pack_into("<HH", p, fi + 5, 0x4000, 0x4000)  # fw, fh
        with pytest.raises(ValueError, match="outside"):
            gif.decode_gif(bytes(p))

    def test_vp8l_truncated_huge_header_rejected_fast(self):
        import time

        from mentor_rdf_parsers_spark.functions import vp8l

        # VP8L header claiming 16k x 16k with no stream behind it
        bits = (16383) | (16383 << 14)
        body = bytes([0x2F]) + bits.to_bytes(4, "little") + b"\x00\x00"
        t0 = time.time()
        with pytest.raises(ValueError):
            vp8l.decode_vp8l(body)
        assert time.time() - t0 < 5.0


class TestBmpRleFuzz:
    """Truncated / bit-flipped RLE streams must fail closed: either a
    decoded array (RLE tolerates truncation — the cursor just stops) or
    ValueError/NotImplementedError through the image dispatch — never a
    crash, hang, or unexpected exception type (the 100 TB
    quarantine-not-fail contract)."""

    def test_truncation_and_corruption_fail_closed(self):
        from mentor_rdf_parsers_spark.operators.multimodal import (
            _try_decode_image,
        )

        rng = np.random.default_rng(21)
        idx8 = np.repeat(rng.integers(0, 9, (6, 8)), 2, axis=1).astype(np.uint8)
        pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
        for p in (mw.encode_bmp_rle8(idx8, pal),
                  mw.encode_bmp_rle4(idx8 % 16, pal)):
            for cut in range(1, len(p), max(1, len(p) // 40)):
                try:
                    out = imagex.decode_bmp(p[:cut])
                    assert out.shape == (6, 16, 3)
                except (ValueError, NotImplementedError, IndexError):
                    pass
                _try_decode_image(p[:cut])  # dispatch never raises
            for _ in range(40):
                q = bytearray(p)
                for _ in range(4):
                    q[rng.integers(0, len(q))] = rng.integers(0, 256)
                try:
                    imagex.decode_bmp(bytes(q))
                except (ValueError, NotImplementedError, IndexError):
                    pass
                _try_decode_image(bytes(q))


def _pack_lowbpp_bmp(idx: np.ndarray, pal: np.ndarray, bpp: int) -> bytes:
    """Build an uncompressed low-bpp BMP (MSB-first packing, 4-byte row
    alignment, bottom-up) — exercises the decode-only path."""
    import struct as _s

    h, w = idx.shape
    stride = ((w * bpp + 7) // 8 + 3) & ~3
    rows = np.zeros((h, stride), np.uint8)
    for y in range(h):
        acc = np.zeros(stride * 8 // bpp, np.uint8)
        acc[:w] = idx[y]
        if bpp == 4:
            rows[y] = (acc[0::2] << 4 | acc[1::2])[:stride]
        else:
            rows[y] = np.packbits(acc)[:stride]
    body = rows[::-1].tobytes()
    pal4 = np.zeros((1 << bpp, 4), np.uint8)
    pal4[: len(pal), :3] = pal[:, [2, 1, 0]]
    off = 54 + pal4.size
    return (b"BM" + _s.pack("<IHHI", off + len(body), 0, 0, off)
            + _s.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(body),
                      2835, 2835, len(pal), 0)
            + pal4.tobytes() + body)


class TestPnm:
    def test_ppm_roundtrip_exact(self):
        rng = np.random.default_rng(4)
        img = rng.integers(0, 256, (17, 23, 3)).astype(np.uint8)
        out = imagex.decode_pnm(mw.encode_pnm(img))
        np.testing.assert_array_equal(out, img)

    def test_pgm_expands_to_rgb(self):
        g = np.arange(0, 120, dtype=np.uint8).reshape(8, 15)
        out = imagex.decode_pnm(mw.encode_pnm(g))
        np.testing.assert_array_equal(out, np.stack([g] * 3, axis=2))

    def test_comment_in_header(self):
        img = np.full((4, 6, 3), 9, np.uint8)
        data = mw.encode_pnm(img).replace(
            b"\n255\n", b"\n# a comment line\n255\n")
        np.testing.assert_array_equal(imagex.decode_pnm(data), img)

    def test_probe_and_decode_dispatch(self):
        from mentor_rdf_parsers_spark.operators.multimodal import (
            _probe_one,
            _try_decode_image,
        )

        img = np.full((7, 11, 3), 3, np.uint8)
        data = mw.encode_pnm(img)
        p = _probe_one(data)
        assert (p["container"], p["codec"], p["width"], p["height"]) == (
            "pnm", "ppm", 11, 7)
        np.testing.assert_array_equal(_try_decode_image(data), img)

    def test_rejects(self):
        assert not imagex.is_pnm(b"P3\n...")  # ASCII variants out of scope
        with pytest.raises(ValueError):
            imagex.decode_pnm(b"P6\n4 4\n255")  # truncated


class TestTiffDecode:
    def test_uncompressed_rgb_roundtrip(self):
        rng = np.random.default_rng(8)
        img = rng.integers(0, 256, (19, 27, 3)).astype(np.uint8)
        out = imagex.decode_tiff(mw.encode_tiff(img))
        np.testing.assert_array_equal(out, img)

    def test_gray_expands(self):
        g = np.arange(0, 143, dtype=np.uint8).reshape(11, 13)
        out = imagex.decode_tiff(mw.encode_tiff(g))
        np.testing.assert_array_equal(out, np.stack([g] * 3, axis=2))

    def test_compressed_strips(self):
        """Compression 5 (LZW — TIFF MSB-first variant with
        EarlyChange), 8 (zlib — stdlib) and 32773 (PackBits RLE)
        decode for real; only JPEG-in-TIFF needs a codec library."""
        rng = np.random.default_rng(9)
        img = rng.integers(0, 256, (23, 31, 3)).astype(np.uint8)
        for comp in (5, 8, 32773):
            out = imagex.decode_tiff(mw.encode_tiff(img, compression=comp))
            np.testing.assert_array_equal(out, img)
        # PackBits repeat runs (the encoder only emits literals)
        assert imagex._packbits(bytes([0xFD, 7])) == bytes([7] * 4)
        assert imagex._packbits(bytes([0x02, 1, 2, 3])) == bytes([1, 2, 3])

    def test_lzw_width_boundaries_and_clear_cycle(self):
        """LZW streams crossing every code-width switch (511/1023/2047)
        and the 4094-entry clear."""
        rng = np.random.default_rng(11)
        for data in (
            # noise fills the table every ~8 KB → several clear cycles
            bytes(rng.integers(0, 256, 60000, dtype=np.uint8)),
            np.repeat(rng.integers(0, 8, 1500), 50).astype(np.uint8).tobytes(),
        ):
            assert imagex._tiff_lzw(mw.tiff_lzw_encode(data)) == data

    def test_oldstyle_jpeg_rejected_by_name(self):
        data = bytearray(mw.encode_tiff(np.zeros((4, 4), np.uint8)))
        # flip the Compression tag value (259) to 6 = old-style JPEG
        i = data.find(b"\x03\x01\x03\x00")  # tag 259, type SHORT (LE)
        data[i + 8] = 6
        with pytest.raises(NotImplementedError, match="compression 6"):
            imagex.decode_tiff(bytes(data))

    def test_image_path_dispatch(self):
        from mentor_rdf_parsers_spark.operators.multimodal import (
            _try_decode_image,
        )

        img = np.full((6, 9, 3), 77, np.uint8)
        np.testing.assert_array_equal(
            _try_decode_image(mw.encode_tiff(img)), img)
        # dimension-only fixture (no strips) falls through to the fake
        assert _try_decode_image(imagex.make_tiff(5, 6)) is None


def _split_jpeg_tables(jfif: bytes) -> tuple[bytes, bytes]:
    """Split a full JFIF stream into TIFF-TN2's (JPEGTables stream,
    abbreviated image stream): tables = SOI + DQT/DHT segments + EOI;
    image = SOI + everything else (SOF/SOS/entropy/EOI)."""
    assert jfif[:2] == b"\xff\xd8"
    tables, image = bytearray(b"\xff\xd8"), bytearray(b"\xff\xd8")
    i = 2
    while i < len(jfif):
        assert jfif[i] == 0xFF
        marker = jfif[i + 1]
        if marker == 0xD9:  # EOI
            image += b"\xff\xd9"
            break
        (seglen,) = __import__("struct").unpack(">H", jfif[i + 2 : i + 4])
        seg = jfif[i : i + 2 + seglen]
        (tables if marker in (0xDB, 0xC4) else image).extend(seg)
        i += 2 + seglen
        if marker == 0xDA:  # entropy data runs to EOI
            j = jfif.find(b"\xff\xd9", i)
            image += jfif[i:j]
            i = j
    return bytes(tables) + b"\xff\xd9", bytes(image)


def _build_jpeg_tiff(w: int, h: int, strips: list, rows_per_strip: int,
                     tables: bytes = b"") -> bytes:
    """Hand-assemble a little-endian Compression-7 TIFF: strip data,
    then out-of-line offset/count/JPEGTables arrays, then the IFD."""
    import struct

    body = bytearray(b"II*\x00\x00\x00\x00\x00")
    offs, cnts = [], []
    for s in strips:
        offs.append(len(body))
        cnts.append(len(s))
        body += s
    arrays_off = len(body)
    if len(strips) > 1:
        off_pos, cnt_pos = arrays_off, arrays_off + 4 * len(strips)
        body += struct.pack("<%dI" % len(strips), *offs)
        body += struct.pack("<%dI" % len(strips), *cnts)
    tab_pos = len(body)
    body += tables
    bps_pos = len(body)
    body += struct.pack("<HHH", 8, 8, 8)
    ifd_off = len(body)
    struct.pack_into("<I", body, 4, ifd_off)
    entries = []

    def ent(tag, typ, count, value):
        entries.append(struct.pack("<HHII", tag, typ, count, value))

    ent(256, 4, 1, w)
    ent(257, 4, 1, h)
    ent(258, 3, 3, bps_pos)
    ent(259, 3, 1, 7)
    ent(262, 3, 1, 6)
    if len(strips) == 1:
        ent(273, 4, 1, offs[0])
    else:
        ent(273, 4, len(strips), off_pos)
    ent(277, 3, 1, 3)
    ent(278, 4, 1, rows_per_strip)
    if len(strips) == 1:
        ent(279, 4, 1, cnts[0])
    else:
        ent(279, 4, len(strips), cnt_pos)
    if tables:
        ent(347, 7, len(tables), tab_pos)
    entries.sort()  # IFD entries must be tag-ordered
    body += struct.pack("<H", len(entries)) + b"".join(entries)
    body += struct.pack("<I", 0)
    return bytes(body)


class TestTiffJpeg:
    """Compression 7 (TIFF-TN2 new-style JPEG) decodes through the
    pure-Python JPEG codec."""

    def _gradient(self, h, w):
        y = np.linspace(0, 255, h, dtype=np.uint8)[:, None]
        x = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
        return np.stack([np.broadcast_to(y, (h, w)),
                         np.broadcast_to(x, (h, w)),
                         np.full((h, w), 128, np.uint8)], axis=2)

    def test_full_stream_roundtrip(self):
        img = np.full((20, 28, 3), (40, 90, 200), np.uint8)
        out = imagex.decode_tiff(mw.encode_tiff(img, compression=7))
        assert out.shape == img.shape
        assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3

    def test_matches_plain_jpeg_decode(self):
        """The TIFF wrapper must change nothing vs decoding the same
        JPEG stream directly."""
        from mentor_rdf_parsers_spark.functions.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        img = self._gradient(24, 33)
        jfif = encode_jpeg(img, quality=90)
        tiff = _build_jpeg_tiff(33, 24, [jfif], 24)
        np.testing.assert_array_equal(imagex.decode_tiff(tiff),
                                      decode_jpeg(jfif))

    def test_jpegtables_splice(self):
        """Abbreviated strip streams + a shared tag-347 table stream
        (what libtiff writes by default) decode identically to the
        unsplit stream."""
        from mentor_rdf_parsers_spark.functions.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        img = self._gradient(16, 25)
        jfif = encode_jpeg(img, quality=85)
        tables, image = _split_jpeg_tables(jfif)
        assert b"\xff\xdb" in tables and b"\xff\xdb" not in image
        tiff = _build_jpeg_tiff(25, 16, [image], 16, tables=tables)
        np.testing.assert_array_equal(imagex.decode_tiff(tiff),
                                      decode_jpeg(jfif))

    def test_multi_strip_stacks_and_crops(self):
        """Two strips of 16 rows for a 26-row image: the second strip's
        JPEG pads to full MCUs; the stack must crop back to 26."""
        from mentor_rdf_parsers_spark.functions.jpeg import encode_jpeg

        img = self._gradient(26, 32)
        s0 = encode_jpeg(img[:16], quality=95)
        s1 = encode_jpeg(img[16:], quality=95)
        tiff = _build_jpeg_tiff(32, 26, [s0, s1], 16)
        out = imagex.decode_tiff(tiff)
        assert out.shape == (26, 32, 3)
        assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 12

    def test_dispatch_decodes_jpeg_tiff(self):
        from mentor_rdf_parsers_spark.operators.multimodal import (
            _try_decode_image,
        )

        img = np.full((8, 8, 3), 160, np.uint8)
        out = _try_decode_image(mw.encode_tiff(img, compression=7))
        assert out is not None and out.shape == (8, 8, 3)
        assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3

    def test_malformed_tables_rejected(self):
        tiff = _build_jpeg_tiff(4, 4, [b"\xff\xd8\xff\xd9"], 4,
                                tables=b"not a table stream")
        with pytest.raises(ValueError, match="JPEGTables"):
            imagex.decode_tiff(tiff)


class TestTiffWebpProbes:
    def test_tiff_both_byte_orders(self):
        assert imagex.probe_tiff(imagex.make_tiff(640, 480)) == {
            "width": 640, "height": 480}
        assert imagex.probe_tiff(imagex.make_tiff(33, 44, big_endian=True)
                                 ) == {"width": 33, "height": 44}
        assert imagex.probe_tiff(b"II*\x00" + b"\xff" * 4) is None

    def test_webp_vp8l(self):
        p = imagex.probe_webp(mw.make_webp_vp8l_header(320, 200))
        assert p == {"width": 320, "height": 200, "codec": "vp8l"}
        assert imagex.probe_webp(b"RIFF\x04\x00\x00\x00AVI ") is None


class TestMultimodalDispatch:
    def test_probe_one(self):
        from mentor_rdf_parsers_spark.operators.multimodal import _probe_one

        img = np.full((12, 30, 3), 42, np.uint8)
        p = _probe_one(imagex.encode_bmp(img))
        assert (p["container"], p["width"], p["height"]) == ("bmp", 30, 12)
        p = _probe_one(imagex.make_tiff(100, 60))
        assert (p["container"], p["width"], p["height"]) == ("tiff", 100, 60)
        p = _probe_one(mw.make_webp_vp8l_header(48, 32))
        assert (p["container"], p["codec"], p["width"]) == (
            "webp", "vp8l", 48)

    def test_decode_image_real_bmp(self):
        from mentor_rdf_parsers_spark.operators.multimodal import (
            _try_decode_image,
        )

        img = np.full((9, 13, 3), 7, np.uint8)
        np.testing.assert_array_equal(
            _try_decode_image(imagex.encode_bmp(img)), img)
        # a header-only VP8L stream has no pixel data → falls to the
        # fake (real WebP decode is covered in tests/test_vp8l.py)
        assert _try_decode_image(mw.make_webp_vp8l_header(4, 4)) is None


class TestIco:
    def test_png_entry_roundtrip(self):
        rng = np.random.default_rng(12)
        img = rng.integers(0, 256, (32, 48, 3)).astype(np.uint8)
        ico = mw.encode_ico(img)
        assert imagex.probe_ico(ico) == {"width": 48, "height": 32,
                                         "n_frames": 1}
        np.testing.assert_array_equal(imagex.decode_ico(ico), img)

    def test_classic_dib_entry(self):
        """Pre-PNG favicons store a headerless BMP whose height field
        counts image + AND-mask rows."""
        import struct

        img = np.arange(32 * 48 * 3, dtype=np.uint8).reshape(32, 48, 3)
        dib = bytearray(imagex.encode_bmp(img)[14:])
        (h_,) = struct.unpack("<i", dib[8:12])
        struct.pack_into("<i", dib, 8, h_ * 2)
        entry = bytes([48, 32, 0, 0]) + struct.pack("<HHII", 1, 24,
                                                    len(dib), 22)
        ico = b"\x00\x00\x01\x00\x01\x00" + entry + bytes(dib)
        np.testing.assert_array_equal(imagex.decode_ico(ico), img)

    def test_multimodal_dispatch(self):
        from mentor_rdf_parsers_spark.operators.multimodal import (
            _probe_one,
            _try_decode_image,
        )

        img = np.full((16, 16, 3), 5, np.uint8)
        ico = mw.encode_ico(img)
        p = _probe_one(ico)
        assert (p["container"], p["width"], p["height"]) == ("ico", 16, 16)
        np.testing.assert_array_equal(_try_decode_image(ico), img)

    def test_rejects(self):
        assert not imagex.is_ico(b"\x00\x00\x02\x00\x01\x00")  # CUR, not ICO
        assert imagex.probe_ico(b"GIF89a") is None
