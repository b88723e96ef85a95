"""Round-5 container demux: MP4 (ISO BMFF), Matroska/WebM (EBML),
MP3/ADTS frame-header walks, and the unified probe_media operator.

The muxers write spec-shaped files so every parser is exercised against
standard layouts with no external library; Motion-JPEG essence then
decodes for real through functions/jpeg.py, which is the strongest
oracle available (sample bytes round-trip exactly; pixels decode)."""

from __future__ import annotations

import numpy as np
import pytest

from mentor_rdf_parsers_spark.functions import ebml, jpeg, mp4, mpegaudio
from tests import media_writers as mw


def _frames(n=5, h=24, w=40):
    out = []
    for i in range(n):
        img = ((np.mgrid[0:h, 0:w][1] * 3 + i * 17) % 256).astype(np.uint8)
        out.append(jpeg.encode_jpeg(img, quality=88))
    return out


class TestMp4:
    def test_mux_demux_roundtrip(self):
        frames = _frames(7)
        data = mp4.encode_mp4_mjpeg(frames, fps=5)
        assert mp4.is_mp4(data)
        meta = mp4.parse_mp4(data)
        assert meta["duration_ms"] == 1400  # 7 frames at 5 fps
        trk = meta["tracks"][0]
        assert (trk["kind"], trk["codec"]) == ("video", "jpeg")
        assert (trk["width"], trk["height"]) == (40, 24)
        assert trk["n_samples"] == 7
        out = list(mp4.iter_samples(data, trk))
        assert out == frames  # byte-exact demux
        assert jpeg.decode_jpeg(out[3]).shape == (24, 40, 1)

    def test_multi_chunk_stsc_expansion(self):
        """stsc runs (first_chunk, samples_per_chunk) — build a 2-chunk
        layout by hand and demux it."""
        frames = _frames(6)
        data = bytearray(mp4.encode_mp4_mjpeg(frames, fps=10))
        meta = mp4.parse_mp4(bytes(data))
        trk = dict(meta["tracks"][0])
        # re-describe the single chunk as two: 4 samples then 2
        off0 = trk["chunk_offsets"][0]
        off1 = off0 + sum(trk["sizes"][:4])
        trk["stsc"] = [(1, 4, 1), (2, 2, 1)]
        trk["chunk_offsets"] = [off0, off1]
        assert list(mp4.iter_samples(bytes(data), trk)) == frames

    def test_fragmented_fmp4_demux(self):
        """DASH-style moof/traf/trun run lists (default-base-is-moof +
        per-sample sizes) — the streaming layout a web-scraped corpus
        actually contains."""
        frames = _frames(7)
        data = mp4.encode_fmp4_mjpeg(frames, fps=5, frames_per_fragment=3)
        meta = mp4.parse_mp4(data)
        trk = meta["tracks"][0]
        assert (trk["kind"], trk["codec"]) == ("video", "jpeg")
        assert trk["n_samples"] == 7 and len(trk["fragments"]) == 7
        assert list(mp4.iter_samples(data, trk)) == frames
        # the Spark sampling and probe paths pick it up transparently
        from mentor_rdf_parsers_spark.operators.multimodal import (
            _probe_one,
            _try_sample_video,
        )

        assert [i for i, _ in _try_sample_video(data, 2, 4)] == [0, 2, 4, 6]
        p = _probe_one(data)
        assert (p["container"], p["codec"], p["n_frames"]) == (
            "mp4", "jpeg", 7)

    def test_fragment_default_sample_size(self):
        """trun without per-sample sizes: sizes come from the tfhd
        default_sample_size field instead."""
        import struct

        from mentor_rdf_parsers_spark.functions.mp4 import _box, _full

        payload = [bytes([i]) * 64 for i in range(4)]  # equal sizes
        base = mp4.encode_fmp4_mjpeg(_frames(1), fps=5)
        meta = mp4.parse_mp4(base)
        init_end = base.find(b"moof") - 4
        init = base[:init_end]
        # tfhd flags: default-base-is-moof | default_sample_size
        tfhd = _box(b"tfhd", struct.pack(">B", 0)
                    + (0x020010).to_bytes(3, "big")
                    + struct.pack(">II", 1, 64))
        trun_body = struct.pack(">Ii", 4, 0)
        traf = _box(b"traf", tfhd, _full(b"trun", 0, 0x000001, trun_body))
        moof = bytearray(_box(b"moof", _full(b"mfhd", 0, 0,
                                             struct.pack(">I", 1)), traf))
        doff = len(moof) + 8
        pos = moof.find(b"trun") + 12
        moof[pos : pos + 4] = struct.pack(">i", doff)
        data = init + bytes(moof) + _box(b"mdat", *payload)
        trk = mp4.parse_mp4(data)["tracks"][0]
        assert list(mp4.iter_samples(data, trk)) == payload

    def test_rejects_non_mp4(self):
        assert not mp4.is_mp4(b"RIFF....AVI LIST")
        with pytest.raises(ValueError):
            mp4.parse_mp4(b"not an mp4 file at all...")


class TestMatroska:
    def test_mux_demux_roundtrip(self):
        frames = _frames(5)
        data = ebml.encode_mkv_mjpeg(frames, fps=4)
        assert ebml.is_ebml(data)
        meta = ebml.parse_matroska(data)
        assert meta["doctype"] == "matroska"
        assert meta["n_blocks"] == 5
        assert meta["duration_ms"] == 1250
        trk = meta["tracks"][0]
        assert (trk["kind"], trk["codec"]) == ("video", "V_MJPEG")
        assert (trk["width"], trk["height"]) == (40, 24)
        out = list(ebml.iter_blocks(data, 1))
        assert out == frames
        assert jpeg.decode_jpeg(out[0]).shape == (24, 40, 1)

    def test_unknown_size_cluster_stream(self):
        """Live-streamed WebM writes clusters with UNKNOWN size; the
        first such cluster's span runs to segment end and swallows its
        successors — the walker must recurse to find their blocks."""
        import struct

        frames = _frames(4, h=8, w=8)

        def block(i, f):
            return ebml._el(
                ebml._SIMPLE_BLOCK,
                ebml._vint(1) + struct.pack(">h", i * 100)
                + bytes([0x80]) + f)

        c1_body = (ebml._el_uint(ebml._TIMECODE, 0)
                   + block(0, frames[0]) + block(1, frames[1]))
        c1 = ebml._eid(ebml._CLUSTER) + b"\xff" + c1_body  # unknown size
        c2 = ebml._el(ebml._CLUSTER, ebml._el_uint(ebml._TIMECODE, 200)
                      + block(2, frames[2]) + block(3, frames[3]))
        video = ebml._el(ebml._VIDEO, ebml._el_uint(ebml._PIXEL_W, 8)
                         + ebml._el_uint(ebml._PIXEL_H, 8))
        tracks = ebml._el(ebml._TRACKS, ebml._el(
            ebml._TRACK_ENTRY,
            ebml._el_uint(ebml._TRACK_NUMBER, 1)
            + ebml._el_uint(ebml._TRACK_TYPE, 1)
            + ebml._el(ebml._CODEC_ID, b"V_MJPEG") + video))
        info = ebml._el(ebml._INFO,
                        ebml._el_uint(ebml._TIMECODE_SCALE, 1_000_000)
                        + ebml._el(ebml._DURATION,
                                   struct.pack(">d", 400.0)))
        data = (ebml._el(ebml._EBML, ebml._el(ebml._DOCTYPE, b"matroska"))
                + ebml._el(ebml._SEGMENT, info + tracks + c1 + c2))
        meta = ebml.parse_matroska(data)
        assert meta["n_blocks"] == 4
        assert list(ebml.iter_blocks(data, 1)) == frames

    def test_other_track_numbers_skipped(self):
        data = ebml.encode_mkv_mjpeg(_frames(3), fps=4)
        assert list(ebml.iter_blocks(data, 2)) == []

    def test_rejects_non_ebml(self):
        assert not ebml.is_ebml(b"\x00\x00\x00\x18ftypisom")
        with pytest.raises(ValueError):
            ebml.parse_matroska(b"plainly not ebml")


class TestMpegAudio:
    def test_mp3_duration_from_frame_walk(self):
        b = mpegaudio.make_mp3(38)  # MPEG1 L3 @44100: 1152 samples/frame
        p = mpegaudio.probe_mp3(b)
        assert p["n_frames"] == 38
        assert abs(p["duration_ms"] - 38 * 1152 * 1000 // 44100) <= 1
        assert p["sample_rate"] == 44100

    def test_mp3_id3v2_prologue_and_id3v1_trailer(self):
        body = mpegaudio.make_mp3(12)
        data = (b"ID3\x04\x00\x00\x00\x00\x00\x0a" + bytes(10)
                + body + b"TAG" + bytes(125))
        p = mpegaudio.probe_mp3(data)
        assert p is not None and p["n_frames"] == 12

    def test_mp3_all_layers(self):
        for layer_bits, spf in ((3, 384), (2, 1152), (1, 1152)):
            p = mpegaudio.probe_mp3(
                mpegaudio.make_mp3(10, layer_bits=layer_bits, br_idx=5))
            assert p["n_frames"] == 10
            assert p["duration_ms"] == int(10 * spf * 1000 / 44100)

    def test_adts_walk(self):
        p = mpegaudio.probe_adts_aac(mpegaudio.make_adts(47))
        assert p == {"duration_ms": int(47 * 1024 * 1000 / 44100),
                     "sample_rate": 44100, "channels": 2, "n_frames": 47}

    def test_lone_syncword_not_misdetected(self):
        # arbitrary binary with a plausible syncword must NOT probe as audio
        junk = b"\xff\xfb\x90\x00" + bytes(range(256)) * 8
        assert mpegaudio.probe_mp3(junk) is None
        assert mpegaudio.probe_adts_aac(b"\xff\xf1\x50\x80\x05\x1f\xfc"
                                        + b"garbage" * 10) is None
        assert mpegaudio.probe_mp3(b"hello world") is None


class TestSparkVideoSampling:
    """sample_frames takes the REAL path for MJPEG in all three
    containers; h264-style payloads keep the deterministic stub."""

    @pytest.fixture(scope="class")
    def media_df(self, spark):
        from mentor_rdf_parsers_spark.operators.multimodal import MEDIA

        frames = _frames(6)
        rows = [
            ("avi1", "video", bytearray(__import__(
                "mentor_rdf_parsers_spark.functions.avi", fromlist=["avi"]
            ).encode_mjpeg_avi(frames, 40, 24, fps=6)), "video/avi"),
            ("mp41", "video", bytearray(mp4.encode_mp4_mjpeg(frames, fps=6)),
             "video/mp4"),
            ("mkv1", "video", bytearray(ebml.encode_mkv_mjpeg(frames, fps=6)),
             "video/x-matroska"),
            ("stub", "video", bytearray(b"\x00\x00\x00\x18ftypisom" + bytes(400)),
             "video/mp4"),
        ]
        return spark.createDataFrame(rows, MEDIA)

    def test_real_sampling_all_containers(self, media_df):
        from mentor_rdf_parsers_spark.operators.multimodal import sample_frames

        rows = sample_frames(media_df, every_n=2, max_frames=3).collect()
        by_id = {}
        for r in rows:
            by_id.setdefault(r["media_id"], []).append(r)
        for mid in ("avi1", "mp41", "mkv1"):
            got = sorted(by_id[mid], key=lambda r: r["frame_idx"])
            assert [r["frame_idx"] for r in got] == [0, 2, 4]
            for r in got:  # every sampled payload is a decodable JPEG
                assert jpeg.decode_jpeg(bytes(r["payload"])).shape == (24, 40, 1)
        # the non-MJPEG mp4 stub path still yields deterministic rows
        assert len(by_id["stub"]) >= 1
        assert not jpeg.is_jpeg(bytes(by_id["stub"][0]["payload"]))


class TestProbeMedia:
    def test_probe_dispatch(self, spark):
        from mentor_rdf_parsers_spark.functions import adpcm, png
        from mentor_rdf_parsers_spark.operators.multimodal import (
            MEDIA,
            probe_media,
        )

        img = ((np.mgrid[0:16, 0:20][0] * 9) % 256).astype(np.uint8)
        wav = adpcm.encode_ima_wav(
            np.sin(np.linspace(0, 40, 3200)).astype(np.float32), rate=8000)
        rows = [
            ("png", "image", bytearray(png.encode_png(img[:, :, None])), ""),
            ("jpg", "image", bytearray(jpeg.encode_jpeg(img, 90,
                                                        progressive=True)), ""),
            ("mp4", "video", bytearray(mp4.encode_mp4_mjpeg(_frames(4), 8)), ""),
            ("mkv", "video", bytearray(ebml.encode_mkv_mjpeg(_frames(4), 8)), ""),
            ("mp3", "audio", bytearray(mpegaudio.make_mp3(20)), ""),
            ("aac", "audio", bytearray(mpegaudio.make_adts(20)), ""),
            ("wav", "audio", bytearray(wav), ""),
            ("unk", "image", bytearray(b"\x01\x02nonsense payload"), ""),
        ]
        got = {r["media_id"]: r for r in
               probe_media(spark.createDataFrame(rows, MEDIA)).collect()}
        assert (got["png"]["container"], got["png"]["width"],
                got["png"]["height"]) == ("png", 20, 16)
        assert got["jpg"]["codec"] == "jpeg-progressive"
        assert (got["jpg"]["width"], got["jpg"]["height"]) == (20, 16)
        assert (got["mp4"]["container"], got["mp4"]["codec"],
                got["mp4"]["n_frames"]) == ("mp4", "jpeg", 4)
        assert (got["mkv"]["container"], got["mkv"]["codec"]) == (
            "matroska", "V_MJPEG")
        assert got["mp3"]["container"] == "mp3"
        assert got["mp3"]["duration_ms"] == int(20 * 1152 * 1000 / 44100)
        assert got["aac"]["codec"] == "aac"
        assert got["wav"]["codec"] == "ima-adpcm"
        assert got["unk"]["container"] == "unknown"
        assert got["unk"]["codec"] is None


class TestG711AndFloatWav:
    """IEEE-float and G.711 companded WAV (functions/g711.py) — the
    speech-corpus formats stdlib `wave` rejects."""

    @staticmethod
    def _sig(n=8000):
        return (0.8 * np.sin(2 * np.pi * 440 * np.linspace(0, 1, n))
                ).astype(np.float32)

    def test_g711_tables_match_canonical(self):
        from mentor_rdf_parsers_spark.functions import g711

        def alaw2linear(a):
            a ^= 0x55
            t = (a & 0xF) << 4
            seg = (a & 0x70) >> 4
            if seg == 0:
                t += 8
            elif seg == 1:
                t += 0x108
            else:
                t = (t + 0x108) << (seg - 1)
            return t if (a & 0x80) else -t

        def ulaw2linear(u):
            u = ~u & 0xFF
            t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
            t -= 0x84
            return -t if (u & 0x80) else t

        codes = np.arange(256, dtype=np.uint8)
        assert np.allclose(g711.decode_alaw(codes) * 32768.0,
                           [alaw2linear(int(c)) for c in codes])
        assert np.allclose(g711.decode_mulaw(codes) * 32768.0,
                           [ulaw2linear(int(c)) for c in codes])

    def test_companding_roundtrip_within_quantization(self):
        from mentor_rdf_parsers_spark.functions import g711

        sig = self._sig()
        mu = g711.decode_mulaw(
            np.frombuffer(mw.encode_mulaw(sig), np.uint8))
        al = g711.decode_alaw(
            np.frombuffer(mw.encode_alaw(sig), np.uint8))
        assert float(np.abs(mu - sig).max()) < 0.02
        assert float(np.abs(al - sig).max()) < 0.02

    def test_wav_ext_decode_paths(self):
        from mentor_rdf_parsers_spark.operators.multimodal import (
            _try_decode_audio,
        )

        sig = self._sig()
        cases = [
            (mw.make_wav(sig.astype("<f4").tobytes(), 3, 1, 8000, 32),
             0.0),
            (mw.make_wav(mw.encode_mulaw(np.repeat(sig, 2)), 7, 2,
                         8000, 8), 0.02),
            (mw.make_wav(mw.encode_alaw(sig), 6, 1, 8000, 8), 0.02),
        ]
        for payload, tol in cases:
            got = _try_decode_audio(payload)
            assert got is not None
            dur, s, rate = got
            assert (dur, rate, len(s)) == (1000, 8000, 8000)
            assert float(np.abs(s - sig).max()) <= tol

    def test_pcm_stays_on_wave_path(self):
        from mentor_rdf_parsers_spark.functions import g711

        assert g711.decode_wav_ext(
            mw.make_wav(b"\x00\x00" * 50, 1, 1, 8000, 16)) is None


class TestOggFlac:
    def test_opus_duration(self):
        from mentor_rdf_parsers_spark.functions import oggflac

        p = oggflac.probe_ogg(mw.make_ogg_opus(2500, channels=1))
        assert p == {"codec": "opus", "sample_rate": 48000,
                     "channels": 1, "duration_ms": 2500}

    def test_vorbis_duration(self):
        from mentor_rdf_parsers_spark.functions import oggflac

        p = oggflac.probe_ogg(mw.make_ogg_vorbis(1800, rate=22050))
        assert (p["codec"], p["sample_rate"], p["duration_ms"]) == (
            "vorbis", 22050, 1800)

    def test_flac_streaminfo(self):
        from mentor_rdf_parsers_spark.functions import oggflac

        p = oggflac.probe_flac(mw.make_flac(3200, rate=48000))
        assert (p["codec"], p["sample_rate"], p["duration_ms"]) == (
            "flac", 48000, 3200)

    def test_probe_and_audio_stage_dispatch(self, spark):
        from mentor_rdf_parsers_spark.operators.multimodal import (
            MEDIA,
            extract_audio_features,
            probe_media,
        )

        rows = [
            ("opus", "audio", bytearray(mw.make_ogg_opus(2500)), ""),
            ("flac", "audio", bytearray(mw.make_flac(3200)), ""),
        ]
        df = spark.createDataFrame(rows, MEDIA)
        got = {r["media_id"]: r for r in probe_media(df).collect()}
        assert (got["opus"]["container"], got["opus"]["codec"],
                got["opus"]["duration_ms"]) == ("ogg", "opus", 2500)
        assert (got["flac"]["container"], got["flac"]["duration_ms"]) == (
            "flac", 3200)
        feats = {r["media_id"]: r
                 for r in extract_audio_features(df).collect()}
        assert feats["opus"]["duration_ms"] == 2500
        assert feats["flac"]["duration_ms"] == 3200


class TestMalformedContainerRobustness:
    """Truncated or bit-flipped containers must NEVER raise out of the
    probe/sample paths — at 100 TB a poison payload that kills a task
    triggers retry storms; the contract is quarantine (unknown/stub),
    not failure."""

    def test_truncation_and_corruption_never_raise(self):
        from mentor_rdf_parsers_spark.operators.multimodal import (
            _probe_one,
            _try_sample_video,
        )

        frames = [jpeg.encode_jpeg(np.zeros((16, 16), np.uint8), 85)] * 3
        payloads = [
            mp4.encode_mp4_mjpeg(frames, 5),
            mp4.encode_fmp4_mjpeg(frames, 5),
            ebml.encode_mkv_mjpeg(frames, 5),
            mpegaudio.make_mp3(5),
            mpegaudio.make_adts(5),
            mw.make_ogg_opus(1000),
            mw.make_flac(1000),
        ]
        rng = np.random.default_rng(1)
        for p in payloads:
            for cut in range(1, len(p), max(1, len(p) // 25)):
                _probe_one(p[:cut])
                _try_sample_video(p[:cut], 1, 2)
            for _ in range(25):
                q = bytearray(p)
                for _ in range(5):
                    q[rng.integers(0, len(q))] = rng.integers(0, 256)
                _probe_one(bytes(q))
                _try_sample_video(bytes(q), 1, 2)


class TestWavSampleWidths:
    """r5: 24-bit and 32-bit PCM plus stereo mixdown in the real WAV
    decode path (previously only 8/16-bit mono took the real path)."""

    @staticmethod
    def _wav(samples, width, channels=1, rate=8000):
        import io
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(width)
            w.setframerate(rate)
            if width == 2:
                data = (samples * 32767).astype("<i2").tobytes()
            elif width == 3:
                v = (samples * ((1 << 23) - 1)).astype(np.int32)
                b = np.zeros((len(v), 3), np.uint8)
                b[:, 0], b[:, 1], b[:, 2] = v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF
                data = b.tobytes()
            else:
                data = (samples * ((1 << 31) - 1)).astype("<i4").tobytes()
            if channels == 2:
                arr = np.frombuffer(data, np.uint8).reshape(-1, width)
                data = np.repeat(arr, 2, axis=0).tobytes()
            w.writeframes(data)
        return buf.getvalue()

    @pytest.mark.parametrize("width", [2, 3, 4])
    @pytest.mark.parametrize("channels", [1, 2])
    def test_decode_real(self, width, channels):
        from mentor_rdf_parsers_spark.operators.multimodal import (
            _try_decode_wav,
        )

        sig = np.sin(2 * np.pi * 440 * np.linspace(0, 1, 8000))
        r = _try_decode_wav(self._wav(sig, width, channels))
        assert r is not None
        dur, s, rate = r
        assert dur == 1000 and rate == 8000 and len(s) == 8000
        assert abs(float(np.abs(s).max()) - 1.0) < 0.01  # true amplitude


class TestAudioHeaderDurations:
    def test_mp3_real_duration_in_spark_stage(self, spark):
        from mentor_rdf_parsers_spark.operators.multimodal import (
            MEDIA,
            extract_audio_features,
        )

        mp3 = mpegaudio.make_mp3(38)
        media = spark.createDataFrame(
            [("a1", "audio", bytearray(mp3), "audio/mpeg"),
             ("a2", "audio", bytearray(b"opus?" * 800), "audio/opus")],
            MEDIA)
        got = {r["media_id"]: r
               for r in extract_audio_features(media).collect()}
        assert got["a1"]["duration_ms"] == int(38 * 1152 * 1000 / 44100)
        # unknown codec keeps the nominal-bitrate fake duration
        assert got["a2"]["duration_ms"] == len(b"opus?" * 800) // 16
