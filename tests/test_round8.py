"""Round-8 regression gates.

1. audit_broadcast_hints tightenings (round-7 ADVICE):
   a. a HAVING-style filter above a PER-KEY aggregate no longer
      launders the hint — only the q57 ties-to-the-max idiom (equality
      against a global reduction) passes structurally;
   b. the _BCAST_OK contract exemption is applied hint-by-hint with a
      table signature — a new unbounded hint over an unexpected table
      in an allowlisted query is still flagged.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bertrand_spark.plans.audit import audit_broadcast_hints  # noqa: E402


def _analyzed(df):
    return df._jdf.queryExecution().analyzed()


class TestVp8lCodec:
    """Stdlib VP8L (lossless WebP) decoder — closes the last NAMED
    no-decoder class.  Gate: EXACT round trips against the in-repo
    spec-conformant test writer across every decoder path (transforms,
    palette bundling, color cache, LZ77 backrefs), container-walk
    variants, per-row degrade on everything else, corruption fuzz."""

    def _rt(self, w, h, ch, px, **kw):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _vp8l_decode, vp8l_encode,
        )

        blob = vp8l_encode(w, h, ch, px.tobytes(), **kw)
        W, H, C, raw = _vp8l_decode(blob, 3)
        assert (W, H, C) == (w, h, 3), kw
        got = np.frombuffer(raw, np.uint8).reshape(H, W, 3)
        assert (got == px[:, :, :3]).all(), kw
        return blob

    def test_roundtrip_matrix(self):
        """Every encoder switch — and so every decoder path — is
        pixel-exact: plain literals, subtract-green, per-block
        predictors (all 14 modes cycled), cross-color, their stack,
        color cache, LZ77 runs, and palettes at every bundling width
        (no-bundle / 2 / 4 / 8 pixels per byte)."""
        import numpy as np

        rng = np.random.default_rng(81)
        px = rng.integers(0, 256, size=(11, 13, 3), dtype=np.uint8)
        for kw in (
            {},
            {"subtract_green": True},
            {"predictor_bits": 2},
            {"subtract_green": True, "predictor_bits": 3},
            {"cross_color_bits": 2},
            {
                "subtract_green": True,
                "cross_color_bits": 3,
                "predictor_bits": 2,
            },
            {"cache_bits": 4},
        ):
            self._rt(13, 11, 3, px, **kw)
        runs = np.repeat(
            rng.integers(0, 256, size=(7, 4, 3), dtype=np.uint8), 5, axis=1
        )
        self._rt(20, 7, 3, runs, lz77=True)
        self._rt(20, 7, 3, runs, lz77=True, cache_bits=3)
        for ncol in (32, 13, 4, 2):  # bundle widths 0/1/2/3
            pal = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
            self._rt(
                17, 9, 3, pal[rng.integers(0, ncol, size=(9, 17))],
                palette=True,
            )
        self._rt(
            6, 5, 4, rng.integers(0, 256, size=(5, 6, 4), dtype=np.uint8)
        )

    def test_long_lz77_runs_split_at_prefix_cap(self):
        """Runs beyond 4096 pixels (the 24-code length-prefix cap) are
        SPLIT by the emitter — review finding: an unsplit 4900-run
        emitted symbol 280 (a cache reference), KeyError without a
        cache and silent stream corruption with one."""
        import numpy as np

        rng = np.random.default_rng(87)
        row = rng.integers(0, 256, size=(1, 1, 3), dtype=np.uint8)
        px = np.tile(row, (70, 70, 1))  # one 4900-pixel run
        self._rt(70, 70, 3, px, lz77=True)
        self._rt(70, 70, 3, px, lz77=True, cache_bits=7)

    def test_predictor_after_palette_uses_packed_width(self):
        """A predictor transform read AFTER color-indexing operates on
        the PACKED width — the inverse must index with the recorded
        read-time width (review finding: it used the full width and
        degraded spec-legal foreign streams to NULL)."""
        import numpy as np

        rng = np.random.default_rng(88)
        for ncol in (32, 4):  # no bundling / 4-per-byte bundling
            pal = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
            px = pal[rng.integers(0, ncol, size=(11, 19))]
            self._rt(19, 11, 3, px, palette=True, predictor_bits=2)

    def test_gray_output_matches_gif_luma(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _vp8l_decode, vp8l_encode,
        )

        rng = np.random.default_rng(82)
        px = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
        W, H, C, raw = _vp8l_decode(vp8l_encode(8, 6, 3, px.tobytes()), 1)
        got = np.frombuffer(raw, np.uint8).reshape(H, W)
        r, g, b = (px[:, :, i].astype(np.uint32) for i in range(3))
        exp = ((r * 19595 + g * 38470 + b * 7471) >> 16).astype(np.uint8)
        assert C == 1 and (got == exp).all()

    def test_container_walk_vp8x_and_anmf(self):
        """The RIFF walk finds the VP8L chunk behind a VP8X extended
        header and inside the FIRST ANMF animation frame."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _vp8l_decode, vp8l_encode,
        )

        rng = np.random.default_rng(83)
        px = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
        simple = vp8l_encode(5, 4, 3, px.tobytes())
        vp8l_chunk = simple[12:]  # "VP8L" + size + stream (+pad)

        def riff(body: bytes) -> bytes:
            return b"RIFF" + len(body + b"WEBP").to_bytes(4, "little") + b"WEBP" + body

        vp8x = b"VP8X" + (10).to_bytes(4, "little") + bytes(10)
        assert _vp8l_decode(riff(vp8x + vp8l_chunk), 3)[0] == 5
        anmf_body = bytes(16) + vp8l_chunk  # 16-byte frame header
        anmf = b"ANMF" + len(anmf_body).to_bytes(4, "little") + anmf_body
        assert _vp8l_decode(riff(vp8x + anmf), 3)[0] == 5

    def test_degrade_cases(self):
        """Lossy VP8, truncation, bad version, bad signature, junk —
        all-None rows, never an exception."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _vp8l_decode, vp8l_encode,
        )

        rng = np.random.default_rng(84)
        px = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
        blob = vp8l_encode(5, 4, 3, px.tobytes())
        lossy = (
            b"RIFF" + (12).to_bytes(4, "little") + b"WEBP"
            + b"VP8 " + (4).to_bytes(4, "little") + bytes(4)
        )
        assert _vp8l_decode(lossy, 3)[0] is None
        assert _vp8l_decode(blob[:30], 3)[0] is None
        assert _vp8l_decode(b"RIFF\x00\x00\x00\x00WEBP", 3)[0] is None
        assert _vp8l_decode(b"not riff at all", 3)[0] is None
        assert _vp8l_decode(b"", 3)[0] is None
        # flip the version bits (byte after the 0x2f signature carries
        # them at bit offset 28+1 → inside byte 4 of the stream)
        mutated = bytearray(blob)
        sig = blob.index(b"\x2f", 12)
        mutated[sig + 4] ^= 0xE0
        assert _vp8l_decode(bytes(mutated), 3)[0] is None

    def test_vp8l_fuzz(self):
        """Corruption fuzz, same contract as the other stdlib codecs:
        no mutation may raise (pixels or the all-None row only)."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _vp8l_decode, vp8l_encode,
        )

        from conftest import mutate_blob

        def fuzz(blob, rng, n_trials=200):
            for _ in range(n_trials):
                out = _vp8l_decode(bytes(mutate_blob(blob, rng)), 3)
                assert out[0] is None or isinstance(out[0], int)

        rng = np.random.default_rng(85)
        px = rng.integers(0, 256, size=(9, 12, 3), dtype=np.uint8)
        fuzz(vp8l_encode(12, 9, 3, px.tobytes()), rng)
        fuzz(
            vp8l_encode(
                12, 9, 3, px.tobytes(),
                subtract_green=True, predictor_bits=2, cache_bits=3,
            ),
            rng,
        )

    def test_decode_images_and_report_end_to_end(self, spark):
        """Through the Spark seam: a lossless-WebP payload DECODES
        under decode='real' without PIL; the report's no-decoder class
        is now 'unknown' only (a lossy/corrupt riff → n_null_other)."""
        import warnings

        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            decode_format_report, decode_images, vp8l_encode,
        )

        rng = np.random.default_rng(86)
        px = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
        webp = vp8l_encode(7, 5, 3, px.tobytes(), subtract_green=True)
        bad_riff = b"RIFF" + bytes(20)
        unknown = b"\x00\x01\x02\x03garbage"
        df = spark.createDataFrame(
            [(1, webp), (2, bad_riff), (3, unknown)],
            "media_id long, payload binary",
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            decoded = decode_images(df, decode="real")
        rows = {r["media_id"]: r for r in decoded.collect()}
        assert rows[1]["width"] == 7 and rows[1]["height"] == 5
        got = np.frombuffer(rows[1]["pixels"], np.uint8).reshape(5, 7, 3)
        assert (got == px).all()
        assert rows[2]["pixels"] is None
        assert rows[3]["pixels"] is None
        rep = {
            r["sniffed_format"]: r
            for r in decode_format_report(df, decoded).collect()
        }
        assert rep["riff"]["n_decoded"] == 1
        assert rep["riff"]["n_null_other"] == 1
        assert rep["riff"]["n_null_no_decoder"] == 0
        assert rep["unknown"]["n_null_no_decoder"] == 1


class TestStdlibAudio:
    """Round 8 gives the audio lane the image treatment: a real stdlib
    WAV decode path (PCM u8/s16/s24 + float32, extensible wrapper,
    stereo mixdown) behind the fake, deterministic numpy features, and
    per-row degrade + fuzz on everything else."""

    def _tone(self, sr=8000, hz=440.0, seconds=1.0):
        import numpy as np

        t = np.arange(int(sr * seconds)) / sr
        return 0.5 * np.sin(2 * np.pi * hz * t)

    def test_wav_roundtrip_formats(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _wav_decode, wav_encode

        x = self._tone()
        for fmt, tol in (
            ("s16", 1e-4), ("u8", 8e-3), ("s24", 1e-6), ("f32", 1e-7)
        ):
            sr, nch, y, dur = _wav_decode(wav_encode(8000, x, 1, fmt))
            assert sr == 8000 and nch == 1
            assert np.abs(y - x).max() < tol, fmt

    def test_stereo_mixdown_and_extensible(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _wav_decode, wav_encode

        x = self._tone()
        inter = np.empty(2 * len(x))
        inter[0::2] = x
        inter[1::2] = -x  # perfect cancellation under mean-mixdown
        sr, nch, y, _dur = _wav_decode(wav_encode(8000, inter, 2, "s16"))
        assert nch == 2 and np.abs(y).max() < 1e-4
        # WAVE_FORMAT_EXTENSIBLE wrapper: rewrite fmt tag 1 -> 0xFFFE
        # with the real format leading the GUID
        import struct

        blob = bytearray(wav_encode(8000, x, 1, "s16"))
        i = blob.index(b"fmt ")
        body = blob[i + 8 : i + 24]
        ext = bytearray(body)
        ext[0:2] = struct.pack("<H", 0xFFFE)
        ext += struct.pack("<HHI", 22, 16, 0) + struct.pack("<H", 1) + bytes(14)
        new = blob[: i + 4] + struct.pack("<I", len(ext)) + ext + blob[i + 24 :]
        sr2, _, y2, _d = _wav_decode(bytes(new))
        assert sr2 == 8000 and np.abs(y2 - x).max() < 1e-4

    def test_features_physical_sanity(self):
        from bertrand_spark.pipeline.multimodal import (
            _wav_decode, _wav_features, wav_encode,
        )

        sr, _, y, dur = _wav_decode(wav_encode(8000, self._tone(hz=440.0), 1, "s16"))
        f = _wav_features(sr, y, 16)
        assert len(f) == 16
        assert abs(f[0] - 1.0) < 1e-9          # duration
        assert abs(f[1] - 0.3536) < 0.01       # RMS of 0.5·sin
        assert abs(f[3] - 440.0) < 5.0         # spectral centroid
        assert abs(f[4] - 440.0) < 5.0         # rolloff
        # a higher tone moves the centroid up
        sr2, _, y2, _d = _wav_decode(
            wav_encode(8000, self._tone(hz=1760.0), 1, "s16")
        )
        assert _wav_features(sr2, y2, 16)[3] > f[3] * 3

    def test_spark_real_path_and_degrade(self, spark):
        from bertrand_spark.pipeline.multimodal import (
            extract_audio_features, wav_encode,
        )

        wav = wav_encode(8000, self._tone(), 1, "s16")
        df = spark.createDataFrame(
            [(1, wav), (2, b"ID3" + bytes(64)), (3, b""), (4, None)],
            "media_id long, payload binary",
        )
        rows = {
            r["media_id"]: r["features"]
            for r in extract_audio_features(df, decode="real").collect()
        }
        assert rows[1] is not None and abs(rows[1][3] - 440.0) < 5.0
        assert rows[2] is None and rows[3] is None and rows[4] is None
        # fake mode unchanged: 16 hash-derived values for every row
        fake = extract_audio_features(df).collect()
        assert all(len(r["features"]) == 16 for r in fake)

    def test_review_findings_duration_cap_and_width(self):
        """Review findings: (a) duration reports the TRUE clip length
        even beyond the 2^21-sample analysis cap, and conversion is
        bounded (samples truncated before float64); (b) n_features < 6
        honors the requested width exactly, matching fake mode."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _WAV_ANALYSIS_MAX_SAMPLES, _wav_decode, _wav_features,
            wav_encode,
        )

        n = _WAV_ANALYSIS_MAX_SAMPLES + 50_000
        x = np.zeros(n)
        x[::2] = 0.25
        sr, _, y, dur = _wav_decode(wav_encode(44_100, x, 1, "s16"))
        assert len(y) == _WAV_ANALYSIS_MAX_SAMPLES  # bounded conversion
        assert abs(dur - n / 44_100) < 1e-9        # true duration
        f = _wav_features(sr, y, 16, duration=dur)
        assert abs(f[0] - n / 44_100) < 1e-9
        short = _wav_features(sr, y[:1000], 4)
        assert len(short) == 4

    def test_wav_fuzz(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _wav_decode, wav_encode

        from conftest import mutate_blob

        rng = np.random.default_rng(89)
        blob = bytearray(wav_encode(8000, self._tone(seconds=0.05), 1, "s16"))
        for _ in range(200):
            out = _wav_decode(bytes(mutate_blob(blob, rng)))  # must not raise
            assert out is None or out[0] >= 1


class TestStdlibVideo:
    """Container metadata probe (MP4 box walk + AVI header) and the
    REAL Motion-JPEG frame-sampling path (every '00dc' chunk is a JPEG
    the stdlib decoder handles)."""

    def _mjpeg(self, n=7, w=24, h=16, fps=5, seed=3):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            avi_mjpeg_encode, jpeg_encode,
        )

        rng = np.random.default_rng(seed)
        pxs = [
            rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            for _ in range(n)
        ]
        avi = avi_mjpeg_encode(
            [jpeg_encode(w, h, 3, p.tobytes(), quality=100) for p in pxs],
            w, h, fps=fps,
        )
        return avi, pxs

    def test_probe_avi_and_mp4_and_junk(self, spark):
        import struct

        from bertrand_spark.pipeline.multimodal import probe_video_metadata

        avi, _ = self._mjpeg()

        def box(tag, body):
            return struct.pack(">I", 8 + len(body)) + tag + body

        mvhd = bytes(12) + struct.pack(">II", 1000, 2500) + bytes(80)
        tkhd = bytes(76) + struct.pack(">II", 320 << 16, 240 << 16)
        moov = box(b"moov", box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", tkhd)))
        mp4 = box(b"ftyp", b"isom" + bytes(8)) + moov
        df = spark.createDataFrame(
            [(1, avi), (2, mp4), (3, b"not a video"), (4, None)],
            "media_id long, payload binary",
        )
        rows = {r["media_id"]: r for r in probe_video_metadata(df).collect()}
        assert rows[1]["container"] == "avi" and rows[1]["codec"] == "MJPG"
        assert rows[1]["n_frames_or_tracks"] == 7
        assert abs(rows[1]["duration_s"] - 1.4) < 1e-9
        assert rows[2]["container"] == "mp4"
        assert rows[2]["duration_s"] == 2.5 and rows[2]["width"] == 320
        assert rows[3]["container"] is None
        assert rows[4]["container"] is None

    def test_real_frame_sampling_decodes_content(self, spark):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import sample_video_frames

        avi, pxs = self._mjpeg(n=7)
        df = spark.createDataFrame(
            [(1, avi), (2, b"not a video")], "media_id long, payload binary"
        )
        rows = sample_video_frames(
            df, every_n=3, max_frames=2, decode="real"
        ).collect()
        got = {(r["media_id"], r["frame_index"]): r for r in rows}
        # payload 2 contributes NO rows; payload 1 yields frames 0 and 3
        assert set(got) == {(1, 0), (1, 3)}
        for j, key in ((0, (1, 0)), (3, (1, 3))):
            r = got[key]
            assert (r["width"], r["height"], r["channels"]) == (24, 16, 3)
            arr = np.frombuffer(r["frame"], np.uint8).reshape(16, 24, 3)
            assert np.abs(arr.astype(int) - pxs[j].astype(int)).max() <= 4

    def test_fake_mode_schema_parity(self, spark):
        from bertrand_spark.pipeline.multimodal import sample_video_frames

        df = spark.createDataFrame(
            [(1, b"payload")], "media_id long, payload binary"
        )
        fake = sample_video_frames(df, every_n=5, max_frames=3)
        real = sample_video_frames(df, every_n=5, max_frames=3, decode="real")
        assert fake.schema == real.schema
        rows = fake.collect()
        assert [r["frame_index"] for r in rows] == [0, 5, 10]
        assert all((r["width"], r["height"], r["channels"]) == (8, 8, 3) for r in rows)

    def test_review_findings_probe_robustness(self, spark):
        """Review findings: (a) a corrupt AVI with 0xFFFFFFFF dims
        degrades to NULL dims instead of crashing the Arrow conversion;
        (b) a truncated version-1 mvhd degrades instead of reading a
        garbage duration; (c) a QuickTime layout leading with 'wide'
        still probes as mp4; (d) only stream 0's frames are sampled."""
        import struct

        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _avi_mjpeg_frames, _mp4_probe, avi_mjpeg_encode, jpeg_encode,
            probe_video_metadata,
        )

        avi, _ = self._mjpeg(n=2, w=8, h=8)
        bad = bytearray(avi)
        i = bad.index(b"avih") + 8
        bad[i + 32 : i + 40] = b"\xff" * 8  # width/height = 0xFFFFFFFF
        mvhd_v1 = b"\x01" + bytes(27)  # 28-byte v1 body: truncated

        def box(tag, body):
            return struct.pack(">I", 8 + len(body)) + tag + body

        trunc_mp4 = box(b"ftyp", b"isom") + box(
            b"moov", box(b"mvhd", mvhd_v1) + box(b"free", bytes(64))
        )
        wide_mp4 = box(b"wide", b"") + box(
            b"moov",
            box(b"mvhd", bytes(12) + struct.pack(">II", 100, 250) + bytes(80)),
        )
        df = spark.createDataFrame(
            [(1, bytes(bad)), (2, trunc_mp4), (3, wide_mp4)],
            "media_id long, payload binary",
        )
        rows = {r["media_id"]: r for r in probe_video_metadata(df).collect()}
        assert rows[1]["container"] == "avi" and rows[1]["width"] is None
        assert rows[2]["duration_s"] is None  # truncated v1 mvhd degrades
        assert rows[3]["container"] == "mp4"
        assert rows[3]["duration_s"] == 2.5  # found behind 'wide'
        # (d) second-stream chunks ('01dc') are not stream 0's frames
        jpeg = jpeg_encode(8, 8, 3, bytes(192), quality=90)
        two_stream = bytearray(avi_mjpeg_encode([jpeg, jpeg], 8, 8))
        two_stream = bytes(two_stream).replace(b"00dc", b"01dc", 1)
        frames = _avi_mjpeg_frames(two_stream)
        assert len(frames) == 1  # only the remaining stream-0 chunk
        # early-exit honors max_needed
        many, _ = self._mjpeg(n=7, w=8, h=8)
        assert len(_avi_mjpeg_frames(many, max_needed=3)) == 3
        assert _mp4_probe(trunc_mp4) is None or _mp4_probe(trunc_mp4)[0] is None

    def test_avi_fuzz(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _avi_mjpeg_frames, _avi_probe, _mp4_probe,
        )

        from conftest import mutate_blob

        rng = np.random.default_rng(90)
        avi, _ = self._mjpeg(n=3, w=8, h=8)
        blob = bytearray(avi)
        for _ in range(200):
            m = bytes(mutate_blob(blob, rng))
            _avi_probe(m)        # must not raise
            _avi_mjpeg_frames(m)
            _mp4_probe(m)


class TestHypothesisNewParsers:
    """Hypothesis random-blob + prefixed-blob fuzz extended to every
    round-8 parser: VP8L, WAV, the AVI/MP4 probes, and the MJPEG frame
    iterator — the same no-raise property as the round-7 codecs."""

    def test_random_blobs(self):
        from hypothesis import given, settings
        from hypothesis import strategies as hst

        from bertrand_spark.pipeline.multimodal import (
            _avi_mjpeg_frames, _avi_probe, _mp4_probe, _vp8l_decode,
            _wav_decode,
        )

        @settings(max_examples=120, deadline=None)
        @given(hst.binary(min_size=0, max_size=600))
        def run(blob):
            out = _vp8l_decode(blob, 3)
            assert out[0] is None or isinstance(out[0], int)
            w = _wav_decode(blob)
            assert w is None or w[0] >= 1
            _avi_probe(blob)
            _mp4_probe(blob)
            _avi_mjpeg_frames(blob)

        run()

    def test_prefixed_blobs(self):
        """Random bytes behind VALID container magics — forces the
        parsers past the cheap signature check into chunk/box logic."""
        from hypothesis import given, settings
        from hypothesis import strategies as hst

        from bertrand_spark.pipeline.multimodal import (
            _avi_mjpeg_frames, _avi_probe, _mp4_probe, _vp8l_decode,
            _wav_decode,
        )

        @settings(max_examples=120, deadline=None)
        @given(hst.binary(min_size=4, max_size=400))
        def run(tail):
            # the property IS "returns instead of raising"
            _vp8l_decode(b"RIFF\x00\x01\x00\x00WEBPVP8L" + tail, 3)
            _wav_decode(b"RIFF\x00\x01\x00\x00WAVE" + tail)
            _avi_probe(b"RIFF\x00\x01\x00\x00AVI " + tail)
            _avi_mjpeg_frames(b"RIFF\x00\x01\x00\x00AVI " + tail)
            _mp4_probe((len(tail) + 8).to_bytes(4, "big") + b"moov" + tail)

        run()


class TestAudioNearDupComposition:
    """The multimodal stack composes: WAV payloads → real spectral
    features → the EXISTING embedding near-dup operator finds the
    duplicated recordings — no audio-specific similarity code."""

    def test_duplicate_tones_pair_up(self, spark):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            extract_audio_features, wav_encode,
        )
        from bertrand_spark.pipeline.similarity import brute_force_topk

        rng = np.random.default_rng(91)
        rows = []
        sr = 8000
        t = np.arange(sr) / sr
        for i in range(8):  # 8 distinct tone mixtures
            x = 0.4 * np.sin(2 * np.pi * (220 + 60 * i) * t)
            x += 0.2 * np.sin(2 * np.pi * (700 + 45 * i) * t)
            rows.append((i, wav_encode(sr, x, 1, "s16")))
        # id 100: a re-encode of id 3's signal (400 + 835 Hz) with tiny
        # dither — the planted near-duplicate recording
        x3 = 0.4 * np.sin(2 * np.pi * 400 * t) + 0.2 * np.sin(
            2 * np.pi * 835 * t
        )
        rows.append(
            (100, wav_encode(sr, x3 + 0.0005 * rng.normal(size=sr), 1, "s16"))
        )
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        # embed on the SPECTRAL SHAPE (the log-band energies,
        # features[6:]) — cosine over mixed-unit scalars like duration
        # would be dominated by magnitudes identical across recordings
        feats = extract_audio_features(df, decode="real", n_features=70).select(
            F.col("media_id").alias("vec_id"),
            F.slice(F.col("features"), 7, 64).alias("embedding"),
        )
        queries = feats.filter(F.col("vec_id") == 100).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        top = sorted(
            brute_force_topk(feats, queries, k=2).collect(),
            key=lambda r: -r["cosine"],
        )
        # nearest non-self neighbor of the dithered copy is id 3
        others = [r for r in top if r["vec_id"] != 100]
        assert others and others[0]["vec_id"] == 3


class TestStreamExtractAudio:
    """Streaming audio ingest: stateless foreachBatch, idempotent
    per-epoch sinks, per-epoch decode report — the audio twin of
    stream_decode_media."""

    def test_epochs_land_idempotently_with_reports(self, spark, tmp_path):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import wav_encode
        from bertrand_spark.streaming.rollup import stream_extract_audio

        t = np.arange(4000) / 8000.0
        wav = wav_encode(8000, 0.5 * np.sin(2 * np.pi * 440 * t), 1, "s16")
        batch = spark.createDataFrame(
            [(1, wav), (2, b"ID3" + bytes(32)), (3, None)],
            "media_id long, payload binary",
        )
        out = str(tmp_path / "audio")
        rep = str(tmp_path / "reports")
        handle = stream_extract_audio(out, report_dir=rep)
        handle(batch, 0)
        handle(batch, 0)  # epoch replay: overwrites, no dupes
        handle(batch, 1)
        landed = spark.read.parquet(f"{out}/ingest_batch=*")
        assert landed.count() == 6  # 3 payloads x 2 epochs
        by_id = {
            r["media_id"]: r
            for r in landed.filter("media_id = 1").collect()
        }
        assert abs(by_id[1]["features"][3] - 440.0) < 5.0
        reports = spark.read.parquet(f"{rep}/ingest_batch=*").collect()
        assert len(reports) == 2
        assert all(
            r["n_total"] == 3 and r["n_decoded"] == 1 and r["n_null"] == 2
            for r in reports
        )

    def test_empty_batch_report_is_zero_not_null(self, spark, tmp_path):
        """Review finding: F.sum over an empty micro-batch is NULL —
        the report counters must read 0 so monitoring consumers can
        sum/compare them."""
        from bertrand_spark.streaming.rollup import stream_extract_audio

        out = str(tmp_path / "audio")
        rep = str(tmp_path / "reports")
        empty = spark.createDataFrame(
            [], "media_id long, payload binary"
        )
        stream_extract_audio(out, report_dir=rep)(empty, 0)
        r = spark.read.parquet(f"{rep}/ingest_batch=0").collect()[0]
        assert (r["n_total"], r["n_decoded"], r["n_null"]) == (0, 0, 0)

    def test_runs_as_a_real_stream(self, spark, tmp_path):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import wav_encode
        from bertrand_spark.streaming.rollup import stream_extract_audio

        src = str(tmp_path / "src")
        wav = wav_encode(8000, np.zeros(100), 1, "s16")
        spark.createDataFrame(
            [(1, wav)], "media_id long, payload binary"
        ).write.parquet(src)
        out = str(tmp_path / "out")
        stream = spark.readStream.schema(
            "media_id long, payload binary"
        ).parquet(src)
        q = (
            stream.writeStream.foreachBatch(stream_extract_audio(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(f"{out}/ingest_batch=*").collect()
        assert len(got) == 1 and got[0]["features"] is not None


class TestByteBpe:
    """Byte-level BPE (GPT-2 style) + special tokens (round-7 VERDICT
    item 5).  Gates: EXACT merge-sequence parity vs an independent
    naive reference on the real corpus, exact reversibility including
    non-UTF-8-safe inputs, atomic special tokens, Spark-kernel
    consistency + repartition stability."""

    @staticmethod
    def _naive_reference_merges(texts, num_merges, min_freq, specials=()):
        """Independent trainer: full pair-rescan per merge (O(V) each),
        same (max count, lexicographically smallest) tie-break."""
        from collections import Counter

        from bertrand_spark.pipeline.text import (
            _byte_pre_tokenize, _byte_syms,
        )

        wc: Counter = Counter()
        for t in texts:
            for piece, sp in _byte_pre_tokenize(t, tuple(specials)):
                if not sp:
                    wc[piece] += 1
        words = [
            (_byte_syms(w), c) for w, c in wc.items() if c >= min_freq
        ]
        merges = []
        for _ in range(num_merges):
            pc: Counter = Counter()
            for syms, c in words:
                for p in zip(syms, syms[1:]):
                    pc[p] += c
            if not pc:
                break
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            if pc[best] < 2:
                break
            merges.append(best)
            nxt = []
            for syms, c in words:
                out = []
                i = 0
                while i < len(syms):
                    if (
                        i < len(syms) - 1
                        and (syms[i], syms[i + 1]) == best
                    ):
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                nxt.append((out, c))
            words = nxt
        return merges

    def test_merge_parity_vs_naive_reference(self, spark, sf_dir):
        from bertrand_spark.pipeline.text import train_bpe_bytes
        from bertrand_spark.sources import read_table

        d = read_table(spark, sf_dir, "documents").limit(200)
        texts = [r["text"] for r in d.select("text").collect()]
        model = train_bpe_bytes(d, num_merges=250, min_freq=2)
        ref = self._naive_reference_merges(texts, 250, 2)
        assert model.merges == ref  # EXACT sequence, not just the set

    def test_reversibility_trained(self, spark, sf_dir):
        from bertrand_spark.pipeline.text import train_bpe_bytes
        from bertrand_spark.sources import read_table

        d = read_table(spark, sf_dir, "documents").limit(100)
        model = train_bpe_bytes(
            d, num_merges=120, min_freq=2,
            special_tokens=("<|endoftext|>", "<|pad|>"),
        )
        cases = [
            "Hello, world!  How are you?",
            "naïve café — résumé 東京 🎉🎉 mixed_case_snake",
            "it's we're I'll they've can't",
            "tabs\tand\nnewlines  trailing   ",
            "a<|endoftext|>b <|pad|><|endoftext|> c",
            "",
            "    ",
            "123abc !!! __init__ x2",
            "bad:" + chr(0xD800) + ":lone surrogate",  # non-UTF-8-safe
        ]
        for c in cases:
            toks = model.encode_text(c)
            assert model.decode_tokens(toks) == c, c
        # special tokens are ATOMIC: present verbatim, never split
        toks = model.encode_text("x<|endoftext|>y")
        assert "<|endoftext|>" in toks
        assert all("<|" not in t or t == "<|endoftext|>" for t in toks)

    def test_merges_actually_compress(self, spark, sf_dir):
        from bertrand_spark.pipeline.text import (
            ByteBpeModel, train_bpe_bytes,
        )
        from bertrand_spark.sources import read_table

        d = read_table(spark, sf_dir, "documents").limit(100)
        model = train_bpe_bytes(d, num_merges=200, min_freq=2)
        raw = ByteBpeModel([])
        text = d.select("text").collect()[0]["text"]
        assert len(model.encode_text(text)) < len(raw.encode_text(text))

    def test_spark_kernels_and_repartition_stability(self, spark, sf_dir):
        from bertrand_spark.pipeline.text import (
            bpe_token_count, bpe_tokenize, train_bpe_bytes,
        )
        from bertrand_spark.sources import read_table

        d = read_table(spark, sf_dir, "documents").limit(80).select(
            "doc_id", "text"
        )
        model = train_bpe_bytes(d, num_merges=80, min_freq=2)
        toks = {
            r["doc_id"]: r["bpe_tokens"]
            for r in bpe_tokenize(d, model).collect()
        }
        counts = {
            r["doc_id"]: r["bpe_n_tokens"]
            for r in bpe_token_count(d, model).collect()
        }
        assert counts == {k: len(v) for k, v in toks.items()}
        texts = {r["doc_id"]: r["text"] for r in d.collect()}
        for did, t in texts.items():  # exact decode through the kernel
            assert model.decode_tokens(toks[did]) == t
        toks2 = {
            r["doc_id"]: r["bpe_tokens"]
            for r in bpe_tokenize(d.repartition(13), model).collect()
        }
        assert toks2 == toks
        # training is repartition-stable too
        m2 = train_bpe_bytes(d.repartition(13), num_merges=80, min_freq=2)
        assert m2.merges == model.merges

    def test_feeds_dsir_token_budget(self, spark, sf_dir):
        """The item-5 motivation end-to-end: byte-level BPE counts via
        token_col give dsir_resample_tokens a production-comparable
        budget — the selection's BPE-token sum fits the budget and the
        next doc in Gumbel order would overflow it."""
        from bertrand_spark.pipeline import curation as CU
        from bertrand_spark.pipeline.text import (
            bpe_token_count, train_bpe_bytes,
        )
        from bertrand_spark.sources import read_table

        d = read_table(spark, sf_dir, "documents").limit(120).select(
            "doc_id", "text", "lang"
        )
        bpe = train_bpe_bytes(d, num_merges=100, min_freq=2)
        # the count kernel drops text_col; join the counts back (DSIR
        # scoring still needs the text)
        counted = d.join(
            bpe_token_count(d, bpe).select("doc_id", "bpe_n_tokens"),
            "doc_id",
        )
        model = CU.train_dsir(
            d.filter(F.col("lang") == "en"), d, buckets=256, alpha=1.0
        )
        budget = 4_000
        sel = CU.dsir_resample_tokens(
            counted, model, budget, token_col="bpe_n_tokens"
        ).collect()
        total = sum(r["n_tokens"] for r in sel)
        assert 0 < total <= budget
        # maximal: the first excluded doc overflows
        full = CU.dsir_resample_tokens(
            counted, model, 10**9, token_col="bpe_n_tokens"
        ).collect()
        if len(full) > len(sel):
            assert total + full[len(sel)]["n_tokens"] > budget

    def test_save_load_roundtrip(self, spark, sf_dir, tmp_path):
        from bertrand_spark.pipeline.text import (
            ByteBpeModel, train_bpe_bytes,
        )
        from bertrand_spark.sources import read_table

        d = read_table(spark, sf_dir, "documents").limit(50)
        model = train_bpe_bytes(
            d, num_merges=40, special_tokens=("<|endoftext|>",)
        )
        model.save(spark, str(tmp_path / "bpe"))
        back = ByteBpeModel.load(spark, str(tmp_path / "bpe"))
        assert back.merges == model.merges
        assert back.special_tokens == model.special_tokens


class TestKcenterRegimeGuard:
    """kcenter_select states its practical budget ceiling as code
    (round-7 VERDICT item 6): n picks = n sequential Spark jobs, so
    beyond max_picks it raises with guidance instead of running for
    days; max_picks is an explicit opt-out."""

    def test_guard_raises_with_guidance(self, spark):
        from bertrand_spark.pipeline.similarity import (
            kcenter_select,
            semantic_dedup_ivf,
        )

        df = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="sequential Spark jobs") as err:
            kcenter_select(df, 10_001)
        # the guidance names an operator that exists
        assert f"use {semantic_dedup_ivf.__name__}'s" in str(err.value)
        # explicit opt-out: a raised ceiling admits the same n
        out = kcenter_select(df, 1, max_picks=10)
        assert len(out) == 1

    def test_small_budget_unaffected(self, spark):
        from bertrand_spark.pipeline.similarity import kcenter_select

        df = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(5)],
            "vec_id long, embedding array<double>",
        )
        assert len(kcenter_select(df, 3)) == 3


class TestHintAuditTightenings:
    def test_flags_having_filtered_per_key_aggregate(self, spark, sf_dir):
        """The round-7 ADVICE hole: a per-fact-key aggregate with a
        trivial HAVING filter on top (cardinality still ~|part|) used to
        pass via the loose any-Filter-above-any-Aggregate check.  It
        must be flagged now."""
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_partkey", "l_quantity", "l_extendedprice"
        )
        thresholds = (
            li.groupBy(F.col("l_partkey").alias("t_partkey"))
            .agg((F.avg("l_quantity") * 0.2).alias("qty_threshold"))
            .filter(F.col("qty_threshold") > 0)  # prunes ~nothing
        )
        df = li.join(
            F.broadcast(thresholds), li["l_partkey"] == F.col("t_partkey")
        )
        flags = audit_broadcast_hints("having_shape", _analyzed(df))
        assert len(flags) == 1 and "lineitem" in flags[0], flags

    def test_ties_to_max_idiom_still_passes(self, spark, sf_dir):
        """The q57 shape (equality filter against an unpartitioned
        window max) remains the documented safe idiom."""
        from pyspark.sql import Window

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        rev = li.groupBy("l_suppkey").agg(
            F.sum("l_extendedprice").alias("rev")
        )
        top = (
            rev.withColumn("mx", F.max("rev").over(Window.partitionBy()))
            .filter(F.col("rev") == F.col("mx"))
            .drop("mx")
        )
        s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        df = s.join(F.broadcast(top), s["s_suppkey"] == top["l_suppkey"])
        assert audit_broadcast_hints("ties_shape", _analyzed(df)) == []

    def test_allowlisted_query_unexpected_table_still_flagged(
        self, spark, sf_dir
    ):
        """x02 is allowlisted for documents-derived verify broadcasts;
        a hint over lineitem under the same query name must NOT be
        laundered by the contract (round-7 ADVICE: the old query-wide
        short-circuit blessed it silently)."""
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        df = li.join(F.broadcast(o), li["l_orderkey"] == o["o_orderkey"])
        flags = audit_broadcast_hints("x02_minhash_near_dup", _analyzed(df))
        assert len(flags) == 1, flags
        assert "orders" in flags[0] and "contract" in flags[0], flags

    def test_unrelated_equality_does_not_launder(self, spark, sf_dir):
        """Review finding: an a==b filter with a global count() merely
        PRESENT in the subtree used to pass as the q57 idiom.  The
        provenance check requires one EqualTo side to BE the global
        max/min reduction's output attribute."""
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        total = d.agg(F.count(F.lit(1)).alias("n_total"))
        shaped = d.crossJoin(total).filter(
            F.col("n_chars") == F.col("doc_id")  # unrelated equality
        )
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(5)
        df = o.crossJoin(F.broadcast(shaped))
        flags = audit_broadcast_hints("unrelated_eq", _analyzed(df))
        assert len(flags) == 1 and "documents" in flags[0], flags

    def test_contract_never_covers_empty_signature(self):
        """Review finding: an unbounded hint whose leaves the table
        walk doesn't recognize (empty signature, e.g. a future
        DataSourceV2 relation) must NOT pass vacuously through the
        subset check in an allowlisted query."""
        from bertrand_spark.plans.audit import _BCAST_OK, _contract_covers

        contract = _BCAST_OK["x02"]
        assert _contract_covers(contract, {"documents"})
        assert not _contract_covers(contract, set())  # no vacuous pass
        assert not _contract_covers(contract, {"lineitem"})
        assert not _contract_covers(contract, {"documents", "orders"})

    def test_allowlisted_contract_shape_passes(self, spark, sf_dir):
        """A documents-derived unbounded hint under an allowlisted name
        passes via the per-hint contract (the real x02 verify shape)."""
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pruned = d.select("doc_id", "text")  # still sf-scaling
        df = d.join(F.broadcast(pruned), "doc_id")
        assert (
            audit_broadcast_hints("x02_minhash_near_dup", _analyzed(df)) == []
        )
        # ...and under a NON-allowlisted name the same shape is flagged
        flags = audit_broadcast_hints("plain_query", _analyzed(df))
        assert len(flags) == 1 and "documents" in flags[0], flags
