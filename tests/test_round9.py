"""Round-9 regression gates.

1. audit fix (round-8 ADVICE): _global_reduction_attr_ids matches the
   aggregate function HEAD, so an elementwise array_max inside a
   groupless aggregate no longer counts as a global reduction and
   cannot launder an unbounded broadcast hint through the equality-
   filter idiom.
2. audio degrade contract (round-8 ADVICE): a feature-extraction crash
   on a decodable WAV degrades that row to NULL features instead of
   killing the Spark task.
3. VP8L prefix-code hygiene (round-8 ADVICE): an over- or
   under-subscribed (non-Kraft-complete) code in a corrupt stream
   raises inside the decoder so the row degrades to NULL instead of
   decoding garbage pixels; the meta-prefix-image / multi-group decode
   branch is exercised against a real encoded fixture.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bertrand_spark.plans.audit import audit_broadcast_hints  # noqa: E402


def _analyzed(df):
    return df._jdf.queryExecution().analyzed()


class TestReductionHeadMatch:
    def test_array_max_aggregate_does_not_launder(self, spark, sf_dir):
        """Round-8 ADVICE: the substring test ('"max(" in s') counted a
        groupless aggregate computing array_max(collect_list(...)) as a
        global max reduction, so an equality filter against it passed
        the q57-idiom check and laundered an unbounded broadcast hint.
        The head-anchored match must flag this shape."""
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pseudo = d.agg(
            F.array_max(F.collect_list("n_chars")).alias("mx")
        )
        shaped = d.crossJoin(pseudo).filter(F.col("n_chars") == F.col("mx"))
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(5)
        df = o.crossJoin(F.broadcast(shaped))
        flags = audit_broadcast_hints("array_max_launder", _analyzed(df))
        assert len(flags) == 1 and "documents" in flags[0], flags

    def test_true_global_max_still_recognized(self, spark, sf_dir):
        """The real reduction (groupless max) keeps passing — the
        tightening must not break the documented q57 idiom."""
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        mx = d.agg(F.max("n_chars").alias("mx"))
        shaped = d.crossJoin(mx).filter(F.col("n_chars") == F.col("mx"))
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(5)
        df = o.crossJoin(F.broadcast(shaped))
        assert audit_broadcast_hints("true_max", _analyzed(df)) == []

    def test_cast_wrapped_global_max_still_recognized(self, spark, sf_dir):
        """Round-9 review: a global max wrapped in a cast is still a
        reduction (equality against it is tie-bounded) — the anchored
        match must not regress it into a false positive."""
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        mx = d.agg(F.max("n_chars").cast("long").alias("mx"))
        shaped = d.crossJoin(mx).filter(F.col("n_chars") == F.col("mx"))
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(5)
        df = o.crossJoin(F.broadcast(shaped))
        assert audit_broadcast_hints("cast_max", _analyzed(df)) == []


class TestAudioFeatureDegrade:
    """extract_audio_features(decode='real') routes every row through
    _audio_features_or_none, which must NULL the row (not raise) when
    the FEATURE step crashes on a payload the decoder accepted."""

    def test_feature_crash_degrades_to_none(self, monkeypatch):
        import numpy as np

        from bertrand_spark.pipeline import multimodal as mm

        wav = mm.wav_encode(
            16000, np.sin(np.linspace(0, 200, 16000)).astype(np.float64)
        )
        assert mm._audio_features_or_none(wav, 16) is not None

        def boom(*a, **kw):
            raise IndexError("synthetic numpy edge case")

        monkeypatch.setattr(mm, "_wav_features", boom)
        assert mm._audio_features_or_none(wav, 16) is None

    def test_undecodable_and_null_payloads(self):
        from bertrand_spark.pipeline import multimodal as mm

        assert mm._audio_features_or_none(b"\x00not-a-wav", 16) is None
        assert mm._audio_features_or_none(None, 16) is None

    def test_rolloff_index_clamped(self):
        """The 85% rolloff is freqs[searchsorted(...)], which can index
        one past the end under extreme float rounding — the clamp keeps
        it a valid bin.  Property over assorted signals: rolloff is a
        real rfft bin frequency <= Nyquist."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _wav_features

        rng = np.random.default_rng(7)
        for n in (2, 3, 64, 1001):
            for x in (
                rng.standard_normal(n),
                np.ones(n),
                np.zeros(n),
                np.sin(np.linspace(0, 50, n)),
            ):
                v = _wav_features(8000, x.astype(np.float64), 16)
                rolloff = v[4]
                freqs = np.fft.rfftfreq(min(n, 2**21), 1.0 / 8000)
                assert rolloff <= 4000.0
                assert any(abs(rolloff - f) < 1e-9 for f in freqs)


class TestVp8lPrefixCodeHygiene:
    """Round-8 ADVICE items 1+2: Kraft-completeness rejection and real
    coverage for the meta-prefix-image / multi-group decode branch."""

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

    def test_kraft_incomplete_code_raises(self):
        """An under-subscribed multi-symbol code (two symbols at length
        2: sum(2^-len) = 1/2) must raise, not decode garbage — libwebp
        rejects such streams."""
        from bertrand_spark.pipeline.multimodal import _vp8l_canonical

        lengths = [0] * 256
        lengths[5] = 2
        lengths[9] = 2
        with pytest.raises(ValueError, match="Kraft"):
            _vp8l_canonical(lengths)

    def test_kraft_oversubscribed_code_raises(self):
        """Over-subscription (three 1-bit codes: sum = 3/2) aliases two
        symbols onto one pattern — must raise likewise."""
        from bertrand_spark.pipeline.multimodal import _vp8l_canonical

        lengths = [0] * 256
        lengths[1] = lengths[2] = lengths[3] = 1
        with pytest.raises(ValueError, match="Kraft"):
            _vp8l_canonical(lengths)

    def test_complete_and_single_symbol_codes_still_build(self):
        from bertrand_spark.pipeline.multimodal import _vp8l_canonical

        # complete: {1, 2, 2} — sums to 1
        lengths = [0] * 16
        lengths[3] = 1
        lengths[7] = lengths[11] = 2
        table, single, lut = _vp8l_canonical(lengths)
        assert single is None and len(table) == 3
        # single-symbol codes are exempt (the spec's 0-bit case)
        only = [0] * 16
        only[5] = 1
        _, s, _ = _vp8l_canonical(only)
        assert s == 5

    def test_meta_prefix_roundtrips(self):
        """The multi-group branch decodes pixel-exactly: a 2-group
        checkerboard meta-prefix image whose groups use DIFFERENT green
        code shapes, alone and stacked with transforms and LZ77."""
        import numpy as np

        rng = np.random.default_rng(91)
        px = rng.integers(0, 256, size=(14, 18, 3), dtype=np.uint8)
        self._rt(18, 14, 3, px, meta_prefix_bits=2)
        self._rt(18, 14, 3, px, meta_prefix_bits=3)
        self._rt(
            18, 14, 3, px, meta_prefix_bits=2, subtract_green=True,
            predictor_bits=2,
        )
        runs = np.repeat(
            rng.integers(0, 256, size=(9, 5, 3), dtype=np.uint8), 4, axis=1
        )
        self._rt(20, 9, 3, runs, meta_prefix_bits=2, lz77=True)
        # RGBA payload through the multi-group path
        self._rt(
            10, 6, 4,
            rng.integers(0, 256, size=(6, 10, 4), dtype=np.uint8),
            meta_prefix_bits=2,
        )

    def test_meta_prefix_groups_actually_differ(self):
        """The fixture would be vacuous if both groups shared one code
        shape — assert the stream really contains TWO code groups by
        checking the decoded meta image drives group selection: flipping
        meta_prefix_bits changes the block geometry but not the pixels."""
        import numpy as np

        rng = np.random.default_rng(92)
        px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        b2 = self._rt(16, 16, 3, px, meta_prefix_bits=2)
        b3 = self._rt(16, 16, 3, px, meta_prefix_bits=3)
        assert b2 != b3
        # a meta grid degenerating to ONE block must write (and read)
        # a single code group — encoder/decoder group counts both come
        # from the meta image
        self._rt(16, 16, 3, px, meta_prefix_bits=4)

    def test_meta_prefix_excludes_cache(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import vp8l_encode

        px = np.zeros((4, 4, 3), dtype=np.uint8)
        with pytest.raises(ValueError, match="meta_prefix_bits"):
            vp8l_encode(
                4, 4, 3, px.tobytes(), meta_prefix_bits=2, cache_bits=3
            )


class TestFlacCodec:
    """Stdlib FLAC decoder (round-9 VERDICT item 3) — shrinks the
    compressed-audio NULL class to LOSSY formats only, the way VP8L
    shrank the image one.  Gate: exact integer parity with the WAV
    decoder on identically-quantized signals across every decoder path
    (subframe types, Rice partitions + escape, wasted bits, stereo
    decorrelation, short last frames), CRC rejection, corruption fuzz,
    physics sanity through the shared feature stack."""

    SR = 16000

    def _sig(self, seconds=2.0, hz=440.0):
        import numpy as np

        t = np.arange(int(self.SR * seconds)) / self.SR
        return 0.5 * np.sin(2 * np.pi * hz * t)

    def _parity(self, sig, channels=1, bits=16, **kw):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _flac_decode, _wav_decode, flac_encode, wav_encode,
        )

        blob = flac_encode(self.SR, sig, channels=channels, bits=bits, **kw)
        dec = _flac_decode(blob)
        assert dec is not None, kw
        fmt = {16: "s16", 24: "s24"}[bits]
        ref = _wav_decode(wav_encode(self.SR, sig, channels=channels, fmt=fmt))
        assert dec[0] == ref[0] and dec[1] == channels
        assert np.array_equal(dec[2], ref[2]), kw
        assert abs(dec[3] - ref[3]) < 1e-9
        return blob

    def test_subframe_matrix_matches_wav(self):
        sig = self._sig()
        for kw in (
            {"subframe": "verbatim"},
            {"subframe": "fixed", "fixed_order": 0},
            {"subframe": "fixed", "fixed_order": 1},
            {"subframe": "fixed", "fixed_order": 2},
            {"subframe": "fixed", "fixed_order": 3},
            {"subframe": "fixed", "fixed_order": 4},
            {"subframe": "lpc", "lpc_order": 2},
            {"subframe": "lpc", "lpc_order": 8, "lpc_shift": 7,
             "lpc_precision": 14},
            {"partition_order": 3},
            {"partition_order": 4, "subframe": "fixed", "fixed_order": 2},
            {"rice_escape": True},
            {"bits": 24},
            {"block_size": 1000},  # short, non-partitionable last frame
            {"block_size": 192},   # many frames: multi-byte coded numbers
        ):
            bits = kw.pop("bits", 16)
            self._parity(sig, bits=bits, **kw)

    def test_fixed_beats_verbatim_on_tonal_signal(self):
        """Compression sanity: the order-4 fixed predictor must
        actually shrink a sine (i.e. residuals are small and the Rice
        coder engages) — a decoder-only identity path would not."""
        from bertrand_spark.pipeline.multimodal import flac_encode

        sig = self._sig()
        smooth = len(flac_encode(self.SR, sig, subframe="fixed",
                                 fixed_order=4))
        raw = len(flac_encode(self.SR, sig, subframe="verbatim"))
        assert smooth < raw * 0.5

    def test_constant_and_wasted_bits(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _flac_decode, flac_encode,
        )

        const = np.full(5000, 0.25)
        dec = _flac_decode(flac_encode(self.SR, const, subframe="constant"))
        assert np.allclose(dec[2], dec[2][0]) and len(dec[2]) == 5000
        # 4 wasted bits: quantize to multiples of 16 LSBs first
        q = (np.round(self._sig() * 32768) // 16 * 16) / 32768
        self._parity(q, wasted_bits=4)

    def test_stereo_decorrelation_modes(self):
        import numpy as np

        t = np.arange(self.SR * 2) / self.SR
        st = np.empty(len(t) * 2)
        st[0::2] = 0.5 * np.sin(2 * np.pi * 440 * t)
        st[1::2] = 0.3 * np.sin(2 * np.pi * 554 * t)
        for mode in ("independent", "left_side", "right_side", "mid_side"):
            self._parity(st, channels=2, stereo_mode=mode)

    def test_coded_number_roundtrip(self):
        from bertrand_spark.pipeline.multimodal import (
            _FlacBits, _FlacBitWriter, _flac_utf8_encode, _flac_utf8_num,
        )

        for n in (0, 1, 127, 128, 2047, 2048, 65535, 1 << 20, (1 << 31) - 1,
                  (1 << 36) - 1):
            bw = _FlacBitWriter()
            _flac_utf8_encode(bw, n)
            assert _flac_utf8_num(_FlacBits(bw.done())) == n

    def test_crc_rejection_and_prefix_truncation(self):
        """A flipped byte in the FIRST frame breaks its CRC → whole-row
        degrade (never silently-wrong samples).  A flipped byte in a
        LATER frame truncates to the CRC-verified prefix — the
        stop-at-loss-of-sync convention of reference decoders (round-9
        review: NULLing the whole row dropped otherwise-good audio)."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _flac_decode, flac_encode,
        )

        blob = bytearray(flac_encode(self.SR, self._sig(1.0)))
        ref = _flac_decode(bytes(blob))
        assert ref is not None
        first = bytearray(blob)
        first[60] ^= 0x55  # inside frame 0 (metadata ends at byte 42)
        assert _flac_decode(bytes(first)) is None
        later = bytearray(blob)
        later[len(later) // 2] ^= 0x55
        dec = _flac_decode(bytes(later))
        assert dec is not None and 0 < len(dec[2]) < len(ref[2])
        assert np.array_equal(dec[2], ref[2][: len(dec[2])])

    def test_trailing_junk_keeps_verified_prefix(self):
        """Appended tags / concatenation artifacts after the last frame
        (e.g. an ID3v1 'TAG' block) must not NULL a fully decodable
        stream (round-9 review repro)."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _flac_decode, flac_encode,
        )

        blob = flac_encode(self.SR, self._sig(0.5))
        ref = _flac_decode(blob)
        for junk in (b"TAG" + bytes(125), b"\x00\x00"):
            dec = _flac_decode(blob + junk)
            assert dec is not None
            assert np.array_equal(dec[2], ref[2]) and dec[3] == ref[3]

    def test_short_last_frame_order_fallback(self):
        """A last frame shorter than the predictor order emits verbatim
        and bs == order decodes (round-9 review repro: these lengths
        silently produced undecodable streams)."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _flac_decode, _wav_decode, flac_encode, wav_encode,
        )

        for n_extra in (1, 2, 3, 4, 5):
            for kw in (
                {"subframe": "fixed", "fixed_order": 4},
                {"subframe": "lpc", "lpc_order": 8, "partition_order": 2},
            ):
                sig = 0.5 * np.sin(np.arange(4096 + n_extra) * 0.1)
                dec = _flac_decode(flac_encode(self.SR, sig, **kw))
                ref = _wav_decode(wav_encode(self.SR, sig, fmt="s16"))
                assert dec is not None, (n_extra, kw)
                assert np.array_equal(dec[2], ref[2]), (n_extra, kw)

    def test_mid_side_composes_with_wasted_bits(self):
        """The mid channel halves away one quantizer zero — the encoder
        downgrades the wasted count per channel instead of raising
        (round-9 review repro)."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _flac_decode, _wav_decode, flac_encode, wav_encode,
        )

        t = np.arange(self.SR) / self.SR
        st = np.empty(len(t) * 2)
        st[0::2] = (np.round(0.4 * np.sin(2 * np.pi * 220 * t) * 32768)
                    // 16 * 16) / 32768
        st[1::2] = (np.round(0.3 * np.sin(2 * np.pi * 330 * t) * 32768)
                    // 16 * 16) / 32768
        blob = flac_encode(
            self.SR, st, channels=2, stereo_mode="mid_side", wasted_bits=4
        )
        dec = _flac_decode(blob)
        ref = _wav_decode(wav_encode(self.SR, st, channels=2, fmt="s16"))
        assert dec is not None and np.array_equal(dec[2], ref[2])

    def test_degrade_matrix(self):
        from bertrand_spark.pipeline.multimodal import _flac_decode

        assert _flac_decode(b"") is None
        assert _flac_decode(b"fLaC") is None
        assert _flac_decode(b"OggS" + b"\x00" * 64) is None
        assert _flac_decode(b"ID3\x03" + b"\x00" * 64) is None  # mp3
        blob = bytes(42)
        assert _flac_decode(blob) is None

    def test_corruption_fuzz_never_raises(self):
        import numpy as np

        from conftest import mutate_blob

        from bertrand_spark.pipeline.multimodal import _flac_decode

        rng = np.random.default_rng(93)
        base = bytearray(
            __import__(
                "bertrand_spark.pipeline.multimodal", fromlist=["flac_encode"]
            ).flac_encode(self.SR, self._sig(0.3))
        )
        for _ in range(200):
            mutated = mutate_blob(base, rng)
            out = _flac_decode(bytes(mutated))  # None or a valid tuple
            if out is not None:
                assert len(out) == 4

    def test_features_physics_and_dispatch(self):
        """extract_audio_features(decode='real') decodes FLAC payloads:
        a 440 Hz FLAC clip yields a centroid near 440 Hz, identical to
        the same clip as WAV; lossy magic stays NULL."""
        from bertrand_spark.pipeline.multimodal import (
            _audio_features_or_none, flac_encode, wav_encode,
        )

        sig = self._sig()
        f = _audio_features_or_none(flac_encode(self.SR, sig), 16)
        w = _audio_features_or_none(wav_encode(self.SR, sig), 16)
        assert f == w  # identical integers → identical features
        assert abs(f[3] - 440.0) < 10.0  # spectral centroid
        assert _audio_features_or_none(b"ID3\x03" + b"\x00" * 64, 16) is None

    def test_spark_mixed_corpus(self, spark):
        """End-to-end over mapInPandas: WAV rows and FLAC rows decode,
        lossy rows degrade to NULL — one DataFrame, one pass."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            extract_audio_features, flac_encode, wav_encode,
        )

        sig = self._sig(0.5)
        rows = [
            (1, bytearray(wav_encode(self.SR, sig))),
            (2, bytearray(flac_encode(self.SR, sig))),
            (3, bytearray(b"ID3\x03" + b"\x00" * 64)),
            (4, None),
        ]
        df = spark.createDataFrame(
            rows, "media_id long, payload binary"
        )
        got = {
            r["media_id"]: r["features"]
            for r in extract_audio_features(df, decode="real").collect()
        }
        assert got[1] is not None and got[2] is not None
        assert list(got[1]) == list(got[2])
        assert got[3] is None and got[4] is None


class TestMkvEbmlProbe:
    """Matroska/WebM EBML metadata probe (round-9 VERDICT item 4) —
    same contract as the MP4 box walk: struct reads only, no decode,
    schema unchanged, NULL-container degrade on junk."""

    def test_probe_fields(self):
        from bertrand_spark.pipeline.multimodal import (
            _mkv_probe, mkv_encode_meta,
        )

        got = _mkv_probe(mkv_encode_meta(
            "webm", duration_s=12.5, width=1920, height=1080,
            codecs=("V_VP9", "A_OPUS"),
        ))
        assert got == ("webm", 12.5, 1920, 1080, 2, ["V_VP9", "A_OPUS"])

    def test_unknown_segment_size_and_ts_scale(self):
        """Streamed files write the Segment with an all-ones (unknown)
        size — the walk extends to end-of-buffer; a non-default
        TimestampScale rescales the duration."""
        from bertrand_spark.pipeline.multimodal import (
            _mkv_probe, mkv_encode_meta,
        )

        got = _mkv_probe(mkv_encode_meta(
            "matroska", duration_s=3.25, width=640, height=360,
            codecs=("V_MPEG4/ISO/AVC",), unknown_segment_size=True,
        ))
        assert got[:4] == ("matroska", 3.25, 640, 360)
        got = _mkv_probe(mkv_encode_meta(
            "webm", duration_s=7.0, width=320, height=240,
            ts_scale=500_000,
        ))
        assert abs(got[1] - 7.0) < 1e-9

    def test_degrade_on_junk(self):
        from bertrand_spark.pipeline.multimodal import _mkv_probe

        assert _mkv_probe(b"") is None
        assert _mkv_probe(b"\x1aE\xdf\xa3junkjunkjunk") is None
        assert _mkv_probe(b"nonsense" * 8) is None

    def test_fuzz_never_raises(self):
        import numpy as np

        from conftest import mutate_blob

        from bertrand_spark.pipeline.multimodal import (
            _mkv_probe, mkv_encode_meta,
        )

        base = bytearray(mkv_encode_meta(
            "webm", duration_s=9.0, width=1280, height=720,
            codecs=("V_AV1", "A_VORBIS"),
        ))
        rng = np.random.default_rng(94)
        for _ in range(200):
            out = _mkv_probe(bytes(mutate_blob(base, rng)))
            assert out is None or len(out) == 6

    def test_spark_probe_mixed_containers(self, spark):
        """probe_video_metadata routes MP4, AVI, WebM/MKV and junk rows
        through one Arrow pass with the UNCHANGED schema."""
        from bertrand_spark.pipeline.multimodal import (
            mkv_encode_meta, probe_video_metadata,
        )

        rows = [
            (1, bytearray(mkv_encode_meta(
                "webm", duration_s=4.0, width=640, height=480,
                codecs=("V_VP8",),
            ))),
            (2, bytearray(mkv_encode_meta(
                "matroska", duration_s=6.0, width=720, height=576,
                codecs=("V_MS/VFW/FOURCC", "A_AAC"),
            ))),
            (3, bytearray(b"garbage-not-a-container")),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        out = {
            r["media_id"]: r
            for r in probe_video_metadata(df).collect()
        }
        assert out[1]["container"] == "webm"
        assert out[1]["width"] == 640 and out[1]["duration_s"] == 4.0
        assert out[1]["codec"] == "V_VP8"
        assert out[2]["container"] == "mkv"
        assert out[2]["n_frames_or_tracks"] == 2
        assert out[3]["container"] is None
        assert out[4]["container"] is None


class TestHypothesisRound9Parsers:
    """Hypothesis random-blob + prefixed-blob fuzz extended to the
    round-9 parsers: the FLAC decoder and the EBML probe — the same
    no-raise property as every prior codec."""

    def test_random_blobs(self):
        from hypothesis import given, settings
        from hypothesis import strategies as hst

        from bertrand_spark.pipeline.multimodal import (
            _flac_decode, _mkv_probe,
        )

        @settings(max_examples=120, deadline=None)
        @given(hst.binary(min_size=0, max_size=600))
        def run(blob):
            f = _flac_decode(blob)
            assert f is None or f[0] >= 1
            m = _mkv_probe(blob)
            assert m is None or len(m) == 6

        run()

    def test_prefixed_blobs(self):
        """Random bytes behind VALID magics — past the signature check
        into the metadata/frame walk and the EBML VINT loop."""
        from hypothesis import given, settings
        from hypothesis import strategies as hst

        from bertrand_spark.pipeline.multimodal import (
            _flac_decode, _mkv_probe,
        )

        # a real STREAMINFO header so frame-parse logic is reached
        si = bytearray(34)
        packed = (16000 << 44) | (0 << 41) | (15 << 36) | 16000
        si[10:18] = packed.to_bytes(8, "big")
        flac_head = (
            b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + bytes(si)
        )

        @settings(max_examples=120, deadline=None)
        @given(hst.binary(min_size=4, max_size=400))
        def run(tail):
            _flac_decode(b"fLaC" + tail)
            _flac_decode(flac_head + tail)
            _mkv_probe(b"\x1aE\xdf\xa3" + tail)

        run()


class TestAudioFormatReport:
    """audio_format_report — the audio twin of decode_format_report:
    per-container decode outcomes with the lossless/lossy class split,
    native sniff expressions only."""

    def test_mixed_corpus_report(self, spark):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            audio_format_report, extract_audio_features, flac_encode,
            wav_encode,
        )

        sr = 16000
        sig = 0.3 * np.sin(np.arange(sr) * 0.2)
        rows = [
            (1, bytearray(wav_encode(sr, sig))),
            (2, bytearray(wav_encode(sr, sig, fmt="f32"))),
            (3, bytearray(flac_encode(sr, sig))),
            (4, bytearray(b"ID3\x04" + bytes(64))),          # mp3 (ID3)
            (5, bytearray(b"\xff\xfb\x90" + bytes(64))),     # mp3 (sync)
            (6, bytearray(b"OggS" + bytes(64))),             # ogg
            (7, bytearray(bytes(4) + b"ftypM4A " + bytes(32))),  # m4a
            (8, bytearray(b"garbage")),
            (9, bytearray(wav_encode(sr, sig))[:30]),        # corrupt wav
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        feats = extract_audio_features(df, decode="real")
        rep = {
            r["sniffed_format"]: r
            for r in audio_format_report(df, feats).collect()
        }
        assert rep["wav"]["n_total"] == 3 and rep["wav"]["n_decoded"] == 2
        assert rep["wav"]["n_null"] == 1  # the truncated payload
        assert rep["wav"]["codec_class"] == "lossless-decodable"
        assert rep["flac"]["n_decoded"] == 1 and rep["flac"]["n_null"] == 0
        assert rep["mp3"]["n_total"] == 2
        # round 10: mp3 is lossy-DECODABLE now; these two corrupt
        # fixtures still NULL (failed frame walk), but through the
        # gated decoder rather than the skip-list
        assert rep["mp3"]["n_null"] == 2
        assert rep["mp3"]["codec_class"] == "lossy-decodable"
        assert rep["ogg"]["n_null"] == 1 and rep["m4a"]["n_null"] == 1
        assert rep["unknown"]["n_total"] == 1

    def test_empty_frame(self, spark):
        from bertrand_spark.pipeline.multimodal import (
            audio_format_report, extract_audio_features,
        )

        df = spark.createDataFrame([], "media_id long, payload binary")
        feats = extract_audio_features(df, decode="real")
        assert audio_format_report(df, feats).collect() == []


class TestVp8lExternalCrossCheck:
    """CI-optional cross-validation against a REAL libwebp encoder
    (via PIL) — the round-8 ADVICE's optional ask.  Skipped where PIL
    is absent (this container); runs wherever CI has it, catching
    decoder divergence on genuinely foreign bitstreams (meta-prefix
    images, real LZ77 emitters, optimal prefix codes)."""

    @property
    def pil(self):
        return pytest.importorskip("PIL.Image", reason="PIL not installed")

    def test_decode_pil_encoded_lossless_webp(self):
        import io

        import numpy as np

        from bertrand_spark.pipeline.multimodal import _vp8l_decode

        rng = np.random.default_rng(95)
        for shape in ((24, 31, 3), (64, 64, 3)):
            px = rng.integers(0, 256, size=shape, dtype=np.uint8)
            im = self.pil.fromarray(px, "RGB")
            buf = io.BytesIO()
            im.save(buf, format="WEBP", lossless=True, quality=100)
            W, H, C, raw = _vp8l_decode(buf.getvalue(), 3)
            assert (W, H, C) == (shape[1], shape[0], 3)
            got = np.frombuffer(raw, np.uint8).reshape(H, W, 3)
            assert (got == px).all()

    def test_pil_decodes_our_fixture(self):
        """The reverse direction: a real libwebp-backed reader accepts
        the in-repo writer's streams — spec conformance of vp8l_encode
        itself, including the round-9 meta-prefix mode."""
        import io

        import numpy as np

        from bertrand_spark.pipeline.multimodal import vp8l_encode

        rng = np.random.default_rng(96)
        px = rng.integers(0, 256, size=(14, 18, 3), dtype=np.uint8)
        for kw in ({}, {"meta_prefix_bits": 2}, {"subtract_green": True},
                   {"palette": True}):
            if kw.get("palette"):
                pal = rng.integers(0, 256, size=(7, 3), dtype=np.uint8)
                src = pal[rng.integers(0, 7, size=(14, 18))]
            else:
                src = px
            blob = vp8l_encode(18, 14, 3, src.tobytes(), **kw)
            im = self.pil.open(io.BytesIO(blob)).convert("RGB")
            assert (np.asarray(im) == src).all(), kw


class TestStreamAudioFormatReport:
    """stream_extract_audio writes the per-container breakdown under
    {report_dir}/formats/ alongside the round-8 global counters —
    closing the symmetry gap with stream_decode_media (round-9
    review)."""

    def test_per_epoch_format_breakdown(self, spark, tmp_path):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            flac_encode, wav_encode,
        )
        from bertrand_spark.streaming.rollup import stream_extract_audio

        sr = 8000
        sig = 0.4 * np.sin(np.arange(sr) * 0.3)
        batch = spark.createDataFrame(
            [
                (1, bytearray(wav_encode(sr, sig))),
                (2, bytearray(flac_encode(sr, sig))),
                (3, bytearray(b"ID3" + bytes(32))),
            ],
            "media_id long, payload binary",
        )
        out = str(tmp_path / "audio")
        rep = str(tmp_path / "reports")
        handle = stream_extract_audio(out, report_dir=rep)
        handle(batch, 0)
        handle(batch, 0)  # idempotent replay overwrites
        # the round-8 global row keeps its schema and values
        g = spark.read.parquet(f"{rep}/ingest_batch=0").collect()[0]
        assert (g["n_total"], g["n_decoded"], g["n_null"]) == (3, 2, 1)
        # the new per-format table
        fr = {
            r["sniffed_format"]: r
            for r in spark.read.parquet(
                f"{rep}/formats/ingest_batch=0"
            ).collect()
        }
        assert fr["wav"]["n_decoded"] == 1
        assert fr["flac"]["n_decoded"] == 1
        assert fr["flac"]["codec_class"] == "lossless-decodable"
        assert fr["mp3"]["n_null"] == 1
        assert fr["mp3"]["codec_class"] == "lossy-decodable"  # round 10

    def test_custom_id_col_joins(self, spark):
        """Round-9 review repro: extract_audio_features hardcodes its
        output id as media_id — the report must re-alias so a custom
        id_col works end to end."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            audio_format_report, extract_audio_features, wav_encode,
        )

        sr = 8000
        df = spark.createDataFrame(
            [(7, bytearray(wav_encode(sr, np.zeros(100))))],
            "clip_id long, payload binary",
        )
        feats = extract_audio_features(df, id_col="clip_id", decode="real")
        rep = audio_format_report(df, feats, id_col="clip_id").collect()
        assert len(rep) == 1 and rep[0]["n_decoded"] == 1


class TestRiceWindowedParity:
    """The windowed byte-aligned Rice decoder must agree EXACTLY (values
    and end position) with the scalar reference on random streams at
    random bit offsets — the gate for the round-9 hot-loop rewrite."""

    def test_parity_random_streams(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _FlacBits, _FlacBitWriter,
        )

        rng = np.random.default_rng(98)
        for trial in range(60):
            param = int(rng.integers(0, 15))
            count = int(rng.integers(1, 1200))
            pre_bits = int(rng.integers(0, 30))
            vals = [int(v) for v in rng.integers(-3000, 3000, size=count)]
            bw = _FlacBitWriter()
            if pre_bits:
                bw.put(int(rng.integers(0, 1 << pre_bits)), pre_bits)
            for v in vals:
                u = (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1
                q = u >> param
                while q >= 32:
                    bw.put(0, 32)
                    q -= 32
                bw.put(1, q + 1)
                if param:
                    bw.put(u & ((1 << param) - 1), param)
            data = bw.done()
            a = _FlacBits(data)
            a.pos = pre_bits
            b = _FlacBits(data)
            b.pos = pre_bits
            ra = a.read_rice(param, count)
            rb = b.read_rice_scalar(param, count)
            assert ra == rb == vals, (trial, param, count, pre_bits)
            assert a.pos == b.pos, trial

    def test_truncated_stream_raises_both_paths(self):
        from bertrand_spark.pipeline.multimodal import _FlacBits

        data = bytes([0x00] * 8)  # all zeros: unary never terminates
        for fn in ("read_rice", "read_rice_scalar"):
            with pytest.raises(ValueError, match="overrun"):
                getattr(_FlacBits(data), fn)(5, 100)

    def test_rice2_params_route_to_scalar(self):
        """5-bit (rice2) parameters above 14 exceed the 24-bit lookup
        span — they must take the scalar path and still decode."""
        from bertrand_spark.pipeline.multimodal import (
            _FlacBits, _FlacBitWriter,
        )

        param, vals = 20, [5, -7, 123456, 0, -99999] * 40
        bw = _FlacBitWriter()
        for v in vals:
            u = (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1
            bw.put(1, (u >> param) + 1)
            bw.put(u & ((1 << param) - 1), param)
        br = _FlacBits(bw.done())
        assert br.read_rice(param, len(vals)) == vals


class TestProbeAudioMetadata:
    """probe_audio_metadata — struct-read audio triage (the audio twin
    of the video probe): WAV fmt chunk, FLAC STREAMINFO, MP3 first
    frame (ID3v2 skipped, CBR estimate), Ogg Vorbis/Opus id header +
    last-page granule.  No decode anywhere."""

    @staticmethod
    def _ogg_page(body, granule=0, first=True, seq=0):
        import struct

        segs = []
        n = len(body)
        while n >= 255:
            segs.append(255)
            n -= 255
        segs.append(n)
        return (
            b"OggS" + b"\x00" + (b"\x02" if first else b"\x04")
            + struct.pack("<q", granule) + struct.pack("<I", 1)
            + struct.pack("<I", seq) + b"\x00\x00\x00\x00"
            + bytes([len(segs)]) + bytes(segs) + body
        )

    def test_wav_and_flac(self, spark):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            flac_encode, probe_audio_metadata, wav_encode,
        )

        sr = 16000
        t = np.arange(sr * 3) / sr
        st = np.empty(len(t) * 2)
        st[0::2] = 0.4 * np.sin(2 * np.pi * 220 * t)
        st[1::2] = 0.2 * np.sin(2 * np.pi * 330 * t)
        rows = [
            (1, bytearray(wav_encode(sr, st, channels=2, fmt="s16"))),
            (2, bytearray(flac_encode(sr, st, channels=2, bits=16))),
            (3, bytearray(b"junk-payload")),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        got = {
            r["media_id"]: r for r in probe_audio_metadata(df).collect()
        }
        for mid, container in ((1, "wav"), (2, "flac")):
            r = got[mid]
            assert r["container"] == container
            assert abs(r["duration_s"] - 3.0) < 1e-6
            assert r["sample_rate"] == sr and r["n_channels"] == 2
            assert r["bits_per_sample"] == 16
        assert got[3]["container"] is None
        assert got[4]["container"] is None

    def test_mp3_header_with_id3(self):
        from bertrand_spark.pipeline.multimodal import _mp3_meta

        # ID3v2 tag of 100 syncsafe bytes, then an MPEG1 Layer III
        # frame header: 128 kbps, 44100 Hz, joint stereo
        tag = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 100]) + bytes(100)
        hdr = bytes([0xFF, 0xFB, 0x90, 0x40])
        payload = tag + hdr + bytes(16000)  # ~1 s at 128 kbps
        dur, rate, n_ch, bits = _mp3_meta(payload)
        assert rate == 44100 and n_ch == 2 and bits is None
        assert abs(dur - (len(payload) - 110) * 8 / 128000) < 1e-9
        assert _mp3_meta(b"\x00" * 64) is None
        assert _mp3_meta(tag) is None  # tag but no frame

    def test_ogg_vorbis_and_opus(self):
        import struct

        from bertrand_spark.pipeline.multimodal import _ogg_meta

        vorbis_id = (
            b"\x01vorbis" + struct.pack("<I", 0) + bytes([2])
            + struct.pack("<I", 44100) + bytes(16)
        )
        last = self._ogg_page(b"\x05vorbis" + bytes(8),
                              granule=44100 * 7, first=False, seq=9)
        blob = self._ogg_page(vorbis_id) + bytes(64) + last
        dur, rate, n_ch, _ = _ogg_meta(blob)
        assert (rate, n_ch) == (44100, 2) and abs(dur - 7.0) < 1e-9

        opus_id = (
            b"OpusHead" + bytes([1, 2]) + struct.pack("<H", 312)
            + struct.pack("<I", 48000) + bytes(3)
        )
        last = self._ogg_page(b"x", granule=48000 * 2, first=False, seq=3)
        blob = self._ogg_page(opus_id) + last
        dur, rate, n_ch, _ = _ogg_meta(blob)
        assert (rate, n_ch) == (48000, 2) and abs(dur - 2.0) < 1e-9
        # no last-page granule → duration unknown, header still read
        dur, rate, n_ch, _ = _ogg_meta(self._ogg_page(opus_id))
        assert dur is None and rate == 48000

    def test_fuzz_never_raises(self, spark):
        import numpy as np

        from conftest import mutate_blob

        from bertrand_spark.pipeline.multimodal import (
            _flac_meta, _mp3_meta, _ogg_meta, _wav_meta, wav_encode,
        )

        rng = np.random.default_rng(99)
        base = bytearray(wav_encode(8000, np.zeros(4000)))
        for _ in range(150):
            blob = bytes(mutate_blob(base, rng))
            for fn in (_wav_meta, _flac_meta, _mp3_meta, _ogg_meta):
                try:
                    fn(blob)
                except Exception as e:
                    # helpers may raise; the OPERATOR catches per row —
                    # but struct helpers should themselves be total
                    raise AssertionError(f"{fn.__name__}: {e}")
