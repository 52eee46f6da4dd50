"""Round-10 regression gates.

1. Anonymous-cast array promotion: its tests live in ``test_cast.py``
   (``TestArrayLeafPromotion``).
2. base_to_int overflow hygiene: under ANSI mode (Spark 4's default)
   ``F.conv`` raises ARITHMETIC_OVERFLOW past 2^64-1, so a 20+-digit
   numeric string crashed even a coerce-mode cast.  The guarded conv
   nulls instead — a coerce cast must never throw.
3. Round-9 ADVICE probes: _flac_meta truncated-STREAMINFO guard and
   _ogg_meta false-'OggS' page validation.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bertrand_spark.convert.cast import cast  # noqa: E402
from bertrand_spark.functions.strings import base_to_int  # noqa: E402


class TestBaseToIntOverflow:
    def test_out_of_range_nulls_not_throws(self, spark):
        df = spark.createDataFrame(
            [(s,) for s in [
                "1", "-7", "9223372036854775807", "-9223372036854775808",
                "9223372036854775808", "99999999999999999999999999",
                "0001", "-0000000000000000000005", "abc",
            ]],
            "a string",
        )
        got = {
            r.a: r.v
            for r in df.select("a", base_to_int(F.col("a")).alias("v")).collect()
        }
        assert got["9223372036854775807"] == 2**63 - 1
        assert got["-9223372036854775808"] == -(2**63)  # INT64_MIN parses
        assert got["9223372036854775808"] is None  # one past max → NULL
        assert got["99999999999999999999999999"] is None
        assert got["0001"] == 1  # leading zeros don't trip the guard
        assert got["-0000000000000000000005"] == -5
        assert got["abc"] is None

    def test_prefixed_and_radix_guards(self, spark):
        df = spark.createDataFrame(
            [("0x10",), ("0b101",), ("-0o17",), ("0x" + "f" * 17,)],
            "a string",
        )
        vals = [r.v for r in df.select(base_to_int(F.col("a"), 0).alias("v")).collect()]
        assert vals == [16, 5, -15, None]
        hexdf = spark.createDataFrame([("ff",), ("f" * 17,)], "a string")
        assert [
            r.v for r in hexdf.select(base_to_int(F.col("a"), 16).alias("v")).collect()
        ] == [255, None]

    def test_anonymous_cast_coerce_survives_overflow(self, spark):
        df = spark.createDataFrame(
            [("1",), ("99999999999999999999999999",)], "a string"
        )
        out = cast(df, errors="coerce")
        assert out.schema["a"].dataType.simpleString() == "bigint"
        assert sorted([r.a for r in out.collect()], key=str) == [1, None]


class TestAudioProbeHardening:
    def test_flac_meta_truncated_streaminfo_nulls(self):
        """Round-9 ADVICE: a payload truncated mid-STREAMINFO (header
        claims 34 bytes, body shorter) must probe as None, not
        mis-aligned garbage fields."""
        from bertrand_spark.pipeline.multimodal import _flac_meta, flac_encode
        import numpy as np

        blob = flac_encode(44100, np.zeros((2048, 1), dtype=np.int16))
        assert _flac_meta(blob) is not None
        # keep the 4-byte magic + block header but cut the body short
        truncated = blob[: 4 + 4 + 20]
        assert _flac_meta(truncated) is None

    def test_ogg_meta_rejects_payload_oggs(self):
        """Round-9 ADVICE: 'OggS' inside packet payload bytes is not a
        page header; the granule must come from a candidate whose
        version byte and header-type flags validate."""
        from bertrand_spark.pipeline.multimodal import _ogg_meta

        def ogg_page(body: bytes, granule: int, first: bool) -> bytes:
            segs = []
            n = len(body)
            while n >= 255:
                segs.append(255)
                n -= 255
            segs.append(n)
            return (
                b"OggS" + bytes([0, 2 if first else 4])
                + granule.to_bytes(8, "little", signed=True)
                + (0).to_bytes(4, "little") + (0).to_bytes(4, "little")
                + (0).to_bytes(4, "little")
                + bytes([len(segs)]) + bytes(segs) + body
            )

        ident = (
            b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([2])
            + (44100).to_bytes(4, "little") + bytes(16)
        )
        good = ogg_page(ident, 0, True) + ogg_page(b"\x05" * 40, 44100 * 3, False)
        meta = _ogg_meta(good)
        assert meta is not None and abs(meta[0] - 3.0) < 1e-9

        # append a page whose PAYLOAD contains a fake 'OggS' with a
        # huge bogus granule; the validating scan must skip it and
        # still find the real last page header before it
        fake = b"junk" + b"OggS" + bytes([9, 99]) + (10**15).to_bytes(
            8, "little", signed=True
        ) + b"tail"
        poisoned = good + ogg_page(fake, 44100 * 4, False)
        meta2 = _ogg_meta(poisoned)
        # the real LAST page (granule 4s) wins, not the payload fake
        assert meta2 is not None and abs(meta2[0] - 4.0) < 1e-9


class TestProbeGatedAudioDecode:
    """Round-10 (VERDICT items 4/5): the container sniff is the decode
    skip-list — lossy/unknown payloads never enter _audio_decode, the
    per-row decode_status records which path each row took, and the
    streaming epoch report splits skipped-lossy vs decoded vs
    decode-failed."""

    @pytest.fixture()
    def mixed(self, spark):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import flac_encode, wav_encode

        sr = 16000
        sig = 0.3 * np.sin(np.arange(sr) * 0.2)
        rows = [
            (1, bytearray(wav_encode(sr, sig))),
            (2, bytearray(flac_encode(sr, sig))),
            (3, bytearray(b"ID3\x04" + bytes(64))),           # mp3 (ID3)
            (4, bytearray(b"\xff\xfb\x90" + bytes(64))),      # mp3 (sync)
            (5, bytearray(b"OggS" + bytes(64))),              # ogg
            (6, bytearray(bytes(4) + b"ftypM4A " + bytes(32))),  # m4a
            (7, bytearray(b"garbage")),
            (8, bytearray(wav_encode(sr, sig))[:30]),         # corrupt wav
        ]
        return spark.createDataFrame(rows, "media_id long, payload binary")

    def test_decode_status_split(self, mixed):
        from bertrand_spark.pipeline.multimodal import extract_audio_features

        out = {
            r.media_id: r
            for r in extract_audio_features(mixed, decode="real").collect()
        }
        assert out[1].decode_status == "decoded" and out[1].features
        assert out[2].decode_status == "decoded" and out[2].features
        # no-decoder lossy containers are ROUTED AROUND the decoders —
        # the only branch that can emit 'skipped-lossy' is the
        # pre-decode gate; mp3 (round 10) ENTERS the gated decoder and
        # these corrupt/truncated fixtures fail its frame walk
        for mid in (3, 4):
            assert out[mid].decode_status == "decode-failed", mid
            assert out[mid].features is None
        for mid in (5, 6):
            assert out[mid].decode_status == "skipped-lossy", mid
            assert out[mid].features is None
        assert out[7].decode_status == "skipped-unknown"
        # lossless-class payload that entered the decoder and failed
        assert out[8].decode_status == "decode-failed"
        assert out[8].features is None

    def test_fake_mode_schema_parity(self, mixed):
        from bertrand_spark.pipeline.multimodal import extract_audio_features

        fake = extract_audio_features(mixed, decode="fake")
        assert [f.name for f in fake.schema.fields] == [
            "media_id", "features", "decode_status",
        ]
        assert {r.decode_status for r in fake.collect()} == {"decoded"}

    def test_python_sniff_matches_native_sniff(self, mixed):
        """_audio_container_class (the kernel's gate) and
        audio_format_report's native-expression sniff must classify
        identically — a divergence would make the report's class
        counts lie about what the gate actually did."""
        from bertrand_spark.pipeline.multimodal import (
            _audio_container_class, audio_format_report,
            extract_audio_features,
        )

        feats = extract_audio_features(mixed, decode="real")
        native = {
            r["sniffed_format"]: (r["codec_class"], r["n_total"])
            for r in audio_format_report(mixed, feats).collect()
        }
        py_counts: dict = {}
        for row in mixed.collect():
            c, k = _audio_container_class(bytes(row.payload))
            key = c or "unknown"
            py_counts.setdefault(key, [k, 0])
            py_counts[key][1] += 1
        assert {k: (v[0], v[1]) for k, v in py_counts.items()} == native

    def test_stream_report_splits(self, spark, mixed, tmp_path):
        from bertrand_spark.streaming.rollup import stream_extract_audio

        out_dir, rep_dir = str(tmp_path / "out"), str(tmp_path / "rep")
        handle = stream_extract_audio(out_dir, report_dir=rep_dir)
        handle(mixed, 0)
        rep = spark.read.parquet(f"{rep_dir}/ingest_batch=0").collect()[0]
        assert rep.n_total == 8
        assert rep.n_decoded == 2
        assert rep.n_skipped_lossy == 2   # ogg + m4a (mp3 decodes now)
        assert rep.n_skipped_unknown == 1
        # truncated wav + the two corrupt mp3 fixtures that entered
        # the round-10 gated decoder
        assert rep.n_decode_failed == 3
        assert rep.n_decode_partial == 0
        assert rep.n_null == 6
        # per-container table still written (round-9 contract)
        fmts = spark.read.parquet(f"{rep_dir}/formats/ingest_batch=0")
        assert fmts.count() >= 4


class TestSniffGatedImageDecode:
    """The image twin: with no PIL, _real_decode must never hand a
    payload to a codec its magic already rules out — a lossy 'VP8 '
    WebP or a non-WEBP RIFF skips the riff walk, unknown magic skips
    the PNG path."""

    def test_ruled_out_payloads_never_reach_codecs(self, monkeypatch):
        from bertrand_spark.pipeline import multimodal as mm

        def boom(*a, **k):
            raise AssertionError("codec called on a ruled-out payload")

        monkeypatch.setattr(mm, "_vp8l_decode", boom)
        monkeypatch.setattr(mm, "_png_decode", boom)
        null = (None, None, None, None)
        lossy_webp = b"RIFF" + bytes(4) + b"WEBP" + b"VP8 " + bytes(32)
        avi = b"RIFF" + bytes(4) + b"AVI " + bytes(32)
        junk = b"not an image at all"
        assert mm._real_decode(None, lossy_webp, 3) == null
        assert mm._real_decode(None, avi, 3) == null
        assert mm._real_decode(None, junk, 3) == null

    def test_decodable_classes_still_route(self):
        from bertrand_spark.pipeline import multimodal as mm

        png = mm.png_encode(4, 4, 3, bytes(range(48)))
        w, h, c, px = mm._real_decode(None, png, 3)
        assert (w, h, c) == (4, 4, 3) and px == bytes(range(48))
        # VP8L (lossless webp) still decodes through the gate
        vp8l = mm.vp8l_encode(4, 4, 3, bytes(48))
        w, h, c, px = mm._real_decode(None, vp8l, 3)
        assert (w, h) == (4, 4) and px is not None


class TestMp3HuffmanTables:
    """Round-10 stretch (VERDICT item 7): the validated-subset
    contract.  Every SHIPPED table must be a Kraft-complete prefix
    code; every id outside the validated set must be absent (gated),
    never 'repaired'."""

    def test_shipped_tables_structurally_exact(self):
        from bertrand_spark.pipeline import _mp3huff as H

        for tid in list(H.PAIR_TABLES) + ["A", "B"]:
            got = H.lookup_table(tid)
            assert got is not None, tid
            maxlen, lut, _ = got
            # every peek value decodes to something (completeness
            # means no dead entries)
            assert all(p >> 16 for p in lut), tid

    def test_untrusted_ids_absent(self):
        from bertrand_spark.pipeline import _mp3huff as H

        for tid in (7, 9, 10, 11, 12, 13, 15, 16, 24, 31):
            assert H.lookup_table(tid) is None, tid
            assert tid not in H.PAIR_TABLES

    def test_validator_rejects_corruption(self):
        import pytest

        from bertrand_spark.pipeline import _mp3huff as H

        nx, ny, entries = H.PAIR_TABLES[8]
        broken = list(entries)
        broken[0] = (broken[0][0] + 1, broken[0][1])  # break Kraft
        with pytest.raises(AssertionError):
            H.validate_table(broken, "corrupted")


class TestMp3ParseLayer:
    """The exact layer: frame walk, side info, VBR headers."""

    def _tone_spec(self, line=30, mag=5, table=8):
        vals = [0] * 576
        vals[line] = mag
        vals[line + 1] = -mag
        return {"values": vals, "table": table}

    def test_frame_walk_exact_duration(self):
        from bertrand_spark.pipeline import mp3dec as M

        stream = M.build_frames([self._tone_spec()] * 8,
                                sample_rate=44100)
        info = M.parse_stream(stream)
        assert info["n_frames"] == 4            # 2 granules/frame
        assert info["n_samples"] == 4 * 1152
        assert info["version"] == "mpeg1"
        assert info["sample_rate"] == 44100
        assert info["n_bad_side_info"] == 0
        assert info["table_histogram"] == {8: 4 * 2 * 3}

    def test_probe_mode_skips_side_info(self):
        from bertrand_spark.pipeline import mp3dec as M

        stream = M.build_frames([self._tone_spec()] * 8)
        info = M.parse_stream(stream, decode_side_info=False)
        assert info["n_frames"] == 4
        assert info["table_histogram"] == {}

    def test_vbr_detected_from_mixed_frame_sizes(self):
        from bertrand_spark.pipeline import mp3dec as M

        # a loud wide-spectrum granule forces a bigger bitrate index
        # than a near-silent one -> the builder emits a VBR stream
        big = [0] * 576
        for i in range(0, 400, 2):
            big[i] = 5
        quiet = self._tone_spec()
        stream = M.build_frames(
            [{"values": big, "table": 8}, {"values": big, "table": 8},
             quiet, quiet])
        info = M.parse_stream(stream)
        assert info["is_vbr"]
        assert info["bitrate_max"] > info["bitrate_min"]
        # duration still exact under VBR (frame-walk, not estimate)
        assert info["n_samples"] == 2 * 1152

    def test_id3v2_skip_and_id3v1_stop(self):
        from bertrand_spark.pipeline import mp3dec as M

        body = M.build_frames([self._tone_spec()] * 4)
        tag = b"ID3\x03\x00\x00\x00\x00\x00\x20" + bytes(0x20)
        stream = tag + body + b"TAG" + bytes(125)
        info = M.parse_stream(stream)
        assert info["n_frames"] == 2
        assert info["n_samples"] == 2 * 1152

    def test_resync_over_garbage(self):
        from bertrand_spark.pipeline import mp3dec as M

        f = M.build_frames([self._tone_spec()] * 4)
        half = len(f) // 2
        # builder emits equal-content frames; find the real boundary
        frames = list(M.iter_frames(f))
        boundary = frames[1][0]
        stream = f[:boundary] + b"\x00garbage\x00" + f[boundary:]
        info = M.parse_stream(stream)
        assert info["n_frames"] == 2

    def test_xing_header_parsed(self):
        from bertrand_spark.pipeline import mp3dec as M

        # hand-build a Xing tag frame: header + empty side info +
        # 'Xing' + flags(frames|bytes) + values
        body = M.build_frames([self._tone_spec()] * 4)
        hdr = body[:4]
        import struct
        tagframe = bytearray(M.parse_header(
            int.from_bytes(hdr, "big")).frame_bytes)
        tagframe[:4] = hdr
        off = 4 + 17
        tagframe[off:off + 4] = b"Xing"
        tagframe[off + 4:off + 8] = struct.pack(">I", 3)
        tagframe[off + 8:off + 12] = struct.pack(">I", 2)
        tagframe[off + 12:off + 16] = struct.pack(">I", len(body))
        stream = bytes(tagframe) + body
        info = M.parse_stream(stream)
        assert info["vbr_tag"] == {
            "is_cbr_tag": False, "n_frames": 2,
            "n_stream_bytes": len(body),
        }
        # the tag frame carries no audio: duration counts real frames
        assert info["n_frames"] == 2

    def test_bad_side_info_counted(self):
        from bertrand_spark.pipeline import mp3dec as M

        stream = bytearray(M.build_frames([self._tone_spec()] * 4))
        # corrupt granule 0's big_values to > 288: side info bits
        # 18..18+12 are part2_3_length, then 9 bits big_values
        bitpos = (4 * 8) + 18 + 12
        for b in range(9):
            byte, bit = divmod(bitpos + b, 8)
            stream[byte] |= 0x80 >> bit
        info = M.parse_stream(bytes(stream))
        assert info["n_bad_side_info"] == 1


class TestMp3RoundTrip:
    """Exact Huffman-integer round trips through build_frames →
    decode (_collect_spectra), the strongest in-repo evidence for the
    decode chain: every region split, sign bit, count1 quad and
    scalefactor read must agree with the builder bit-for-bit, and
    exact accounting must hold on every granule."""

    def _roundtrip(self, specs, sample_rate=44100):
        from bertrand_spark.pipeline import mp3dec as M

        stream = M.build_frames(specs, sample_rate=sample_rate)
        got = []
        d = M.decode(stream, _collect_spectra=got)
        return d, [g[3] for g in got]

    def test_fuzz_all_trusted_tables(self):
        import numpy as np

        rng = np.random.default_rng(4210)
        tables = {1: 1, 2: 2, 3: 2, 5: 3, 6: 3, 8: 5}
        specs = []
        for case in range(36):
            tid = list(tables)[case % 6]
            vmax = tables[tid]
            vals = [0] * 576
            nbig = int(rng.integers(0, 120)) * 2
            for i in range(nbig):
                vals[i] = int(rng.integers(-vmax, vmax + 1))
            ntail = int(rng.integers(0, 40)) * 4
            for i in range(nbig, min(nbig + ntail, 576)):
                vals[i] = int(rng.integers(-1, 2))
            specs.append({
                "values": vals,
                "table": tid,
                "scalefac_long": [int(x) for x in
                                  rng.integers(0, 8, size=21)],
                "scalefac_scale": int(rng.integers(0, 2)),
                "preflag": int(rng.integers(0, 2)),
                "count1table": "B" if rng.integers(0, 2) else "A",
                "global_gain": int(rng.integers(150, 240)),
            })
        d, spectra = self._roundtrip(specs)
        assert d["coverage"] == 1.0
        assert d["n_acct_fail"] == 0 and d["n_gated"] == 0
        assert len(spectra) == len(specs)
        for spec, got in zip(specs, spectra):
            assert got == spec["values"]

    def test_lsf_roundtrip(self):
        import numpy as np

        rng = np.random.default_rng(77)
        specs = []
        for _ in range(8):
            vals = [0] * 576
            for i in range(int(rng.integers(2, 60)) * 2):
                vals[i] = int(rng.integers(-5, 6))
            # LSF scalefac_compress (table 0) caps partitions at
            # 4/4/3/3 bits -> values 0..15, 0..15, 0..7, 0..7
            sfl = [int(x) for x in rng.integers(0, 15, size=21)]
            sfl[11:] = [min(v, 7) for v in sfl[11:]]
            specs.append({
                "values": vals, "table": 8, "scalefac_long": sfl,
            })
        d, spectra = self._roundtrip(specs, sample_rate=22050)
        assert d["coverage"] == 1.0
        assert d["sample_rate"] == 22050
        for spec, got in zip(specs, spectra):
            assert got == spec["values"]

    def test_reservoir_spill(self):
        from bertrand_spark.pipeline import mp3dec as M

        vals = [0] * 576
        vals[0], vals[1], vals[10], vals[11] = 3, -3, 1, -1
        specs = [{"values": vals, "table": 6}] * 6
        stream = M.build_frames(specs, spill=11)
        got = []
        d = M.decode(stream, _collect_spectra=got)
        assert d["coverage"] == 1.0
        assert d["n_resv_miss"] == 0
        assert all(g[3] == vals for g in got)

    def test_gated_table_degrades_to_counted_silence(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        vals = [0] * 576
        vals[0] = 3
        specs = [
            {"values": vals, "table": 5, "declare_table": 13},
            {"values": vals, "table": 5},
            {"values": vals, "table": 5},
            {"values": vals, "table": 5},
        ]
        d = M.decode(M.build_frames(specs))
        assert d["n_gated"] == 1
        assert d["n_decoded"] == 3
        assert d["coverage"] < 1.0
        early = M.decode(M.build_frames(specs), stop_on_fail=True)
        assert early["coverage"] < 1.0 and len(early["samples"]) == 0

    def test_wrong_trusted_table_never_decodes_same_spectrum(self):
        """Declaring table 1 over table-8 bits must NOT round-trip:
        either exact accounting fails (the usual case) or the decoded
        values differ — never a silent identical pass."""
        import numpy as np

        rng = np.random.default_rng(99)
        from bertrand_spark.pipeline import mp3dec as M

        vals = [0] * 576
        for i in range(60):
            vals[i] = int(rng.integers(-5, 6))
        specs = [{"values": vals, "table": 8, "declare_table": 1}]
        got = []
        d = M.decode(M.build_frames(specs * 4), _collect_spectra=got)
        ok_same = (d["coverage"] == 1.0
                   and all(g[3] == vals for g in got[:1]))
        assert not ok_same

    def test_accounting_rejects_truncated_main_data(self):
        from bertrand_spark.pipeline import mp3dec as M

        vals = [0] * 576
        for i in range(0, 100, 2):
            vals[i] = 5
        stream = bytearray(M.build_frames([{"values": vals,
                                            "table": 8}] * 4))
        # shrink part2_3_length by 8 bits: accounting must fail, the
        # granule must degrade, and nothing may raise
        b = M.Bits(bytes(stream))
        b.skip(4 * 8 + 18)
        p23 = b.read(12)
        w = p23 - 8
        bitpos = 4 * 8 + 18
        for i in range(12):
            byte, bit = divmod(bitpos + i, 8)
            stream[byte] = (stream[byte] & ~(0x80 >> bit)) | (
                ((w >> (11 - i)) & 1) << (7 - bit))
        d = M.decode(bytes(stream))
        assert d["n_acct_fail"] >= 1
        assert d["coverage"] < 1.0

    def test_byteflip_fuzz_never_raises(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        rng = np.random.default_rng(1234)
        vals = [0] * 576
        for i in range(80):
            vals[i] = int(rng.integers(-5, 6))
        base = M.build_frames([{"values": vals, "table": 8}] * 4)
        for _ in range(150):
            s = bytearray(base)
            for _ in range(int(rng.integers(1, 6))):
                s[int(rng.integers(0, len(s)))] = int(
                    rng.integers(0, 256))
            M.decode(bytes(s))  # must never raise
        for cut in (0, 1, 3, 7, 50, len(base) - 1):
            M.decode(base[:cut])
            M.parse_stream(base[:cut])


class TestMp3Filterbank:
    """Closed-form hybrid filterbank + the designed window pair."""

    def test_silence_is_exact_zero(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        d = M.decode(M.build_frames([{"values": [0] * 576}] * 6))
        assert d["coverage"] == 1.0
        assert float(np.abs(d["samples"]).max()) == 0.0

    def test_single_line_is_a_clean_tone(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        line = 40
        vals = [0] * 576
        vals[line] = 5
        d = M.decode(M.build_frames(
            [{"values": vals, "table": 8, "global_gain": 250}] * 10))
        x = d["samples"][2304:]
        spec = np.abs(np.fft.rfft(x * np.hanning(len(x))))
        peak_hz = spec.argmax() / len(x) * 44100
        expect_hz = (line + 0.5) / 576 * 22050
        assert abs(peak_hz - expect_hz) / expect_hz < 0.03
        purity = (spec[spec.argmax() - 5:spec.argmax() + 6] ** 2
                  ).sum() / (spec ** 2).sum()
        assert purity > 0.97

    def test_window_pair_reconstruction_snr_floor(self):
        """Held-out self-reconstruction of the designed window pair
        (the documented ISO-B.3 deviation, mp3dec._synth_window):
        >= 45 dB on fresh noise."""
        import numpy as np

        from bertrand_spark.pipeline._mp3window import (
            analysis_window, synth_window,
        )
        from bertrand_spark.pipeline.mp3dec import _Synth

        c_win, d_win = analysis_window(), synth_window()
        n = np.arange(512)
        k = np.arange(32)
        cosa = np.cos((2 * k[:, None] + 1) * ((n[None, :] % 64) - 16)
                      * np.pi / 64) * ((-1.0) ** (n[None, :] // 64))
        sig = np.random.default_rng(5).standard_normal(4096)
        steps = len(sig) // 32
        x = np.zeros((steps, 512))
        for s in range(16, steps):
            x[s] = sig[32 * s + 31 - n]
        sbs = np.einsum("sn,kn,n->sk", x, cosa, c_win)
        syn = _Synth()
        rec = syn.consume(sbs)
        best = -np.inf
        for delay in range(380, 560):
            a = sig[512:len(rec) - delay]
            b = rec[512 + delay:512 + delay + len(a)]
            if len(a) < 1500:
                continue
            g = (a @ b) / (b @ b)
            e = a - g * b
            best = max(best,
                       10 * np.log10((a @ a) / max(e @ e, 1e-30)))
        assert best >= 45.0, best

    def test_scalefactor_scaling_halves_amplitude_per_step(self):
        """Requantization physics: +2 on a scalefactor with
        scalefac_scale=0 must scale that band by exactly 2^-1."""
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        vals = [0] * 576
        vals[0], vals[1] = 5, 5
        base = {"values": vals, "table": 8, "global_gain": 230}
        quiet = dict(base, scalefac_long=[2] + [0] * 20)
        d0 = M.decode(M.build_frames([base] * 6))
        d1 = M.decode(M.build_frames([quiet] * 6))
        r0 = float(np.sqrt((d0["samples"][2304:] ** 2).mean()))
        r1 = float(np.sqrt((d1["samples"][2304:] ** 2).mean()))
        assert abs(r0 / r1 - 2.0) < 0.02


class TestMp3ConformanceVector:
    """CI-optional: the real-encoder stream shipped with gsutil
    (publicly distributed test data present in this container).  It
    is digital silence — which makes it a strong conformance anchor
    for everything EXCEPT spectrum tables: 45 frames of real LSF
    side info, real reservoir backpointers (main_data_begin up to
    255), and an exact-zero PCM expectation."""

    VEC = ("/usr/lib/google-cloud-sdk/platform/gsutil/gslib/tests/"
           "test_data/test.mp3")

    @pytest.fixture()
    def payload(self):
        import os

        if not os.path.exists(self.VEC):
            pytest.skip("gsutil conformance vector not present")
        with open(self.VEC, "rb") as fh:
            return fh.read()

    def test_parse_layer_selfconsistent(self, payload):
        from bertrand_spark.pipeline import mp3dec as M

        info = M.parse_stream(payload)
        assert info["version"] == "mpeg2"
        assert info["sample_rate"] == 22050
        assert info["n_channels"] == 1
        assert info["n_frames"] == 45
        assert info["n_bad_side_info"] == 0
        assert not info["is_vbr"]
        assert abs(info["duration_s"] - 45 * 576 / 22050) < 1e-9

    def test_decodes_to_exact_silence_full_coverage(self, payload):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        d = M.decode(payload)
        assert d["coverage"] == 1.0
        assert d["n_granules"] == 45
        assert len(d["samples"]) == 45 * 576
        assert float(np.abs(d["samples"]).max()) == 0.0


class TestMp3SeamIntegration:
    """End-to-end through the Spark seam: a builder-constructed MP3
    decodes to features ('decoded'), a gated-table MP3 reports
    'decode-partial', and the probe's MP3 duration is frame-walk
    exact under VBR (where the round-9 first-frame estimate is
    wrong by construction)."""

    def _tone_mp3(self, n=12):
        from bertrand_spark.pipeline import mp3dec as M

        vals = [0] * 576
        vals[40], vals[41] = 5, -5
        return M.build_frames(
            [{"values": vals, "table": 8, "global_gain": 240}] * n)

    def test_built_mp3_decodes_through_seam(self, spark):
        from bertrand_spark.pipeline.multimodal import (
            extract_audio_features,
        )

        df = spark.createDataFrame(
            [(1, bytearray(self._tone_mp3()))],
            "media_id long, payload binary",
        )
        row = extract_audio_features(df, decode="real").collect()[0]
        assert row.decode_status == "decoded"
        assert row.features is not None
        assert row.features[0] > 0  # duration feature

    def test_gated_mp3_reports_partial(self, spark):
        from bertrand_spark.pipeline import mp3dec as M
        from bertrand_spark.pipeline.multimodal import (
            extract_audio_features,
        )

        vals = [0] * 576
        vals[0] = 3
        specs = [{"values": vals, "table": 5, "declare_table": 13}] \
            + [{"values": vals, "table": 5}] * 3
        df = spark.createDataFrame(
            [(1, bytearray(M.build_frames(specs)))],
            "media_id long, payload binary",
        )
        row = extract_audio_features(df, decode="real").collect()[0]
        assert row.decode_status == "decode-partial"
        assert row.features is None

    def test_probe_exact_vbr_duration(self, spark):
        from bertrand_spark.pipeline import mp3dec as M
        from bertrand_spark.pipeline.multimodal import (
            probe_audio_metadata,
        )

        big = [0] * 576
        for i in range(0, 400, 2):
            big[i] = 5
        quiet = [0] * 576
        quiet[40] = 3
        specs = ([{"values": big, "table": 8}] * 2
                 + [{"values": quiet, "table": 5}] * 6)
        stream = M.build_frames(specs)
        info = M.parse_stream(stream)
        assert info["is_vbr"]
        df = spark.createDataFrame(
            [(1, bytearray(stream))], "media_id long, payload binary")
        row = probe_audio_metadata(df).collect()[0]
        assert row.container == "mp3"
        # frame-walk exact: 4 frames * 1152 samples at 44100
        assert abs(row.duration_s - 4 * 1152 / 44100) < 1e-9
        assert row.sample_rate == 44100 and row.n_channels == 1


def _build_adts(n_frames=10, sr_idx=4, ch_cfg=1, payload_len=40,
                id3=False):
    """Minimal valid ADTS stream: 7-byte headers + dummy payloads."""
    out = bytearray()
    if id3:
        out += b"ID3\x03\x00\x00\x00\x00\x00\x0a" + bytes(10)
    for _ in range(n_frames):
        flen = 7 + payload_len
        h = bytearray(7)
        h[0] = 0xFF
        h[1] = 0xF1            # MPEG-4, layer 00, no CRC
        h[2] = (1 << 6) | (sr_idx << 2) | (ch_cfg >> 2)
        h[3] = ((ch_cfg & 3) << 6) | (flen >> 11)
        h[4] = (flen >> 3) & 0xFF
        h[5] = ((flen & 7) << 5) | 0x1F
        h[6] = 0xFC
        out += h + bytes(payload_len)
    return bytes(out)


def _build_m4a(duration_s=2.5, timescale=1000, rate=44100, ch=2):
    """Minimal ISO-BMFF: ftyp + moov(mvhd + trak/mdia/minf/stbl/stsd
    with one mp4a AudioSampleEntry)."""
    import struct

    def box(tag, body):
        return struct.pack(">I", 8 + len(body)) + tag + body

    mvhd = box(b"mvhd", bytes(4) + bytes(8)
               + struct.pack(">II", timescale,
                             int(duration_s * timescale)) + bytes(80))
    entry = (struct.pack(">I", 36) + b"mp4a" + bytes(6)
             + struct.pack(">H", 1) + bytes(8)
             + struct.pack(">HH", ch, 16) + bytes(4)
             + struct.pack(">I", rate << 16))
    stsd = box(b"stsd", bytes(4) + struct.pack(">I", 1) + entry)
    stbl = box(b"stbl", stsd)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", minf)
    trak = box(b"trak", mdia)
    moov = box(b"moov", mvhd + trak)
    ftyp = box(b"ftyp", b"M4A \x00\x00\x00\x00M4A mp42")
    return ftyp + moov


class TestLossyProbeDepth:
    """Round 10: exact triage for the no-decoder lossy classes — ADTS
    AAC frame walk (explicit frame_length per header) and M4A mvhd +
    mp4a sample entry.  Also pins the ADTS/MP3 sync disambiguation
    (layer bits): before this round ADTS payloads sniffed as mp3."""

    def test_adts_meta_exact(self):
        from bertrand_spark.pipeline.multimodal import _adts_meta

        dur, rate, ch, bits = _adts_meta(_build_adts(n_frames=25))
        assert rate == 44100 and ch == 1 and bits is None
        assert abs(dur - 25 * 1024 / 44100) < 1e-9
        # ID3-prefixed, different rate index, stereo
        dur, rate, ch, _ = _adts_meta(
            _build_adts(n_frames=8, sr_idx=7, ch_cfg=2, id3=True))
        assert rate == 22050 and ch == 2
        assert abs(dur - 8 * 1024 / 22050) < 1e-9

    def test_adts_meta_stops_at_garbage_and_truncation(self):
        from bertrand_spark.pipeline.multimodal import _adts_meta

        s = _build_adts(n_frames=5)
        dur, rate, *_ = _adts_meta(s + b"\x00garbage")
        assert abs(dur - 5 * 1024 / 44100) < 1e-9
        dur2, *_ = _adts_meta(s[:-20])  # truncated final frame
        assert abs(dur2 - 4 * 1024 / 44100) < 1e-9
        assert _adts_meta(b"\xff\xf1") is None
        assert _adts_meta(b"") is None

    def test_m4a_meta_reads_duration_rate_channels(self):
        from bertrand_spark.pipeline.multimodal import _m4a_meta

        dur, rate, ch, bits = _m4a_meta(_build_m4a())
        assert abs(dur - 2.5) < 1e-9
        assert rate == 44100 and ch == 2 and bits is None
        assert _m4a_meta(b"\x00\x00\x00\x08ftyp") in (None,)

    def test_sniff_separates_adts_from_mp3(self):
        from bertrand_spark.pipeline.multimodal import (
            _audio_container_class,
        )

        assert _audio_container_class(_build_adts()) == (
            "aac", "lossy-no-decoder")
        assert _audio_container_class(b"\xff\xfb\x90" + bytes(32)) == (
            "mp3", "lossy-decodable")
        # ID3-prefixed content stays mp3-classed in BOTH sniffs
        assert _audio_container_class(
            _build_adts(id3=True))[0] == "mp3"

    def test_probe_rows_end_to_end(self, spark):
        from bertrand_spark.pipeline.multimodal import (
            probe_audio_metadata,
        )

        rows = [
            (1, bytearray(_build_adts(n_frames=25))),
            (2, bytearray(_build_m4a())),
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        got = {r.media_id: r for r in probe_audio_metadata(df).collect()}
        assert got[1].container == "aac"
        assert abs(got[1].duration_s - 25 * 1024 / 44100) < 1e-6
        assert got[1].sample_rate == 44100 and got[1].n_channels == 1
        assert got[2].container == "m4a"
        assert abs(got[2].duration_s - 2.5) < 1e-6
        assert got[2].sample_rate == 44100 and got[2].n_channels == 2

    def test_native_sniff_parity_with_aac(self, spark):
        from bertrand_spark.pipeline.multimodal import (
            _audio_container_class, audio_format_report,
            extract_audio_features,
        )

        rows = [
            (1, bytearray(_build_adts())),
            (2, bytearray(b"\xff\xfb\x90" + bytes(32))),
            (3, bytearray(_build_m4a())),
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        feats = extract_audio_features(df, decode="real")
        native = {
            r["sniffed_format"]: r["codec_class"]
            for r in audio_format_report(df, feats).collect()
        }
        py = {}
        for _, p in rows:
            c, k = _audio_container_class(bytes(p))
            py[c] = k
        assert native == py == {
            "aac": "lossy-no-decoder",
            "mp3": "lossy-decodable",
            "m4a": "lossy-no-decoder",
        }


class TestMp3ShortBlocksStereoScfsi:
    """Round 10, second pass: the decode paths the first builder
    could not construct — short blocks (window_switching side info,
    short scalefactors, subblock gain, reorder + 12-point IMDCT),
    stereo (MS matrixing, intensity positions) and scfsi reuse."""

    def test_short_block_roundtrip_exact(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        rng = np.random.default_rng(31)
        specs = []
        for _ in range(8):
            vals = [0] * 576
            for i in range(int(rng.integers(4, 80)) * 2):
                vals[i] = int(rng.integers(-5, 6))
            specs.append({
                "values": vals, "table": 8, "block": "short",
                "scalefac_short": [[int(x) for x in
                                    rng.integers(0, 8, 3)]
                                   for _ in range(12)],
                "subblock_gain": [int(x) for x in
                                  rng.integers(0, 8, 3)],
            })
        got = []
        d = M.decode(M.build_frames(specs), _collect_spectra=got)
        assert d["coverage"] == 1.0
        assert d["n_acct_fail"] == 0
        for spec, g in zip(specs, got):
            assert g[3] == spec["values"]
        info = M.parse_stream(M.build_frames(specs))
        assert info["block_types"]["short"] == 8

    def test_short_block_synthesis_is_finite_and_bounded(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        vals = [0] * 576
        # one line per window in short sfb 2 (width 4, lines 24..35
        # in transmission order)
        vals[24], vals[28], vals[32] = 5, 5, 5
        d = M.decode(M.build_frames(
            [{"values": vals, "table": 8, "block": "short",
              "global_gain": 240}] * 8))
        x = d["samples"][2304:]
        assert np.all(np.isfinite(x))
        assert float(np.abs(x).max()) > 0
        # subblock_gain physics: +1 unit must scale its window 2^-2
        quiet = M.decode(M.build_frames(
            [{"values": vals, "table": 8, "block": "short",
              "global_gain": 240, "subblock_gain": [1, 1, 1]}] * 8))
        r0 = float(np.sqrt((x ** 2).mean()))
        r1 = float(np.sqrt((quiet["samples"][2304:] ** 2).mean()))
        assert abs(r0 / r1 - 4.0) < 0.05

    def test_stereo_ms_matrixing(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        mid = [0] * 576
        mid[40] = 5
        side = [0] * 576
        l_spec = {"values": mid, "table": 8, "global_gain": 240}
        r_spec = {"values": side, "table": 8}
        stream = M.build_frames([(l_spec, r_spec)] * 8, mode=1,
                                mode_ext=2)
        d = M.decode(stream, _keep_channels=True)
        assert d["coverage"] == 1.0 and d["n_channels"] == 2
        ch = d["channels"][:, 2304:]
        # side == 0 -> both channels carry mid/sqrt2: identical
        assert float(np.abs(ch[0] - ch[1]).max()) < 1e-9
        assert float(np.abs(ch[0]).max()) > 0
        # plain stereo (no MS): right stays silent
        plain = M.decode(M.build_frames([(l_spec, r_spec)] * 8),
                         _keep_channels=True)
        assert float(np.abs(plain["channels"][1]).max()) == 0.0
        assert float(np.abs(plain["channels"][0]).max()) > 0

    def test_intensity_stereo_positions(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        tone = [0] * 576
        tone[40] = 5  # sfb 8 at 44.1k (lines 36..43)
        l_spec = {"values": tone, "table": 8, "global_gain": 240}
        # right channel all-zero; its scalefactors carry is_pos
        r_spec = {"values": [0] * 576,
                  "scalefac_long": [3] * 21}  # tan(3*pi/12) = 1
        d = M.decode(M.build_frames([(l_spec, r_spec)] * 8, mode=1,
                                    mode_ext=1), _keep_channels=True)
        assert d["coverage"] == 1.0
        ch = d["channels"][:, 2304:]
        # is_pos=3 -> ratio 1 -> equal split
        assert float(np.abs(ch[0] - ch[1]).max()) < 1e-9
        assert float(np.abs(ch[0]).max()) > 0
        # illegal position 7 leaves channels untouched (right silent)
        r7 = {"values": [0] * 576, "scalefac_long": [7] * 21}
        d7 = M.decode(M.build_frames([(l_spec, r7)] * 8, mode=1,
                                     mode_ext=1), _keep_channels=True)
        assert float(np.abs(d7["channels"][1]).max()) == 0.0

    def test_scfsi_reuses_granule0_scalefactors(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        vals = [0] * 576
        vals[0], vals[1] = 5, 5
        sfl = [2] * 21
        spec = {"values": vals, "table": 8, "scalefac_long": sfl,
                "global_gain": 230}
        # all four groups shared: granule 1 writes no scalefactors
        shared = M.build_frames([spec, spec] * 3,
                                scfsi=[1, 1, 1, 1])
        plain = M.build_frames([spec, spec] * 3)
        assert len(shared) <= len(plain)  # fewer main-data bits
        ds = M.decode(shared)
        dp = M.decode(plain)
        assert ds["coverage"] == 1.0 == dp["coverage"]
        # identical audio either way (granule 1 reuses the values
        # granule 0 transmitted)
        n = min(len(ds["samples"]), len(dp["samples"]))
        assert float(np.abs(ds["samples"][:n]
                            - dp["samples"][:n]).max()) < 1e-12

    def test_stereo_roundtrip_spectra(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        rng = np.random.default_rng(8)
        pairs = []
        for _ in range(6):
            pair = []
            for _ch in range(2):
                vals = [0] * 576
                for i in range(int(rng.integers(2, 50)) * 2):
                    vals[i] = int(rng.integers(-5, 6))
                pair.append({"values": vals, "table": 8})
            pairs.append(tuple(pair))
        got = []
        d = M.decode(M.build_frames(pairs), _collect_spectra=got)
        assert d["coverage"] == 1.0
        assert len(got) == 12
        for k, (fi, gr, ch, vals) in enumerate(got):
            assert vals == pairs[2 * fi + gr][ch]["values"]


class TestMp3RegionsPreflagMpeg25:
    """Round 10, third pass: region-boundary decode against builder
    ground truth (distinct tables per region pin r1/r2 = the
    sfb_long[region0_count+1] / [+region1_count+2] computation),
    preflag physics, and MPEG-2.5 8 kHz (the special band tables)."""

    def test_distinct_tables_per_region_roundtrip(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        rng = np.random.default_rng(17)
        specs = []
        for r0c, r1c in ((2, 3), (5, 7), (0, 0), (8, 7)):
            vals = [0] * 576
            sfbl = (0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74,
                    90, 110, 134, 162, 196, 238, 288, 342, 418, 576)
            r1 = sfbl[r0c + 1]
            r2 = sfbl[r0c + r1c + 2]
            # region 0 uses table 1 (max 1), region 1 table 6 (max
            # 3), region 2 table 8 (max 5) — a value out of range for
            # the WRONG table would break the encode, and a decode
            # with misplaced boundaries breaks accounting
            for i in range(0, r1):
                vals[i] = int(rng.integers(-1, 2))
            for i in range(r1, r2):
                vals[i] = int(rng.integers(-3, 4))
            for i in range(r2, min(r2 + 40, 576)):
                vals[i] = int(rng.integers(-5, 6))
            # force the last big line inside the last NONEMPTY
            # region (r2 == 576 makes region 2 empty)
            if r2 < 576:
                vals[min(r2 + 39, 575)] = 5
            elif r1 < r2:
                vals[r2 - 2] = 3
            specs.append({"values": vals, "tables": (1, 6, 8),
                          "region0_count": r0c, "region1_count": r1c})
        got = []
        d = M.decode(M.build_frames(specs), _collect_spectra=got)
        assert d["coverage"] == 1.0 and d["n_acct_fail"] == 0
        for spec, g in zip(specs, got):
            assert g[3] == spec["values"]

    def test_preflag_applies_pretab(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        # pretab is nonzero only from sfb 10 up; put the tone in
        # sfb 16 (lines 162..195 at 44.1k) where pretab == 3
        vals = [0] * 576
        vals[162] = 5
        base = {"values": vals, "table": 8, "global_gain": 240}
        pre = dict(base, preflag=1)
        d0 = M.decode(M.build_frames([base] * 6))
        d1 = M.decode(M.build_frames([pre] * 6))
        r0 = float(np.sqrt((d0["samples"][2304:] ** 2).mean()))
        r1 = float(np.sqrt((d1["samples"][2304:] ** 2).mean()))
        # preflag adds pretab[16]=3 to the scalefactor: 2^-1.5
        assert abs(r0 / r1 - 2.0 ** 1.5) < 0.05

    def test_mpeg25_8khz_roundtrip(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        rng = np.random.default_rng(25)
        specs = []
        for _ in range(6):
            vals = [0] * 576
            for i in range(int(rng.integers(2, 60)) * 2):
                vals[i] = int(rng.integers(-5, 6))
            sfl = [int(x) for x in rng.integers(0, 15, size=21)]
            sfl[11:] = [min(v, 7) for v in sfl[11:]]
            specs.append({"values": vals, "table": 8,
                          "scalefac_long": sfl})
        got = []
        stream = M.build_frames(specs, sample_rate=8000)
        d = M.decode(stream, _collect_spectra=got)
        assert d["coverage"] == 1.0
        assert d["sample_rate"] == 8000
        info = M.parse_stream(stream)
        assert info["version"] == "mpeg2.5"
        for spec, g in zip(specs, got):
            assert g[3] == spec["values"]


class TestHypothesisMp3Parsers:
    """Totality fuzz for the round-10 parsers, mirroring round 9's
    FLAC/EBML pattern: random and magic-prefixed blobs must never
    raise out of parse_stream / decode / _adts_meta / _m4a_meta."""

    @pytest.mark.parametrize("prefix", [
        b"", b"ID3\x03\x00\x00\x00\x00\x00\x10", b"\xff\xfb\x90\x00",
        b"\xff\xf1\x50\x80", b"\x00\x00\x00\x18ftypM4A ",
    ])
    def test_no_raise_on_random_blobs(self, prefix):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M
        from bertrand_spark.pipeline.multimodal import (
            _adts_meta, _m4a_meta,
        )

        rng = np.random.default_rng(len(prefix))
        for _ in range(60):
            blob = prefix + bytes(
                rng.integers(0, 256, size=int(rng.integers(0, 400)),
                             dtype=np.uint8))
            M.parse_stream(blob)
            M.decode(blob)
            _adts_meta(blob)
            _m4a_meta(blob)


class TestMp3MixedBlocks:
    """Mixed blocks (block_type 2 + mixed flag): the last decode path
    without builder coverage — 2 long subbands under long
    scalefactors 0..7, short windows from sfb 3, one antialias
    boundary.  LAME never emits these; other encoders can."""

    def test_mixed_roundtrip_exact(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        rng = np.random.default_rng(61)
        specs = []
        for _ in range(6):
            vals = [0] * 576
            for i in range(int(rng.integers(4, 70)) * 2):
                vals[i] = int(rng.integers(-5, 6))
            sfl = [int(x) for x in rng.integers(0, 8, 21)]
            specs.append({
                "values": vals, "table": 8, "block": "mixed",
                "scalefac_long": sfl,
                "scalefac_short": [[int(x) for x in
                                    rng.integers(0, 8, 3)]
                                   for _ in range(12)],
                "subblock_gain": [int(x) for x in
                                  rng.integers(0, 4, 3)],
            })
        got = []
        stream = M.build_frames(specs)
        d = M.decode(stream, _collect_spectra=got)
        assert d["coverage"] == 1.0 and d["n_acct_fail"] == 0
        for spec, g in zip(specs, got):
            assert g[3] == spec["values"]
        info = M.parse_stream(stream)
        assert info["block_types"]["mixed"] == 6

    def test_mixed_synthesis_finite_and_long_region_physics(self):
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        # a tone in the LONG region (line 10 < 36) must synthesize
        # through the long window of subband 0 exactly as in a long
        # block (same line, same gain) — amplitudes comparable
        vals = [0] * 576
        vals[10] = 5
        mixed = M.decode(M.build_frames(
            [{"values": vals, "table": 8, "block": "mixed",
              "global_gain": 240}] * 8))
        longb = M.decode(M.build_frames(
            [{"values": vals, "table": 8, "global_gain": 240}] * 8))
        xm = mixed["samples"][2304:]
        xl = longb["samples"][2304:]
        assert np.all(np.isfinite(xm))
        rm = float(np.sqrt((xm ** 2).mean()))
        rl = float(np.sqrt((xl ** 2).mean()))
        assert rm > 0 and abs(rm / rl - 1.0) < 0.05


class TestMp3ProbeTagShortcut:
    """probe_info: O(1) Xing-tag duration when the tag carries
    n_frames; header walk otherwise — and both agree on the same
    stream."""

    def _stream_with_tag(self, n_audio_frames=6, lie=None):
        import struct

        from bertrand_spark.pipeline import mp3dec as M

        vals = [0] * 576
        vals[30] = 3
        body = M.build_frames(
            [{"values": vals, "table": 5}] * (2 * n_audio_frames))
        hdr = body[:4]
        tagframe = bytearray(M.parse_header(
            int.from_bytes(hdr, "big")).frame_bytes)
        tagframe[:4] = hdr
        off = 4 + 17
        tagframe[off:off + 4] = b"Xing"
        tagframe[off + 4:off + 8] = struct.pack(">I", 1)
        tagframe[off + 8:off + 12] = struct.pack(
            ">I", lie if lie is not None else n_audio_frames)
        return bytes(tagframe) + body, body

    def test_tag_and_walk_agree(self):
        from bertrand_spark.pipeline import mp3dec as M

        tagged, untagged = self._stream_with_tag()
        via_tag = M.probe_info(tagged)
        via_walk = M.probe_info(untagged)
        assert via_tag["source"] == "tag"
        assert via_walk["source"] == "walk"
        assert abs(via_tag["duration_s"]
                   - via_walk["duration_s"]) < 1e-9
        assert via_tag["sample_rate"] == 44100

    def test_probe_seam_uses_tag_duration(self, spark):
        from bertrand_spark.pipeline.multimodal import (
            probe_audio_metadata,
        )

        tagged, _ = self._stream_with_tag(n_audio_frames=4)
        df = spark.createDataFrame([(1, bytearray(tagged))],
                                   "media_id long, payload binary")
        row = probe_audio_metadata(df).collect()[0]
        assert row.container == "mp3"
        assert abs(row.duration_s - 4 * 1152 / 44100) < 1e-6

    def test_zero_frame_tag_falls_back_to_walk(self):
        from bertrand_spark.pipeline import mp3dec as M

        tagged, _ = self._stream_with_tag(n_audio_frames=6, lie=0)
        got = M.probe_info(tagged)
        # n_frames == 0 is not a usable tag -> the walk answers
        assert got["source"] == "walk"
        assert abs(got["duration_s"] - 6 * 1152 / 44100) < 1e-9


class TestRound10ReviewFixes:
    """Confirmed findings from the round-10 code review, each with a
    pinned regression."""

    def test_mpeg25_8k_mixed_gap_lines_carry_gain(self):
        """Lines [36,72) of an 8 kHz mixed block sit in long sfbs 3-5
        (3*sfb_short[3] == 72 there, not 36): before the fix they got
        NO gain at all — raw |v|^(4/3) amplitude, invisible to bit
        accounting."""
        import numpy as np

        from bertrand_spark.pipeline import mp3dec as M

        g = M.Granule()
        g.part2_3_length = 0
        g.big_values = 0
        g.global_gain = 150          # 2^-15: any gained line is tiny
        g.scalefac_compress = 0
        g.window_switching = 1
        g.block_type = 2
        g.mixed_block = 1
        g.table_select = [0, 0, 0]
        g.subblock_gain = [0, 0, 0]
        g.region0_count = 7
        g.region1_count = 36
        g.preflag = 0
        g.scalefac_scale = 0
        g.count1table_select = 0
        hdr = M.MP3Header(0, 8000, 8000, 0, 3, 0, 0, 576, False)
        vals = [0] * 576
        vals[10], vals[50], vals[80] = 5, 5, 5
        sfl = [0] * 21
        sfs = [[0, 0, 0] for _ in range(13)]
        xr = M._requantize(vals, g, sfl, sfs, hdr, 0)
        gain = 2.0 ** ((150 - 210) / 4.0)
        expect = 5 ** (4.0 / 3.0) * gain
        for line in (10, 50, 80):
            assert abs(xr[line] - expect) < 1e-12, (line, xr[line])
        # and the IMDCT's long-subband count follows the same split
        overlap = np.zeros((32, 18))
        out = M._imdct_granule(xr.copy(), g, hdr, overlap)
        assert np.all(np.isfinite(out))

    def test_capped_decode_keeps_exact_duration(self):
        from bertrand_spark.pipeline import mp3dec as M

        vals = [0] * 576
        vals[20] = 3
        stream = M.build_frames([{"values": vals, "table": 5}] * 12)
        full = M.decode(stream)
        capped = M.decode(stream, max_samples=1152)
        assert len(capped["samples"]) <= 1152
        assert abs(capped["duration_s"] - full["duration_s"]) < 1e-9
        assert abs(full["duration_s"] - 6 * 1152 / 44100) < 1e-9

    def test_id3_tagged_adts_counts_as_skipped_lossy(self, spark):
        from bertrand_spark.pipeline.multimodal import (
            extract_audio_features, probe_audio_metadata,
        )

        payload = _build_adts(n_frames=12, id3=True)
        df = spark.createDataFrame([(1, bytearray(payload))],
                                   "media_id long, payload binary")
        row = extract_audio_features(df, decode="real").collect()[0]
        assert row.decode_status == "skipped-lossy"
        assert row.features is None
        probe = probe_audio_metadata(df).collect()[0]
        assert probe.container == "aac"
        assert abs(probe.duration_s - 12 * 1024 / 44100) < 1e-6

    def test_builder_rejects_lsf_short_blocks(self):
        import pytest as _pytest

        from bertrand_spark.pipeline import mp3dec as M

        with _pytest.raises(AssertionError, match="MPEG-1 only"):
            M.build_frames(
                [{"values": [0] * 576, "block": "short"}],
                sample_rate=22050)
