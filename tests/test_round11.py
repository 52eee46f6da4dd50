"""Round 11 regressions: the four round-10 ADVICE findings.

1 (medium). mp3dec._apply_stereo left the region above the last long
   scalefactor band ([sfb_long[21], 576)) unprocessed — under
   mode_ext==3 (MS+intensity) it stayed raw mid/side yet reported
   coverage 1.0 / 'decoded'.
2 (low). Intensity with a short-block right channel silently applied
   full-spectrum MS instead of being counted; the LSF illegal-position
   marker used slens[0] for every band instead of the per-partition
   slen.
3 (low). The mp3 sniff's (p[1] & 0xE0) == 0xE0 mask also matched
   Layer I/II and reserved-layer sync words, sending undecodable audio
   into the Layer-III-only decoder to come back 'decode-failed'.
4 (low). ADTS channel_configuration 7 means 8 channels (7.1).
"""

import numpy as np
import pytest


def _hdr(mpeg1=True, sr=44100, mode=1, mode_ext=3):
    from bertrand_spark.pipeline.mp3dec import MP3Header

    return MP3Header(
        version=3 if mpeg1 else 2, bitrate=128000, sample_rate=sr,
        padding=0, mode=mode, mode_ext=mode_ext, frame_bytes=417,
        samples_per_frame=1152 if mpeg1 else 576, protection=False,
    )


def _granule(short=False, sc=0):
    from bertrand_spark.pipeline.mp3dec import Granule

    g = Granule()
    g.part2_3_length = 0
    g.big_values = 0
    g.global_gain = 210
    g.scalefac_compress = sc
    g.window_switching = 1 if short else 0
    g.block_type = 2 if short else 0
    g.mixed_block = 0
    g.table_select = [0, 0, 0]
    g.subblock_gain = [0, 0, 0]
    g.region0_count = 0
    g.region1_count = 0
    g.preflag = 0
    g.scalefac_scale = 0
    g.count1table_select = 0
    return g


class TestIntensityAboveLastSfb:
    """Finding 1: intensity/MS must cover [sfb_long[21], 576)."""

    def test_unit_region_above_band21_gets_intensity(self):
        from bertrand_spark.pipeline.mp3dec import _apply_stereo

        hdr = _hdr(mode_ext=3)  # MS + intensity
        xl = np.zeros(576)
        xl[100] = 1.0
        xl[420] = 1.0  # 44.1 kHz: sfb_long[21] = 418
        xr = np.zeros(576)
        sf_r = [3] * 21  # is_pos 3 -> tan(pi/4)=1 -> equal split
        st = _apply_stereo([xl, xr], [_granule(), _granule()], hdr,
                           sf_r)
        assert st is None
        assert xl[100] == pytest.approx(0.5)
        assert xr[100] == pytest.approx(0.5)
        # the pre-fix code left line 420 raw: xl 1.0 / xr 0.0
        assert xl[420] == pytest.approx(0.5)
        assert xr[420] == pytest.approx(0.5)

    def test_unit_illegal_position_falls_back_to_ms_above_band21(self):
        from bertrand_spark.pipeline.mp3dec import _apply_stereo

        hdr = _hdr(mode_ext=3)
        xl = np.zeros(576)
        xl[420] = 1.0
        xr = np.zeros(576)
        sf_r = [3] * 21
        sf_r[20] = 7  # MPEG-1 illegal marker; band 21 reuses band 20
        _apply_stereo([xl, xr], [_granule(), _granule()], hdr, sf_r)
        assert xl[420] == pytest.approx(1.0 / np.sqrt(2.0))
        assert xr[420] == pytest.approx(1.0 / np.sqrt(2.0))

    def test_end_to_end_pcm_channels_match_under_full_intensity(self):
        from bertrand_spark.pipeline import mp3dec as M

        tone = [0] * 576
        tone[40] = 5
        tone[420] = 3  # above sfb_long[21] = 418 at 44.1 kHz
        l_spec = {"values": tone, "table": 8, "global_gain": 240}
        r_spec = {"values": [0] * 576, "scalefac_long": [3] * 21}
        d = M.decode(M.build_frames([(l_spec, r_spec)] * 8, mode=1,
                                    mode_ext=1), _keep_channels=True)
        assert d["coverage"] == 1.0
        ch = d["channels"][:, 2304:]
        # is_pos 3 everywhere (band 21 reuses band 20) -> channels
        # identical; pre-fix the 420-line content stayed left-only
        assert float(np.abs(ch[0] - ch[1]).max()) < 1e-9
        assert float(np.abs(ch[0]).max()) > 0


class TestLsfIllegalPerPartition:
    """Finding 2b: LSF illegal marker is (1<<slen_of_partition)-1."""

    def test_partition2_slen1_band_is_legal_at_zero(self):
        from bertrand_spark.pipeline.mp3dec import _apply_stereo

        hdr = _hdr(mpeg1=False, sr=22050, mode_ext=1)
        # intensity-channel layout: si=1 -> slens (0,0,1,0), table 3
        # (partitions of 7/7/7 long bands): bands 0-6 slen 0 (illegal
        # marker 0), bands 14-20 slen 1 (illegal marker 1)
        g_r = _granule(sc=2)
        xl = np.zeros(576)
        xl[210] = 1.0  # 22.05 kHz band 15: lines 200..237
        xr = np.zeros(576)
        sf_r = [0] * 21
        _apply_stereo([xl, xr], [_granule(), g_r], hdr, sf_r)
        # band 15's is_pos 0 is LEGAL (marker is 1 there): LSF law
        # is_pos 0 -> both channels get the full signal.  The pre-fix
        # slens[0] marker (0) treated it as illegal and left xr silent.
        assert xl[210] == pytest.approx(1.0)
        assert xr[210] == pytest.approx(1.0)

    def test_partition2_slen1_illegal_at_one_stays_raw(self):
        from bertrand_spark.pipeline.mp3dec import _apply_stereo

        hdr = _hdr(mpeg1=False, sr=22050, mode_ext=1)
        g_r = _granule(sc=2)
        xl = np.zeros(576)
        xl[210] = 1.0
        xr = np.zeros(576)
        sf_r = [0] * 21
        sf_r[15] = 1  # the partition-2 illegal marker
        _apply_stereo([xl, xr], [_granule(), g_r], hdr, sf_r)
        assert xl[210] == pytest.approx(1.0)
        assert xr[210] == 0.0


class TestShortBlockIntensityGates:
    """Finding 2a: unimplemented intensity shapes are COUNTED, never
    approximated with full-spectrum MS."""

    def test_unit_returns_gated(self):
        from bertrand_spark.pipeline.mp3dec import _apply_stereo

        hdr = _hdr(mode_ext=1)
        xl = np.zeros(576)
        xl[40] = 1.0
        xr = np.zeros(576)
        st = _apply_stereo([xl, xr], [_granule(), _granule(short=True)],
                           hdr, [0] * 21)
        assert st == "gated"
        assert xl[40] == 1.0  # untouched: caller zeroes and counts

    def test_decode_counts_gated_and_emits_silence(self):
        from bertrand_spark.pipeline import mp3dec as M

        tone = [0] * 576
        tone[40] = 5
        l_spec = {"values": tone, "table": 8, "global_gain": 240}
        r_short = {"values": [0] * 576, "block": "short"}
        d = M.decode(M.build_frames([(l_spec, r_short)] * 8, mode=1,
                                    mode_ext=1), _keep_channels=True)
        assert d["coverage"] == 0.0
        assert d["n_gated"] == d["n_granules"]
        assert d["n_acct_fail"] == 0
        assert float(np.abs(d["channels"]).max()) == 0.0

    def test_seam_reports_decode_partial(self):
        from bertrand_spark.pipeline import mp3dec as M
        from bertrand_spark.pipeline.multimodal import _mp3_gated_decode

        tone = [0] * 576
        tone[40] = 5
        l_spec = {"values": tone, "table": 8, "global_gain": 240}
        r_short = {"values": [0] * 576, "block": "short"}
        blob = M.build_frames([(l_spec, r_short)] * 8, mode=1,
                              mode_ext=1)
        dec, status = _mp3_gated_decode(blob)
        assert dec is None
        assert status == "decode-partial"


def _build_adts_frame(ch_cfg, n_frames=4, payload_len=40):
    out = bytearray()
    for _ in range(n_frames):
        flen = 7 + payload_len
        h = bytearray(7)
        h[0] = 0xFF
        h[1] = 0xF1
        h[2] = (1 << 6) | (4 << 2) | (ch_cfg >> 2)
        h[3] = ((ch_cfg & 3) << 6) | (flen >> 11)
        h[4] = (flen >> 3) & 0xFF
        h[5] = ((flen & 7) << 5) | 0x1F
        h[6] = 0xFC
        out += h + bytes(payload_len)
    return bytes(out)


class TestLayer12SniffRouting:
    """Finding 3: only Layer III is lossy-decodable; Layer I/II sync
    words are the routed-around 'mpeg-audio' skip class."""

    def test_python_sniff_layers(self):
        from bertrand_spark.pipeline.multimodal import (
            _audio_container_class,
        )

        assert _audio_container_class(b"\xff\xfb\x90" + bytes(32)) == (
            "mp3", "lossy-decodable")        # Layer III
        assert _audio_container_class(b"\xff\xfd\x90" + bytes(32)) == (
            "mpeg-audio", "lossy-no-decoder")  # Layer II
        assert _audio_container_class(b"\xff\xff\x90" + bytes(32)) == (
            "mpeg-audio", "lossy-no-decoder")  # Layer I
        assert _audio_container_class(b"\xff\xe4\x90" + bytes(32)) == (
            "mpeg-audio", "lossy-no-decoder")  # reserved layer

    def test_native_sniff_parity_and_skip_status(self, spark):
        from bertrand_spark.pipeline.multimodal import (
            _audio_container_class, audio_format_report,
            extract_audio_features,
        )

        rows = [
            (1, bytearray(b"\xff\xfd\x90" + bytes(64))),  # Layer II
            (2, bytearray(b"\xff\xfb\x90" + bytes(64))),  # Layer III
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        feats = extract_audio_features(df, decode="real")
        by_id = {r.media_id: r.decode_status for r in feats.collect()}
        assert by_id[1] == "skipped-lossy"   # never enters the decoder
        assert by_id[2] == "decode-failed"   # attempted, not a frame
        native = {
            r["sniffed_format"]: r["codec_class"]
            for r in audio_format_report(df, feats).collect()
        }
        py = {}
        for _, p in rows:
            c, k = _audio_container_class(bytes(p))
            py[c] = k
        assert native == py
        assert native["mpeg-audio"] == "lossy-no-decoder"

    def test_id3_tagged_layer2_unmasks_as_skipped_lossy(self):
        from bertrand_spark.pipeline.multimodal import (
            _audio_container_class, _mp3_gated_decode,
        )

        frame = b"\xff\xfd\x90" + bytes(100)
        blob = (b"ID3\x03\x00\x00\x00\x00\x00\x0a" + bytes(10)
                + frame * 4)
        # the sniff cannot skip the variable-length tag: stays mp3
        assert _audio_container_class(blob)[0] == "mp3"
        dec, status = _mp3_gated_decode(blob)
        assert dec is None
        assert status == "skipped-lossy"


class TestAdtsChannelConfig7:
    """Finding 4: ADTS channel_configuration 7 is 8 channels (7.1)."""

    def test_ch_cfg_7_reports_8_channels(self):
        from bertrand_spark.pipeline.multimodal import _adts_meta

        meta = _adts_meta(_build_adts_frame(7))
        assert meta is not None
        assert meta[2] == 8

    def test_other_ch_cfgs_verbatim(self):
        from bertrand_spark.pipeline.multimodal import _adts_meta

        assert _adts_meta(_build_adts_frame(2))[2] == 2
        assert _adts_meta(_build_adts_frame(6))[2] == 6
        assert _adts_meta(_build_adts_frame(0))[2] is None


class TestHtmlExtract:
    """Round 11: extract_html_text — the HTML→text main-content
    extractor (stdlib html.parser; drop subtrees, block segmentation,
    link-density boilerplate filter, entity unescape)."""

    def test_basic_page(self):
        from bertrand_spark.pipeline.htmltext import _extract_one

        html = (
            '<html><head><title>T</title><script>var x=1;</script>'
            '<style>p{color:red}</style></head><body>'
            '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
            '<h1>Big &amp; Bold</h1>'
            '<p>Hello <b>world</b>, the main article body with '
            'plenty of words to clear the filter.</p>'
            '<footer><a href="/tos">Terms</a></footer></body></html>'
        )
        got = _extract_one(html)
        assert got == (
            "Big & Bold\nHello world, the main article body with "
            "plenty of words to clear the filter."
        )

    def test_nav_outside_nav_tag_dropped_by_link_density(self):
        from bertrand_spark.pipeline.htmltext import _extract_one

        html = (
            "<p>Real content sentence with enough words to stay in "
            "the output today.</p>"
            '<div><a href="/1">alpha</a> <a href="/2">beta</a> '
            '<a href="/3">gamma</a></div>'
        )
        got = _extract_one(html)
        assert "alpha" not in got
        assert got.startswith("Real content")

    def test_short_link_heavy_block_dropped_long_one_kept(self):
        from bertrand_spark.pipeline.htmltext import _extract_one

        pager = '<p><a href="/next">next</a> page</p>'
        assert _extract_one(pager) == ""
        # a long block over the soft threshold survives even with a link
        longb = (
            '<p><a href="/x">anchor text here</a> plus a long tail of '
            "ordinary prose words that keeps the link density low and "
            "the word count high.</p>"
        )
        assert "anchor text here" in _extract_one(longb)

    def test_nested_and_malformed_markup(self):
        from bertrand_spark.pipeline.htmltext import _extract_one

        assert _extract_one("<p><b>broken <p>nested <i>tags") == \
            "broken\nnested tags"
        assert _extract_one("") == ""
        assert _extract_one("plain text, no markup") == \
            "plain text, no markup"
        assert _extract_one(None) is None
        # comment and unclosed script subtrees vanish
        assert _extract_one(
            "<!-- hidden -->visible<script>var x = 'gone'"
        ) == "visible"

    def test_entities_and_charrefs(self):
        from bertrand_spark.pipeline.htmltext import _extract_one

        assert _extract_one("<p>a &lt;tag&gt; &amp; &#65;&#x42;</p>") \
            == "a <tag> & AB"

    def test_block_segmentation_joins_with_newlines(self):
        from bertrand_spark.pipeline.htmltext import _extract_one

        html = "<h2>one</h2><p>two</p><div>three</div><li>four</li>"
        assert _extract_one(html) == "one\ntwo\nthree\nfour"
        assert _extract_one("line a<br>line b") == "line a\nline b"

    def test_whitespace_normalized_within_blocks(self):
        from bertrand_spark.pipeline.htmltext import _extract_one

        assert _extract_one("<p>  a\n\t b   c  </p>") == "a b c"

    def test_fuzz_never_raises(self):
        import random

        from bertrand_spark.pipeline.htmltext import _extract_one

        rng = random.Random(1131)
        alphabet = "<>/ab &;#!=\"'-\x00€\xc3\x82p"
        for _ in range(400):
            s = "".join(rng.choice(alphabet)
                        for _ in range(rng.randrange(0, 200)))
            out = _extract_one(s)
            assert out is None or isinstance(out, str)

    def test_spark_column_udf(self, spark):
        from bertrand_spark.pipeline.htmltext import extract_html_text

        df = spark.createDataFrame(
            [(1, "<p>hello world</p>"), (2, None)],
            "id long, html string",
        )
        rows = {r.id: r.out for r in df.select(
            "id", extract_html_text("html").alias("out")).collect()}
        assert rows[1] == "hello world"
        assert rows[2] is None


class TestFixMojibake:
    """Round 11: fix_mojibake — deterministic double-encoding repair
    with a no-change guarantee on clean text."""

    CASES = [
        "naïve café — déjà vu",
        "Größe straße übermäßig",
        "日本語のテキスト",
        "curly “quotes” and – dashes…",
        "mixed ascii + é + 中文",
    ]

    def test_latin1_class_exact_recovery(self):
        from bertrand_spark.pipeline.htmltext import _fix_one

        for t in self.CASES:
            m = t.encode("utf-8").decode("latin-1")
            fixed, status = _fix_one(m)
            assert status == "fixed", (t, m)
            assert fixed == t

    def test_cp1252_class_exact_recovery(self):
        from bertrand_spark.pipeline.htmltext import _fix_one

        for t in self.CASES:
            try:
                m = t.encode("utf-8").decode("cp1252")
            except UnicodeDecodeError:
                # bytes unmapped in strict cp1252: the sloppy variant
                m = "".join(
                    bytes([b]).decode("cp1252", "ignore") or chr(b)
                    for b in t.encode("utf-8")
                )
            fixed, status = _fix_one(m)
            assert status == "fixed", (t, m)
            assert fixed == t

    def test_double_encoded_exact_recovery(self):
        from bertrand_spark.pipeline.htmltext import _fix_one

        for t in self.CASES:
            m = t.encode("utf-8").decode("latin-1")
            dbl = m.encode("utf-8").decode("latin-1")
            fixed, status = _fix_one(dbl)
            assert status == "fixed"
            assert fixed == t

    def test_clean_text_untouched(self):
        from bertrand_spark.pipeline.htmltext import _fix_one

        for t in self.CASES + [
            "plain ascii - with hyphens, 100% clean!",
            "",
        ]:
            fixed, status = _fix_one(t)
            assert status == "clean"
            assert fixed is t  # byte-identical, not a copy

    def test_ambiguous_flagged_not_altered(self):
        from bertrand_spark.pipeline.htmltext import _fix_one

        # a bare C1 control is an indicator but no re-encode fixes it
        s = "text with a stray \x81 control"
        fixed, status = _fix_one(s)
        assert status == "ambiguous"
        assert fixed == s

    def test_none_passthrough(self):
        from bertrand_spark.pipeline.htmltext import _fix_one

        assert _fix_one(None) == (None, None)

    def test_fuzz_never_raises_and_never_corrupts_clean(self):
        import random

        from bertrand_spark.pipeline.htmltext import (
            _INDICATOR, _fix_one,
        )

        rng = random.Random(48)
        pool = ("abc déjà ß € — \x81\x92 Ã© Ã¼ â€œ ascii "
                "中 文 Â ")
        for _ in range(500):
            s = "".join(rng.choice(pool)
                        for _ in range(rng.randrange(0, 60)))
            fixed, status = _fix_one(s)
            assert status in ("clean", "fixed", "ambiguous")
            if status != "fixed":
                assert fixed == s
            if not _INDICATOR.search(s):
                assert status == "clean" and fixed is s

    def test_spark_struct_udf(self, spark):
        from bertrand_spark.pipeline.htmltext import fix_mojibake

        t = "déjà vu"
        m = t.encode("utf-8").decode("latin-1")
        df = spark.createDataFrame(
            [(1, m), (2, "clean"), (3, None)], "id long, text string"
        )
        out = {r.id: r.fixed for r in df.select(
            "id", fix_mojibake("text").alias("fixed")).collect()}
        assert out[1].text == t and out[1].status == "fixed"
        assert out[2].text == "clean" and out[2].status == "clean"
        assert out[3].text is None and out[3].status is None


class TestWarcReader:
    """Round 11: read_warc — WARC crawl-archive ingestion (gzip member
    walk, record headers, HTTP envelope split), gated by the in-repo
    writer per the codec recipe."""

    RECS = [
        {"url": "http://a.example/", "ts": "2026-01-01T00:00:00Z",
         "body": b"<html><body><p>hello world page with enough words "
                 b"to keep</p></body></html>"},
        {"url": "http://b.example/img", "ts": "2026-01-01T00:00:01Z",
         "body": b"\x89PNG fakepixels", "mime": "image/png",
         "status": 404},
        {"url": "http://c.example/raw", "ts": "2026-01-01T00:00:02Z",
         "body": b"rawbytes", "http": False,
         "record_type": "resource", "mime": "text/plain"},
    ]

    def test_kernel_roundtrip_gz_and_plain(self):
        from bertrand_spark.sources.warc import parse_warc, warc_write

        for gz in (True, False):
            blob = warc_write(self.RECS, gzip_members=gz)
            got = parse_warc(blob, record_types=())
            assert [r[0] for r in got] == [r["url"] for r in self.RECS]
            assert got[0][3] == "text/html" and got[0][5] == 200
            assert got[1][3] == "image/png" and got[1][5] == 404
            assert got[1][6] == b"\x89PNG fakepixels"
            assert got[2][2] == "resource" and got[2][5] is None
            assert got[2][6] == b"rawbytes"

    def test_response_filter_default(self):
        from bertrand_spark.sources.warc import parse_warc, warc_write

        got = parse_warc(warc_write(self.RECS))
        assert [r[2] for r in got] == ["response", "response"]

    def test_truncation_degrades_to_parsed_prefix(self):
        from bertrand_spark.sources.warc import parse_warc, warc_write

        blob = warc_write(self.RECS)
        # cut mid-way: only complete leading members survive
        for cut in (len(blob) - 3, len(blob) // 2, 10, 1, 0):
            got = parse_warc(blob[:cut], record_types=())
            assert len(got) <= len(self.RECS)
            for r in got:  # whatever parsed is intact
                assert r[0].startswith("http://")

    def test_fuzz_never_raises(self):
        import random

        from bertrand_spark.sources.warc import parse_warc, warc_write

        rng = random.Random(1148)
        blob = bytearray(warc_write(self.RECS))
        for _ in range(200):
            b = bytearray(blob)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            out = parse_warc(bytes(b), record_types=())
            assert isinstance(out, list)
        for _ in range(100):
            junk = bytes(rng.randrange(256)
                         for _ in range(rng.randrange(0, 300)))
            assert isinstance(parse_warc(junk), list)

    def test_spark_read_warc(self, spark, tmp_path):
        from bertrand_spark.sources.warc import read_warc, warc_write

        d = tmp_path / "warcs"
        d.mkdir()
        (d / "a.warc.gz").write_bytes(warc_write(self.RECS))
        (d / "b.warc.gz").write_bytes(warc_write([self.RECS[0]]))
        df = read_warc(spark, str(d))
        rows = df.collect()
        assert len(rows) == 3  # responses only by default
        assert {r.url for r in rows} == {
            "http://a.example/", "http://b.example/img"}
        r = [x for x in rows if x.url == "http://a.example/"][0]
        assert r.mime == "text/html" and r.http_status == 200
        assert bytes(r.payload).startswith(b"<html>")
        # no shuffle in the plan: file scan -> arrow eval only
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_composes_with_extract_html_text(self, spark, tmp_path):
        from bertrand_spark.pipeline.htmltext import extract_html_text
        from bertrand_spark.sources.warc import read_warc, warc_write

        f = tmp_path / "c.warc.gz"
        f.write_bytes(warc_write(self.RECS))
        df = read_warc(spark, str(f))
        out = (
            df.filter(df.mime == "text/html")
            .select(
                "url",
                extract_html_text(
                    df.payload.cast("string")).alias("text"),
            )
        ).collect()
        assert len(out) == 1
        assert out[0].text == ("hello world page with enough words "
                               "to keep")


class TestProbeGatedVideoSampling:
    """Round 11: sample_video_frames routes through the vids-strh
    fourcc probe (skip-list parity with the audio seam) — a declared
    non-MJPEG codec never pays the movi chunk walk."""

    def _mjpeg_avi(self, n=3, w=16, h=8):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            avi_mjpeg_encode, jpeg_encode,
        )

        rng = np.random.default_rng(11)
        frames = [
            jpeg_encode(
                w, h, 3,
                rng.integers(0, 256, size=(h, w, 3),
                             dtype=np.uint8).tobytes(),
                quality=100,
            )
            for _ in range(n)
        ]
        return avi_mjpeg_encode(frames, w, h)

    def test_fourcc_probe_reads_strh(self):
        from bertrand_spark.pipeline.multimodal import _avi_vids_fourcc

        avi = self._mjpeg_avi()
        assert _avi_vids_fourcc(avi) == b"MJPG"
        assert _avi_vids_fourcc(
            bytes(avi).replace(b"vidsMJPG", b"vidsH264")) == b"H264"
        assert _avi_vids_fourcc(b"RIFF\x00\x00\x00\x00AVI ") is None

    def test_declared_h264_routed_around_even_with_jpeg_chunks(self):
        from bertrand_spark.pipeline.multimodal import _avi_mjpeg_frames

        avi = self._mjpeg_avi()
        assert len(_avi_mjpeg_frames(avi)) == 3
        # same chunks (REAL JPEGs) but the stream DECLARES H.264: the
        # pre-fix path would have decoded them; the gate skips the walk
        h264 = bytes(avi).replace(b"vidsMJPG", b"vidsH264")
        assert _avi_mjpeg_frames(h264) == []

    def test_missing_strh_falls_through_to_magic_check(self):
        import struct

        from bertrand_spark.pipeline.multimodal import (
            _avi_mjpeg_frames, jpeg_encode,
        )

        jpeg = jpeg_encode(8, 8, 3, bytes(8 * 8 * 3), quality=90)

        def chunk(tag, body):
            return tag + struct.pack("<I", len(body)) + body + (
                b"\x00" if len(body) & 1 else b"")

        movi = chunk(b"LIST", b"movi" + chunk(b"00dc", jpeg))
        body = b"AVI " + movi  # no hdrl/strh at all
        avi = b"RIFF" + struct.pack("<I", len(body)) + body
        got = _avi_mjpeg_frames(avi)
        assert len(got) == 1 and got[0][:2] == b"\xff\xd8"

    def test_spark_sampler_end_to_end_gate(self, spark):
        from bertrand_spark.pipeline.multimodal import sample_video_frames

        avi = self._mjpeg_avi()
        rows = [
            (1, bytearray(avi)),
            (2, bytearray(bytes(avi).replace(b"vidsMJPG", b"vidsVP90"))),
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        got = sample_video_frames(
            df, every_n=1, max_frames=8, decode="real").collect()
        assert {r.media_id for r in got} == {1}
        assert len(got) == 3


def _build_mpeg12(layer=2, n_frames=6, bitrate_idx=8, sr_idx=0,
                  mode=0, id3=False):
    """Minimal consistent MPEG-1 Layer I/II stream: valid headers +
    zero payloads of the exact computed frame length."""
    rates = (44100, 48000, 32000)
    l1 = (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
          384, 416, 448)
    l2 = (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
          320, 384)
    out = bytearray()
    if id3:
        out += b"ID3\x03\x00\x00\x00\x00\x00\x0a" + bytes(10)
    layer_bits = 3 if layer == 1 else 2
    for _ in range(n_frames):
        br = (l1 if layer == 1 else l2)[bitrate_idx] * 1000
        r = rates[sr_idx]
        if layer == 1:
            flen = (12 * br // r) * 4
        else:
            flen = 144 * br // r
        h = bytearray(4)
        h[0] = 0xFF
        h[1] = 0xE0 | (3 << 3) | (layer_bits << 1) | 1
        h[2] = (bitrate_idx << 4) | (sr_idx << 2)
        h[3] = mode << 6
        out += h + bytes(flen - 4)
    return bytes(out)


class TestMpeg12Probe:
    """Round 11: exact Layer I/II triage for the 'mpeg-audio' class —
    the same struct-read frame walk as every other container."""

    def test_layer2_duration_rate_channels(self):
        from bertrand_spark.pipeline.multimodal import _mpeg12_meta

        dur, rate, ch, bits = _mpeg12_meta(_build_mpeg12(n_frames=9))
        assert abs(dur - 9 * 1152 / 44100) < 1e-9
        assert rate == 44100 and ch == 2 and bits is None

    def test_layer1_and_mono_and_id3(self):
        from bertrand_spark.pipeline.multimodal import _mpeg12_meta

        dur, rate, ch, _ = _mpeg12_meta(
            _build_mpeg12(layer=1, n_frames=5, bitrate_idx=4,
                          sr_idx=2, mode=3, id3=True))
        assert abs(dur - 5 * 384 / 32000) < 1e-9
        assert rate == 32000 and ch == 1

    def test_rejects_layer3_truncation_and_junk(self):
        from bertrand_spark.pipeline.multimodal import _mpeg12_meta

        blob = _build_mpeg12(n_frames=6)
        assert _mpeg12_meta(b"\xff\xfb\x90" + bytes(400)) is None
        assert _mpeg12_meta(blob[:100]) is None  # <2 complete frames
        assert _mpeg12_meta(b"junk") is None
        # truncated tail: walk stops, complete frames still count
        d_full = _mpeg12_meta(blob)[0]
        d_cut = _mpeg12_meta(blob[:-50])[0]
        assert d_cut < d_full

    def test_probe_rows_end_to_end(self, spark):
        from bertrand_spark.pipeline.multimodal import (
            probe_audio_metadata,
        )

        rows = [
            (1, bytearray(_build_mpeg12(n_frames=8))),
            (2, bytearray(_build_mpeg12(layer=1, n_frames=4,
                                        bitrate_idx=4, id3=True))),
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        got = {r.media_id: r for r in
               probe_audio_metadata(df).collect()}
        assert got[1].container == "mpeg-audio"
        assert abs(got[1].duration_s - 8 * 1152 / 44100) < 1e-6
        assert got[2].container == "mpeg-audio"
        assert abs(got[2].duration_s - 4 * 384 / 44100) < 1e-6

    def test_fuzz_never_raises(self):
        import random

        from bertrand_spark.pipeline.multimodal import _mpeg12_meta

        rng = random.Random(112)
        blob = bytearray(_build_mpeg12(n_frames=6))
        for _ in range(150):
            b = bytearray(blob)
            for _ in range(rng.randrange(1, 5)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            r = _mpeg12_meta(bytes(b))
            assert r is None or r[1] in (44100, 48000, 32000,
                                         22050, 24000, 16000,
                                         11025, 12000, 8000)


class TestDecodeHtmlBytes:
    """Round 11: charset-aware payload decode — the byte-level seam
    between read_warc and extract_html_text (WHATWG order: BOM >
    transport charset > meta charset > UTF-8 > total latin-1)."""

    def test_utf8_default(self):
        from bertrand_spark.pipeline.htmltext import _decode_html_one

        t = "déjà vu 中文"
        assert _decode_html_one(t.encode("utf-8")) == t
        assert _decode_html_one(None) is None

    def test_transport_charset_wins_over_utf8_guess(self):
        from bertrand_spark.pipeline.htmltext import _decode_html_one

        assert _decode_html_one("café".encode("latin-1"),
                                "iso-8859-1") == "café"

    def test_meta_charset_read_from_head(self):
        from bertrand_spark.pipeline.htmltext import _decode_html_one

        b = (b'<html><meta charset="windows-1252"><body>'
             b'caf\xe9 \x93q\x94</body>')
        got = _decode_html_one(b)
        assert "café" in got and "“q”" in got

    def test_bom_wins_over_declared_and_is_stripped(self):
        import codecs

        from bertrand_spark.pipeline.htmltext import _decode_html_one

        t = "déjà"
        for bom, enc in ((codecs.BOM_UTF16_LE, "utf-16-le"),
                         (codecs.BOM_UTF16_BE, "utf-16-be"),
                         (codecs.BOM_UTF8, "utf-8")):
            b = bom + t.encode(enc)
            assert _decode_html_one(b, "latin-1") == t

    def test_unknown_charset_and_garbage_never_fail(self):
        from bertrand_spark.pipeline.htmltext import _decode_html_one

        assert isinstance(
            _decode_html_one(b"abc", "no-such-charset-xyz"), str)
        assert isinstance(_decode_html_one(b"\xff\xfe\xfd\x00"), str)
        out = _decode_html_one(b"caf\xe9")  # bare latin-1, no decl
        assert out == "café"  # utf-8 fails -> latin-1 fallback

    def test_warc_charset_column_flows_through(self, spark, tmp_path):
        from bertrand_spark.pipeline.htmltext import (
            decode_html_bytes, extract_html_text,
        )
        from bertrand_spark.sources.warc import read_warc, warc_write

        body = ("<p>résumé naïve crawl page with enough plain words "
                "to keep the block</p>").encode("latin-1")
        f = tmp_path / "cs.warc.gz"
        f.write_bytes(warc_write([
            {"url": "http://l1.example/", "ts": "2026-01-01T00:00:00Z",
             "body": body, "charset": "iso-8859-1"},
        ]))
        df = read_warc(spark, str(f))
        row = df.collect()[0]
        assert row.charset == "iso-8859-1"
        out = df.select(
            extract_html_text(
                decode_html_bytes(df.payload, df.charset)
            ).alias("text")
        ).collect()[0]
        assert out.text.startswith("résumé naïve crawl page")


class TestRound11SelfReview:
    """Round 11 self-review closures: adversarial negative
    Content-Length in a WARC record; left-channel short blocks under
    intensity."""

    def test_warc_negative_content_length_terminates(self):
        from bertrand_spark.sources.warc import parse_warc

        rec = (b"WARC/1.0\r\n"
               b"WARC-Type: response\r\n"
               b"WARC-Target-URI: http://x/\r\n"
               b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
               b"Content-Length: -40\r\n\r\n"
               b"HTTP/1.1 200 OK\r\n\r\nbody\r\n\r\n")
        # must return (not hang) and yield nothing for the bad record
        assert parse_warc(rec, record_types=()) == []

    def test_left_short_block_intensity_gates(self):
        from bertrand_spark.pipeline.mp3dec import _apply_stereo

        hdr = _hdr(mode_ext=1)
        xl = np.zeros(576)
        xl[40] = 1.0
        xr = np.zeros(576)
        st = _apply_stereo([xl, xr],
                           [_granule(short=True), _granule()],
                           hdr, [0] * 21)
        assert st == "gated"
        # MS-only (no intensity) stays exact for short blocks
        hdr2 = _hdr(mode_ext=2)
        st2 = _apply_stereo([xl, xr],
                            [_granule(short=True), _granule(short=True)],
                            hdr2, [0] * 21)
        assert st2 is None
        assert xl[40] == pytest.approx(1.0 / np.sqrt(2.0))

    def test_mojibaked_emoji_recovers(self):
        from bertrand_spark.pipeline.htmltext import _fix_one

        t = "smile 😀 and 🎉 done"
        m = t.encode("utf-8").decode("latin-1")
        fixed, status = _fix_one(m)
        assert status == "fixed" and fixed == t


class TestExtractHtmlMetadata:
    """Round 11: head-only page metadata extraction."""

    PAGE = (
        '<html lang="en-US"><head><title>My  Page\n Title</title>'
        '<meta name="description" content="A fine page.">'
        '<meta name="keywords" content="a,b,c">'
        '<meta property="og:title" content="OG Title">'
        '<link rel="canonical" href="http://x.example/canon">'
        '</head><body><title>decoy</title>'
        '<p>body text</p></body></html>'
    )

    def test_fields(self):
        from bertrand_spark.pipeline.htmltext import _page_meta_one

        t = _page_meta_one(self.PAGE)
        assert t == ("My Page Title", "A fine page.", "a,b,c",
                     "en-US", "http://x.example/canon", "OG Title",
                     None)

    def test_body_title_not_collected_and_degrades(self):
        from bertrand_spark.pipeline.htmltext import _page_meta_one

        assert _page_meta_one("<p>no head</p>")[0] is None
        assert _page_meta_one(None) == (None,) * 7
        assert _page_meta_one("<title>unclosed <b>junk")[0] == \
            "unclosed junk"

    def test_fuzz_never_raises(self):
        import random

        from bertrand_spark.pipeline.htmltext import _page_meta_one

        rng = random.Random(1153)
        alphabet = "<>/ab &;#!=\"'-meta title link head body lang "
        for _ in range(300):
            s = "".join(rng.choice(alphabet)
                        for _ in range(rng.randrange(0, 150)))
            t = _page_meta_one(s)
            assert len(t) == 7

    def test_spark_struct(self, spark):
        from bertrand_spark.pipeline.htmltext import (
            extract_html_metadata,
        )

        df = spark.createDataFrame(
            [(1, self.PAGE), (2, None)], "id long, html string")
        out = {r.id: r.m for r in df.select(
            "id", extract_html_metadata("html").alias("m")).collect()}
        assert out[1].title == "My Page Title"
        assert out[1].lang == "en-US"
        assert out[2].title is None


class TestUrlHygiene:
    """Round 11: normalize_url / url_parts — fully native (regexp +
    parse_url), the canonicalization that makes URL-level dedup and
    grouping meaningful."""

    CASES = [
        ("HTTP://Example.COM:80/Path?utm_source=x&a=1#frag",
         "http://example.com/Path?a=1"),
        ("https://h.example:443/", "https://h.example"),
        ("https://h.example/p?fbclid=abc", "https://h.example/p"),
        ("https://h.example/p?a=1&gclid=2&b=3",
         "https://h.example/p?a=1&b=3"),
        ("https://h.example/p?utm_a=1&utm_b=2&utm_c=3&x=1",
         "https://h.example/p?x=1"),
        ("http://plain.example/path?keep=1",
         "http://plain.example/path?keep=1"),
        ("https://h.example:8443/p", "https://h.example:8443/p"),
        (None, None),
    ]

    def test_normalize(self, spark):
        from bertrand_spark.pipeline.htmltext import normalize_url

        df = spark.createDataFrame(
            [(i, u) for i, (u, _) in enumerate(self.CASES)],
            "id long, url string")
        got = {r.id: r.n for r in df.select(
            "id", normalize_url("url").alias("n")).collect()}
        for i, (_, want) in enumerate(self.CASES):
            assert got[i] == want, (i, got[i], want)

    def test_parts_and_plan_is_native(self, spark):
        from bertrand_spark.pipeline.htmltext import (
            normalize_url, url_parts,
        )

        df = spark.createDataFrame(
            [("HTTPS://A.Example/P?q=1",)], "url string")
        p = df.select(url_parts("url").alias("p")).collect()[0].p
        assert (p.scheme, p.host, p.path, p.query) == (
            "https", "a.example", "/P", "q=1")
        plan = df.select(
            normalize_url("url"), url_parts("url")
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan  # fully JVM-native


class TestStreamExtractWarc:
    """Round 11: streaming crawl ingest — the WARC twin of
    stream_decode_media (idempotent per-epoch layout + per-epoch
    report; full text seam on html records)."""

    def _warc_dir(self, tmp_path):
        from bertrand_spark.sources.warc import warc_write

        d = tmp_path / "segments"
        d.mkdir()
        (d / "a.warc.gz").write_bytes(warc_write([
            {"url": "http://a.example/", "ts": "2026-01-01T00:00:00Z",
             "body": b"<html><body><p>first page body with plenty of "
                     b"plain words to keep</p></body></html>"},
            {"url": "http://b.example/x.png",
             "ts": "2026-01-01T00:00:01Z",
             "body": b"\x89PNG notreal", "mime": "image/png"},
        ]))
        (d / "b.warc.gz").write_bytes(warc_write([
            {"url": "http://c.example/", "ts": "2026-01-01T00:00:02Z",
             "body": ("<html><body><p>segunda p\xe1gina con bastantes "
                      "palabras para mantener el bloque</p></body>"
                      "</html>").encode("latin-1"),
             "charset": "iso-8859-1"},
        ]))
        return d

    def test_foreachbatch_and_idempotent_replay(self, spark, tmp_path):
        from bertrand_spark.streaming.rollup import stream_extract_warc

        d = self._warc_dir(tmp_path)
        out, rep = str(tmp_path / "out"), str(tmp_path / "rep")
        handle = stream_extract_warc(out, report_dir=rep)
        files = spark.read.format("binaryFile").load(str(d))
        handle(files, 0)
        handle(files, 0)  # replay: same epoch overwrites itself
        rows = {r.url: r for r in spark.read.parquet(
            f"{out}/ingest_batch=0").collect()}
        assert len(rows) == 3
        assert rows["http://a.example/"].text.startswith(
            "first page body")
        # latin-1 page decoded via the declared charset
        assert "segunda página" in rows["http://c.example/"].text
        assert rows["http://b.example/x.png"].text is None
        rep_row = spark.read.parquet(f"{rep}/ingest_batch=0").collect()[0]
        assert rep_row.n_files == 2
        assert rep_row.n_records == 3
        assert rep_row.n_html == 2
        assert rep_row.n_with_text == 2
        assert rep_row.payload_bytes > 0

    def test_real_stream_available_now(self, spark, tmp_path):
        from bertrand_spark.streaming.rollup import stream_extract_warc

        d = self._warc_dir(tmp_path)
        out = str(tmp_path / "sout")
        stream = (
            spark.readStream.format("binaryFile")
            # streaming sources need the schema up front (binaryFile's
            # is fixed)
            .schema("path string, modificationTime timestamp, "
                    "length long, content binary")
            .load(str(d))
        )
        q = (
            stream.writeStream.foreachBatch(
                stream_extract_warc(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(f"{out}/ingest_batch=*")
        assert got.count() == 3


class TestCrawlPipelineComposition:
    """Round 11: the whole crawl front composes — WARC segments →
    records → charset decode → extraction → mojibake repair → URL
    canonicalization → the EXISTING curation stack (quality, lang,
    exact dedup) — one lazy plan, no driver round trips between
    stages."""

    def test_end_to_end(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from bertrand_spark.pipeline.dedup import exact_dedup
        from bertrand_spark.pipeline.htmltext import (
            decode_html_bytes, extract_html_text, fix_mojibake,
            normalize_url,
        )
        from bertrand_spark.pipeline.text import (
            detect_language, quality_score,
        )
        from bertrand_spark.sources.warc import read_warc, warc_write

        page = ("<html><body><nav><a href='/'>x</a></nav><p>%s</p>"
                "<footer>f</footer></body></html>")
        text = ("the quick brown fox visits the caf\u00e9 again and "
                "again for a d\u00e9j\u00e0 vu in plain english prose")
        body_a = (page % text).encode("utf-8")
        # same content, tracked URL, DOUBLE-ENCODED payload (utf-8
        # bytes were read as latin-1 by a broken proxy and re-encoded
        # as utf-8) -> must dedup with A after repair + URL
        # normalization
        body_b = ((page % text).encode("utf-8").decode("latin-1")
                  .encode("utf-8"))
        f = tmp_path / "seg.warc.gz"
        f.write_bytes(warc_write([
            {"url": "http://site.example/a?utm_source=feed",
             "ts": "2026-01-01T00:00:00Z", "body": body_a},
            {"url": "HTTP://Site.Example:80/a",
             "ts": "2026-01-01T00:00:01Z", "body": body_b},
        ]))
        recs = read_warc(spark, str(f))
        # the seam order: repair BEFORE extraction, on the page as
        # decoded (pinned by this test)
        docs = recs.select(
            normalize_url("url").alias("url"),
            F.col("warc_ts"),
            fix_mojibake(
                decode_html_bytes(F.col("payload"), F.col("charset"))
            ).alias("fixed"),
        ).select(
            "url", "warc_ts",
            extract_html_text(F.col("fixed.text")).alias("text"),
            F.col("fixed.status").alias("repair_status"),
        ).withColumn("lang", detect_language(F.col("text"))
                     ).withColumn("q", quality_score(F.col("text")))
        rows = {r.url: r for r in docs.collect()}
        # both URLs canonicalize to the same document identity — the
        # tracking param, scheme/host case, and default port all fold
        assert set(rows) == {"http://site.example/a"}
        vals = list(rows.values())
        # mojibake repaired -> both texts identical
        texts = {r.text for r in docs.collect()}
        assert len(texts) == 1
        statuses = {r.repair_status for r in docs.collect()}
        assert statuses == {"clean", "fixed"}
        assert all(r.lang == "en" for r in vals)
        assert all(r.q is not None for r in vals)
        # exact dedup over (text) collapses the pair to one document
        deduped = exact_dedup(docs, text_col="text",
                              keep_by="warc_ts")
        assert deduped.count() == 1
