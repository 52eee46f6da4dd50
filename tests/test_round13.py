"""Round-13 regressions and additions.

Leads with the round-12 ADVICE high: ``read_warc_streaming``'s
record-terminator loop used ``peek(2)``, which only guarantees >=1
byte — at a decompression-chunk boundary that split a CRLF the loop
saw ``b'\\r'``, bailed, and every remaining record in the file was
silently dropped (reproduced upstream: 1747/2000 on a single-member
gzip).  The round-12 fixtures missed it because one-gzip-member-per-
record keeps chunk boundaries record-aligned; the pinned fixture here
is a single-member gzip spanning many 8192-byte buffer chunks.
"""

import gzip
import io

import pytest

from bertrand_spark.sources.warc import (_iter_warc_records,
                                         _worker_local_path,
                                         warc_write)


class TestWarcStreamingChunkBoundaries:
    """ADVICE r12 (high): terminator consumption must survive CRLFs
    split across BufferedReader/GzipFile chunk boundaries."""

    def _single_member_blob(self, n):
        # plain concatenated records, then ONE gzip member over the
        # whole stream — chunk boundaries land mid-record, unlike the
        # member-per-record layout where each member is record-aligned
        plain = warc_write(
            [{"url": f"http://e/{i}", "ts": "2026-01-01T00:00:00Z",
              "body": b"x" * (31 + (i * 7) % 97)}  # co-prime sizes:
             for i in range(n)],                   # boundaries drift
            gzip_members=False)
        return gzip.compress(plain)

    def test_no_silent_truncation_single_member(self):
        blob = self._single_member_blob(2000)
        fobj = gzip.GzipFile(fileobj=io.BytesIO(blob))
        got = list(_iter_warc_records(fobj))
        assert len(got) == 2000  # was 1747/2000 with the peek loop
        # and nothing was mis-framed along the way
        for i, (hdrs, payload) in enumerate(got):
            assert hdrs["warc-target-uri"] == f"http://e/{i}"

    def test_no_truncation_uncompressed_buffered(self):
        plain = gzip.decompress(self._single_member_blob(2000))
        # tiny buffer forces many split-CRLF opportunities
        fobj = io.BufferedReader(io.BytesIO(plain), buffer_size=13)
        assert len(list(_iter_warc_records(fobj))) == 2000

    def test_spark_parity_single_member(self, spark, tmp_path):
        from bertrand_spark.sources.warc import (read_warc,
                                                 read_warc_streaming)
        d = tmp_path / "w"
        d.mkdir()
        (d / "big.warc.gz").write_bytes(self._single_member_blob(800))
        batch = read_warc(spark, str(d), record_types=()).count()
        stream = read_warc_streaming(
            spark, str(d), record_types=()).count()
        assert batch == stream == 800

    def test_sloppy_terminators_still_tolerated(self):
        # extra blank lines between records, bare-LF blanks, and a
        # final record with NO terminator at EOF
        recs = warc_write(
            [{"url": "http://a/", "ts": "t", "body": b"one"},
             {"url": "http://b/", "ts": "t", "body": b"two"}],
            gzip_members=False)
        doctored = recs.replace(b"\r\n\r\nWARC/", b"\r\n\r\n\n\r\nWARC/")
        assert doctored != recs
        fobj = io.BufferedReader(io.BytesIO(doctored.rstrip(b"\r\n")))
        assert len(list(_iter_warc_records(fobj))) == 2


class TestWorkerLocalPath:
    """ADVICE r12 / VERDICT item 5: urlparse+unquote path resolution
    instead of the scheme-prefix-naive ``p[5:]`` strip."""

    def test_spark_no_authority_form(self):
        assert _worker_local_path("file:/tmp/a.warc.gz") == \
            "/tmp/a.warc.gz"

    def test_empty_and_localhost_authority(self):
        assert _worker_local_path("file:///tmp/a.gz") == "/tmp/a.gz"
        assert _worker_local_path("file://localhost/tmp/a.gz") == \
            "/tmp/a.gz"

    def test_percent_escapes_decoded(self):
        assert _worker_local_path("file:/tmp/sp%20ace/a%25b.warc") == \
            "/tmp/sp ace/a%b.warc"

    def test_remote_authority_left_alone(self):
        # unopenable here — pass through so open() fails into the
        # caller's per-file degrade instead of mangling to //host/...
        p = "file://nas01/vol/a.warc.gz"
        assert _worker_local_path(p) == p

    def test_plain_path_untouched(self):
        # a raw local path may contain a literal % — never unquote it
        assert _worker_local_path("/data/100%done/a.warc") == \
            "/data/100%done/a.warc"

    def test_other_schemes_untouched(self):
        assert _worker_local_path("s3a://bucket/k") == "s3a://bucket/k"

    def test_streaming_reader_opens_percent_escaped_path(
            self, spark, tmp_path):
        from bertrand_spark.sources.warc import read_warc_streaming
        d = tmp_path / "sp ace"
        d.mkdir()
        (d / "a.warc.gz").write_bytes(warc_write(
            [{"url": "http://e/", "ts": "t", "body": b"payload"}]))
        rows = read_warc_streaming(spark, str(d)).collect()
        assert len(rows) == 1 and bytes(rows[0].payload) == b"payload"


class TestBenchAttemptFold:
    """ADVICE r12 (low x2): the cross-attempt fold filters on the
    round tag, and bench runs never write attempt records unless
    opted in."""

    def _write(self, d, name, **kw):
        import json
        rec = {"sf": 0.1, "queries": {"qa": 2.0, "qb": 3.0}}
        rec.update(kw)
        (d / name).write_text(json.dumps(rec))

    def test_same_round_folds_minima(self, tmp_path):
        from bench import fold_attempts
        self._write(tmp_path, "attempt_1_1.json",
                    round_tag="r13", queries={"qa": 1.5, "qb": 9.0})
        cross, n = fold_attempts(
            {"qa": 2.0, "qb": 3.0}, 0.1, str(tmp_path), "r13")
        assert n == 2 and cross == {"qa": 1.5, "qb": 3.0}

    def test_other_round_and_untagged_records_rejected(self, tmp_path):
        from bench import fold_attempts
        # the round-12 leak shape: right sf, prior-round payload
        self._write(tmp_path, "attempt_1_1.json",
                    round_tag="r12", queries={"qa": 0.1})
        self._write(tmp_path, "attempt_2_1.json",  # no tag at all
                    queries={"qa": 0.1})
        cross, n = fold_attempts(
            {"qa": 2.0}, 0.1, str(tmp_path), "r13")
        assert n == 1 and cross == {"qa": 2.0}

    def test_wrong_sf_rejected(self, tmp_path):
        from bench import fold_attempts
        self._write(tmp_path, "attempt_1_1.json",
                    round_tag="r13", sf=0.01, queries={"qa": 0.1})
        cross, n = fold_attempts(
            {"qa": 2.0}, 0.1, str(tmp_path), "r13")
        assert n == 1 and cross == {"qa": 2.0}

    def test_untagged_run_keeps_sf_only_behavior(self, tmp_path):
        # out-of-repo use without a ROUND_TAG file: old semantics
        from bench import fold_attempts
        self._write(tmp_path, "attempt_1_1.json", queries={"qa": 0.5})
        cross, n = fold_attempts(
            {"qa": 2.0}, 0.1, str(tmp_path), None)
        assert n == 2 and cross == {"qa": 0.5}

    def test_append_is_opt_in_and_tag_committed(self):
        import os
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        src = open(os.path.join(repo, "bench.py")).read()
        assert 'os.environ.get("SPARK_GRAFT_APPEND_ATTEMPT") == "1"' in src
        assert "time.time_ns()" in src and "os.getpid()" in src
        tag = open(os.path.join(
            repo, "bench_attempts", "current", "ROUND_TAG")).read().strip()
        assert tag  # the committed tag the fold filters on


class TestPdfEncryption:
    """Round-12 verdict items 2(what's-wrong)/3(next): the standard
    security handler's empty-user-password RC4 path (ISO 32000-1
    §7.6.3, V1/V2 R2/R3) decrypts permissions-only documents — page
    text AND /Info metadata — while anything locked surfaces NULL
    fields, never ciphertext-as-latin-1.  pdf_write(encrypt=...) now
    REALLY encrypts (per-object RC4 over every string and stream), so
    these fixtures would catch a mojibake regression.

    Evidence grade: _rc4 is pinned against the published RC4 test
    vectors below; the Algorithm 2/3/4/5 composition is gated by
    writer<->reader round trips (no third-party encrypted-PDF ground
    truth ships in this container)."""

    def test_rc4_published_vectors(self):
        from bertrand_spark.pipeline.pdftext import _rc4
        assert _rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
        assert _rc4(b"Wiki", b"pedia").hex() == "1021bf0420"
        assert _rc4(b"Secret", b"Attack at dawn").hex() == \
            "45a01f645fc35b383552544b9bf5"
        # symmetric
        assert _rc4(b"Key", bytes.fromhex("bbf316e8d940af0ad3")) == \
            b"Plaintext"

    def test_fixture_really_encrypts(self):
        """The round-12 fixture only ADDED the /Encrypt trailer key —
        plaintext everywhere — which is why the mojibake wart was
        invisible.  Pin that ciphertext actually differs now."""
        from bertrand_spark.pipeline.pdftext import pdf_write
        plain = pdf_write(["finally hidden"], flate=False,
                          info={"Title": "Visible Title"})
        enc = pdf_write(["finally hidden"], flate=False, encrypt=True,
                        info={"Title": "Visible Title"})
        assert b"finally hidden" in plain
        assert b"finally hidden" not in enc
        assert b"Visible Title" in plain
        assert b"Visible Title" not in enc

    def test_empty_password_decrypts_all_layouts(self):
        from bertrand_spark.pipeline.pdftext import (_extract_pdf_one,
                                                     pdf_write)
        t = ["hello encrypted world", "page two"]
        for kw in ({}, {"xref_stream": True},
                   {"xref_stream": True, "predictor": True},
                   {"objstm": True}, {"flate": False}, {"lzw": True},
                   {"type0_font": True, "tounicode": True}):
            got = _extract_pdf_one(pdf_write(t, encrypt=True, **kw))
            assert got == ("hello encrypted world\npage two",
                           "extracted-decrypted", 2), (kw, got)

    def test_locked_and_v4_stay_locked(self):
        from bertrand_spark.pipeline.pdftext import (_extract_pdf_one,
                                                     pdf_write)
        for mode in ("locked", "v4"):
            got = _extract_pdf_one(pdf_write(["s"], encrypt=mode))
            assert got == (None, "encrypted", None), (mode, got)

    def test_metadata_decrypted_vs_nulled(self):
        from bertrand_spark.pipeline.pdftext import (_INFO_FIELDS,
                                                     _pdf_meta_one,
                                                     pdf_write)
        info = {"Title": "My Doc", "Author": "Jérôme ☃"}
        m = _pdf_meta_one(pdf_write(["x"], encrypt=True, info=info))
        assert m[0] == "My Doc" and m[1] == "Jérôme ☃"
        assert m[-1] == "decrypted" and m[-2] == 1
        for mode in ("locked", "v4"):
            m = _pdf_meta_one(pdf_write(["x"], encrypt=mode, info=info))
            # ciphertext NEVER surfaces: every string field NULL
            assert m[:len(_INFO_FIELDS)] == (None,) * len(_INFO_FIELDS)
            assert m[-1] == "encrypted" and m[-2] == 1

    def test_broken_xref_scan_rescues_key(self):
        from bertrand_spark.pipeline.pdftext import (_extract_pdf_one,
                                                     _pdf_meta_one,
                                                     pdf_write)
        b = pdf_write(["scan me"], encrypt=True, break_xref=True,
                      info={"Title": "T"})
        assert _extract_pdf_one(b) == ("scan me", "extracted-decrypted", 1)
        m = _pdf_meta_one(b)
        assert m[0] == "T" and m[-1] == "decrypted"
        # a genuinely locked broken-xref doc stays locked through the
        # rescue (the verify fails with any wrong password)
        b = pdf_write(["scan me"], encrypt="locked", break_xref=True,
                      info={"Title": "T"})
        assert _extract_pdf_one(b) == (None, "encrypted", None)
        assert _pdf_meta_one(b)[0] is None

    def test_encrypted_fuzz_never_raises(self):
        import random
        from bertrand_spark.pipeline.pdftext import (_extract_pdf_one,
                                                     _pdf_meta_one,
                                                     pdf_write)
        rng = random.Random(1301)
        base = pdf_write(["fuzz base text\nline two"], encrypt=True,
                         info={"Title": "F"})
        for _ in range(300):
            b = bytearray(base)
            for _ in range(rng.randrange(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            assert isinstance(_extract_pdf_one(bytes(b)), tuple)
            assert isinstance(_pdf_meta_one(bytes(b)), tuple)

    def test_spark_seam(self, spark):
        from pyspark.sql import functions as F
        from bertrand_spark.pipeline.pdftext import (extract_pdf_text,
                                                     pdf_metadata,
                                                     pdf_write)
        rows = [(1, pdf_write(["open secret"], encrypt=True,
                              info={"Title": "OK"})),
                (2, pdf_write(["locked tight"], encrypt="locked",
                              info={"Title": "NO"}))]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = {r.doc_id: (r.pdf, r.m) for r in df.select(
            "doc_id", extract_pdf_text(F.col("payload")).alias("pdf"),
            pdf_metadata(F.col("payload")).alias("m")).collect()}
        assert got[1][0].text == "open secret"
        assert got[1][0].status == "extracted-decrypted"
        assert got[1][1].title == "OK" and got[1][1].status == "decrypted"
        assert got[2][0].text is None
        assert got[2][0].status == "encrypted"
        assert got[2][1].title is None and got[2][1].status == "encrypted"

    def test_r3_v2_128bit_path(self):
        """V2 R3 (128-bit key): the 50-iteration key derivation and
        Algorithm-5 /U verify — the branches the V1 R2 default never
        touches — decrypt end-to-end."""
        from bertrand_spark.pipeline.pdftext import (_extract_pdf_one,
                                                     _pdf_meta_one,
                                                     pdf_write)
        info = {"Title": "R3 Doc"}
        b = pdf_write(["r3 body", "page two"], encrypt="r3", info=info)
        assert _extract_pdf_one(b) == ("r3 body\npage two",
                                       "extracted-decrypted", 2)
        m = _pdf_meta_one(b)
        assert m[0] == "R3 Doc" and m[-1] == "decrypted"
        # and the modern layout through the same R3 key
        b = pdf_write(["x"], encrypt="r3", objstm=True)
        assert _extract_pdf_one(b) == ("x", "extracted-decrypted", 1)

    def test_meta_scan_rescue_on_broken_xref(self):
        """A plain broken-xref doc used to read as blank-but-'ok'
        (every deref failed against garbage offsets, fields all NULL,
        n_pages NULL, status 'ok'): the object scan now rescues the
        metadata the same way it rescues the encrypted path."""
        from bertrand_spark.pipeline.pdftext import (_pdf_meta_one,
                                                     pdf_write)
        b = pdf_write(["scan body"], break_xref=True,
                      info={"Title": "P", "Author": "A"})
        m = _pdf_meta_one(b)
        assert m[0] == "P" and m[1] == "A"
        assert m[-2] == 1 and m[-1] == "ok"


class TestPdfTreeTruncationVisible:
    """ADVICE r12 (low): the hostile-structure caps (10k pages / depth
    64) must surface as ``extracted-partial``, not a silent stop that
    still claims full extraction."""

    def test_page_cap_reports_partial(self):
        from bertrand_spark.pipeline.pdftext import (_extract_pdf_one,
                                                     pdf_write)
        big = pdf_write(["pg %d" % i for i in range(10_002)],
                        flate=False, op_mix=False)
        text, status, n_pages = _extract_pdf_one(big)
        assert status == "extracted-partial"
        assert n_pages == 10_001  # collected before the cap
        assert text.startswith("pg 0")

    def test_under_cap_still_full(self):
        from bertrand_spark.pipeline.pdftext import (_extract_pdf_one,
                                                     pdf_write)
        b = pdf_write(["a", "b", "c"], flate=False, op_mix=False)
        assert _extract_pdf_one(b) == ("a\nb\nc", "extracted", 3)

    def test_deep_tree_reports_partial(self):
        # hand-built 70-deep /Pages chain: depth cap fires with only
        # plaintext dict objects, no writer support needed
        from bertrand_spark.pipeline.pdftext import _extract_pdf_one
        bodies = [b"<< /Type /Catalog /Pages 2 0 R >>"]
        depth = 70
        for i in range(depth):  # objects 2..71: nested Pages nodes
            bodies.append(
                b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % (i + 3))
        bodies.append(b"<< /Type /Page /MediaBox [0 0 612 792] >>")
        out = bytearray(b"%PDF-1.4\n")
        offs = []
        for i, body in enumerate(bodies, start=1):
            offs.append(len(out))
            out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
        xoff = len(out)
        out += b"xref\n0 %d\n" % (len(bodies) + 1)
        out += b"0000000000 65535 f \n"
        for o in offs:
            out += b"%010d 00000 n \n" % o
        out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n"
                b"%d\n%%%%EOF\n" % (len(bodies) + 1, xoff))
        text, status, n_pages = _extract_pdf_one(bytes(out))
        # the only page sits past depth 64: the walk truncates to zero
        # pages, and zero pages is parse-failed (never a silent empty
        # "extracted")
        assert status == "parse-failed" and text is None


class TestDocxExtract:
    """DOCX→text extraction (round-12 verdict item 2): stdlib
    zipfile + ElementTree over word/document.xml, the x49 gating
    recipe — exact recovery over an in-repo writer, visible degrade
    classes, fuzz never raises, oracle x51 on the hash path."""

    PARAS = ["Title line", "Second\tpara with tab",
             "Third has\nan inner break", "", "final ünïcode ☃"]

    def test_roundtrip_matrix(self):
        from bertrand_spark.pipeline.docxtext import (_extract_docx_one,
                                                      docx_write)
        expect = "\n".join(self.PARAS)
        for kw in ({}, {"split_runs": True}, {"tabs_as_elements": True},
                   {"table_after_first": True}, {"strict_ns": True},
                   {"split_runs": True, "tabs_as_elements": True,
                    "table_after_first": True, "strict_ns": True}):
            got = _extract_docx_one(docx_write(self.PARAS, **kw))
            assert got == (expect, "extracted", 5), (kw, got)

    def test_degrade_classes(self):
        from bertrand_spark.pipeline.docxtext import (_extract_docx_one,
                                                      docx_write,
                                                      ole_write)
        assert _extract_docx_one(ole_write("encrypted")) == (
            None, "encrypted", None)
        assert _extract_docx_one(ole_write("legacy")) == (
            None, "legacy-doc", None)
        assert _extract_docx_one(ole_write("other")) == (
            None, "cfb-container", None)
        assert _extract_docx_one(b"not zip not cfb") == (
            None, "not-docx", None)
        assert _extract_docx_one(
            docx_write(["x"], missing_part=True)) == (
            None, "missing-part", None)
        assert _extract_docx_one(None) == (None, None, None)

    def test_truncated_payload_salvages(self):
        """The crawl case: central directory gone — the raw
        local-header inflate + w:t regex recovers the text prefix
        with the visible extracted-scan class."""
        from bertrand_spark.pipeline.docxtext import (_extract_docx_one,
                                                      docx_write)
        full = docx_write(self.PARAS)
        text, status, n = _extract_docx_one(full[:int(len(full) * .9)])
        assert status == "extracted-scan"
        assert text.startswith("Title line\nSecond\tpara")
        # malformed XML inside an intact zip: same salvage class
        import io as _io
        import zipfile as _zf
        buf = _io.BytesIO()
        with _zf.ZipFile(buf, "w") as z:
            z.writestr("word/document.xml",
                       '<w:document xmlns:w="x"><w:body>'
                       "<w:p><w:r><w:t>kept &amp; salvaged</w:t>"
                       "</w:r></w:p><w:p><w:r><w:t>oops")  # truncated
        text, status, n = _extract_docx_one(buf.getvalue())
        assert status == "extracted-scan"
        assert text == "kept & salvaged" and n == 1

    def test_tracked_changes_and_fields_not_display_text(self):
        # w:delText (tracked deletion) and w:instrText (field code)
        # must NOT surface
        import io as _io
        import zipfile as _zf
        from bertrand_spark.pipeline.docxtext import _extract_docx_one
        ns = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
        xml = ('<w:document xmlns:w="%s"><w:body><w:p>'
               "<w:r><w:t>shown</w:t></w:r>"
               "<w:del><w:r><w:delText>deleted</w:delText></w:r></w:del>"
               "<w:r><w:instrText>PAGEREF _Toc1</w:instrText></w:r>"
               "</w:p></w:body></w:document>" % ns)
        buf = _io.BytesIO()
        with _zf.ZipFile(buf, "w") as z:
            z.writestr("word/document.xml", xml)
        assert _extract_docx_one(buf.getvalue()) == (
            "shown", "extracted", 1)

    def test_metadata_core_properties(self):
        from bertrand_spark.pipeline.docxtext import (_docx_meta_one,
                                                      docx_write,
                                                      ole_write)
        info = {"title": "Doc T", "creator": "Ann ☃", "revision": "3",
                "created": "2026-01-01T00:00:00Z",
                "last_modified_by": "Bob"}
        m = _docx_meta_one(docx_write(["x"], info=info))
        assert m[0] == "Doc T" and m[2] == "Ann ☃" and m[5] == "Bob"
        assert m[6] == "3" and m[7] == "2026-01-01T00:00:00Z"
        assert m[-1] == "ok"
        assert _docx_meta_one(docx_write(["x"]))[-1] == "no-core-part"
        assert _docx_meta_one(ole_write("encrypted"))[-1] == "encrypted"
        assert _docx_meta_one(b"junk")[-1] == "not-docx"
        assert _docx_meta_one(None)[-1] is None

    def test_fuzz_never_raises(self):
        import random
        from bertrand_spark.pipeline.docxtext import (_docx_meta_one,
                                                      _extract_docx_one,
                                                      docx_write,
                                                      ole_write)
        rng = random.Random(1313)
        bases = [docx_write(self.PARAS, info={"title": "F"}),
                 docx_write(self.PARAS, split_runs=True,
                            table_after_first=True),
                 ole_write("encrypted")]
        for base in bases:
            for _ in range(150):
                b = bytearray(base)
                for _ in range(rng.randrange(1, 8)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
                assert isinstance(_extract_docx_one(bytes(b)), tuple)
                assert isinstance(_docx_meta_one(bytes(b)), tuple)
        for _ in range(100):
            junk = b"PK" + bytes(
                rng.randrange(256) for _ in range(rng.randrange(0, 400)))
            assert isinstance(_extract_docx_one(junk), tuple)

    def test_spark_seam_and_report(self, spark):
        from pyspark.sql import functions as F
        from bertrand_spark.pipeline.docxtext import (docx_format_report,
                                                      docx_metadata,
                                                      docx_write,
                                                      ole_write)
        from bertrand_spark.pipeline.docxtext import extract_docx_text
        rows = [
            (1, docx_write(["alpha", "beta"], info={"title": "A"})),
            (2, docx_write(["solo"])),
            (3, ole_write("encrypted")),
            (4, ole_write("legacy")),
            (5, b"plain bytes"),
            (6, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        ex = df.select("doc_id",
                       extract_docx_text(F.col("payload")).alias("docx"),
                       docx_metadata(F.col("payload")).alias("m"))
        got = {r.doc_id: r for r in ex.collect()}
        assert got[1].docx.text == "alpha\nbeta"
        assert got[1].docx.status == "extracted"
        assert got[1].docx.n_paragraphs == 2
        assert got[1].m.title == "A" and got[1].m.status == "ok"
        assert got[2].docx.text == "solo"
        assert got[3].docx.status == "encrypted"
        assert got[3].m.title is None
        assert got[4].docx.status == "legacy-doc"
        assert got[5].docx.status == "not-docx"
        assert got[6].docx.status is None
        rep = {r.status: r for r in docx_format_report(
            ex.select("doc_id", "docx")).collect()}
        assert rep["extracted"].n_docs == 2
        assert rep["extracted"].n_paragraphs == 3
        assert rep["encrypted"].n_docs == 1
        assert rep["legacy-doc"].n_docs == 1

    def test_warc_docx_composition(self, spark, tmp_path):
        """The crawl seam closes over DOCX too: a WARC carrying a
        .docx response flows read_warc → extract_docx_text."""
        from pyspark.sql import functions as F
        from bertrand_spark.pipeline.docxtext import (docx_write,
                                                      extract_docx_text)
        from bertrand_spark.sources.warc import read_warc, warc_write
        d = tmp_path / "w"
        d.mkdir()
        payload = docx_write(["from the crawl", "second para"])
        mime = ("application/vnd.openxmlformats-officedocument"
                ".wordprocessingml.document")
        (d / "a.warc.gz").write_bytes(warc_write(
            [{"url": "http://e/doc.docx", "ts": "t", "body": payload,
              "mime": mime}]))
        got = (read_warc(spark, str(d))
               .select("url", "mime",
                       extract_docx_text(F.col("payload")).alias("docx"))
               .collect())
        assert len(got) == 1
        assert got[0].mime == mime
        assert got[0].docx.text == "from the crawl\nsecond para"
        assert got[0].docx.status == "extracted"


class TestStreamWarcWorkerOpen:
    """Round-12 verdict item 6: stream_extract_warc can route each
    micro-batch through the bounded-memory worker-open core — only
    the path column read off the stream source, O(record) task
    memory — with output parity and idempotent replay vs the
    whole-segment seam (default unchanged)."""

    def _warc_dir(self, tmp_path):
        d = tmp_path / "segs"
        d.mkdir()
        (d / "a.warc.gz").write_bytes(warc_write([
            {"url": "http://a.example/", "ts": "t",
             "body": "first page body — crawl text".encode()},
            {"url": "http://b.example/x.png", "ts": "t",
             "body": b"\x89PNGfake", "mime": "image/png"},
        ]))
        (d / "b.warc.gz").write_bytes(warc_write([
            {"url": "http://c.example/", "ts": "t",
             "body": "segunda página".encode("latin-1"),
             "charset": "latin-1"},
        ]))
        return d

    def test_parity_and_idempotent_replay(self, spark, tmp_path):
        from bertrand_spark.streaming.rollup import stream_extract_warc
        d = self._warc_dir(tmp_path)
        files = spark.read.format("binaryFile").load(str(d))
        out_seg = str(tmp_path / "out_seg")
        out_wo = str(tmp_path / "out_wo")
        stream_extract_warc(out_seg)(files, 0)
        handle = stream_extract_warc(out_wo, worker_open=True)
        pruned = files.select("path")  # r14 guard: worker_open
        handle(pruned, 0)              # batches must not carry bytes
        handle(pruned, 0)  # replay: same epoch overwrites itself
        seg = sorted(
            (r.url, r.mime, r.text, bytes(r.payload)) for r in
            spark.read.parquet(f"{out_seg}/ingest_batch=0").collect())
        wo = sorted(
            (r.url, r.mime, r.text, bytes(r.payload)) for r in
            spark.read.parquet(f"{out_wo}/ingest_batch=0").collect())
        assert seg == wo and len(wo) == 3
        assert wo[0][2].startswith("first page body")
        assert "segunda página" in wo[2][2]

    def test_stream_plan_reads_only_path(self, spark, tmp_path):
        """The real stream, availableNow, pruned on the STREAM side
        (.select('path') before writeStream — the projection reaches
        the source scan at micro-batch planning; a foreachBatch-side
        select is too late, the batch arrives as a schema-fixed
        LogicalRDD): the micro-batch must carry ONLY the path column,
        and the worker-open explosion lands the same records."""
        from bertrand_spark.sources.warc import warc_records_worker_open
        from bertrand_spark.streaming.rollup import stream_extract_warc
        d = self._warc_dir(tmp_path)
        out = str(tmp_path / "out")
        inner = stream_extract_warc(out, worker_open=True)
        plans, cols = [], []

        def probe(batch_df, batch_id):
            cols.append(list(batch_df.columns))
            recs = warc_records_worker_open(batch_df, ("response",))
            recs.collect()
            plans.append(
                recs._jdf.queryExecution().executedPlan().toString())
            inner(batch_df, batch_id)

        q = (spark.readStream.format("binaryFile")
             .schema("path string, modificationTime timestamp, "
                     "length long, content binary")
             .load(str(d))
             .select("path")  # prune HERE: reaches the source scan
             .writeStream.foreachBatch(probe)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)
        got = spark.read.parquet(f"{out}/ingest_batch=*")
        assert got.count() == 3
        assert plans and cols
        assert all(c == ["path"] for c in cols)
        for plan in plans:
            scan = [ln for ln in plan.splitlines()
                    if "Scan ExistingRDD" in ln]
            assert scan and all("content" not in ln for ln in scan)


class TestPptxXlsxExtract:
    """The OOXML siblings on the docx seam (round 13; sanctioned by
    the round-12 verdict: 'XLSX/PPTX can follow the same seam
    later'): DrawingML slide text and sharedStrings-resolved cell
    values, same degrade ladder, writers, and never-raise contract;
    oracles x52/x53 on the hash path."""

    def test_pptx_roundtrip(self):
        from bertrand_spark.pipeline.docxtext import (_extract_pptx_one,
                                                      pptx_write)
        slides = [["title para", "two\nlines"], ["second ☃ slide"]]
        for strict in (False, True):
            got = _extract_pptx_one(pptx_write(slides, strict_ns=strict))
            assert got == ("title para\ntwo\nlines\nsecond ☃ slide",
                           "extracted", 2), (strict, got)

    def test_pptx_slide_numeric_order(self):
        # slide2 must come before slide10 (string sort would invert)
        from bertrand_spark.pipeline.docxtext import (_extract_pptx_one,
                                                      pptx_write)
        b = pptx_write([["s%d" % i] for i in range(1, 12)])
        text, status, n = _extract_pptx_one(b)
        assert text == "\n".join("s%d" % i for i in range(1, 12))
        assert n == 11

    def test_pptx_per_slide_salvage(self):
        import io as _io
        import zipfile as _zf
        from bertrand_spark.pipeline.docxtext import (_extract_pptx_one,
                                                      pptx_write)
        base = pptx_write([["good one"], ["broken"], ["good two"]])
        # corrupt slide2's XML inside an intact zip
        src = _zf.ZipFile(_io.BytesIO(base))
        buf = _io.BytesIO()
        with _zf.ZipFile(buf, "w") as z:
            for n in src.namelist():
                data = src.read(n)
                if n == "ppt/slides/slide2.xml":
                    data = data.replace(b"</p:sld>", b"")  # truncate
                z.writestr(n, data)
        text, status, n = _extract_pptx_one(buf.getvalue())
        assert status == "extracted-scan"
        assert "good one" in text and "good two" in text
        assert "broken" in text  # regex salvage still got the run

    def test_xlsx_roundtrip_shared_and_inline(self):
        from bertrand_spark.pipeline.docxtext import (_extract_xlsx_one,
                                                      xlsx_write)
        sheets = [[["a1", "b1 ☃"], ["a2"]], [["x", "", "z"]]]
        expect = "a1\tb1 ☃\na2\nx\t\tz"
        for shared in (True, False):
            got = _extract_xlsx_one(xlsx_write(sheets, shared=shared))
            assert got == (expect, "extracted", 6), (shared, got)

    def test_xlsx_cell_types(self):
        # literal str, boolean, and numeric cells alongside shared
        import io as _io
        import zipfile as _zf
        from bertrand_spark.pipeline.docxtext import _extract_xlsx_one
        sheet = ('<?xml version="1.0"?><worksheet xmlns='
                 '"http://schemas.openxmlformats.org/spreadsheetml/'
                 '2006/main"><sheetData>'
                 '<row r="1">'
                 '<c r="A1" t="str"><v>lit</v></c>'
                 '<c r="B1" t="b"><v>1</v></c>'
                 '<c r="C1"><v>42.5</v></c>'
                 '<c r="D1" t="s"><v>0</v></c>'
                 "</row></sheetData></worksheet>")
        sst = ('<?xml version="1.0"?><sst xmlns='
               '"http://schemas.openxmlformats.org/spreadsheetml/2006/'
               'main"><si><r><t>ri</t></r><r><t>ch</t></r></si></sst>')
        buf = _io.BytesIO()
        with _zf.ZipFile(buf, "w") as z:
            z.writestr("xl/worksheets/sheet1.xml", sheet)
            z.writestr("xl/sharedStrings.xml", sst)
        got = _extract_xlsx_one(buf.getvalue())
        assert got == ("lit\tTRUE\t42.5\trich", "extracted", 4)

    def test_degrade_classes(self):
        from bertrand_spark.pipeline.docxtext import (_extract_pptx_one,
                                                      _extract_xlsx_one,
                                                      docx_write,
                                                      ole_write)
        assert _extract_pptx_one(ole_write("encrypted"))[1] == "encrypted"
        assert _extract_xlsx_one(ole_write("encrypted"))[1] == "encrypted"
        assert _extract_pptx_one(b"junk")[1] == "not-pptx"
        assert _extract_xlsx_one(b"junk")[1] == "not-xlsx"
        # a docx is a valid zip with no slides/sheets: missing-part
        d = docx_write(["x"])
        assert _extract_pptx_one(d)[1] == "missing-part"
        assert _extract_xlsx_one(d)[1] == "missing-part"
        assert _extract_pptx_one(None) == (None, None, None)
        assert _extract_xlsx_one(None) == (None, None, None)

    def test_legacy_cfb_markers(self):
        import io as _io
        from bertrand_spark.pipeline.docxtext import (_classify_cfb,
                                                      _CFB_MAGIC)
        def cfb_with(name):
            return _CFB_MAGIC + bytes(120) + name.encode("utf-16-le")
        assert _classify_cfb(cfb_with("PowerPoint Document")) == \
            "legacy-ppt"
        assert _classify_cfb(cfb_with("Workbook")) == "legacy-xls"
        assert _classify_cfb(cfb_with("WordDocument")) == "legacy-doc"

    def test_fuzz_never_raises(self):
        import random
        from bertrand_spark.pipeline.docxtext import (_extract_pptx_one,
                                                      _extract_xlsx_one,
                                                      pptx_write,
                                                      xlsx_write)
        rng = random.Random(1352)
        pb = pptx_write([["fuzz base", "two\nlines"], ["slide 2"]])
        xb = xlsx_write([[["a", "b"], ["c"]]], shared=True)
        for base, fn in ((pb, _extract_pptx_one), (xb, _extract_xlsx_one)):
            for _ in range(150):
                b = bytearray(base)
                for _ in range(rng.randrange(1, 8)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
                assert isinstance(fn(bytes(b)), tuple)

    def test_spark_seam(self, spark):
        from pyspark.sql import functions as F
        from bertrand_spark.pipeline.docxtext import (extract_pptx_text,
                                                      extract_xlsx_text,
                                                      pptx_write,
                                                      xlsx_write)
        rows = [(1, pptx_write([["deck text"]]),
                 xlsx_write([[["c1", "c2"]]]))]
        df = spark.createDataFrame(
            rows, "doc_id long, pptx binary, xlsx binary")
        got = df.select(
            extract_pptx_text(F.col("pptx")).alias("p"),
            extract_xlsx_text(F.col("xlsx")).alias("x")).collect()[0]
        assert got.p.text == "deck text" and got.p.status == "extracted"
        assert got.x.text == "c1\tc2" and got.x.n_cells == 2

    def test_format_report_serves_all_three(self, spark):
        from pyspark.sql import functions as F
        from bertrand_spark.pipeline.docxtext import (docx_format_report,
                                                      extract_pptx_text,
                                                      extract_xlsx_text,
                                                      pptx_write,
                                                      xlsx_write)
        rows = [(1, pptx_write([["s1"], ["s2"]]),
                 xlsx_write([[["a", "b"]]]))]
        df = spark.createDataFrame(
            rows, "doc_id long, pptx binary, xlsx binary")
        prep = {r.status: r for r in docx_format_report(
            df.select(extract_pptx_text(F.col("pptx")).alias("p")),
            col="p").collect()}
        assert prep["extracted"].n_slides == 2
        xrep = {r.status: r for r in docx_format_report(
            df.select(extract_xlsx_text(F.col("xlsx")).alias("x")),
            col="x").collect()}
        assert xrep["extracted"].n_cells == 2


class TestEpubExtract:
    """EPUB→text by composition (round 13): container→OPF→spine walk,
    each chapter through the EXISTING x48 HTML kernel — no new parser
    class; oracle x54 on the hash path."""

    def test_roundtrip_spine_order(self):
        from bertrand_spark.pipeline.epubtext import (_extract_epub_one,
                                                      epub_write)
        chapters = ["<p>alpha chapter</p>", "<p>beta &amp; gamma</p>",
                    "<p>third ☃</p>"]
        expect = "alpha chapter\nbeta & gamma\nthird ☃"
        for kw in ({}, {"reversed_manifest": True},
                   {"extra_items": True},
                   {"reversed_manifest": True, "extra_items": True}):
            got = _extract_epub_one(epub_write(chapters, **kw))
            # the SPINE governs reading order, whatever the manifest
            # declaration order; non-spine items (css/cover) are
            # skipped
            assert got == (expect, "extracted", 3), (kw, got)

    def test_boilerplate_rules_apply_per_chapter(self):
        # the chapter kernel IS the x48 extractor: a pure-link nav
        # div inside a chapter is dropped by the density rules
        from bertrand_spark.pipeline.epubtext import (_extract_epub_one,
                                                      epub_write)
        ch = ('<div><a href="/1">alpha</a> <a href="/2">beta</a></div>'
              "<p>real body text that stays in the extraction here</p>")
        text, status, n = _extract_epub_one(epub_write([ch]))
        assert "real body text" in text and "alpha" not in text

    def test_no_container_scan_path(self):
        from bertrand_spark.pipeline.epubtext import (_extract_epub_one,
                                                      epub_write)
        b = epub_write(["<p>one</p>", "<p>two</p>"], no_container=True)
        text, status, n = _extract_epub_one(b)
        assert status == "extracted-scan"
        assert text == "one\ntwo"  # name order == spine order here

    def test_drm_and_degrade_classes(self):
        from bertrand_spark.pipeline.epubtext import (_epub_meta_one,
                                                      _extract_epub_one,
                                                      epub_write)
        b = epub_write(["<p>x</p>"], drm=True)
        assert _extract_epub_one(b) == (None, "encrypted", None)
        assert _epub_meta_one(b)[-1] == "encrypted"
        assert _extract_epub_one(b"not zip") == (None, "not-epub", None)
        assert _extract_epub_one(None) == (None, None, None)
        import io as _io
        import zipfile as _zf
        buf = _io.BytesIO()
        with _zf.ZipFile(buf, "w") as z:
            z.writestr("mimetype", "application/epub+zip")
        assert _extract_epub_one(buf.getvalue()) == (
            None, "missing-part", None)

    def test_metadata_dublin_core(self):
        from bertrand_spark.pipeline.epubtext import (_epub_meta_one,
                                                      epub_write)
        m = _epub_meta_one(epub_write(
            ["<p>x</p>"],
            info={"title": "A Book ☃", "creator": "Ann",
                  "language": "en", "identifier": "urn:x:1"}))
        assert m[0] == "A Book ☃" and m[1] == "Ann"
        assert m[2] == "en" and m[3] == "urn:x:1" and m[-1] == "ok"
        assert _epub_meta_one(b"junk")[-1] == "not-epub"

    def test_fuzz_never_raises(self):
        import random
        from bertrand_spark.pipeline.epubtext import (_epub_meta_one,
                                                      _extract_epub_one,
                                                      epub_write)
        rng = random.Random(1354)
        base = epub_write(["<p>fuzz base</p>", "<p>two</p>"],
                          info={"title": "F"})
        for _ in range(200):
            b = bytearray(base)
            for _ in range(rng.randrange(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            assert isinstance(_extract_epub_one(bytes(b)), tuple)
            assert isinstance(_epub_meta_one(bytes(b)), tuple)

    def test_spark_seam(self, spark):
        from pyspark.sql import functions as F
        from bertrand_spark.pipeline.epubtext import (epub_metadata,
                                                      epub_write,
                                                      extract_epub_text)
        rows = [(1, epub_write(["<p>book body</p>"],
                               info={"title": "T"}))]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = df.select(
            extract_epub_text(F.col("payload")).alias("e"),
            epub_metadata(F.col("payload")).alias("m")).collect()[0]
        assert got.e.text == "book body"
        assert got.e.status == "extracted" and got.e.n_chapters == 1
        assert got.m.title == "T" and got.m.status == "ok"


class TestRtfExtract:
    """RTF→text (round 13): the last major crawl text class — a real
    group-stack tokenizer over the public RTF grammar, identity-gated
    with NO character folding (every code point round-trips through
    the escape grammar); oracle x55 on the hash path."""

    TEXTS = [
        "plain ascii text",
        "line one\nline two\tand a tab",
        "unicode: Jérôme ☃ — 中文 ‘quote’",
        "astral: \U0001F600 \U0001D518",
        "braces {and} back\\slash",
        "",
        "\x01control\x02chars\rand\x00nul",
    ]

    def test_identity_matrix(self):
        from bertrand_spark.pipeline.rtftext import (_extract_rtf_one,
                                                     rtf_write)
        for t in self.TEXTS:
            for kw in ({}, {"codepage_escapes": True}, {"table": True},
                       {"with_skips": False}):
                got, status, n = _extract_rtf_one(rtf_write(t, **kw))
                assert status == "extracted" and got == t, (t, kw, got)

    def test_field_results_kept_instructions_dropped(self):
        from bertrand_spark.pipeline.rtftext import _extract_rtf_one
        doc = (rb"{\rtf1\ansi {\field{\*\fldinst HYPERLINK http://x}"
               rb"{\fldrslt shown link}} after}")
        assert _extract_rtf_one(doc)[0] == "shown link after"

    def test_skip_destinations_and_uc_fallbacks(self):
        from bertrand_spark.pipeline.rtftext import _extract_rtf_one
        doc = (rb"{\rtf1\ansi\ansicpg1252\uc2 "
               rb"{\fonttbl{\f0 Arial;}}{\stylesheet{\s1 Heading;}}"
               rb"\u233AB after}")  # uc2: TWO fallback chars ("AB")
        assert _extract_rtf_one(doc)[0] == "é after"

    def test_codepage_switch(self):
        from bertrand_spark.pipeline.rtftext import _extract_rtf_one
        # cp1251: \'e6 is ж
        doc = rb"{\rtf1\ansi\ansicpg1251 \'e6}"
        assert _extract_rtf_one(doc)[0] == "ж"

    def test_bin_skip_with_brace_bytes(self):
        from bertrand_spark.pipeline.rtftext import _extract_rtf_one
        doc = rb"{\rtf1 A{\*\pict\bin5 }}}}} tail}B}"
        got = _extract_rtf_one(doc)[0]
        assert got.startswith("A") and "tail" not in got

    def test_truncated_is_partial(self):
        from bertrand_spark.pipeline.rtftext import (_extract_rtf_one,
                                                     rtf_write)
        b = rtf_write("kept text here\nlost paragraph",
                      with_skips=False)
        cut = b[:b.find(b"lost")]
        text, status, n = _extract_rtf_one(cut)
        assert status == "extracted-partial"
        assert text.startswith("kept text here")

    def test_not_rtf_and_null(self):
        from bertrand_spark.pipeline.rtftext import _extract_rtf_one
        assert _extract_rtf_one(b"hello") == (None, "not-rtf", None)
        assert _extract_rtf_one(None) == (None, None, None)
        # junk before the magic within 1 KiB is tolerated
        assert _extract_rtf_one(
            b"JUNK" + rb"{\rtf1 ok}")[0] == "ok"

    def test_fuzz_never_raises(self):
        import random
        from bertrand_spark.pipeline.rtftext import (_extract_rtf_one,
                                                     rtf_write)
        rng = random.Random(1355)
        base = rtf_write("fuzz base — Jérôme\nsecond ☃ line")
        for _ in range(300):
            b = bytearray(base)
            for _ in range(rng.randrange(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            out = _extract_rtf_one(bytes(b))
            assert isinstance(out, tuple) and len(out) == 3
        for _ in range(100):
            junk = b"{\\rtf1" + bytes(
                rng.randrange(256) for _ in range(rng.randrange(0, 300)))
            assert isinstance(_extract_rtf_one(junk), tuple)

    def test_spark_seam(self, spark):
        from pyspark.sql import functions as F
        from bertrand_spark.pipeline.rtftext import (extract_rtf_text,
                                                     rtf_write)
        rows = [(1, rtf_write("doc body ☃")), (2, b"not rtf"),
                (3, None)]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = {r.doc_id: r.rtf for r in df.select(
            "doc_id",
            extract_rtf_text(F.col("payload")).alias("rtf")).collect()}
        assert got[1].text == "doc body ☃"
        assert got[1].status == "extracted"
        assert got[2].status == "not-rtf"
        assert got[3].status is None


class TestOdtExtract:
    """ODT→text (round 13): the OpenDocument sibling — ODF mixed
    content (.text/.tail around inline elements) is a genuinely
    different walk from the WordprocessingML run model; oracle x56
    on the hash path."""

    PARAS = ["Title", "tab\there", "break\nhere", "spaced    out",
             "", "fin ☃"]

    def test_roundtrip_matrix(self):
        from bertrand_spark.pipeline.docxtext import (_extract_odt_one,
                                                      odt_write)
        expect = "\n".join(self.PARAS)
        for kw in ({}, {"spans": True}, {"rle_spaces": True},
                   {"table_after_first": True},
                   {"spans": True, "rle_spaces": True,
                    "table_after_first": True}):
            got = _extract_odt_one(odt_write(self.PARAS, **kw))
            assert got == (expect, "extracted", 6), (kw, got)

    def test_mixed_content_tails_and_notes(self):
        # text AROUND inline elements (tails) must survive; footnote
        # bodies must not leak into display text
        import io as _io
        import zipfile as _zf
        from bertrand_spark.pipeline.docxtext import _extract_odt_one
        content = (
            '<?xml version="1.0"?>'
            '<office:document-content xmlns:office="urn:oasis:names:'
            'tc:opendocument:xmlns:office:1.0" xmlns:text="urn:oasis:'
            'names:tc:opendocument:xmlns:text:1.0">'
            "<office:body><office:text>"
            "<text:p>before <text:span>inside</text:span> after"
            "<text:note><text:note-body><text:p>footnote text"
            "</text:p></text:note-body></text:note> tail</text:p>"
            "</office:text></office:body></office:document-content>")
        buf = _io.BytesIO()
        with _zf.ZipFile(buf, "w") as z:
            z.writestr("content.xml", content)
        text, status, n = _extract_odt_one(buf.getvalue())
        assert text == "before inside after tail"
        assert "footnote" not in text

    def test_headings_counted_as_paragraphs(self):
        import io as _io
        import zipfile as _zf
        from bertrand_spark.pipeline.docxtext import _extract_odt_one
        content = (
            '<office:document-content xmlns:office="urn:oasis:names:'
            'tc:opendocument:xmlns:office:1.0" xmlns:text="urn:oasis:'
            'names:tc:opendocument:xmlns:text:1.0"><office:body>'
            '<office:text><text:h text:outline-level="1">Head</text:h>'
            "<text:p>body</text:p></office:text></office:body>"
            "</office:document-content>")
        buf = _io.BytesIO()
        with _zf.ZipFile(buf, "w") as z:
            z.writestr("content.xml", content)
        assert _extract_odt_one(buf.getvalue()) == (
            "Head\nbody", "extracted", 2)

    def test_degrade_classes(self):
        from bertrand_spark.pipeline.docxtext import (_extract_odt_one,
                                                      odt_write,
                                                      ole_write)
        assert _extract_odt_one(odt_write(["x"], encrypted=True)) == (
            None, "encrypted", None)
        assert _extract_odt_one(b"junk") == (None, "not-odt", None)
        assert _extract_odt_one(ole_write("legacy")) == (
            None, "legacy-doc", None)
        assert _extract_odt_one(None) == (None, None, None)
        import io as _io
        import zipfile as _zf
        buf = _io.BytesIO()
        with _zf.ZipFile(buf, "w") as z:
            z.writestr("mimetype",
                       "application/vnd.oasis.opendocument.text")
        assert _extract_odt_one(buf.getvalue()) == (
            None, "missing-part", None)

    def test_fuzz_never_raises(self):
        import random
        from bertrand_spark.pipeline.docxtext import (_extract_odt_one,
                                                      odt_write)
        rng = random.Random(1356)
        base = odt_write(self.PARAS, spans=True, rle_spaces=True)
        for _ in range(200):
            b = bytearray(base)
            for _ in range(rng.randrange(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            assert isinstance(_extract_odt_one(bytes(b)), tuple)

    def test_spark_seam(self, spark):
        from pyspark.sql import functions as F
        from bertrand_spark.pipeline.docxtext import (extract_odt_text,
                                                      odt_write)
        rows = [(1, odt_write(["odt body ☃"]))]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = df.select(
            extract_odt_text(F.col("payload")).alias("o")).collect()[0]
        assert got.o.text == "odt body ☃"
        assert got.o.status == "extracted" and got.o.n_paragraphs == 1
