"""Round-4 regression tests.  The Unicode-whitespace parity tests of the
near-dup sketch kernels live in ``test_dedup.py``, the
parquet ns-detection tests in ``test_sources.py``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestFloat80Complex160:
    """Verdict item 3: reference types/float.py:22 (Float80/longdouble)
    and types/complex.py:22 (Complex160) — DoubleType carrier with a
    documented precision delta; full alias + cast-edge coverage."""

    def test_resolve_aliases(self):
        from bertrand_spark.types.resolve import resolve

        f80 = resolve("float80")
        assert f80.name == "float80"
        for alias in ("longdouble", "long double", "longfloat", "f10"):
            assert resolve(alias) is f80
        c160 = resolve("complex160")
        assert c160.name == "complex160"
        for alias in ("clongdouble", "clongfloat", "c20"):
            assert resolve(alias) is c160

    def test_carrier_types(self):
        import pyspark.sql.types as st

        from bertrand_spark.types.resolve import resolve

        assert resolve("float80").spark_type == st.DoubleType()
        c = resolve("complex160").spark_type
        assert [f.name for f in c.fields] == ["re", "im"]

    def test_comparison_edges(self):
        from bertrand_spark.types.core import TYPES, registry

        assert registry.edge_less(TYPES["float64"], TYPES["float80"])
        assert registry.edge_less(TYPES["complex128"], TYPES["complex160"])
        assert registry.edge_less(TYPES["float80"], TYPES["complex160"])

    def test_cast_edges(self, spark):
        from pyspark.sql import functions as F

        from bertrand_spark.convert.cast import cast_col

        df = spark.range(5).select(F.col("id").cast("int").alias("x"))
        r = df.select(cast_col(F.col("x"), "int32", "float80").alias("y"))
        assert r.schema["y"].dataType.simpleString() == "double"
        assert r.collect()[2]["y"] == 2.0
        r = df.select(cast_col(F.col("x"), "int32", "complex160").alias("y"))
        assert r.collect()[2]["y"].asDict() == {"re": 2.0, "im": 0.0}
        d2 = df.select(F.col("x").cast("double").alias("f"))
        assert (
            d2.select(cast_col(F.col("f"), "float80", "int32").alias("y"))
            .collect()[2]["y"]
            == 2
        )
        assert (
            d2.select(cast_col(F.col("f"), "float80", "string").alias("y"))
            .collect()[2]["y"]
            == "2.0"
        )


class TestFloatRegexPin:
    """Verdict item 7: pin the stacked-exponent classification — shapes
    like ``1e5e5`` match neither _FLOAT_RE nor try_cast(double) and
    classify ``str``; the try_cast gate stays strictly weaker than the
    regexes on every match."""

    def test_stacked_exponent_is_str(self, spark):
        from pyspark.sql import functions as F

        from bertrand_spark.types.detect import type_tag_column

        vals = ["1e5e5", "1.5e5e5", "1e5", "1.5", ".5e3", "1e99999",
                "1e-99999", "inf", "infinity"]
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        tags = {
            r["s"]: r["tag"]
            for r in df.select(
                "s", type_tag_column(F.col("s")).alias("tag")
            ).collect()
        }
        assert tags["1e5e5"] == "str"
        assert tags["1.5e5e5"] == "str"
        assert tags["1e5"] == "float"
        assert tags[".5e3"] == "float"
        assert tags["1e99999"] == "float"   # overflow → Infinity, non-null
        assert tags["1e-99999"] == "float"  # underflow → 0.0, non-null
        assert tags["inf"] == "str"         # cast-parses but regex-rejects
        assert tags["infinity"] == "str"

    def test_gate_weaker_than_regex(self, spark):
        """No string that matches _INT_RE/_FLOAT_RE fails
        try_cast(double): property-sampled shapes across the grammar."""
        from pyspark.sql import functions as F

        from bertrand_spark.types.detect import _FLOAT_RE, _INT_RE

        shapes = [
            "1", "+1", "-1", "007", "1.0", "-1.", ".5", "+.5", "1e3",
            "1E-3", "1.5e+300", "9" * 400, "." + "9" * 200,
            ("9" * 200) + "e" + ("9" * 18), "  1.5  ", "\t-2e4\n",
        ]
        df = spark.createDataFrame([(s,) for s in shapes], "s string")
        bad = df.filter(
            (F.col("s").rlike(_INT_RE) | F.col("s").rlike(_FLOAT_RE))
            & F.col("s").try_cast("double").isNull()
        ).count()
        assert bad == 0


class TestFloatThresholdSpectralGap:
    """Verdict item 4: every float-threshold / rank-boundary oracle is
    only as robust as the data's distance to the decision boundary.
    numpy float64 GEMM vs DuckDB list_cosine_similarity can disagree by
    ~1e-15 (summation order); these tests measure the actual gap in the
    driver's testdata and assert it is orders of magnitude larger, so
    set membership cannot flip between engines.

    Thresholds under audit: x16 (cosine >= 0.45), x06 (>= 0.4), and the
    rank boundaries of x05 (top-10 per query) and x38 (3-NN per src).
    """

    ENGINE_EPS = 1e-9  # >> observed cross-engine discrepancy (~1e-15)

    @staticmethod
    def _cosines(sf_dir):
        import numpy as np
        import pyarrow.parquet as pq

        t = pq.read_table(f"{sf_dir}/embeddings.parquet")
        m = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        return m @ m.T

    @pytest.mark.parametrize(
        "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    )
    def test_pair_thresholds_have_gap(self, sf_dir):
        import numpy as np

        c = self._cosines(sf_dir)
        iu = np.triu_indices_from(c, k=1)
        vals = c[iu]
        for thr in (0.45, 0.4):  # x16, x06
            gap = np.abs(vals - thr).min()
            assert gap > self.ENGINE_EPS, (
                f"{sf_dir}: nearest cosine sits {gap:.2e} from {thr} — "
                "within cross-engine float noise; pick a new threshold"
            )

    @pytest.mark.parametrize(
        "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    )
    def test_rank_boundaries_have_gap_or_exact_tie(self, sf_dir):
        """x05 (k=10, 3 queries) and x38 (k=3, all srcs): the k-th vs
        (k+1)-th cosine per anchor must differ by >> engine noise OR be
        exactly equal (the (cosine DESC, id ASC) tie-break then picks
        the same row in both engines)."""
        import numpy as np

        c = self._cosines(sf_dir)
        np.fill_diagonal(c, -np.inf)  # x38 excludes self; x05's top-1 is
        # the query itself — boundary behavior is identical either way
        for k, anchors in ((10, range(3)), (3, range(c.shape[0]))):
            for i in anchors:
                row = np.sort(c[i])[::-1]
                boundary = row[k - 1] - row[k]
                assert boundary == 0.0 or boundary > self.ENGINE_EPS, (
                    f"{sf_dir}: anchor {i} k={k} boundary gap "
                    f"{boundary:.2e} is inside engine noise"
                )


class TestAdviceFixes:
    """Round-3 ADVICE items."""

    def test_skew_report_empty_cols_raises(self, spark):
        from bertrand_spark.operators.joins import skew_report

        df = spark.range(10)
        with pytest.raises(ValueError, match="at least one column"):
            skew_report(df, [])


def _png_forward_filter(img, nch, ftypes):
    """Reference forward PNG filtering (spec §9) for decoder tests."""
    import struct
    import zlib

    import numpy as np

    h, w, _ = img.shape
    stride = w * nch
    flat = img.reshape(h, stride).astype(np.int32)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        f = ftypes[y % len(ftypes)]
        line = np.zeros(stride, dtype=np.int32)
        for j in range(stride):
            a = cur[j - nch] if j >= nch else 0
            b = prev[j]
            c = prev[j - nch] if j >= nch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[j] = (cur[j] - pred) % 256
        out += bytes([f]) + bytes(line.astype(np.uint8).tolist())
        prev = cur
    color_type = {1: 0, 3: 2, 4: 6}[nch]

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out))) + chunk(b"IEND", b"")
    )


class TestStdlibPngCodec:
    """Verdict item 6: the real-codec path is now testable in a
    codec-free container via a stdlib-only PNG decoder behind the same
    ``_real_decode`` seam (PIL still preferred when importable)."""

    def test_roundtrip_rgb(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _png_decode, png_encode

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, (6, 9, 3), dtype=np.uint8)
        w, h, c, px = _png_decode(png_encode(9, 6, 3, img.tobytes()), 3)
        assert (w, h, c) == (9, 6, 3)
        assert px == img.tobytes()

    def test_all_filters_roundtrip(self):
        """Filters 0-4 (one per scanline) all unfilter back exactly."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _png_decode

        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, (10, 7, 3), dtype=np.uint8)
        payload = _png_forward_filter(img, 3, [0, 1, 2, 3, 4])
        w, h, c, px = _png_decode(payload, 3)
        assert (w, h, c) == (7, 10, 3)
        assert px == img.tobytes()

    def test_gray_to_rgb_and_rgb_to_gray(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _png_decode, png_encode

        g = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
        w, h, c, px = _png_decode(png_encode(4, 3, 1, g.tobytes()), 3)
        assert (w, h, c) == (4, 3, 3)
        assert px == np.repeat(g, 3, axis=2).tobytes()
        rgb = np.random.default_rng(3).integers(0, 256, (2, 5, 3), dtype=np.uint8)
        w, h, c, px = _png_decode(png_encode(5, 2, 3, rgb.tobytes()), 1)
        assert (w, h, c) == (5, 2, 1)
        # PIL's exact fixed-point RGB->L (truncating >>16) — parity with
        # a PIL-ful worker is the contract, not a */1000 approximation
        r = rgb[:, :, 0].astype(np.uint32)
        gg = rgb[:, :, 1].astype(np.uint32)
        b = rgb[:, :, 2].astype(np.uint32)
        want = ((r * 19595 + gg * 38470 + b * 7471) >> 16).astype(np.uint8)
        assert px == want.tobytes()
        # the triple where //1000 truncation diverges from PIL (127 vs 128)
        _, _, _, px1 = _png_decode(
            png_encode(1, 1, 3, bytes([6, 215, 0])), 1
        )
        assert px1 == bytes([128])

    def test_rgba_alpha_dropped(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _png_decode, png_encode

        img = np.random.default_rng(5).integers(0, 256, (3, 3, 4), dtype=np.uint8)
        w, h, c, px = _png_decode(png_encode(3, 3, 4, img.tobytes()), 3)
        assert (w, h, c) == (3, 3, 3)
        assert px == img[:, :, :3].tobytes()

    def test_corrupt_and_unsupported_are_none(self):
        from bertrand_spark.pipeline.multimodal import _png_decode, png_encode

        assert _png_decode(b"", 3) == (None, None, None, None)
        assert _png_decode(b"\x89PNG\r\n\x1a\njunk", 3) == (None, None, None, None)
        assert _png_decode(b"\xff\xd8\xff jpeg", 3) == (None, None, None, None)
        good = png_encode(4, 4, 3, bytes(48))
        assert _png_decode(good[:30], 3) == (None, None, None, None)  # truncated

    def test_resize_on_real_decoded_pixels(self, spark):
        """End-to-end: encode → decode='real' (stdlib in this container)
        → vectorized resize, all through the Spark plumbing."""
        import numpy as np

        from bertrand_spark.pipeline import multimodal as M

        img = np.random.default_rng(9).integers(0, 256, (4, 4, 3), dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, M.png_encode(4, 4, 3, img.tobytes()))], ["media_id", "payload"]
        )
        dec = M.decode_images(df, decode="real")
        out = M.resize_images(dec, 2, 2).collect()[0]
        assert (out["width"], out["height"]) == (2, 2)
        want = img[::2, ::2]  # nearest-neighbor with exact 2x downscale
        assert out["pixels"] == want.tobytes()


class TestPngCodecProperties:
    """Property round-trips: arbitrary sizes/channels/filter mixes."""

    def test_random_roundtrips(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _png_decode, png_encode

        rng = np.random.default_rng(42)
        for _ in range(25):
            h = int(rng.integers(1, 12))
            w = int(rng.integers(1, 12))
            c = int(rng.choice([1, 3, 4]))
            img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
            dw, dh, dc, px = _png_decode(png_encode(w, h, c, img.tobytes()), 3)
            assert (dw, dh, dc) == (w, h, 3)
            if c == 3:
                want = img
            elif c == 1:
                want = np.repeat(img, 3, axis=2)
            else:  # RGBA → alpha dropped
                want = img[:, :, :3]
            assert px == want.tobytes(), f"shape {(h, w, c)}"

    def test_random_filter_mixes(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _png_decode

        rng = np.random.default_rng(77)
        for _ in range(15):
            h = int(rng.integers(2, 10))
            w = int(rng.integers(2, 10))
            nch = int(rng.choice([1, 3, 4]))
            img = rng.integers(0, 256, (h, w, nch), dtype=np.uint8)
            ftypes = [int(x) for x in rng.integers(0, 5, h)]
            payload = _png_forward_filter(img, nch, ftypes)
            dw, dh, dc, px = _png_decode(payload, 3)
            assert (dw, dh) == (w, h)
            want = (
                np.repeat(img, 3, axis=2)
                if nch == 1
                else (img if nch == 3 else img[:, :, :3])
            )
            assert px == want.tobytes(), f"shape {(h, w, nch)} filters {ftypes}"


class TestNumpyClassResolution:
    """numpy scalar CLASSES (not just dtypes/strings) resolve to the
    lattice: np.float32's MRO carries no Python builtin except object,
    so the scalar-class walk alone would hit the Object escape hatch —
    dtype-name resolution runs first for numpy classes."""

    def test_all_numpy_scalar_classes(self):
        import numpy as np

        from bertrand_spark.types.resolve import resolve

        want = {
            np.float32: "float32", np.int32: "int32", np.int8: "int8",
            np.uint16: "uint16", np.longdouble: "float80",
            np.clongdouble: "complex160", np.bool_: "bool",
            np.float64: "float64", np.complex64: "complex64",
            np.complex128: "complex128",
        }
        for cls, name in want.items():
            assert resolve(cls).name == name, cls
        assert resolve(np.str_).name == "string"
        assert resolve(np.bytes_).name == "binary"
        # linux numpy spellings of the extended types
        assert resolve("float128").name == "float80"
        assert resolve("complex256").name == "complex160"
        # non-dtype classes still take the Object escape hatch
        class Custom: pass
        assert resolve(Custom).name == "object"


class TestMixCorpus:
    def test_proportions_and_determinism(self, spark):
        from bertrand_spark.pipeline.curation import mix_corpus

        rows = [(i, f"s{i % 4}") for i in range(4000)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = mix_corpus(df, {"s0": 0.5, "s1": 0.25, "s2": 0.25})
        got = {r["source"]: r["n"] for r in out.groupBy("source").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
        ).collect()}
        assert set(got) == {"s0", "s1", "s2"}  # s3 dropped: mix is a whitelist
        # binding source (s0, rate 1.0) keeps everything; others ~half
        assert got["s0"] == 1000
        for s in ("s1", "s2"):
            assert 400 <= got[s] <= 600  # md5-bucket rate 0.5 of 1000
        # deterministic: same call → identical kept set
        a = sorted(r["doc_id"] for r in out.collect())
        b = sorted(r["doc_id"] for r in mix_corpus(
            df, {"s0": 0.5, "s1": 0.25, "s2": 0.25}).collect())
        assert a == b

    def test_validation(self, spark):
        from bertrand_spark.pipeline.curation import mix_corpus

        df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
        with pytest.raises(ValueError, match="at least one"):
            mix_corpus(df, {})
        with pytest.raises(ValueError, match="positive"):
            mix_corpus(df, {"a": 0.0})
        with pytest.raises(ValueError, match="absent"):
            mix_corpus(df, {"a": 0.5, "zz": 0.5})


class TestKeepBestCanonical:
    def test_prefer_column_keeps_argmax(self, spark):
        from bertrand_spark.pipeline.graph import dedup_keep_canonical

        df = spark.createDataFrame(
            [(1, 10), (2, 99), (3, 50), (4, 7), (5, 7)],
            "doc_id long, score long",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
        )
        # cluster {1,2,3}: keep 2 (score 99); cluster {4,5}: tie -> min id 4
        kept = sorted(
            r["doc_id"]
            for r in dedup_keep_canonical(
                df, pairs, "doc_id", prefer="score"
            ).collect()
        )
        assert kept == [2, 4]
        # default min-id behavior unchanged
        kept_min = sorted(
            r["doc_id"]
            for r in dedup_keep_canonical(df, pairs, "doc_id").collect()
        )
        assert kept_min == [1, 4]


class TestCodecFuzz:
    """Robustness: NO payload may crash the decoder — corrupt bytes
    return the all-None row (the one-bad-row-must-not-abort contract)."""

    def test_bit_flips_never_crash(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _png_decode, png_encode

        rng = np.random.default_rng(13)
        img = rng.integers(0, 256, (6, 6, 3), dtype=np.uint8)
        good = bytearray(png_encode(6, 6, 3, img.tobytes()))
        for _ in range(60):
            bad = bytearray(good)
            pos = int(rng.integers(0, len(bad)))
            bad[pos] ^= int(rng.integers(1, 256))
            out = _png_decode(bytes(bad), 3)  # must not raise
            assert isinstance(out, tuple) and len(out) == 4
            w, h, c, px = out
            if px is not None:  # flip hit a non-load-bearing byte
                assert c == 3 and len(px) == w * h * 3

    def test_truncations_never_crash(self):
        from bertrand_spark.pipeline.multimodal import _png_decode, png_encode

        good = png_encode(4, 4, 1, bytes(range(16)))
        for cut in range(0, len(good), 3):
            out = _png_decode(good[:cut], 3)
            assert isinstance(out, tuple) and len(out) == 4


class TestMixCorpusProperties:
    def test_random_weights_respect_proportions(self, spark):
        """For random weights over uniform groups: the binding source
        keeps ~everything; realized proportions track the targets
        (within md5-bucket granularity)."""
        import random

        from pyspark.sql import functions as F

        from bertrand_spark.pipeline.curation import mix_corpus

        rng = random.Random(99)
        rows = [(i, f"g{i % 5}") for i in range(5000)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        for _ in range(3):
            raw = [rng.uniform(0.05, 1.0) for _ in range(3)]
            tot = sum(raw)
            weights = {f"g{j}": raw[j] / tot for j in range(3)}
            out = (
                mix_corpus(df, weights)
                .groupBy("source")
                .agg(F.count("*").alias("n"))
                .collect()
            )
            got = {r["source"]: r["n"] for r in out}
            kept_total = sum(got.values())
            assert set(got) == set(weights)
            for s, w in weights.items():
                # within 10% of target share + bucket noise
                assert abs(got[s] / kept_total - w) < 0.1, (s, w, got)


class TestCaseSensitiveAliases:
    """numpy single-char codes are case-distinguished ('M8' datetime64
    vs 'm8' timedelta64, 'U' unicode vs 'u' unsigned, 'g' longdouble vs
    'G' clongdouble); the case-insensitive alias table silently held
    only the last registration ('M8' resolved to TIMEDELTA).  The
    exact-case table is consulted first and pins all six."""

    def test_exact_case_codes(self):
        from bertrand_spark.types.resolve import resolve

        assert resolve("M8").name == "datetime"
        assert resolve("m8").name == "timedelta"
        assert resolve("U").name == "string"
        assert resolve("u").name == "unsigned"
        assert resolve("g").name == "float80"
        assert resolve("G").name == "complex160"

    def test_insensitive_aliases_still_work(self):
        from bertrand_spark.types.resolve import resolve

        assert resolve("DATETIME64").name == "datetime"
        assert resolve("Timedelta").name == "timedelta"
        assert resolve("STRING").name == "string"


class TestPlatformAliasSurface:
    """Reference platform_specific_aliases (types/integer.py:270-355,
    complex.py:25,68): C-language type names at LP64 widths plus the
    case-distinguished single-char numpy/C codes."""

    def test_full_surface(self):
        from bertrand_spark.types.resolve import resolve

        cases = {
            "char": "int8", "signed char": "int8", "short": "int16",
            "intc": "int32", "long": "int64", "long long": "int64",
            "ssize_t": "int64", "intp": "int64",
            "unsigned char": "uint8", "unsigned short": "uint16",
            "uintc": "uint32", "unsigned long": "uint64",
            "unsigned long long": "uint64", "size_t": "uint64",
            "ulonglong": "uint64",
            "b": "int8", "h": "int16", "l": "int64", "q": "int64",
            "p": "int64", "B": "uint8", "H": "uint16", "I": "uint32",
            "L": "uint64", "Q": "uint64", "P": "uint64",
            "D": "complex128", "F": "complex64",
            "d": "float64", "i": "signed",
        }
        for alias, want in cases.items():
            assert resolve(alias).name == want, alias


class TestSecondReviewRegressions:
    def test_mix_corpus_binding_source_keeps_all(self, spark):
        """Non-binary weights (30/70): floor(buckets * w*T/n) would give
        9999 for the binding source via float round-down; the clamp must
        keep 100% of it."""
        from pyspark.sql import functions as F

        from bertrand_spark.pipeline.curation import mix_corpus

        rows = [(i, "a" if i % 2 == 0 else "b") for i in range(10000)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        got = {
            r["source"]: r["n"]
            for r in mix_corpus(df, {"a": 0.3, "b": 0.7})
            .groupBy("source")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got["b"] == 5000  # binding source: every row kept
        share = got["a"] / (got["a"] + got["b"])
        assert abs(share - 0.3) < 0.02
