"""Round-7 regression gates.

1. q54 de-weak: the TPC-H Q17 plan no longer FORCES broadcasts of its
   sf-scaling inputs (brand-filtered part, |part|-cardinality
   thresholds aggregate) — AQE picks broadcast at bench scale from
   measured sizes instead, so the same plan builder survives 100 TB.
2. audit_broadcast_hints: the new logical-plan audit catches the
   pre-fix q54 shape (static hint on an unfiltered fact aggregate),
   passes the q57 post-aggregate-filter idiom and bounded dimensions.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bertrand_spark.plans.audit import audit_broadcast_hints  # noqa: E402
from bertrand_spark.plans.queries import QUERIES  # noqa: E402


def _analyzed(df):
    return df._jdf.queryExecution().analyzed()


class TestQ54DeWeak:
    def test_no_static_hints_in_q54(self, spark, sf_dir):
        """The analyzed plan must carry ZERO ResolvedHint nodes — both
        round-6 hints (filtered part, thresholds aggregate) removed."""
        df = QUERIES["q54_small_quantity_revenue"](spark, sf_dir)
        plan = _analyzed(df).toString()
        assert "ResolvedHint" not in plan
        assert audit_broadcast_hints("q54", _analyzed(df)) == []

    def test_aqe_still_broadcasts_at_bench_scale(self, spark, sf_dir):
        """Dropping the hint must not cost the small-sf plan its
        broadcasts: after execution, AQE's final plan joins both the
        filtered part and the thresholds aggregate as broadcast-hash —
        chosen from measured sizes, not forced."""
        df = QUERIES["q54_small_quantity_revenue"](spark, sf_dir)
        df.collect()  # finalize the adaptive plan
        final = df._jdf.queryExecution().executedPlan().toString()
        assert final.count("BroadcastHashJoin") >= 2, final

    def test_filtered_part_hints_dropped_in_q51_q52_q55(self, spark, sf_dir):
        """The milder instances of the same pattern: q51/q52/q55 no
        longer hint the filtered (but sf-scaling) part dimension; their
        remaining hints are nation/region-bounded only."""
        for name in (
            "q51_market_share",
            "q52_product_profit",
            "q55_disjunctive_revenue",
        ):
            df = QUERIES[name](spark, sf_dir)
            assert audit_broadcast_hints(name, _analyzed(df)) == [], name


class TestBroadcastHintAudit:
    def test_flags_prefix_q54_shape(self, spark, sf_dir):
        """The exact round-6 q54 shape — static F.broadcast on a
        per-partkey aggregate of unfiltered lineitem AND on the
        brand-filtered part — must be flagged (twice)."""
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_partkey", "l_quantity", "l_extendedprice"
        )
        thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
            (F.avg("l_quantity") * 0.2).alias("qty_threshold")
        )
        p = (
            spark.read.parquet(f"{sf_dir}/part.parquet")
            .filter(F.col("p_brand") == "Brand#3")
            .select("p_partkey")
        )
        prefix = (
            li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
            .join(F.broadcast(thresholds), li["l_partkey"] == F.col("t_partkey"))
            .filter(F.col("l_quantity") < F.col("qty_threshold"))
            .agg((F.sum("l_extendedprice") / 7.0).alias("avg_yearly"))
        )
        flags = audit_broadcast_hints("q54_prefix_shape", _analyzed(prefix))
        assert len(flags) == 2, flags
        assert any("lineitem" in f for f in flags)
        assert any("part" in f for f in flags)

    def test_passes_post_aggregate_filter_idiom(self, spark, sf_dir):
        """q57's top-supplier frame (max-revenue filter ABOVE the
        per-supplier aggregate) is the documented safe idiom."""
        df = QUERIES["q57_top_supplier"](spark, sf_dir)
        assert audit_broadcast_hints("q57_top_supplier", _analyzed(df)) == []

    def test_passes_bounded_dimensions(self, spark, sf_dir):
        """nation/region-derived broadcast frames stay clean."""
        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(10)
        df = li.join(F.broadcast(n), li["l_suppkey"] == n["n_nationkey"])
        assert audit_broadcast_hints("bounded_dim", _analyzed(df)) == []

    def test_passes_global_aggregate(self, spark, sf_dir):
        """A global (no grouping keys) aggregate is one row by
        construction — the q45 scalar-subquery idiom."""
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        avg_bal = c.agg(F.avg("c_acctbal").alias("ab"))
        df = c.crossJoin(F.broadcast(avg_bal)).filter(
            F.col("c_acctbal") > F.col("ab")
        )
        assert audit_broadcast_hints("global_agg", _analyzed(df)) == []

    def test_flags_raw_fact_broadcast(self, spark, sf_dir):
        """Hinting an unfiltered sf-scaling base relation is flagged."""
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        df = li.join(F.broadcast(o), li["l_orderkey"] == o["o_orderkey"])
        flags = audit_broadcast_hints("raw_fact", _analyzed(df))
        assert len(flags) == 1 and "orders" in flags[0], flags

    def test_local_relation_is_bounded(self, spark):
        """Literal lookup tables (createDataFrame) pass: bounded by the
        code that built them."""
        lv = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        big = spark.range(1000).withColumnRenamed("id", "k")
        df = big.join(F.broadcast(lv), "k", "left")
        assert audit_broadcast_hints("local_lookup", _analyzed(df)) == []


class TestDerivedPartsupp:
    """q58-q60 close TPC-H at 22/22 via a partsupp derived
    deterministically from part × supplier (same arithmetic in both
    engines — see queries._PARTSUPP_SQL)."""

    def test_shape_and_ranges(self, spark, sf_dir):
        from bertrand_spark.plans.queries import derived_partsupp

        ps = derived_partsupp(spark, sf_dir).cache()
        n_part = spark.read.parquet(f"{sf_dir}/part.parquet").count()
        assert ps.count() == 4 * n_part
        # 4 DISTINCT suppliers per part (stride floor(S/4) over S keys)
        per_part = ps.groupBy("ps_partkey").agg(
            F.countDistinct("ps_suppkey").alias("k")
        )
        assert per_part.filter(F.col("k") != 4).count() == 0
        row = ps.agg(
            F.min("ps_availqty"), F.max("ps_availqty"),
            F.min("ps_supplycost"), F.max("ps_supplycost"),
        ).collect()[0]
        assert 1 <= row[0] and row[1] <= 9999
        assert 1.0 <= row[2] and row[3] <= 1001.0
        # suppkeys land inside the real supplier key domain
        s_keys = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
            "s_suppkey"
        )
        dangling = ps.join(
            s_keys, ps["ps_suppkey"] == s_keys["s_suppkey"], "left_anti"
        )
        assert dangling.count() == 0
        ps.unpersist()

    def test_deterministic_across_builds(self, spark, sf_dir):
        from bertrand_spark.plans.queries import derived_partsupp

        a = derived_partsupp(spark, sf_dir).orderBy("ps_partkey", "ps_suppkey")
        b = derived_partsupp(spark, sf_dir).orderBy("ps_partkey", "ps_suppkey")
        assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]

    def test_q58_uses_keyed_window(self, spark, sf_dir):
        """The per-part min is a window PARTITIONED BY the part key —
        one shuffle, no self-join, and never a single-partition funnel."""
        df = QUERIES["q58_min_cost_supplier"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan
        assert "hashpartitioning(p_partkey" in plan, plan[:2000]

    def test_q60_semi_joins(self, spark, sf_dir):
        """Both IN-subqueries become LEFT SEMI joins (no row
        multiplication from the part or supplier restrictions)."""
        df = QUERIES["q60_potential_promotion"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("LeftSemi") >= 2, plan[:2000]


class TestAdviceR6Fixes:
    """Round-6 ADVICE items, each with the failure it guards against."""

    def test_compaction_survives_name_resolution(self, spark):
        """rename-rename-drop swap: the store name resolves after
        compaction, and neither scratch name (tmp/bak) survives —
        a crash between the renames now leaves the data under the
        backup name instead of leaving the store missing."""
        from bertrand_spark.pipeline.dedup import (
            compact_fingerprint_store, write_fingerprint_store,
        )

        t = "t_compact_atomicity_r7"
        for suffix in ("", "__compact_tmp", "__compact_bak"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")
        try:
            docs = spark.createDataFrame(
                [(i, f"text {i % 5}") for i in range(20)],
                "doc_id long, text string",
            )
            write_fingerprint_store(docs, t, num_buckets=4)
            write_fingerprint_store(docs, t, num_buckets=4, mode="append")
            before = spark.table(t).distinct().count()
            compact_fingerprint_store(spark, t)
            assert spark.table(t).count() == before
            existing = {
                r["tableName"] for r in spark.sql("SHOW TABLES").collect()
            }
            assert f"{t}__compact_tmp" not in existing
            assert f"{t}__compact_bak" not in existing
        finally:
            for suffix in ("", "__compact_tmp", "__compact_bak"):
                spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")

    def test_semantic_dedup_string_ids(self, spark):
        """_keep_dominant_per_bucket derives the output id type from
        the input schema — string ids used to crash at runtime against
        the hardcoded 'long'."""
        from bertrand_spark.pipeline.similarity import (
            semantic_dedup_bucketed,
        )

        rows = [
            ("doc_a", [1.0, 1.0, 1.0, 0.0]),
            ("doc_b", [1.0, 1.0, 0.9, 0.0]),   # dominated by doc_a
            ("doc_c", [-1.0, 1.0, 1.0, 0.0]),  # different bucket
        ]
        df = spark.createDataFrame(
            rows, "vec_id string, embedding array<double>"
        )
        kept = semantic_dedup_bucketed(df, threshold=0.9, bits=2)
        assert {r["vec_id"] for r in kept.collect()} == {"doc_a", "doc_c"}

    def test_ivf_append_refuses_uncoded_rows_on_pq_index(
        self, spark, sf_dir, tmp_path
    ):
        """Appending without codebooks to a PQ-served index would merge
        NULL-code rows that ivf_pq_topk silently never returns — the
        append must refuse instead."""
        import pytest as _pytest

        from bertrand_spark.pipeline.similarity import (
            ivf_append, ivf_build, ivf_write, pq_encode, pq_train,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned, cents = ivf_build(e, num_cells=4, seed=5)
        cb = pq_train(e, "embedding", m=8, nbits=4, seed=5)
        enc = pq_encode(assigned, cb)
        path = str(tmp_path / "pq_ivf")
        ivf_write(enc, cents, path)
        batch = e.limit(3)
        with _pytest.raises(ValueError, match="PQ-served"):
            ivf_append(spark, path, batch)
        # with codebooks the same append goes through
        ivf_append(spark, path, batch, codebooks=cb)

    def test_decode_report_subclasses_sum_for_pre_ihdr_truncation(
        self, spark
    ):
        """A PNG truncated BEFORE IHDR byte 26 probes NULL depth/ctype;
        the variant predicate now coalesces to false so the row counts
        in n_null_other and the three subclasses sum to n_null."""
        import warnings

        from bertrand_spark.pipeline.multimodal import (
            decode_format_report, decode_images, png_encode,
        )

        ok = png_encode(2, 2, 3, bytes(12))
        stub = ok[:20]  # signature + partial IHDR, no depth/ctype bytes
        df = spark.createDataFrame(
            [(1, ok), (2, stub)], "media_id long, payload binary"
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            decoded = decode_images(df, decode="real")
        row = {
            r["sniffed_format"]: r
            for r in decode_format_report(df, decoded).collect()
        }["png"]
        assert row["n_null"] == 1
        assert (
            row["n_null_unsupported_variant"]
            + row["n_null_no_decoder"]
            + row["n_null_other"]
            == row["n_null"]
        )
        assert row["n_null_other"] == 1


class TestBaselineJpegCodec:
    """Round-7 (VERDICT item 7): stdlib baseline JPEG decoder behind
    the _real_decode seam — the largest real-corpus decode gap (web
    corpora are majority JPEG).  PIL bit-parity is not a meaningful
    target for JPEG (the standard leaves IDCT precision and chroma
    upsampling open), so correctness is gated by round-tripping the
    paired baseline encoder at quality=100 (unit quantization ⇒ the
    only loss is YCbCr+DCT rounding) plus structural vectors."""

    def _rt(self, w, h, c, seed=3, **kw):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _jpeg_decode, jpeg_encode,
        )

        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        blob = jpeg_encode(w, h, c, px.tobytes(), quality=100, **kw)
        W, H, C, raw = _jpeg_decode(blob, c)
        assert (W, H, C) == (w, h, c)
        got = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, c)
        return np.abs(got.astype(int) - px.astype(int))

    def test_gray_roundtrip_tight(self):
        for w, h in [(8, 8), (16, 8), (13, 11), (1, 1), (32, 24)]:
            err = self._rt(w, h, 1)
            assert err.max() <= 2, (w, h, err.max())

    def test_rgb_444_roundtrip(self):
        for w, h in [(8, 8), (19, 7), (32, 32)]:
            err = self._rt(w, h, 3)
            assert err.max() <= 4, (w, h, err.max())

    def test_rgb_420_multi_block_mcus(self):
        """2x2-sampled luma exercises the multi-block-per-MCU path;
        chroma is box-averaged at encode and replicated at decode, so
        only smooth images bound tightly."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _jpeg_decode, jpeg_encode,
        )

        yy, xx = np.mgrid[0:24, 0:40]
        smooth = np.stack(
            [xx * 3 % 256, yy * 5 % 256, (xx + yy) * 2 % 256], axis=2
        ).astype(np.uint8)
        blob = jpeg_encode(
            40, 24, 3, smooth.tobytes(), quality=100, subsample="420"
        )
        W, H, C, raw = _jpeg_decode(blob, 3)
        assert (W, H, C) == (40, 24, 3)
        got = np.frombuffer(raw, dtype=np.uint8).reshape(24, 40, 3)
        err = np.abs(got.astype(int) - smooth.astype(int))
        assert err.max() <= 16 and err.mean() < 2.5

    def test_restart_markers(self):
        """DRI/RSTn: DC predictors reset and the bit reader re-aligns
        at every interval — byte-level protocol the decoder must track
        exactly or every block after the first marker is garbage."""
        for ri in (1, 2, 5):
            err = self._rt(40, 24, 3, seed=11, restart_interval=ri)
            assert err.max() <= 4, ri

    def test_channel_conversions(self):
        """gray JPEG → 3-channel replication; RGB JPEG → L via the
        same PIL fixed-point formula as the PNG path."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _jpeg_decode, jpeg_encode,
        )

        g = np.full((8, 8, 1), 77, dtype=np.uint8)
        blob = jpeg_encode(8, 8, 1, g.tobytes(), quality=100)
        W, H, C, raw = _jpeg_decode(blob, 3)
        got = np.frombuffer(raw, dtype=np.uint8).reshape(8, 8, 3)
        assert C == 3 and int(np.abs(got.astype(int) - 77).max()) <= 1
        assert (got[:, :, 0] == got[:, :, 1]).all()
        rgb = np.zeros((8, 8, 3), dtype=np.uint8)
        rgb[:, :, 0] = 200
        blob = jpeg_encode(8, 8, 3, rgb.tobytes(), quality=100)
        W, H, C, raw = _jpeg_decode(blob, 1)
        got = np.frombuffer(raw, dtype=np.uint8).reshape(8, 8, 1)
        # PIL L of (200,0,0) = (200*19595)>>16 = 59
        assert C == 1 and abs(int(got[0, 0, 0]) - 59) <= 2

    def test_rejects_out_of_scope_variants(self):
        """Arithmetic coding (SOF9), truncation, and garbage yield the
        all-None row — per-row degrade, never an exception.  (SOF2
        progressive is DECODED since round 7b — see
        TestProgressiveJpeg; a baseline scan under a SOF2 header is the
        same band decode, so the marker swap alone must still
        succeed.)"""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _jpeg_decode, jpeg_encode,
        )

        px = np.zeros((8, 8, 3), dtype=np.uint8)
        blob = jpeg_encode(8, 8, 3, px.tobytes())
        assert _jpeg_decode(blob.replace(b"\xff\xc0", b"\xff\xc9", 1), 3)[0] is None
        assert _jpeg_decode(blob.replace(b"\xff\xc0", b"\xff\xc2", 1), 3)[0] is not None
        assert _jpeg_decode(blob[:50], 3)[0] is None
        assert _jpeg_decode(b"\xff\xd8\xff\xe0junk", 3)[0] is None
        assert _jpeg_decode(b"", 3)[0] is None

    def test_decode_images_end_to_end(self, spark):
        """Through the Spark seam: JPEG and GIF payloads now DECODE
        under decode='real' without PIL.  Round 8 moved riff/WebP out
        of the report's no-decoder class too (a VP8L-less RIFF payload
        is corrupt-or-lossy → n_null_other; only 'unknown' remains
        no-decoder)."""
        import warnings

        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            decode_format_report, decode_images, gif_encode, jpeg_encode,
            png_encode,
        )

        rng = np.random.default_rng(5)
        px = rng.integers(0, 256, size=(6, 9, 3), dtype=np.uint8)
        jpeg = jpeg_encode(9, 6, 3, px.tobytes(), quality=100)
        png = png_encode(2, 2, 3, bytes(12))
        pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
        gidx = rng.integers(0, 8, size=(5, 7))
        gif = gif_encode(7, 5, gidx, pal)
        bad_gif = b"GIF89a" + bytes(20)
        riff = b"RIFF" + bytes(20)
        df = spark.createDataFrame(
            [(1, jpeg), (2, png), (3, gif), (4, bad_gif), (5, riff)],
            "media_id long, payload binary",
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            decoded = decode_images(df, decode="real")
        rows = {r["media_id"]: r for r in decoded.collect()}
        assert rows[1]["width"] == 9 and rows[1]["height"] == 6
        got = np.frombuffer(rows[1]["pixels"], dtype=np.uint8).reshape(6, 9, 3)
        assert np.abs(got.astype(int) - px.astype(int)).max() <= 4
        assert rows[2]["pixels"] is not None
        ggot = np.frombuffer(rows[3]["pixels"], dtype=np.uint8).reshape(5, 7, 3)
        assert (ggot == pal[gidx]).all()  # palette mapping is exact
        assert rows[4]["pixels"] is None
        assert rows[5]["pixels"] is None
        rep = {
            r["sniffed_format"]: r
            for r in decode_format_report(df, decoded).collect()
        }
        assert rep["jpeg"]["n_decoded"] == 1
        assert rep["jpeg"]["decoder"] == "stdlib-png-jpeg"
        assert rep["gif"]["n_decoded"] == 1
        assert rep["gif"]["n_null_other"] == 1  # the corrupt one
        assert rep["gif"]["n_null_no_decoder"] == 0
        assert rep["riff"]["n_null_no_decoder"] == 0  # round 8: stdlib VP8L
        assert rep["riff"]["n_null_other"] == 1  # VP8L-less RIFF payload


class TestKcenterSelect:
    """Greedy k-center diversity selection (Gonzalez farthest-point):
    deterministic, repartition-stable, exact match to a driver-side
    numpy replay of the same algorithm."""

    @staticmethod
    def _numpy_reference(ids, X, n):
        import numpy as np

        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        order = np.argsort(ids, kind="stable")
        ids, Xn = ids[order], Xn[order]
        picks = [(ids[0], float("inf"))]
        mind = 1.0 - Xn @ Xn[0]
        for _ in range(n - 1):
            # argmax of min-dist, ties by min id (ids sorted ascending →
            # np.argmax returns the first = smallest id)
            j = int(np.argmax(mind))
            if mind[j] <= 0.0:
                break
            picks.append((ids[j], float(mind[j])))
            mind = np.minimum(mind, 1.0 - Xn @ Xn[j])
        return picks

    def _data(self, spark, repartition=None):
        import numpy as np

        rng = np.random.default_rng(23)
        X = rng.normal(size=(60, 8))
        ids = np.arange(100, 160)
        rows = [(int(i), [float(v) for v in x]) for i, x in zip(ids, X)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        if repartition:
            df = df.repartition(repartition)
        return df, ids, X

    def test_matches_numpy_reference(self, spark):
        import numpy as np

        from bertrand_spark.pipeline.similarity import kcenter_select

        df, ids, X = self._data(spark)
        got = kcenter_select(df, 8)
        ref = self._numpy_reference(ids, X, 8)
        assert [p[0] for p in got] == [p[0] for p in ref]
        for (gi, gr), (ri, rr) in zip(got[1:], ref[1:]):
            assert abs(gr - rr) < 1e-9

    def test_repartition_stable(self, spark):
        from bertrand_spark.pipeline.similarity import kcenter_select

        df, _, _ = self._data(spark)
        df17, _, _ = self._data(spark, repartition=17)
        assert kcenter_select(df, 6) == kcenter_select(df17, 6)

    def test_greedy_invariants(self, spark):
        """Radii are non-increasing (the 2-approx proof's core fact),
        picks are distinct, and the seed is the minimum id."""
        from bertrand_spark.pipeline.similarity import kcenter_select

        df, ids, _ = self._data(spark)
        got = kcenter_select(df, 10)
        assert got[0][0] == int(ids.min())
        radii = [r for _, r in got[1:]]
        assert all(a >= b - 1e-12 for a, b in zip(radii, radii[1:]))
        assert len({i for i, _ in got}) == len(got)

    def test_duplicate_collapse_stops_early(self, spark):
        """With only 2 distinct directions, the third pick has min-dist
        0 and selection stops at 2 — budget n is an upper bound."""
        from bertrand_spark.pipeline.similarity import kcenter_select

        rows = [
            (1, [1.0, 0.0]), (2, [2.0, 0.0]),  # same direction as id 1
            (3, [0.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = kcenter_select(df, 3)
        assert [i for i, _ in got] == [1, 3]


class TestProgressiveJpeg:
    """Round-7b: progressive (SOF2) decode — spectral selection,
    successive approximation, EOB runs.  The gate is BIT-IDENTITY: a
    progressive encode → decode must produce exactly the pixels the
    baseline encode → decode produces (same quantized coefficients,
    same IDCT), so any desync in the refinement bit protocol — the
    intricate part (symbol, sign, buffered correction bits, run
    corrections after the EOBRUN symbol) — shows up as a hard failure,
    not a tolerance miss."""

    def _identical(self, px, w, h, c, q):
        from bertrand_spark.pipeline.multimodal import (
            _jpeg_decode, jpeg_encode,
        )

        base = _jpeg_decode(jpeg_encode(w, h, c, px.tobytes(), quality=q), c)
        prog = _jpeg_decode(
            jpeg_encode(w, h, c, px.tobytes(), quality=q, progressive=True), c
        )
        assert base[0] == w and prog[0] == w
        assert prog[3] == base[3], (w, h, c, q)

    def test_dense_coefficients(self):
        """Random noise: nearly every coefficient significant — the
        correction-bit path dominates."""
        import numpy as np

        rng = np.random.default_rng(13)
        for w, h, c, q in [(8, 8, 1, 100), (19, 7, 3, 100), (32, 32, 3, 90)]:
            self._identical(
                rng.integers(0, 256, size=(h, w, c), dtype=np.uint8), w, h, c, q
            )

    def test_sparse_coefficients_eob_runs(self):
        """Smooth gradients at low quality: most blocks end early, so
        EOB runs span many blocks and the run-correction buffering is
        the exercised path."""
        import numpy as np

        yy, xx = np.mgrid[0:48, 0:80]
        smooth = np.stack(
            [xx * 3 % 256, yy * 5 % 256, (xx + yy) * 2 % 256], axis=2
        ).astype(np.uint8)
        for q in (100, 75, 40):
            self._identical(smooth, 80, 48, 3, q)

    def test_flat_image_pure_eob(self):
        """A constant image: every AC band is one corpus-wide EOB run."""
        import numpy as np

        flat = np.full((24, 24, 3), 130, dtype=np.uint8)
        self._identical(flat, 24, 24, 3, 100)

    def test_progressive_through_spark_seam(self, spark):
        """decode_images(decode='real') decodes an SOF2 payload without
        PIL, and the format report counts it decoded."""
        import warnings

        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            decode_format_report, decode_images, jpeg_encode,
        )

        rng = np.random.default_rng(5)
        px = rng.integers(0, 256, size=(6, 9, 3), dtype=np.uint8)
        blob = jpeg_encode(9, 6, 3, px.tobytes(), quality=100, progressive=True)
        df = spark.createDataFrame(
            [(1, blob)], "media_id long, payload binary"
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            decoded = decode_images(df, decode="real")
        row = decoded.collect()[0]
        assert row["width"] == 9 and row["pixels"] is not None
        rep = decode_format_report(df, decoded).collect()[0]
        assert rep["n_decoded"] == 1

    def test_progressive_420_own_grid(self):
        """4:2:0 progressive: the non-interleaved AC scans cover each
        component's OWN block grid, which for luma differs from the
        padded MCU storage grid at non-16-multiple dims — still
        bit-identical to the 4:2:0 baseline round trip (pad blocks are
        DC-only in progressive but crop out either way)."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _jpeg_decode, jpeg_encode,
        )

        rng = np.random.default_rng(13)
        for w, h, q in [(40, 24, 100), (17, 19, 100), (33, 18, 75)]:
            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            base = _jpeg_decode(
                jpeg_encode(w, h, 3, px.tobytes(), quality=q, subsample="420"),
                3,
            )
            prog = _jpeg_decode(
                jpeg_encode(
                    w, h, 3, px.tobytes(), quality=q, subsample="420",
                    progressive=True,
                ),
                3,
            )
            assert prog[0] == w and prog[3] == base[3], (w, h, q)

    def test_fill_bytes_before_markers(self):
        """Spec B.1.1.2: markers may be preceded by any number of 0xFF
        fill bytes — a conformant multi-scan file with fills must decode
        identically, not degrade to NULL (round-7b review finding)."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _jpeg_decode, jpeg_encode,
        )

        rng = np.random.default_rng(13)
        px = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
        blob = jpeg_encode(40, 24, 3, px.tobytes(), quality=100, progressive=True)
        idx = blob.index(b"\xff\xda", blob.index(b"\xff\xda") + 2)
        filled = blob[:idx] + b"\xff\xff\xff" + blob[idx:]
        assert _jpeg_decode(filled, 3)[3] == _jpeg_decode(blob, 3)[3]
        base = jpeg_encode(40, 24, 3, px.tobytes(), quality=100)
        filled2 = base[:-2] + b"\xff" + base[-2:]  # fill before EOI
        assert _jpeg_decode(filled2, 3)[3] == _jpeg_decode(base, 3)[3]


class TestIvfDriftReport:
    """ivf_write persists a build-time per-cell stats snapshot;
    ivf_drift_report measures the live index against it — the
    measurement that turns ivf_append's documented rebuild-cadence
    trade into numbers."""

    def test_fresh_index_reports_unity(self, spark, sf_dir, tmp_path):
        from bertrand_spark.pipeline.similarity import (
            ivf_build, ivf_drift_report, ivf_write,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned, cents = ivf_build(e, num_cells=4, seed=5)
        path = str(tmp_path / "ivf")
        ivf_write(assigned, cents, path)
        rep = ivf_drift_report(spark, path).collect()
        assert len(rep) == 4
        for r in rep:
            assert r["n_build"] == r["n_now"]
            assert abs(r["n_growth"] - 1.0) < 1e-12
            assert abs(r["drift_ratio"] - 1.0) < 1e-9

    def test_drifted_append_is_visible(self, spark, sf_dir, tmp_path):
        """Append a shifted batch: the touched cells must show growth
        and a drift_ratio > 1 (mean distance to the stale centroid
        grew) — exactly the rebuild signal."""
        from pyspark.sql import functions as F

        from bertrand_spark.pipeline.similarity import (
            ivf_append, ivf_build, ivf_drift_report, ivf_write,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned, cents = ivf_build(e, num_cells=4, seed=5)
        path = str(tmp_path / "ivf")
        ivf_write(assigned, cents, path)
        shifted = e.limit(50).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * 3.0 + 2.5)
            .cast("array<float>")  # keep the stored element type
            .alias("embedding"),
        )
        ivf_append(spark, path, shifted)
        rep = {r["cell"]: r for r in ivf_drift_report(spark, path).collect()}
        grown = [r for r in rep.values() if r["n_now"] > r["n_build"]]
        assert grown, "append did not land anywhere"
        assert any(r["drift_ratio"] > 1.0 for r in grown)
        total_now = sum(r["n_now"] for r in rep.values())
        total_build = sum(r["n_build"] for r in rep.values())
        assert total_now == total_build + 50

    def test_pre_stats_index_degrades_to_nulls(self, spark, sf_dir, tmp_path):
        """An index written before build stats existed reports NULL
        build columns instead of failing."""
        from bertrand_spark.pipeline.similarity import (
            ivf_build, ivf_drift_report, ivf_write,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned, cents = ivf_build(e, num_cells=4, seed=5)
        path = str(tmp_path / "ivf_old")
        ivf_write(assigned, cents, path, stats=False)
        rep = ivf_drift_report(spark, path).collect()
        assert len(rep) == 4
        assert all(r["n_build"] is None and r["drift_ratio"] is None for r in rep)
        assert all(r["n_now"] > 0 for r in rep)


    def test_rebuild_without_stats_clears_stale_snapshot(
        self, spark, sf_dir, tmp_path
    ):
        """The periodic-rebuild flow this report exists to schedule:
        an in-place overwrite with stats=False must DELETE the old
        snapshot, not leave the drift report silently comparing the
        new index against the dead one's baseline."""
        from bertrand_spark.pipeline.similarity import (
            ivf_build, ivf_drift_report, ivf_write,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned, cents = ivf_build(e, num_cells=4, seed=5)
        path = str(tmp_path / "ivf_rebuild")
        ivf_write(assigned, cents, path)                 # stats snapshot
        a2, c2 = ivf_build(e.limit(100), num_cells=4, seed=9)
        ivf_write(a2, c2, path, stats=False)             # in-place rebuild
        rep = ivf_drift_report(spark, path).collect()
        assert all(r["n_build"] is None for r in rep), (
            "stale build_stats survived the rebuild"
        )

    def test_append_does_not_move_the_baseline(self, spark, sf_dir, tmp_path):
        """mode='append' writes must never touch the build snapshot —
        it IS the baseline appends drift from."""
        from bertrand_spark.pipeline.similarity import (
            ivf_assign, ivf_build, ivf_drift_report, ivf_write,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned, cents = ivf_build(e, num_cells=4, seed=5)
        path = str(tmp_path / "ivf_appendstats")
        ivf_write(assigned, cents, path)
        before = {
            r["cell"]: r["n_build"]
            for r in ivf_drift_report(spark, path).collect()
        }
        batch = ivf_assign(
            e.limit(20).select(
                (F.col("vec_id") + 50000).alias("vec_id"), "embedding"
            ),
            cents,
        )
        ivf_write(batch, cents, path, mode="append")
        after = {
            r["cell"]: r["n_build"]
            for r in ivf_drift_report(spark, path).collect()
        }
        assert after == before


class TestGifDecode:
    """Round-7c: stdlib GIF first-frame decode (LZW, palettes,
    interlace, frame-offset canvas composition).  The test encoder
    emits literal-only LZW with periodic CLEARs, so the decoded
    indices must map through the palette EXACTLY."""

    def test_roundtrip_exact(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _gif_decode, gif_encode,
        )

        rng = np.random.default_rng(3)
        pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        for w, h in [(31, 24), (137, 100), (1, 1)]:
            idx = rng.integers(0, 16, size=(h, w))
            W, H, C, raw = _gif_decode(gif_encode(w, h, idx, pal), 3)
            assert (W, H, C) == (w, h, 3)
            got = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
            assert (got == pal[idx]).all(), (w, h)

    def test_small_palette_and_gray(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _gif_decode, gif_encode,
        )

        pal = np.array(
            [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]],
            dtype=np.uint8,
        )
        idx = np.ones((4, 6), dtype=int)  # all red
        W, H, C, raw = _gif_decode(gif_encode(6, 4, idx, pal), 1)
        assert C == 1
        got = np.frombuffer(raw, dtype=np.uint8)
        # PIL fixed-point L of pure red = (255*19595)>>16 = 76
        assert (got == 76).all()

    def test_interlaced_and_offset_frames(self):
        """Hand-assemble an interlaced frame at a non-zero offset: the
        decoder must de-interlace rows and compose onto the background
        canvas."""
        import struct

        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _gif_decode, gif_encode,
        )

        rng = np.random.default_rng(9)
        pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
        idx = rng.integers(0, 8, size=(10, 6))
        # build a normal gif for the full frame, then rewrite the image
        # descriptor: offset (2,3), interlace flag, and re-order rows
        plain = gif_encode(6, 10, idx, pal)
        order = (
            list(range(0, 10, 8)) + list(range(4, 10, 8))
            + list(range(2, 10, 4)) + list(range(1, 10, 2))
        )
        scrambled = idx[np.asarray(order)]
        inter = gif_encode(6, 10, scrambled, pal)
        # canvas 10x14, frame at left=2, top=3, interlaced
        i = inter.index(b"\x2c")
        desc = b"\x2c" + struct.pack("<HHHHB", 2, 3, 6, 10, 0x40)
        patched = (
            inter[:6]
            + struct.pack("<HHBBB", 10, 14, 0x80 | 2, 0, 0)
            + bytes(pal.tobytes())
            + desc
            + inter[i + 10 :]
        )
        W, H, C, raw = _gif_decode(patched, 3)
        assert (W, H) == (10, 14)
        got = np.frombuffer(raw, dtype=np.uint8).reshape(14, 10, 3)
        # frame region de-interlaces back to the original rows
        assert (got[3:13, 2:8] == pal[idx]).all()
        # background fill = palette[bg=0]
        assert (got[0, 0] == pal[0]).all()

    def test_malformed_degrade(self):
        from bertrand_spark.pipeline.multimodal import _gif_decode

        assert _gif_decode(b"GIF89a" + bytes(20), 3)[0] is None
        assert _gif_decode(b"notagif", 3)[0] is None
        assert _gif_decode(b"", 3)[0] is None

class TestCodecCorruptionFuzz:
    """The per-row degrade contract, adversarially: NO corruption of a
    valid payload may ever raise out of a stdlib decoder — on a 100 TB
    crawl corpus every byte pattern eventually occurs, and one
    uncaught exception aborts a whole task.  Decoders must return
    pixels or the all-None row, nothing else."""

    def _fuzz(self, decode, blob, rng, n_trials=150):
        from conftest import mutate_blob  # shared mutation kernel

        for _ in range(n_trials):
            out = decode(bytes(mutate_blob(blob, rng)), 3)  # must not raise
            assert out[0] is None or isinstance(out[0], int)

    def test_jpeg_fuzz(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _jpeg_decode, jpeg_encode,
        )

        rng = np.random.default_rng(101)
        px = rng.integers(0, 256, size=(24, 16, 3), dtype=np.uint8)
        for kw in ({}, {"progressive": True}, {"subsample": "420"}):
            blob = jpeg_encode(16, 24, 3, px.tobytes(), quality=90, **kw)
            self._fuzz(_jpeg_decode, blob, rng)

    def test_gif_fuzz(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _gif_decode, gif_encode,
        )

        rng = np.random.default_rng(102)
        pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, size=(20, 14))
        self._fuzz(_gif_decode, gif_encode(14, 20, idx, pal), rng, 200)

    def test_png_fuzz(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _png_decode, png_encode,
        )

        rng = np.random.default_rng(103)
        self._fuzz(_png_decode, png_encode(12, 9, 3, bytes(12 * 9 * 3)), rng, 200)

    def test_hypothesis_random_blobs(self):
        """Pure-random byte blobs through every stdlib decoder."""
        from hypothesis import given, settings
        from hypothesis import strategies as hst

        from bertrand_spark.pipeline.multimodal import (
            _gif_decode, _jpeg_decode, _png_decode,
        )

        @settings(max_examples=120, deadline=None)
        @given(hst.binary(min_size=0, max_size=600))
        def run(blob):
            for dec in (_jpeg_decode, _gif_decode, _png_decode):
                out = dec(blob, 3)
                assert out[0] is None or isinstance(out[0], int)

        run()

    def test_hypothesis_prefixed_blobs(self):
        """Random bytes behind VALID magic prefixes — forces the
        parsers past the cheap magic check into segment/chunk logic."""
        from hypothesis import given, settings
        from hypothesis import strategies as hst

        from bertrand_spark.pipeline.multimodal import (
            _gif_decode, _jpeg_decode, _png_decode,
        )

        @settings(max_examples=120, deadline=None)
        @given(hst.binary(min_size=4, max_size=400))
        def run(tail):
            # the property IS "returns instead of raising"
            _jpeg_decode(b"\xff\xd8" + tail, 3)
            _gif_decode(b"GIF89a" + tail, 3)
            _png_decode(b"\x89PNG\r\n\x1a\n" + tail, 3)

        run()


class TestBpeTokenizer:
    """train_bpe / bpe_tokenize / bpe_token_count: a learned subword
    tokenizer (Sennrich et al. 2016) — one corpus pass to the bounded
    word-frequency table, driver merge loop, Arrow-kernel encode."""

    @staticmethod
    def _reference_bpe(word_counts, num_merges):
        """Independent naive reference: same algorithm, written from
        the paper, no shared code with the implementation."""
        vocab = {}
        for w, c in word_counts.items():
            syms = tuple(list(w[:-1]) + [w[-1] + "</w>"])
            vocab[syms] = vocab.get(syms, 0) + c
        merges = []
        for _ in range(num_merges):
            pairs = {}
            for syms, cnt in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] = pairs.get((a, b), 0) + cnt
            if not pairs:
                break
            mc = max(pairs.values())
            if mc < 2:
                break
            pair = min(p for p, c in pairs.items() if c == mc)
            merges.append(pair)
            nv = {}
            for syms, cnt in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i < len(syms) - 1 and (syms[i], syms[i + 1]) == pair:
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                nv[tuple(out)] = nv.get(tuple(out), 0) + cnt
            vocab = nv
        return merges

    def test_matches_reference_on_corpus(self, spark, sf_dir):
        import re
        from collections import Counter

        from bertrand_spark.pipeline.text import train_bpe
        from bertrand_spark.sources import read_table

        d = read_table(spark, sf_dir, "documents").limit(200)
        model = train_bpe(d, num_merges=60, min_freq=2)
        # driver-side reference over the same texts
        wc = Counter()
        for r in d.select("text").collect():
            for w in re.split(r"\s+", (r["text"] or "").strip(" ").lower(),
                              flags=re.ASCII):
                if w:
                    wc[w] += 1
        ref = self._reference_bpe(
            {w: c for w, c in wc.items() if c >= 2}, 60
        )
        assert model.merges == ref

    def test_paper_example(self, spark):
        """The classic Sennrich example: 'low lower newest widest' —
        frequent suffixes merge first."""
        from bertrand_spark.pipeline.text import train_bpe

        rows = (
            [("low",)] * 5 + [("lower",)] * 2
            + [("newest",)] * 6 + [("widest",)] * 3
        )
        df = spark.createDataFrame(rows, "text string")
        model = train_bpe(df, num_merges=4, min_freq=1)
        assert model.merges[0] == ("e", "s")
        assert model.merges[1] == ("es", "t</w>")
        enc = model.encode_word("newest")
        assert enc[-1] == "est</w>"

    def test_encode_reversible_and_counts(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from bertrand_spark.pipeline.text import (
            bpe_token_count, bpe_tokenize, train_bpe,
        )
        from bertrand_spark.sources import read_table

        d = read_table(spark, sf_dir, "documents").limit(50)
        model = train_bpe(d, num_merges=40, min_freq=2)
        toks = bpe_tokenize(d.select("doc_id", "text"), model)
        rows = {r["doc_id"]: r["bpe_tokens"] for r in toks.collect()}
        orig = {r["doc_id"]: r["text"] for r in d.select("doc_id", "text").collect()}
        for did, tk in rows.items():
            # concatenating tokens and splitting on </w> reproduces the
            # lowercased word stream — BPE is reversible per word
            words = "".join(tk).split("</w>")
            expect = [w for w in orig[did].strip(" ").lower().split() if w]
            assert words[:-1] == expect or words == expect, did
        cnt = bpe_token_count(d.select("doc_id", "text"), model)
        by_id = {r["doc_id"]: r["bpe_n_tokens"] for r in cnt.collect()}
        assert all(by_id[did] == len(rows[did]) for did in rows)

    def test_repartition_stable_and_save_load(self, spark, sf_dir, tmp_path):
        from bertrand_spark.pipeline.text import BpeModel, train_bpe
        from bertrand_spark.sources import read_table

        d = read_table(spark, sf_dir, "documents").limit(100)
        a = train_bpe(d, num_merges=30)
        b = train_bpe(d.repartition(13), num_merges=30)
        assert a.merges == b.merges
        path = str(tmp_path / "bpe")
        a.save(spark, path)
        c = BpeModel.load(spark, path)
        assert c.merges == a.merges
        assert c.encode_word("testing") == a.encode_word("testing")

    def test_incremental_trainer_matches_naive_at_scale(self, spark):
        """The incremental pair-index trainer (heap + touched-words
        updates) must produce the EXACT merge sequence of the naive
        full-rescan algorithm on a rich vocabulary — hundreds of merges
        exercise heap staleness, count decrements, and tie-breaks far
        beyond what the small corpora above reach.  (Measured 23× vs
        the naive loop at 2,000 merges over 20k words.)"""
        import numpy as np

        from bertrand_spark.pipeline.text import train_bpe

        rng = np.random.default_rng(42)
        letters = list("abcdefghijklmnopqrstuvwxyz")
        words = [
            "".join(rng.choice(letters, size=rng.integers(3, 12)))
            for _ in range(5000)
        ]
        counts = 1.0 / np.arange(1, len(words) + 1)
        counts = np.maximum(1, counts * 8000 / counts.sum()).astype(int)
        texts, cur = [], []
        for w, c in zip(words, counts):
            cur.extend([w] * int(c))
            if len(cur) > 200:
                texts.append(" ".join(cur))
                cur = []
        texts.append(" ".join(cur))
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        model = train_bpe(df, num_merges=400, min_freq=1)
        from collections import Counter

        wc = Counter(w for t in texts for w in t.split())
        ref = self._reference_bpe(dict(wc), 400)
        assert model.merges == ref


class TestStreamDecodeMedia:
    """stream_decode_media: multimodal ingest on a stream — stateless
    decode + per-epoch format report, idempotent per-epoch sinks."""

    def _payloads(self, spark, offset=0):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            gif_encode, jpeg_encode, png_encode,
        )

        rng = np.random.default_rng(5 + offset)
        px = rng.integers(0, 256, size=(6, 9, 3), dtype=np.uint8)
        pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
        rows = [
            (offset * 10 + 1, jpeg_encode(9, 6, 3, px.tobytes(), quality=100)),
            (offset * 10 + 2, png_encode(2, 2, 3, bytes(12))),
            (offset * 10 + 3, gif_encode(7, 5, rng.integers(0, 8, (5, 7)), pal)),
            (offset * 10 + 4, b"RIFF" + bytes(20)),
        ]
        return spark.createDataFrame(rows, "media_id long, payload binary")

    def test_epochs_land_idempotently_with_reports(self, spark, tmp_path):
        import warnings

        from bertrand_spark.streaming.rollup import stream_decode_media

        out = str(tmp_path / "decoded")
        rep = str(tmp_path / "reports")
        handle = stream_decode_media(out, report_dir=rep)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            handle(self._payloads(spark, 0), 0)
            handle(self._payloads(spark, 0), 0)  # epoch replay: no dupes
            handle(self._payloads(spark, 1), 1)
        landed = spark.read.parquet(f"{out}/ingest_batch=*")
        assert landed.count() == 8  # 4 payloads x 2 epochs, replay absorbed
        by_id = {r["media_id"]: r for r in landed.collect()}
        assert by_id[1]["width"] == 9 and by_id[1]["sniffed_format"] == "jpeg"
        assert by_id[3]["pixels"] is not None  # gif decoded
        assert by_id[4]["pixels"] is None      # riff: no stdlib path
        reports = spark.read.parquet(f"{rep}/ingest_batch=*")
        rows = {
            (r["sniffed_format"],): r
            for r in reports.filter(F.col("n_total") > 0).collect()
        }
        assert reports.count() == 8  # 4 formats x 2 epochs
        riff = [r for r in reports.collect() if r["sniffed_format"] == "riff"]
        # round 8: riff has a stdlib path (VP8L); a VP8L-less RIFF
        # payload is corrupt-or-lossy → n_null_other, not no-decoder
        assert all(r["n_null_no_decoder"] == 0 for r in riff)
        assert all(r["n_null_other"] == 1 for r in riff)

    def test_runs_as_a_real_stream(self, spark, tmp_path):
        """End-to-end through readStream + foreachBatch + availableNow:
        the handler is streaming-legal (stateless per batch)."""
        import warnings

        from bertrand_spark.streaming.rollup import stream_decode_media

        src = str(tmp_path / "src")
        self._payloads(spark, 0).write.mode("overwrite").parquet(src)
        out = str(tmp_path / "decoded")
        stream = (
            spark.readStream.schema("media_id long, payload binary")
            .parquet(src)
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            q = (
                stream.writeStream.foreachBatch(stream_decode_media(out))
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        landed = spark.read.parquet(f"{out}/ingest_batch=*")
        assert landed.count() == 4
        assert landed.filter(F.col("pixels").isNotNull()).count() == 3
