"""Round-5 regression tests.

Covers the round-4 ADVICE items:
1. ``png_encode`` input validation (unsupported channel counts, short
   pixel buffers) — a bad fixture must fail loudly, never emit a
   corrupt-but-CRC-valid PNG that the decoder then rejects as all-None.
2. ``mix_corpus`` reserved-column collision guard (``__src``/``__thr``).
3. ``q49``'s NOT-IN / anti-join equivalence is explicit: both the plan
   and the oracle filter NULL keys out of the exclusion set, so the
   plan stays correct on nullable keys (not just on null-free TPC-H
   data).

The multi-fragment ``nanos_timestamp_columns`` tests live in
``test_sources.py``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestPngEncodeValidation:
    def test_gray_alpha_rejected_with_message(self):
        from bertrand_spark.pipeline.multimodal import png_encode

        with pytest.raises(ValueError, match="channels=2"):
            png_encode(2, 2, 2, b"\x00" * 8)

    def test_short_pixel_buffer_rejected(self):
        from bertrand_spark.pipeline.multimodal import png_encode

        with pytest.raises(ValueError, match="pixel buffer"):
            png_encode(4, 4, 3, b"\x00" * 10)  # needs 48 bytes

    def test_valid_still_roundtrips(self):
        from bertrand_spark.pipeline.multimodal import _png_decode, png_encode

        pixels = bytes(range(2 * 2 * 3))
        payload = png_encode(2, 2, 3, pixels)
        w, h, c, raw = _png_decode(payload, 3)
        assert (w, h, c, raw) == (2, 2, 3, pixels)


class TestMixCorpusReservedColumns:
    @pytest.mark.parametrize("col", ["__src", "__thr"])
    def test_collision_raises(self, spark, col):
        from bertrand_spark.pipeline.curation import mix_corpus

        df = spark.createDataFrame(
            [(1, "web", 0)], f"doc_id long, source string, {col} int"
        )
        with pytest.raises(ValueError, match="reserved column"):
            mix_corpus(df, {"web": 1.0})


def _walk_jplan(node):
    yield node
    cs = node.children()
    for i in range(cs.size()):
        yield from _walk_jplan(cs.apply(i))


class TestBucketedFingerprintStore:
    """SCALE.md's incremental-dedup promise, realized: the history side
    of the continuous-ingest anti join is a bucketed fingerprint store,
    so per-batch cost never includes a history shuffle."""

    @pytest.fixture()
    def store(self, spark, sf_dir):
        from bertrand_spark.pipeline.dedup import write_fingerprint_store
        from bertrand_spark.sources.reader import read_table

        docs = read_table(spark, sf_dir, "documents")
        hist = docs.filter(F.col("doc_id") % 2 == 0)
        spark.sql("DROP TABLE IF EXISTS t_fp_store_r5")
        write_fingerprint_store(hist, "t_fp_store_r5", num_buckets=8)
        yield docs, hist
        spark.sql("DROP TABLE IF EXISTS t_fp_store_r5")

    def test_history_side_has_no_exchange(self, spark, store):
        from bertrand_spark.pipeline.dedup import exact_dedup_incremental_store

        docs, _ = store
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # forbid broadcast: at scale the store dwarfs any batch, so
            # the plan under test is the sort-merge anti join
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = exact_dedup_incremental_store(batch, "t_fp_store_r5")
            jplan = out._jdf.queryExecution().executedPlan()
            if jplan.nodeName() == "AdaptiveSparkPlan":
                jplan = jplan.initialPlan()
            anti = next(
                n
                for n in _walk_jplan(jplan)
                if "Join" in n.nodeName()
                and "t_fp_store_r5" in n.children().apply(1).toString()
            )
            history = anti.children().apply(1).toString()
            assert "Exchange" not in history  # paid once at write time
            assert "Bucketed: true" in history
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_store_path_equals_inline_path(self, spark, store):
        from bertrand_spark.pipeline.dedup import (
            exact_dedup_incremental,
            exact_dedup_incremental_store,
        )

        docs, hist = store
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        got = sorted(
            r["doc_id"]
            for r in exact_dedup_incremental_store(batch, "t_fp_store_r5").collect()
        )
        want = sorted(
            r["doc_id"] for r in exact_dedup_incremental(batch, hist).collect()
        )
        assert got == want and len(got) > 0

    def test_append_extends_history(self, spark, store):
        from bertrand_spark.pipeline.dedup import (
            exact_dedup_incremental,
            exact_dedup_incremental_store,
            write_fingerprint_store,
        )

        docs, hist = store
        b1 = docs.filter(F.col("doc_id") % 4 == 1)
        write_fingerprint_store(b1, "t_fp_store_r5", mode="append", num_buckets=8)
        b2 = docs.filter(F.col("doc_id") % 4 == 3)
        got = sorted(
            r["doc_id"]
            for r in exact_dedup_incremental_store(b2, "t_fp_store_r5").collect()
        )
        want = sorted(
            r["doc_id"]
            for r in exact_dedup_incremental(b2, hist.unionByName(b1)).collect()
        )
        assert got == want


class TestDecodeFormatReport:
    def test_fallback_blind_spot_is_visible(self, spark):
        """Without PIL, PNG decodes and JPEG yields NULL rows — the
        report must show exactly that, per format, with the active
        decoder named (the round-4 VERDICT 'format-share metric')."""
        import warnings

        from bertrand_spark.pipeline.multimodal import (
            decode_format_report, decode_images, png_encode,
        )

        png = png_encode(2, 2, 3, bytes(12))
        jpeg = b"\xff\xd8\xff\xe0" + b"notarealjpeg" * 4
        df = spark.createDataFrame(
            [(1, png), (2, jpeg)], "media_id long, payload binary"
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            decoded = decode_images(df, decode="real")
        rep = {
            r["sniffed_format"]: r
            for r in decode_format_report(df, decoded).collect()
        }
        assert set(rep) == {"png", "jpeg"}
        assert rep["png"]["n_total"] == 1 and rep["png"]["n_decoded"] == 1
        assert rep["jpeg"]["n_total"] == 1 and rep["jpeg"]["n_null"] == 1
        # this container has no PIL: the active path must say so
        # (round 7: the stdlib fallback now covers baseline JPEG too)
        assert rep["jpeg"]["decoder"] == "stdlib-png-jpeg"


class TestResolveGrammarFuzz:
    """Crash/hang safety for the resolve() mini-language (reference
    grammar meta.py:1461-1693) — the most user-facing driver-side
    surface.  Contract: ANY string either resolves to a type object or
    raises ValueError; no other exception class, no unbounded
    recursion (the round-5 depth-guard finding: 500-deep
    ``sparse[sparse[...`` used to RecursionError mid-parse)."""

    def _check(self, s):
        from bertrand_spark.types.resolve import resolve

        try:
            resolve(s)
        except ValueError:
            pass  # graceful rejection IS the contract

    def test_grammar_soup(self):
        from hypothesis import given, settings
        from hypothesis import strategies as hst

        alphabet = "abintfloatdecimal64[]|,:'\"U0 .-+_"
        soup = hst.text(alphabet=alphabet, min_size=0, max_size=80)

        @settings(max_examples=300, deadline=None)
        @given(soup)
        def run(s):
            self._check(s)

        run()

    def test_structured_adversarial(self):
        from hypothesis import given, settings
        from hypothesis import strategies as hst

        base = hst.sampled_from(
            ["int64", "float32", "string", "bool", "nosuchtype", "U32", ""]
        )
        deco = hst.sampled_from(["sparse", "categorical", "int64", "x"])
        spec = hst.recursive(
            base,
            lambda children: hst.builds(
                lambda d, c: f"{d}[{c}]", deco, children
            )
            | hst.builds(lambda a, b: f"{a}|{b}", children, children)
            | hst.builds(lambda a, b: f"k1: {a}, k2: {b}", children, children),
            max_leaves=20,
        )

        @settings(max_examples=200, deadline=None)
        @given(spec)
        def run(s):
            self._check(s)

        run()

    def test_pathological_literals(self):
        # deterministic worst cases pinned outside hypothesis
        cases = [
            "sparse[" * 500 + "int64" + "]" * 500,
            "[" * 200,
            "]" * 200,
            "a" * 100_000,
            "a|" * 2000 + "b",
            "int64[" + "x," * 5000 + "1]",
            '"' * 9,
            "\x00\x01",
            # round-6: colon-chain recursion — the structured grammar
            # recurses once per top-level colon with ZERO brackets, so
            # the bracket pre-scan alone missed this (round-5 ADVICE)
            "a: " * 2000 + "int64",
            "k: " * 63 + "int64",  # just under the bound still parses
        ]
        for s in cases:
            self._check(s)

    def test_depth_counter_resets_after_error(self):
        # a rejected spec must not poison subsequent resolves (the
        # thread-local counter is reset on the error path and unwound
        # via finally on success)
        from bertrand_spark.types.resolve import resolve

        for _ in range(3):
            try:
                resolve("a: " * 2000 + "int64")
            except ValueError:
                pass
            assert str(resolve("int64")) == "int64"

    def test_nested_mapping_depth_bounded(self):
        # non-string recursion (mappings/iterables) is bounded too
        from bertrand_spark.types.resolve import resolve

        d = {"a": "int64"}
        for _ in range(200):
            d = {"x": d}
        try:
            resolve(d)
            raise AssertionError("expected ValueError")
        except ValueError:
            pass


class TestRocksDBStateStore:
    def test_stream_dedup_parity_under_rocksdb(self, spark, sf_dir):
        """The provider flip SCALE.md prescribes for unbounded state at
        100 TB must be a pure physical swap: stream dedup under
        RocksDBStateStoreProvider returns exactly what the heap-backed
        default (and the batch oracle) returns."""
        import uuid

        from bertrand_spark.sources.reader import read_table
        from bertrand_spark.streaming import read_events_stream, stream_dedup

        old = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        try:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
            stream = read_events_stream(spark, sf_dir)
            streamed = stream_dedup(
                stream.select("event_type", "ts"), ["event_type"], "ts",
                "1 minute",
            ).select("event_type")
            name = "mem_" + uuid.uuid4().hex[:8]
            q = (
                streamed.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            # the run must actually have used RocksDB, not silently
            # fallen back
            metrics = q.lastProgress["stateOperators"][0]["customMetrics"]
            assert any(k.startswith("rocksdb") for k in metrics)
            got = {r["event_type"] for r in spark.sql(f"select * from {name}").collect()}
            want = {
                r["event_type"]
                for r in read_table(spark, sf_dir, "events")
                .select("event_type")
                .distinct()
                .collect()
            }
            assert got == want
        finally:
            if old is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", old
                )


class TestQ49NullableKeys:
    def test_anti_join_matches_not_in_with_null_keys(self, spark, tmp_path):
        """With a NULL in the exclusion set, bare SQL NOT IN returns no
        rows; q49 pins the null-free precondition by filtering NULL keys
        in BOTH the plan and the oracle, so they agree even on nullable
        data.  Exercise the plan shape on a tiny nullable fixture."""
        import duckdb

        sup = spark.createDataFrame(
            [(1, -5.0), (None, -1.0), (2, 10.0)],
            "s_suppkey long, s_acctbal double",
        )
        li = spark.createDataFrame(
            [(1, 100), (2, 100), (3, 200)], "l_suppkey long, l_partkey long"
        )
        excl = sup.filter(
            (F.col("s_acctbal") < 0) & F.col("s_suppkey").isNotNull()
        ).select("s_suppkey")
        got = sorted(
            r["l_suppkey"]
            for r in li.join(
                excl, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
            ).collect()
        )
        want = sorted(
            r[0]
            for r in duckdb.sql(
                """
                SELECT l_suppkey FROM (VALUES (1,100),(2,100),(3,200))
                    AS li(l_suppkey, l_partkey)
                WHERE l_suppkey NOT IN (
                    SELECT s_suppkey
                    FROM (VALUES (1,-5.0),(NULL,-1.0),(2,10.0))
                        AS s(s_suppkey, s_acctbal)
                    WHERE s_acctbal < 0 AND s_suppkey IS NOT NULL)
                """
            ).fetchall()
        )
        assert got == want == [2, 3]
