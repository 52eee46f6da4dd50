"""Round-3 additions: half_odd rounding (M5 completion), shorten_list (E3),
stream-stream join / foreachBatch sink batch parity, shard-expr id-type
guard, NULL-stratum sampling semantics, _FLOAT_RE tightening."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from bertrand_spark.errors import shorten_list
from bertrand_spark.functions.rounding import RULES, round_col, round_div


def one(df):
    return df.collect()[0]


# --- half_odd (M5; reference math.h:710-768,1244) ---------------------------
class TestHalfOdd:
    def test_in_rules(self):
        assert "half_odd" in RULES

    def test_ties_to_nearest_odd(self, spark):
        vals = [-2.5, -1.5, -0.5, 0.5, 1.5, 2.5, 3.5, 4.5]
        expect = [-3.0, -1.0, -1.0, 1.0, 1.0, 3.0, 3.0, 5.0]
        df = spark.createDataFrame([(v,) for v in vals], ["x"])
        rows = df.select(
            "x", round_col(F.col("x"), "half_odd").alias("r")
        ).collect()
        got = {r["x"]: r["r"] for r in rows}
        for v, e in zip(vals, expect):
            assert got[v] == e, (v, got[v], e)
            assert int(got[v]) % 2 != 0  # every tie lands on an odd integer

    def test_non_ties_round_nearest(self, spark):
        vals = [0.25, -0.25, 1.75, -1.75, 2.0, -3.0]
        expect = [0.0, -0.0, 2.0, -2.0, 2.0, -3.0]
        df = spark.createDataFrame([(v,) for v in vals], ["x"])
        rows = df.select(
            "x", round_col(F.col("x"), "half_odd").alias("r")
        ).collect()
        got = {r["x"]: r["r"] for r in rows}
        for v, e in zip(vals, expect):
            assert got[v] == e, (v, got[v], e)

    def test_round_div_half_odd(self, spark):
        cases = [(5, 2, 3), (3, 2, 1), (-5, 2, -3), (-3, 2, -1),
                 (1, 2, 1), (-1, 2, -1), (7, 2, 3), (4, 2, 2),
                 (5, -2, -3), (-5, -2, 3)]
        df = spark.createDataFrame(
            [(n, d) for n, d, _ in cases], ["n", "d"]
        )
        rows = df.select(
            "n", "d",
            round_div(F.col("n"), F.col("d"), "half_odd").cast("long").alias("q"),
        ).collect()
        got = {(r["n"], r["d"]): r["q"] for r in rows}
        for n, d, e in cases:
            assert got[(n, d)] == e, (n, d, got[(n, d)], e)

    def test_matches_column_rule_on_exact_halves(self, spark):
        # round_div(n, 2) must agree with round_col(n/2) for every rule
        df = spark.createDataFrame([(n,) for n in range(-9, 10)], ["n"])
        for rule in sorted(RULES):
            rows = df.select(
                "n",
                round_div(F.col("n"), F.lit(2), rule).cast("double").alias("dv"),
                round_col(F.col("n") / F.lit(2.0), rule).alias("cl"),
            ).collect()
            for r in rows:
                assert r["dv"] == r["cl"], (rule, r["n"], r["dv"], r["cl"])


# --- shorten_list (E3; reference util/error.py) -----------------------------
class TestShortenList:
    def test_short_passthrough(self):
        assert shorten_list([1, 2, 3]) == "[1, 2, 3]"

    def test_abridged(self):
        out = shorten_list(list(range(20)))
        assert out == "[0, 1, 2, 3, 4, ...] (20)"

    def test_used_in_resolve_error(self):
        from bertrand_spark.types.resolve import resolve

        with pytest.raises(ValueError, match=r"known aliases include"):
            resolve("no_such_type_xyz")


# --- stream-stream join: batch parity ---------------------------------------
class TestStreamStreamJoinBatch:
    def test_batch_inputs_same_logical_join(self, spark):
        from bertrand_spark.streaming.rollup import stream_stream_join

        base = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [(1, base, "a"), (2, base, "b")],
            ["key", "lts", "ltag"],
        )
        right = spark.createDataFrame(
            [
                (1, base + dt.timedelta(minutes=30), "r1"),   # in window
                (1, base + dt.timedelta(minutes=90), "r2"),   # outside
                (2, base - dt.timedelta(minutes=1), "r3"),    # before left
            ],
            ["key", "rts", "rtag"],
        )
        out = stream_stream_join(
            left, right, key="key", left_ts="lts", right_ts="rts",
            within="1 hour",
        ).select("ltag", "rtag").collect()
        assert [(r["ltag"], r["rtag"]) for r in out] == [("a", "r1")]


# --- foreachBatch sink: idempotent replay ------------------------------------
class TestForeachBatchSink:
    def test_replayed_epoch_overwrites(self, spark, tmp_path):
        from bertrand_spark.streaming.rollup import foreach_batch_parquet_sink

        sink = foreach_batch_parquet_sink(str(tmp_path))
        df = spark.range(10).withColumnRenamed("id", "v")
        sink(df, 0)
        sink(df, 0)  # replay of the same epoch must not duplicate
        sink(df.filter(F.col("v") < 5), 1)
        landed = spark.read.parquet(f"{tmp_path}/ingest_batch=*")
        assert landed.count() == 15


# --- shard_expr id-type guard ------------------------------------------------
class TestShardExpr:
    def test_integral_ids_mod(self, spark):
        from bertrand_spark.pipeline.curation import shard_expr

        df = spark.range(100).withColumnRenamed("id", "k")
        got = df.select(shard_expr(df, "k", 8).alias("s")).distinct().collect()
        assert sorted(r["s"] for r in got) == list(range(8))

    def test_string_ids_never_null(self, spark):
        from bertrand_spark.pipeline.curation import shard_expr

        df = spark.createDataFrame(
            [(f"doc-{i}",) for i in range(50)], ["k"]
        )
        out = df.select(shard_expr(df, "k", 8).alias("s"))
        assert out.filter(F.col("s").isNull()).count() == 0
        assert out.select(F.min("s"), F.max("s")).collect()[0][1] <= 7

    def test_pack_sequences_string_ids(self, spark):
        from bertrand_spark.pipeline.curation import pack_sequences

        df = spark.createDataFrame(
            [(f"d{i}", 100) for i in range(20)], ["doc", "n_tok"]
        )
        packed = pack_sequences(df, "n_tok", "doc", budget=250, num_shards=4)
        assert packed.filter(F.col("shard").isNull()).count() == 0


# --- NULL-stratum deterministic sampling -------------------------------------
class TestNullStratumSampling:
    def test_null_stratum_rows_participate(self, spark):
        import duckdb

        from bertrand_spark.pipeline.curation import sample_deterministic

        rows = [(i, None if i % 3 == 0 else f"s{i % 2}") for i in range(300)]
        df = spark.createDataFrame(rows, ["id", "src"])
        kept = sample_deterministic(
            df, "id", 0.5, buckets=100, stratum=F.col("src")
        )
        got = sorted(r["id"] for r in kept.collect())
        # engine-independent replay with the SAME coalesce('') semantics
        con = duckdb.connect()
        con.register("t", df.toPandas())
        want = sorted(
            r[0]
            for r in con.sql(
                "SELECT id FROM t WHERE ('0x' || substr(md5("
                "coalesce(src,'') || '|' || CAST(id AS VARCHAR)), 1, 8))"
                "::BIGINT % 100 < 50"
            ).fetchall()
        )
        assert got == want
        # NULL-stratum ids must be eligible for keeping, not auto-dropped
        assert any(i % 3 == 0 for i in got)


# --- _FLOAT_RE: no stacked exponents ----------------------------------------
class TestFloatRegexTightened:
    def test_double_exponent_is_str(self, spark):
        from bertrand_spark.types.detect import type_tag_column

        df = spark.createDataFrame(
            [("1e5e5",), ("1e5",), ("1.5e-3",), (".5",), ("2.",), ("7",)],
            ["s"],
        )
        rows = df.select("s", type_tag_column(F.col("s")).alias("t")).collect()
        got = {r["s"]: r["t"] for r in rows}
        assert got["1e5e5"] == "str"
        assert got["1e5"] == "float"
        assert got["1.5e-3"] == "float"
        assert got[".5"] == "float"
        assert got["2."] == "float"
        assert got["7"] == "int"


# --- multimodal: optional real-codec path + vectorized resize ---------------
class TestMultimodalCodecs:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, b"\x89PNG\r\n fakebytes"), (2, b"\xff\xd8\xff jpegish")],
            ["media_id", "payload"],
        )

    def test_auto_falls_back_to_fake_without_pil(self, spark):
        """No PIL in this container: 'auto' must equal 'fake' bit-for-bit."""
        from bertrand_spark.pipeline import multimodal as M

        if M._pil_image_module() is not None:
            pytest.skip("PIL present; fallback path not reachable")
        df = self._df(spark)
        auto = {r["media_id"]: r["pixels"] for r in M.decode_images(df, decode="auto").collect()}
        fake = {r["media_id"]: r["pixels"] for r in M.decode_images(df, decode="fake").collect()}
        assert auto == fake

    def test_real_without_pil_nulls_undecodable(self, spark):
        """'real' without PIL uses the stdlib PNG decoder; corrupt PNG
        and JPEG payloads yield all-None rows (round 4: 'real' no longer
        raises ImportError — the stdlib codec is always available)."""
        from bertrand_spark.pipeline import multimodal as M

        if M._pil_image_module() is not None:
            pytest.skip("PIL present")
        df = self._df(spark)
        rows = M.decode_images(df, decode="real").collect()
        assert len(rows) == 2
        for r in rows:
            assert r["width"] is None and r["pixels"] is None

    def test_real_decode_png(self, spark):
        """The real path decodes an actual PNG in ANY container: PIL when
        importable, the stdlib zlib decoder otherwise (round 4 closed the
        previously-skipped gap — this test always runs)."""
        from bertrand_spark.pipeline import multimodal as M

        payload = M.png_encode(5, 3, 3, bytes([10, 20, 30]) * 15)
        df = spark.createDataFrame([(1, payload)], ["media_id", "payload"])
        r = M.decode_images(df, decode="real").collect()[0]
        assert (r["width"], r["height"], r["channels"]) == (5, 3, 3)
        assert r["pixels"] == bytes([10, 20, 30]) * 15

    def test_resize_vectorized_exact(self, spark):
        """Nearest-neighbor resize matches the index formula exactly."""
        from bertrand_spark.pipeline import multimodal as M

        w, h, c = 4, 2, 3
        src = bytes(range(w * h * c))
        df = spark.createDataFrame(
            [(7, w, h, c, src)],
            "media_id long, width int, height int, channels int, pixels binary",
        )
        out_w, out_h = 2, 4
        r = M.resize_images(df, out_w, out_h).collect()[0]
        expect = bytearray()
        for y in range(out_h):
            sy = min(h - 1, y * h // out_h)
            for x in range(out_w):
                sx = min(w - 1, x * w // out_w)
                base = (sy * w + sx) * c
                expect += src[base:base + c]
        assert r["pixels"] == bytes(expect)
        assert (r["width"], r["height"], r["channels"]) == (out_w, out_h, c)


# --- connected components (pipeline/graph.py) -------------------------------
class TestConnectedComponents:
    def _uf(self, edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        comp = {}
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        for n in nodes:
            comp.setdefault(find(n), []).append(n)
        return {n: min(comp[find(n)]) for n in nodes}

    def test_random_graphs_match_union_find(self, spark):
        import random

        from bertrand_spark.pipeline.graph import connected_components

        rng = random.Random(7)
        for n, m in [(10, 6), (60, 45), (300, 260)]:
            edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
            real = [(a, b) for a, b in edges if a != b]
            nodes = {x for e in real for x in e}
            expect = self._uf(real, nodes)
            df = spark.createDataFrame(edges, ["id_a", "id_b"])
            got = {
                r["id"]: r["component"]
                for r in connected_components(df).collect()
            }
            assert got == expect

    def test_chain_converges_logarithmically(self, spark):
        """A 120-link chain — the worst case for naive label propagation —
        must still produce one component (large-star/small-star collapses
        path length geometrically)."""
        from bertrand_spark.pipeline.graph import connected_components

        df = spark.createDataFrame(
            [(i, i + 1) for i in range(120)], ["id_a", "id_b"]
        )
        got = connected_components(df).collect()
        assert len(got) == 121 and all(r["component"] == 0 for r in got)

    def test_labels_and_canonical(self, spark):
        from bertrand_spark.pipeline.graph import (
            cluster_labels,
            dedup_keep_canonical,
        )

        docs = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"]
        )
        lab = {
            r["doc_id"]: r["cluster_id"]
            for r in cluster_labels(docs, pairs).collect()
        }
        assert lab == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6, 7: 7, 8: 7, 9: 9}
        kept = sorted(
            r["doc_id"] for r in dedup_keep_canonical(docs, pairs).collect()
        )
        assert kept == [0, 1, 4, 5, 6, 7, 9]

    def test_empty_and_self_loops(self, spark):
        from bertrand_spark.pipeline.graph import connected_components

        df = spark.createDataFrame([(5, 5), (6, 6)], ["id_a", "id_b"])
        assert connected_components(df).count() == 0


# --- fuzzy join + gopher rules + chunk dedup --------------------------------
class TestFuzzyJoin:
    def test_matches_self_join_restricted(self, spark, sf_dir):
        """Two-table LSH join over an even/odd split must equal the
        self-join result restricted to cross-parity pairs."""
        from bertrand_spark.pipeline.dedup import (
            fuzzy_join_minhash,
            near_dup_pairs_minhash,
        )

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        left = d.filter(F.col("doc_id") % 2 == 0)
        right = d.filter(F.col("doc_id") % 2 == 1)
        got = {
            (r["id_l"], r["id_r"])
            for r in fuzzy_join_minhash(
                left, right, threshold=0.6, k=770, num_bands=154
            ).collect()
        }
        self_pairs = near_dup_pairs_minhash(
            d, "doc_id", "text", threshold=0.6, k=770, num_bands=154
        ).collect()
        expect = set()
        for r in self_pairs:
            a, b = r["id_a"], r["id_b"]
            if a % 2 == 0 and b % 2 == 1:
                expect.add((a, b))
            elif b % 2 == 0 and a % 2 == 1:
                expect.add((b, a))
        assert got == expect and len(got) > 0

    def test_disjoint_corpora_no_pairs(self, spark):
        from bertrand_spark.pipeline.dedup import fuzzy_join_minhash

        l = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta")],
            ["doc_id", "text"],
        )
        r = spark.createDataFrame(
            [(2, "one two three four five six seven eight nine ten")],
            ["doc_id", "text"],
        )
        assert fuzzy_join_minhash(l, r, threshold=0.5, k=64, num_bands=16).count() == 0


class TestGopherRules:
    def test_flags_shape(self, spark):
        from bertrand_spark.pipeline.text import gopher_quality_flags

        # 60 words, mean length in [3,10], ≥2 gopher stopwords, alphabetic
        good = " ".join(
            ["the", "quick", "brown", "foxes", "jump", "with", "lazy",
             "dogs", "today", "again"] * 6
        )
        bad_short = "tiny doc"
        bad_symbols = " ".join(["####"] * 60)
        df = spark.createDataFrame(
            [(1, good), (2, bad_short), (3, bad_symbols)], ["id", "text"]
        )
        flags = gopher_quality_flags(F.col("text"))
        rows = {
            r["id"]: r
            for r in df.select(
                "id", *[v.alias(k) for k, v in flags.items()]
            ).collect()
        }
        assert rows[1]["keep"] is True
        assert rows[2]["wordcount_ok"] is False and rows[2]["keep"] is False
        assert rows[3]["symbol_ok"] is False and rows[3]["alpha_ok"] is False


class TestChunkDedup:
    def test_first_occurrence_wins_and_reassembles(self, spark):
        from bertrand_spark.plans.queries import QUERIES  # noqa: F401 — x35 math inline

        # two docs sharing their first 10-token chunk: doc 2 loses it
        shared = " ".join(f"w{i}" for i in range(10))
        uniq = " ".join(f"u{i}" for i in range(10))
        df = spark.createDataFrame(
            [(1, shared + " " + uniq), (2, shared + " tail piece")],
            ["doc_id", "text"],
        )
        import tempfile, os

        with tempfile.TemporaryDirectory() as td:
            df.write.parquet(os.path.join(td, "documents.parquet"))
            out = {
                r["doc_id"]: (r["clean_text"], r["n_kept"])
                for r in QUERIES["x35_chunk_dedup"](spark, td).collect()
            }
        assert out[1] == (shared + " " + uniq, 2)
        assert out[2] == ("tail piece", 1)


# --- incremental dedup + temperature resample -------------------------------
class TestIncrementalDedup:
    def test_batch_and_store_semantics(self, spark):
        from bertrand_spark.pipeline.dedup import exact_dedup_incremental

        old = spark.createDataFrame(
            [(1, "seen before"), (2, "also seen")], ["doc_id", "text"]
        )
        new = spark.createDataFrame(
            [
                (30, "seen before"),      # dup of store → dropped
                (31, "fresh one"),        # kept
                (32, "fresh one"),        # batch dup of 31 → dropped
                (33, "another fresh"),    # kept
            ],
            ["doc_id", "text"],
        )
        kept = sorted(
            r["doc_id"]
            for r in exact_dedup_incremental(new, old, "text", "doc_id").collect()
        )
        assert kept == [31, 33]

    def test_fingerprint_store_variant(self, spark):
        from bertrand_spark.pipeline.dedup import exact_dedup_incremental
        from bertrand_spark.pipeline.text import fingerprint

        old = spark.createDataFrame([(1, "seen before")], ["doc_id", "text"])
        store = old.select(fingerprint(F.col("text")).alias("fp"))
        new = spark.createDataFrame(
            [(30, "seen before"), (31, "fresh")], ["doc_id", "text"]
        )
        kept = sorted(
            r["doc_id"]
            for r in exact_dedup_incremental(
                new, store, "text", "doc_id", seen_fp_col="fp"
            ).collect()
        )
        assert kept == [31]


class TestTemperatureResample:
    def test_rates_flatten_distribution(self, spark):
        from bertrand_spark.pipeline.curation import temperature_resample

        rows = [(i, "big") for i in range(900)] + [
            (10_000 + i, "small") for i in range(100)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "source"])
        out = temperature_resample(df, "source", "doc_id", alpha=0.5)
        counts = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        # small source: rate sqrt(100/100)=1 → all kept
        assert counts["small"] == 100
        # big source: rate sqrt(100/900)=1/3 → ~300 of 900, md5-bucket noise
        assert 250 <= counts["big"] <= 350

    def test_deterministic(self, spark):
        from bertrand_spark.pipeline.curation import temperature_resample

        rows = [(i, "s%d" % (i % 3)) for i in range(300)]
        df = spark.createDataFrame(rows, ["doc_id", "source"])
        a = sorted(r["doc_id"] for r in temperature_resample(df).collect())
        b = sorted(
            r["doc_id"]
            for r in temperature_resample(df.repartition(7)).collect()
        )
        assert a == b and len(a) > 0

    def test_null_source_is_a_stratum(self, spark):
        """Review fix: NULL sources must participate (null-safe rate join)
        — here NULL is the smallest source, so ALL its rows are kept."""
        from bertrand_spark.pipeline.curation import temperature_resample

        rows = [(i, "big") for i in range(400)] + [(1000 + i, None) for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = temperature_resample(df, "source", "doc_id", alpha=0.5)
        kept_null = out.filter(F.col("source").isNull()).count()
        assert kept_null == 4  # rate sqrt(4/4) = 1
        kept_big = out.filter(F.col("source") == "big").count()
        assert 20 <= kept_big <= 60  # rate sqrt(4/400) = 0.1


class TestSemanticDedup:
    def test_equals_manual_composition(self, spark, sf_dir):
        from bertrand_spark.pipeline.dedup import near_dup, semantic_dedup
        from bertrand_spark.pipeline.graph import dedup_keep_canonical

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        got = sorted(
            r["doc_id"]
            for r in semantic_dedup(d, "doc_id", "text", "jaccard", 0.6).collect()
        )
        pairs = near_dup(d, "doc_id", "text", "jaccard", 0.6)
        want = sorted(
            r["doc_id"] for r in dedup_keep_canonical(d, pairs, "doc_id").collect()
        )
        assert got == want
        assert 0 < len(got) <= d.count()

    def test_resize_passes_through_undecoded_rows(self, spark):
        """NULL decode rows (corrupt payloads on the real path) must flow
        through resize as all-None rows, not crash the kernel."""
        from bertrand_spark.pipeline import multimodal as M

        df = spark.createDataFrame(
            [(1, 2, 2, 3, bytes(range(12))), (2, None, None, None, None)],
            "media_id long, width int, height int, channels int, pixels binary",
        )
        rows = {r["media_id"]: r for r in M.resize_images(df, 1, 1).collect()}
        assert rows[1]["pixels"] is not None
        assert rows[2]["pixels"] is None and rows[2]["width"] is None


# --- product quantization ----------------------------------------------------
class TestProductQuantization:
    def test_recall_vs_exact_l2(self, spark, sf_dir):
        """PQ ADC top-10 must recover most of the exact-L2 top-10 (the
        standard recall@k acceptance for a compressed ANN index)."""
        from bertrand_spark.pipeline.similarity import (
            pq_encode,
            pq_topk,
            pq_train,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cb = pq_train(e, "embedding", m=8, nbits=6, seed=7)
        enc = pq_encode(e, cb).select("vec_id", "__pq").persist()
        enc.count()
        queries = (
            e.filter(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("q_id"), "embedding")
        )
        approx = pq_topk(enc, queries, cb, k=10)
        got = {
            q: {r["vec_id"] for r in rows}
            for q, rows in _group(approx.collect(), "q_id").items()
        }
        # exact L2 top-10 via a cross join on this small fixture
        qv = {r["q_id"]: r["embedding"] for r in queries.collect()}
        base = [(r["vec_id"], r["embedding"]) for r in e.collect()]
        import numpy as np

        recalls = []
        for q, qe in qv.items():
            d = sorted(
                (float(np.sum((np.array(v) - np.array(qe)) ** 2)), vid)
                for vid, v in base
            )
            exact = {vid for _, vid in d[:10]}
            recalls.append(len(exact & got[q]) / 10)
        assert sum(recalls) / len(recalls) >= 0.5, recalls

    def test_codes_shape_and_determinism(self, spark, sf_dir):
        from bertrand_spark.pipeline.similarity import pq_encode, pq_train

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
        cb = pq_train(e, "embedding", m=4, nbits=4, seed=3)
        assert len(cb) == 4 and all(len(c) <= 16 for c in cb)
        a = {r["vec_id"]: tuple(r["__pq"]) for r in pq_encode(e, cb).collect()}
        b = {r["vec_id"]: tuple(r["__pq"]) for r in pq_encode(e, cb).collect()}
        assert a == b
        assert all(len(v) == 4 for v in a.values())


def _group(rows, key):
    out = {}
    for r in rows:
        out.setdefault(r[key], []).append(r)
    return out

