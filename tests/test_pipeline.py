"""LLM-pipeline extensions: similarity, text analysis, multimodal, cosine
pairs and the dedup report (near-dup sketches: ``test_dedup.py``)."""

import pytest
from pyspark.sql import functions as F

from bertrand_spark.pipeline import similarity as S
from bertrand_spark.pipeline import text as T


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


class TestText:
    def test_token_count(self, spark):
        df = spark.createDataFrame([("hello world  foo",), ("",)], ["t"])
        got = df.select(T.token_count(F.col("t")).alias("n")).collect()
        assert got[0]["n"] == 3 and got[1]["n"] == 0

    def test_bpe_ish(self, spark):
        df = spark.createDataFrame([("I don't like bugs, really 42!",)], ["t"])
        n = df.select(T.bpe_ish_token_count(F.col("t")).alias("n")).collect()[0]["n"]
        assert n >= 8

    def test_char_ngrams(self, spark):
        df = spark.createDataFrame([("abcdef",)], ["t"])
        grams = df.select(T.char_ngrams(F.col("t"), 3).alias("g")).collect()[0]["g"]
        assert grams == ["abc", "bcd", "cde", "def"]

    def test_word_ngrams(self, spark):
        df = spark.createDataFrame([("a b c d",)], ["t"])
        grams = df.select(T.word_ngrams(F.col("t"), 2).alias("g")).collect()[0]["g"]
        assert grams == ["a b", "b c", "c d"]

    def test_quality(self, spark):
        df = spark.createDataFrame(
            [("The quick brown fox jumps over the lazy dog near the river bank",),
             ("!!! ??? ### $$$ %%%",)],
            ["t"],
        )
        got = df.select(T.quality_score(F.col("t")).alias("q")).collect()
        assert got[0]["q"] > got[1]["q"]

    def test_language(self, spark):
        df = spark.createDataFrame(
            [("the cat and the dog is in that house",),
             ("der Hund ist nicht mit der Katze",),
             ("el perro es una mascota para la casa",)],
            ["t"],
        )
        got = df.select(T.detect_language(F.col("t")).alias("l")).collect()
        assert [r["l"] for r in got] == ["en", "de", "es"]

    def test_fingerprint_normalizes(self, spark):
        df = spark.createDataFrame([("Hello  World",), ("hello world",)], ["t"])
        got = df.select(T.fingerprint(F.col("t")).alias("f")).collect()
        assert got[0]["f"] == got[1]["f"]

    def test_rolling_fingerprints(self, spark):
        df = spark.createDataFrame([("abcdefghijklmnop",)], ["t"])
        got = df.select(T.rolling_fingerprints(F.col("t"), 4, 5).alias("f")).collect()[0]["f"]
        assert len(got) == 5 and got == sorted(got)


class TestSimilarity:
    def test_dot_cosine(self, spark):
        df = spark.createDataFrame(
            [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])], ["a", "b"]
        )
        got = df.select(
            S.dot(F.col("a"), F.col("b")).alias("d"),
            S.cosine_sim(F.col("a"), F.col("b")).alias("c"),
        ).collect()
        assert got[0]["d"] == 1.0 and abs(got[0]["c"] - 1.0) < 1e-9
        assert got[1]["d"] == 0.0 and abs(got[1]["c"]) < 1e-9

    def test_brute_force_topk(self, embs):
        queries = embs.limit(2).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        out = S.brute_force_topk(embs, queries, k=5)
        rows = out.collect()
        assert len(rows) == 10
        # self-match must rank top with cosine ~1
        tops = {
            r["q_id"]: r["vec_id"]
            for r in out.filter(F.col("cosine") > 0.999999).collect()
        }
        for q, v in tops.items():
            assert q == v

    def test_ivf_matches_brute_force_mostly(self, embs):
        queries = embs.limit(1).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        assigned, cents = S.ivf_build(embs, num_cells=4)
        exact = {r["vec_id"] for r in S.brute_force_topk(embs, queries, k=5).collect()}
        approx = {
            r["vec_id"]
            for r in S.ivf_topk(assigned, cents, queries, k=5, nprobe=2).collect()
        }
        assert len(exact & approx) >= 3  # recall ≥ 0.6 at nprobe=2/4 cells

class TestMultimodal:
    def test_decode_and_resize(self, spark):
        from bertrand_spark.pipeline import multimodal as M

        df = spark.createDataFrame(
            [(1, b"\x89PNG\r\n fakebytes"), (2, b"\xff\xd8\xff jpegish")],
            ["media_id", "payload"],
        )
        sniffed = M.attach_media_metadata(df)
        fmts = {r["media_id"]: r["sniffed_format"] for r in sniffed.collect()}
        assert fmts == {1: "png", 2: "jpeg"}

        dec = M.decode_images(df, decode="fake", width=4, height=4, channels=3)
        rows = dec.collect()
        assert len(rows) == 2 and all(len(r["pixels"]) == 48 for r in rows)
        # determinism
        again = M.decode_images(df, decode="fake", width=4, height=4, channels=3).collect()
        assert {r["media_id"]: r["pixels"] for r in rows} == {
            r["media_id"]: r["pixels"] for r in again
        }

        rs = M.resize_images(dec, 2, 2).collect()
        assert all(len(r["pixels"]) == 12 for r in rs)

    def test_strict_raises(self, spark):
        from py4j.protocol import Py4JJavaError
        from bertrand_spark.pipeline import multimodal as M

        df = spark.createDataFrame([(1, b"x")], ["media_id", "payload"])
        with pytest.raises(Exception):
            M.decode_images(df, decode="strict").collect()

    def test_video_frames_and_audio(self, spark):
        from bertrand_spark.pipeline import multimodal as M

        df = spark.createDataFrame([(1, b"payload")], ["media_id", "payload"])
        frames = M.sample_video_frames(df, every_n=5, max_frames=3).collect()
        assert [r["frame_index"] for r in frames] == [0, 5, 10]
        feats = M.extract_audio_features(df).collect()[0]["features"]
        assert len(feats) == 16


class TestCosinePairs:
    def _exact(self, spark, e, threshold):
        from bertrand_spark.pipeline.similarity import cosine_sim

        a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
        b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
        return {
            (r["id_a"], r["id_b"])
            for r in (
                a.crossJoin(b)
                .filter(F.col("id_a") < F.col("id_b"))
                .withColumn("c", cosine_sim(F.col("__va"), F.col("__vb")))
                .filter(F.col("c") >= threshold)
            ).collect()
        }

    def test_blocked_gemm_is_exact(self, spark, sf_dir):
        from bertrand_spark.pipeline.similarity import cosine_all_pairs_blocked
        from bertrand_spark.sources.reader import read_table

        e = read_table(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        ex = self._exact(spark, e, 0.45)
        got = {
            (r["id_a"], r["id_b"])
            for r in cosine_all_pairs_blocked(
                e, "vec_id", "embedding", threshold=0.45, num_blocks=5
            ).collect()
        }
        assert got == ex and len(ex) > 0

    def test_lsh_high_threshold_subset_and_recall(self, spark, sf_dir):
        # the hyperplane-LSH operating envelope: HIGH thresholds. Output
        # must be an exact-verified SUBSET; with 12x6-plane tables at 0.8
        # the per-pair miss bound is (1-p^6)^12 with p=1-acos(0.8)/pi.
        from bertrand_spark.pipeline.dedup import cosine_near_dup_pairs
        from bertrand_spark.sources.reader import read_table

        e = read_table(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        ex = self._exact(spark, e, 0.8)
        got = {
            (r["id_a"], r["id_b"])
            for r in cosine_near_dup_pairs(
                e, "vec_id", "embedding", threshold=0.8, num_planes=6, num_tables=12
            ).collect()
        }
        assert got <= ex  # exact verification: never a false positive
        if ex:
            assert len(got) >= 0.9 * len(ex)  # OR-amplified recall


class TestDedupReport:
    def test_overall_and_per_source(self, spark):
        from bertrand_spark.pipeline.dedup import dedup_report

        rows = (
            [("a", "same text")] * 3
            + [("a", "unique one")]
            + [("b", "other text")] * 2
            + [("b", "fresh")]
        )
        df = spark.createDataFrame(
            [(s, t) for s, t in rows], "source string, text string"
        )
        overall = dedup_report(df, "text").collect()[0]
        assert overall["n_rows"] == 7
        assert overall["n_unique"] == 4
        assert overall["n_dup_rows"] == 3
        per = {r["source"]: r for r in dedup_report(df, "text", by="source").collect()}
        assert per["a"]["n_dup_rows"] == 2
        assert per["b"]["n_dup_rows"] == 1
        assert per["b"]["dup_rate"] == 1 / 3

    def test_whitespace_case_normalized(self, spark):
        from bertrand_spark.pipeline.dedup import dedup_report

        df = spark.createDataFrame(
            [("Hello  World",), ("hello world",)], "text string"
        )
        r = dedup_report(df, "text").collect()[0]
        assert r["n_unique"] == 1  # fingerprint normalizes case+whitespace
