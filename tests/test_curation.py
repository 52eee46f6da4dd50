"""Curation operators: decontamination, redaction, packing, sampling."""

import pytest
from pyspark.sql import functions as F

from bertrand_spark.pipeline import curation as CU
from bertrand_spark.sources.reader import read_table


class TestDecontaminate:
    def test_drop_removes_every_flagged_doc(self, spark, sf_dir):
        d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        bench = d.filter(F.col("doc_id") % 97 == 0)
        flagged = CU.decontaminate(d, bench, mode="flag")
        dropped = CU.decontaminate(d, bench, mode="drop")
        n_bad = flagged.filter(F.col("contaminated")).count()
        assert dropped.count() == d.count() - n_bad
        # a benchmark doc shares all its grams with itself -> always flagged
        assert (
            flagged.filter((F.col("doc_id") % 97 == 0) & ~F.col("contaminated")).count()
            == 0
        )

    def test_clean_corpus_untouched(self, spark):
        corpus = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "one two three four")],
            ["doc_id", "text"],
        )
        bench = spark.createDataFrame([(9, "zeta eta theta iota")], ["doc_id", "text"])
        assert CU.decontaminate(corpus, bench, n=2).count() == 2


class TestRedact:
    def test_each_pattern_fires(self, spark):
        df = spark.createDataFrame(
            [("mail a.user@site.org ssn 123-45-6789 tel (555) 867-5309 ip 192.168.0.1",)],
            ["t"],
        )
        out = df.select(CU.redact_pii(F.col("t")).alias("c")).first()["c"]
        for token in ("<EMAIL>", "<SSN>", "<PHONE>", "<IP>"):
            assert token in out
        assert "867" not in out and "@" not in out


class TestPack:
    def test_bins_monotone_and_offsets_bounded(self, spark, sf_dir):
        d = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        out = CU.pack_sequences(d, "n_chars", "doc_id", budget=4096, num_shards=8)
        rows = out.orderBy("shard", "doc_id").collect()
        last = {}
        for r in rows:
            assert 0 <= r["offset"] < 4096
            prev = last.get(r["shard"], -1)
            assert r["bin"] >= prev  # bins never decrease along the shard walk
            last[r["shard"]] = r["bin"]

    def test_chunk_accounting_matches_totals(self, spark, sf_dir):
        d = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        out = CU.pack_sequences(d, "n_chars", "doc_id", budget=1000, num_shards=4)
        # the last doc's bin*budget + offset equals the tokens before it
        per_shard = (
            out.groupBy("shard")
            .agg(
                F.max(F.struct("doc_id", "bin", "offset")).alias("last"),
                F.sum("n_chars").alias("total"),
            )
            .collect()
        )
        by_id = {r["doc_id"]: r for r in out.collect()}
        for r in per_shard:
            lid = r["last"]["doc_id"]
            before = r["total"] - by_id[lid]["n_chars"]
            assert r["last"]["bin"] * 1000 + r["last"]["offset"] == before


class TestSample:
    def test_deterministic_and_stratified(self, spark, sf_dir):
        d = read_table(spark, sf_dir, "documents").select("doc_id", "source")
        s1 = CU.sample_deterministic(d, "doc_id", 0.2, stratum=F.col("source"))
        s2 = CU.sample_deterministic(
            d.repartition(7), "doc_id", 0.2, stratum=F.col("source")
        )
        ids1 = {r["doc_id"] for r in s1.collect()}
        ids2 = {r["doc_id"] for r in s2.collect()}
        assert ids1 == ids2  # stable under repartitioning
        n, k = d.count(), len(ids1)
        assert 0.1 < k / n < 0.35  # fraction in the right ballpark

    def test_subset_property(self, spark, sf_dir):
        d = read_table(spark, sf_dir, "documents").select("doc_id")
        small = {r["doc_id"] for r in CU.sample_deterministic(d, "doc_id", 0.1).collect()}
        big = {r["doc_id"] for r in CU.sample_deterministic(d, "doc_id", 0.3).collect()}
        assert small <= big  # nested samples: raising the rate only adds rows


class TestRepetition:
    def test_looping_text_scores_high(self, spark):
        df = spark.createDataFrame(
            [(1, "spam spam spam spam spam spam spam spam"),
             (2, "all words here are totally distinct tokens friend")],
            ["doc_id", "text"],
        )
        rows = {
            r["doc_id"]: r["s"]
            for r in df.select(
                "doc_id", CU.repetition_score(F.col("text"), 3).alias("s")
            ).collect()
        }
        assert rows[1] > 0.8
        assert rows[2] == 0.0


class TestBloomDecontaminate:
    def test_superset_of_exact_and_fp_bounded(self, spark, sf_dir):
        d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        bench = d.filter(F.col("doc_id") % 97 == 0)
        exact = {
            r["doc_id"]
            for r in CU.decontaminate(d, bench, mode="flag")
            .filter(F.col("contaminated"))
            .collect()
        }
        bloom = {
            r["doc_id"]
            for r in CU.decontaminate_bloom(d, bench, mode="flag")
            .filter(F.col("contaminated"))
            .collect()
        }
        assert exact <= bloom  # one-sided error: never a false negative
        n = d.count()
        # 2^22 bits vs a few thousand grams -> false positives ~0
        assert len(bloom - exact) <= max(1, n // 100)

    def test_tiny_filter_still_superset(self, spark):
        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today"),
             (2, "completely unrelated words about sparkling data engines"),
             (3, "the quick brown fox jumps over the lazy dog again")],
            ["doc_id", "text"],
        )
        bench = spark.createDataFrame(
            [(9, "the quick brown fox jumps over the lazy dog")],
            ["doc_id", "text"],
        )
        out = CU.decontaminate_bloom(
            corpus, bench, n=8, num_bits=1 << 12, num_hashes=3, mode="flag"
        )
        flags = {r["doc_id"]: r["contaminated"] for r in out.collect()}
        assert flags[1] and flags[3]  # share the 8-gram with the benchmark


class TestShortBenchmarkTexts:
    def test_short_eval_text_is_caught(self, spark):
        # 4-token eval answer quoted inside a 12-token corpus doc: n-gram
        # matching alone can never flag it (no 8-gram exists on the bench
        # side) — the containment path must
        corpus = spark.createDataFrame(
            [(1, "as everyone knows the answer is paris which ends the quiz"),
             (2, "completely unrelated corpus document with many boring words here")],
            ["doc_id", "text"],
        )
        bench = spark.createDataFrame([(9, "the answer is paris")], ["doc_id", "text"])
        for fn in (CU.decontaminate, CU.decontaminate_bloom):
            flags = {
                r["doc_id"]: r["contaminated"]
                for r in fn(corpus, bench, mode="flag").collect()
            }
            assert flags[1], fn.__name__
            assert not flags[2], fn.__name__

    def test_token_boundary_respected(self, spark):
        # 'is par' appears as a CHARACTER substring but not at token
        # boundaries -> must NOT be flagged
        corpus = spark.createDataFrame(
            [(1, "this is parsed text not the quoted answer anywhere")],
            ["doc_id", "text"],
        )
        bench = spark.createDataFrame([(9, "is par")], ["doc_id", "text"])
        out = CU.decontaminate(corpus, bench, mode="flag").collect()
        assert not out[0]["contaminated"]


class TestEmptyInputs:
    def test_ivf_topk_empty_queries(self, spark, sf_dir):
        from bertrand_spark.pipeline.similarity import ivf_build, ivf_topk
        from bertrand_spark.sources.reader import read_table

        e = read_table(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        q = e.filter(F.col("vec_id") < 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        assigned, cents = ivf_build(e, num_cells=4)
        assert ivf_topk(assigned, cents, q, k=5, nprobe=2).count() == 0


class TestSamplePerGroup:
    def test_quota_and_determinism(self, spark):
        from bertrand_spark.pipeline.curation import sample_per_group

        rows = [(f"s{i % 3}", i) for i in range(300)]
        df = spark.createDataFrame(rows, "src string, id long")
        out1 = sample_per_group(df, "src", "id", 10)
        got1 = {(r["src"], r["id"]) for r in out1.collect()}
        # exactly 10 per group
        per = {}
        for s, i in got1:
            per[s] = per.get(s, 0) + 1
        assert per == {"s0": 10, "s1": 10, "s2": 10}
        # deterministic across runs and repartitioning
        got2 = {
            (r["src"], r["id"])
            for r in sample_per_group(df.repartition(7), "src", "id", 10).collect()
        }
        assert got1 == got2

    def test_small_groups_kept_whole(self, spark):
        from bertrand_spark.pipeline.curation import sample_per_group

        df = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3)], "src string, id long"
        )
        got = {(r["src"], r["id"]) for r in sample_per_group(df, "src", "id", 5).collect()}
        assert got == {("a", 1), ("a", 2), ("b", 3)}
