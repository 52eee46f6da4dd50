"""Near-duplicate sketches — ``pipeline/dedup.py`` and the hyperplane
kernel of ``pipeline/similarity.py``.

The MinHash, n-gram and SimHash families are oracle-gated by x02/x30/x32,
x03 and x04.  These pin what the oracles cannot see:

* one Arrow kernel per family: ``minhash_banded_vectorized``,
  ``word_gram_hashes_vectorized``, ``simhash64_vectorized`` and
  ``similarity.hyperplane_signatures_vectorized`` — the last against a
  numpy replay of ``_seeded_planes``;
* ASCII-only whitespace in every Python kernel, so NBSP/NEL text tokenizes
  as ``text.tokenize``/``char_ngrams`` (Java ``\\s``) and the DuckDB
  oracles (RE2 ``\\s``) do;
* the ``near_dup`` regime selector and SimHash pigeonhole blocking down
  to one 64-bit block.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bertrand_spark.pipeline import dedup as D

# NBSP and NEL joined words must stay single tokens on every path;
# ASCII whitespace must split.
NBSP_TEXTS = [
    "Hello\xa0World foo",          # NBSP inside a "word"
    "line one\x85line two",        # NEL inside a "word"
    "plain ascii words here",
    "tabs\tand\nnewlines\x0c end",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(NBSP_TEXTS)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def real_docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


class TestDedup:
    def test_exact_dedup(self, spark):
        df = spark.createDataFrame(
            [(1, "same text"), (2, "same  TEXT"), (3, "different")],
            ["doc_id", "text"],
        )
        out = D.exact_dedup(df, "text", keep_by="doc_id")
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
        groups = D.exact_dup_groups(df, "text").collect()
        assert len(groups) == 1 and groups[0]["n"] == 2

    def test_minhash_near_dup(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again ok"
        df = spark.createDataFrame(
            [(1, base), (2, base + " yes"), (3, "completely unrelated content about spark engines")],
            ["doc_id", "text"],
        )
        pairs = D.near_dup_pairs_minhash(df, threshold=0.5, k=32, num_bands=16).collect()
        ids = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in ids
        assert all(3 not in p for p in ids)

    def test_simhash(self, spark):
        base = "spark makes big data processing simple and fast for everyone today"
        df = spark.createDataFrame(
            [(1, base), (2, base.replace("fast", "quick")), (3, "zebra llama giraffe")],
            ["doc_id", "text"],
        )
        sh = D.simhash64_vectorized(df).collect()
        assert len(sh) == 3
        pairs = D.near_dup_pairs_simhash(df, max_hamming=16, num_blocks=4).collect()
        ids = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in ids

    def test_ngram_jaccard(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e f g z"), (3, "q w e r t y u i")],
            ["doc_id", "text"],
        )
        pairs = D.ngram_jaccard_pairs(df, n=2, threshold=0.3).collect()
        ids = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in ids and (1, 3) not in ids

    def test_ngram_jaccard_stop_gram_cap(self, spark):
        # "a b" appears in all 3 docs; max_df=2 drops it from the join.
        # Pair (1,2) still shares rarer grams; jaccard becomes a lower
        # bound (pairs may be missed, never invented).
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e z"), (3, "a b x y w v")],
            ["doc_id", "text"],
        )
        exact = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(df, n=2, threshold=0.1).collect()
        }
        capped = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(
                df, n=2, threshold=0.1, max_df=2
            ).collect()
        }
        assert set(capped) <= set(exact)
        for k, v in capped.items():
            assert v <= exact[k] + 1e-9
        assert (1, 3) in exact and (1, 3) not in capped  # only shared "a b"

    def test_on_real_documents(self, real_docs):
        # sanity: runs on the documents test table without error
        assert D.exact_dedup(real_docs, "text", keep_by="doc_id").count() == real_docs.count()


class TestUnicodeWhitespaceParity:
    def test_simhash_kernel_matches_duckdb_oracle(self, spark, docs):
        """The Arrow SimHash kernel == the x04 DuckDB oracle's sketch,
        on text with non-ASCII whitespace."""
        from bertrand_spark.pipeline.dedup import simhash64_vectorized

        got = {
            r["doc_id"]: r["simhash"]
            for r in simhash64_vectorized(docs, "doc_id", "text").collect()
        }
        pdf = pd.DataFrame({"doc_id": range(len(NBSP_TEXTS)), "text": NBSP_TEXTS})
        con = duckdb.connect()
        con.register("documents", pdf)
        oracle = con.execute(
            """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(
                       string_split_regex(lower(trim(text)), '\\s+'),
                       w -> w <> '')) AS tok
              FROM documents
            ), th AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h
              FROM toks
            ), votes AS (
              SELECT doc_id, b.b AS b,
                     SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM th, (SELECT unnest(range(64)) AS b) b
              GROUP BY 1, 2
            )
            , sk AS (
              SELECT doc_id,
                     SUM(CASE WHEN v > 0 THEN CAST(1 AS UBIGINT) << b
                         ELSE 0 END)::HUGEINT AS u
              FROM votes GROUP BY 1
            )
            SELECT doc_id,
                   CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
                            THEN 18446744073709551616::HUGEINT
                            ELSE 0::HUGEINT END AS BIGINT) AS s
            FROM sk
            """
        ).fetchall()
        want = dict(oracle)
        assert got == want

    def test_simhash_expression_and_kernel_token_parity(self, spark, docs):
        """``text.tokenize`` tokens (Java \\s) == SimHash kernel tokens:
        NBSP/NEL text yields the same token COUNT per doc on both."""
        from bertrand_spark.pipeline.text import tokenize

        expr = {
            r["doc_id"]: r["n"]
            for r in docs.select(
                "doc_id", F.size(tokenize(F.col("text"))).alias("n")
            ).collect()
        }
        # kernel side: count distinct-preserving tokens via the pinned split
        import re

        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for i, t in enumerate(NBSP_TEXTS):
            toks = [w for w in ws.split(t.lower().strip(" \t\n\x0b\f\r")) if w]
            assert expr[i] == len(toks), f"doc {i}: {expr[i]} vs {len(toks)}"
        # NBSP and NEL texts keep their joined words as single tokens
        assert expr[0] == 2  # ["hello world", "foo"]
        assert expr[1] == 3  # ["line", "oneline", "two"]

    def test_shingle_normalization_matches_expression_path(self, spark, docs):
        """_np_shingle_hashes's whitespace collapse == the Spark
        char_ngrams normalization (lower + ASCII-\\s collapse), and the
        distinct-hash count equals the distinct n-gram count of that
        normalized string."""
        import re

        from bertrand_spark.pipeline.dedup import _np_shingle_hashes

        n = 4
        spark_norm = {
            r["doc_id"]: r["s"]
            for r in docs.select(
                "doc_id",
                F.lower(F.regexp_replace("text", r"\s+", " ")).alias("s"),
            ).collect()
        }
        for i, t in enumerate(NBSP_TEXTS):
            py_norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", t.lower())
            assert py_norm == spark_norm[i], f"doc {i} normalization diverged"
            grams = (
                {py_norm}
                if len(py_norm) < n
                else {py_norm[j : j + n] for j in range(len(py_norm) - n + 1)}
            )
            assert len(_np_shingle_hashes(t, n)) == len(grams)

    def test_word_gram_kernel_nbsp_parity(self, spark, docs):
        """word_gram_hashes_vectorized gram COUNT == expression-path
        word_ngrams gram count on NBSP/NEL text."""
        from bertrand_spark.pipeline.dedup import word_gram_hashes_vectorized
        from bertrand_spark.pipeline.text import word_ngrams

        kernel = word_gram_hashes_vectorized(n=2)
        got = {
            r["doc_id"]: r["n"]
            for r in docs.select(
                "doc_id", F.size(kernel(F.col("text"))).alias("n")
            ).collect()
        }
        want = {
            r["doc_id"]: r["n"]
            for r in docs.select(
                "doc_id",
                F.size(F.array_distinct(word_ngrams(F.col("text"), 2))).alias("n"),
            ).collect()
        }
        assert got == want
        assert got[0] == 1  # ["hello world foo"] → one 2-gram


class TestKernelParityProperties:
    """Randomized cross-engine parity: random Unicode text (exotic
    whitespace inside words, CJK, emoji, empties) through the SimHash
    Arrow kernel must match the DuckDB x04-oracle sketch -- the
    generalization of the fixed NBSP/NEL cases above."""

    @staticmethod
    def _oracle_simhash(texts):
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        )
        return dict(
            con.execute(
                """
                WITH toks AS (
                  SELECT doc_id,
                         unnest(list_filter(
                           string_split_regex(lower(trim(text)), '\\s+'),
                           w -> w <> '')) AS tok
                  FROM documents
                ), th AS (
                  SELECT doc_id,
                         CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h
                  FROM toks
                ), votes AS (
                  SELECT doc_id, b.b AS b,
                         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                  FROM th, (SELECT unnest(range(64)) AS b) b GROUP BY 1, 2
                )
                , sk AS (
                  SELECT doc_id,
                         SUM(CASE WHEN v > 0 THEN CAST(1 AS UBIGINT) << b
                             ELSE 0 END)::HUGEINT AS u
                  FROM votes GROUP BY 1
                )
                SELECT doc_id,
                       CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
                                THEN 18446744073709551616::HUGEINT
                                ELSE 0::HUGEINT END AS BIGINT) AS s
                FROM sk
                """
            ).fetchall()
        )

    def test_simhash_parity_random_unicode(self, spark):
        import random

        rng = random.Random(1234)
        # word alphabet: latin, accents, CJK, emoji, digits, and words
        # with NBSP (\xa0) / NEL (\x85) INSIDE them (must NOT split);
        # separator alphabet: the ASCII class both engines split on
        words = ["h\xe9llo", "w\xf6rld", "\u6570\u636e", "\U0001f680x",
                 "a", "Bb", "c3", "nb\xa0sp", "ne\x85l", "\ufb01ne"]
        seps = [" ", "\t", "\n", "\x0c", "  ", " \t "]
        texts = []
        for _ in range(40):
            n = rng.randint(0, 6)
            texts.append(
                "".join(
                    rng.choice(words) + rng.choice(seps) for _ in range(n)
                ).strip()
                or rng.choice(["", " ", "\t\t"])
            )
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        from bertrand_spark.pipeline.dedup import simhash64_vectorized

        got = {
            r["doc_id"]: r["simhash"]
            for r in simhash64_vectorized(df, "doc_id", "text").collect()
            if r["simhash"] is not None
        }
        want = self._oracle_simhash(texts)
        assert got == want


# --- ASCII whitespace pin in word-gram kernel --------------------------------
class TestAsciiWhitespacePin:
    def test_nbsp_not_a_separator(self, spark):
        from bertrand_spark.pipeline.dedup import word_gram_hashes_vectorized

        kernel = word_gram_hashes_vectorized(n=2)
        # NBSP joins "b c" into ONE token under ASCII-\s semantics
        df = spark.createDataFrame(
            [("a b c d",), ("a b c d",)], ["text"]
        )
        rows = df.select(
            "text", F.size(kernel(F.col("text"))).alias("n")
        ).collect()
        got = {r["text"]: r["n"] for r in rows}
        # "a", "b c", "d" → 2 bigrams; "a b c d" → 3 bigrams
        assert got["a b c d"] == 2
        assert got["a b c d"] == 3

    def test_matches_java_regex_tokenization(self, spark):
        from bertrand_spark.pipeline.dedup import word_gram_hashes_vectorized

        kernel = word_gram_hashes_vectorized(n=2)
        texts = [("x y z w v",), ("plain ascii words here",)]
        df = spark.createDataFrame(texts, ["text"])
        # Java \s is ASCII-only: split there too and compare gram COUNTS
        java_side = df.select(
            "text",
            F.size(
                F.filter(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda w: w != "",
                )
            ).alias("n_tok"),
            F.size(kernel(F.col("text"))).alias("n_grams"),
        ).collect()
        for r in java_side:
            assert r["n_grams"] == max(1, r["n_tok"] - 1), r


# --- near-dup auto-regime selector ------------------------------------------
class TestNearDupSelector:
    def test_plan_picks_documented_regimes(self):
        from bertrand_spark.pipeline.dedup import near_dup_plan

        assert near_dup_plan("jaccard", 0.9)[0] == "minhash"
        assert near_dup_plan("jaccard", 0.9)[1]["num_bands"] == 96   # r=8
        assert near_dup_plan("jaccard", 0.6)[1]["num_bands"] == 154  # r=5
        assert near_dup_plan("jaccard", 0.3)[0] == "ngram_jaccard"
        assert near_dup_plan("cosine", 0.95)[0] == "hyperplane_lsh"
        assert near_dup_plan("cosine", 0.45)[0] == "blocked_gemm"
        algo, p = near_dup_plan("hamming", 3)
        assert algo == "simhash" and p["num_blocks"] > p["max_hamming"]
        with pytest.raises(ValueError, match="unknown near-dup metric"):
            near_dup_plan("euclid", 0.5)

    def test_selector_matches_primitive_cosine(self, spark, sf_dir):
        from bertrand_spark.pipeline.dedup import near_dup
        from bertrand_spark.pipeline.similarity import (
            cosine_all_pairs_blocked,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        via_selector = sorted(
            (r["id_a"], r["id_b"])
            for r in near_dup(
                e, "vec_id", "embedding", metric="cosine", threshold=0.45
            ).collect()
        )
        direct = sorted(
            (r["id_a"], r["id_b"])
            for r in cosine_all_pairs_blocked(
                e, "vec_id", "embedding", threshold=0.45
            ).collect()
        )
        assert via_selector == direct

    def test_selector_matches_primitive_jaccard(self, spark, sf_dir):
        from bertrand_spark.pipeline.dedup import near_dup, near_dup_pairs_minhash

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        via_selector = sorted(
            (r["id_a"], r["id_b"])
            for r in near_dup(
                d, "doc_id", "text", metric="jaccard", threshold=0.6
            ).collect()
        )
        direct = sorted(
            (r["id_a"], r["id_b"])
            for r in near_dup_pairs_minhash(
                d, "doc_id", "text", threshold=0.6,
                k=770, num_bands=154, shingle_n=5,
            ).collect()
        )
        assert via_selector == direct


class TestSimhashBlocks:
    """Pigeonhole blocking down to ONE 64-bit block: its mask 2^64 - 1
    does not fit a long literal, so the block is the whole sketch."""

    TEXTS = [
        "the cat sat on the mat",
        "The  cat\tsat on the MAT",       # same tokens, other whitespace/case
        "mat the on sat cat the",          # same bag of tokens, reordered
        "a dog barked at the mailman",
        "a dog barked at the mailman",
        "completely unrelated words here",
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            list(enumerate(self.TEXTS)), "doc_id long, text string"
        )

    def test_threshold_zero_returns_equal_sketches(self, spark):
        df = self._df(spark)
        sk = {
            r["doc_id"]: r["simhash"]
            for r in D.simhash64_vectorized(df).collect()
        }
        want = {(a, b) for a in sk for b in sk if a < b and sk[a] == sk[b]}
        assert want == {(0, 1), (0, 2), (1, 2), (3, 4)}
        rows = D.near_dup(
            df, "doc_id", "text", metric="hamming", threshold=0
        ).collect()
        assert {(r["id_a"], r["id_b"]) for r in rows} == want
        assert all(r["hamming"] == 0 for r in rows)
        one_block = D.near_dup_pairs_simhash(
            df, "doc_id", "text", max_hamming=0, num_blocks=1
        ).collect()
        assert {(r["id_a"], r["id_b"]) for r in one_block} == want

    def test_num_blocks_range(self, spark):
        df = self._df(spark)
        for bad in (0, 65):
            with pytest.raises(ValueError, match="num_blocks"):
                D.near_dup_pairs_simhash(df, num_blocks=bad)
        assert D.near_dup_plan("hamming", 0.5)[1]["num_blocks"] == 1
        assert D.near_dup_plan("hamming", 63)[1]["num_blocks"] == 64
        assert D.near_dup_plan("hamming", 100)[1]["num_blocks"] == 64


class TestHyperplaneKernel:
    """``hyperplane_signatures_vectorized`` buckets exactly by
    ``_seeded_planes``: table t's signature packs bit i = sign(v · plane_i)
    of ``_seeded_planes(dim, p, seed + 7919 * t)``."""

    def test_matches_seeded_planes_replay(self, spark):
        from bertrand_spark.pipeline.similarity import (
            _seeded_planes,
            hyperplane_signatures_vectorized,
        )

        num_planes, num_tables, seed, dim = 8, 3, 42, 16
        rng = np.random.default_rng(7)
        vecs = [rng.standard_normal(dim).tolist() for _ in range(40)]
        rows = [(i, v) for i, v in enumerate(vecs)] + [(len(vecs), None)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        kernel = hyperplane_signatures_vectorized(num_planes, num_tables, seed)
        got = {
            r["vec_id"]: r["sig"]
            for r in df.select(
                "vec_id", kernel(F.col("embedding")).alias("sig")
            ).collect()
        }
        weights = 1 << np.arange(num_planes)
        for t in range(num_tables):
            planes = np.array(_seeded_planes(dim, num_planes, seed + 7919 * t))
            for i, v in enumerate(vecs):
                bits = (np.array(v) @ planes.T) >= 0
                assert got[i][t] == int((bits * weights).sum()), (i, t)
            # the planes spread the vectors over several buckets
            assert len({got[i][t] for i in range(len(vecs))}) > 1
        assert got[len(vecs)] is None  # NULL vector -> NULL signature

        empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
        out = empty.select(kernel(F.col("embedding")).alias("sig"))
        assert out.count() == 0
        assert out.schema["sig"].dataType.simpleString() == "array<bigint>"


class TestOneCandidateJoin:
    """Every MinHash join makes its candidates in one place
    (``_band_candidates``), and band-table readers take the geometry
    from the ``__params`` companion or fail naming the table."""

    def test_candidate_rule_written_once(self):
        import ast
        import inspect

        src = inspect.getsource(D)
        calls = [
            n
            for n in ast.walk(ast.parse(src))
            if isinstance(n, ast.Call)
            and getattr(n.func, "id", None) == "min_band_matches"
        ]
        assert len(calls) == 1
        assert src.count('alias("__m")') == 1

    def test_missing_params_companion_raises(self, spark):
        name = "t_band_no_params"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}__params")
        batch = spark.createDataFrame(
            [(1, "some text to band")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match=name):
            D.candidate_pairs_from_band_table(spark, name)
        with pytest.raises(ValueError, match=name):
            D.fuzzy_join_band_store(batch, name, batch)


# --- connected components: checkpoint ownership -------------------------------
class TestConnectedComponentsCheckpoints:
    def test_each_checkpoint_freed_by_its_own_id(self, spark):
        """Every round's ``localCheckpoint`` is freed by its own RDD id:
        the local finish (x30's path) leaves no persisted RDD behind, and
        the distributed path keeps only the checkpoint its result reads."""
        from bertrand_spark.pipeline.graph import connected_components
        from bertrand_spark.session import persistent_rdd_ids

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (7, 7), (9, 8)], "id_a long, id_b long"
        )
        want = {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (8, 8), (9, 8)}
        before = persistent_rdd_ids(spark)
        got = {tuple(r) for r in connected_components(edges).collect()}
        assert got == want
        assert persistent_rdd_ids(spark) == before
        out = connected_components(edges, local_threshold=0)
        assert {tuple(r) for r in out.collect()} == want
        assert len(persistent_rdd_ids(spark) - before) == 1
