"""Text operators — ``pipeline/text.py``: the engine's one word rule and
the BPE tokenizers.

* ``TestOneWordConvention``: the word rule (lowercase, split on ASCII
  whitespace, drop empty pieces) and the whitespace collapse are spelled
  only in ``text.py``; every kernel that reads words or collapsed text
  agrees with native ``tokenize``/``collapse_ws`` on hostile whitespace.
* ``TestOneBpeEncoder``: both BPE models share one merge loop and one
  Arrow kernel; ``bpe_tokenize``/``bpe_token_count`` take either model,
  and the saved formats still load.
"""

from __future__ import annotations

import ast
import hashlib
import json
import zlib
from collections import Counter
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from bertrand_spark.pipeline import text as T
from test_dedup import NBSP_TEXTS

PIPELINE = Path(T.__file__).parent

# test_dedup's NBSP/NEL strings, plus U+2028, U+3000, VT and FF: only
# ASCII whitespace splits.
HOSTILE = NBSP_TEXTS + [
    "para\u2028sep word",
    "ideo\u3000space word",
    "vertical\x0btab  form\x0cfeed",
    " A\u00a0b\tc\u2028d\u0085e\x0bF ",
]


def _ws_regex(value: str) -> bool:
    """A whitespace regex or hand-written whitespace class."""
    return "\\s" in value or sum(c in value for c in "\t\n\x0b\x0c\r") >= 2


def _word_rule_violations(path: Path) -> list[str]:
    """Whitespace regexes among a module's call arguments, and calls that
    split text on whitespace (``F.split``, ``re.split``, ``str.split()``)."""
    bad = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not isinstance(node, ast.Call):
            continue
        for arg in [*node.args, *(k.value for k in node.keywords)]:
            if (isinstance(arg, ast.Constant) and isinstance(arg.value, str)
                    and _ws_regex(arg.value)):
                bad.append(f"{path.name}:{node.lineno} regex {arg.value!r}")
        fn = node.func
        if isinstance(fn, ast.Attribute) and fn.attr == "split":
            owner = fn.value.id if isinstance(fn.value, ast.Name) else None
            if owner in ("F", "re", "_re") or not (node.args or node.keywords):
                bad.append(f"{path.name}:{node.lineno} split")
    return bad


class TestOneWordConvention:
    def test_word_rule_spelled_only_in_text(self):
        """No pipeline module but ``text.py`` holds a whitespace regex or
        splits text itself.  The ``<format>text.py`` extractors are out
        of scope: they turn markup or bytes into document text under
        their format's grammar, and the word rule applies after them."""
        modules = [
            p for p in sorted(PIPELINE.glob("*.py"))
            if not p.name.endswith("text.py")
        ]
        assert {"curation.py", "dedup.py", "similarity.py", "graph.py"} <= {
            p.name for p in modules}
        bad = [v for p in modules for v in _word_rule_violations(p)]
        assert bad == []

    def test_kernels_agree_with_native_tokenize(self, spark):
        from bertrand_spark.pipeline import curation as CU
        from bertrand_spark.pipeline import dedup as D

        df = spark.createDataFrame(
            list(enumerate(HOSTILE)), "doc_id long, text string"
        ).repartition(2)
        k = 5
        native = {
            r["doc_id"]: r for r in df.select(
                "doc_id",
                T.tokenize(F.col("text")).alias("toks"),
                T.collapse_ws(F.col("text")).alias("collapsed"),
                CU._dsir_features(F.col("text")).alias("feats"),
                T.char_ngrams(F.col("text"), k).alias("grams"),
                T.CharLM._grams_expr(F.col("text"), k).alias("lm_grams"),
                T.fingerprint(F.col("text")).alias("fp"),
            ).collect()
        }
        words = {i: list(r["toks"]) for i, r in native.items()}
        # the hostile strings do split differently under Python's \s
        assert words[7] == ["a\xa0b", "c\u2028d\x85e", "f"]
        for i, t in enumerate(HOSTILE):
            r = native[i]
            assert T.py_tokenize(t) == words[i], t
            assert T.py_collapse_ws(t) == r["collapsed"], t
            w = words[i]
            assert list(r["feats"]) == w + [
                a + " " + b for a, b in zip(w, w[1:])]
            c = r["collapsed"]
            assert list(r["grams"]) == [c[j:j + k] for j in range(len(c) - k + 1)]
            assert list(r["lm_grams"]) == list(r["grams"])
        fps = {
            r["doc_id"]: r["fp"] for r in spark.createDataFrame(
                [(i, T.py_collapse_ws(t.strip(" "))) for i, t in enumerate(HOSTILE)],
                "doc_id long, c string",
            ).select("doc_id", F.xxhash64("c").alias("fp")).collect()
        }
        assert fps == {i: r["fp"] for i, r in native.items()}

        # dsir_resample_tokens' own whitespace token count
        model = CU.train_dsir(df, df, buckets=64)
        sel = CU.dsir_resample_tokens(df, model, 10**9).collect()
        assert {r["doc_id"]: r["n_tokens"] for r in sel} == {
            i: len(w) for i, w in words.items()}

        # _dsir_hist: each document's bucket histogram of its features
        B = 64
        hist = CU._dsir_hist(df, F.lit(False), "text", B, "doc_id")
        got = {
            r["doc_id"]: dict(zip(r["__bk"], r["__ct"]))
            for r in hist.filter(~F.col("__p")).collect()
        }
        want = {
            i: dict(Counter(
                int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % B
                for f in native[i]["feats"]))
            for i in words
        }
        assert got == want

        # BpeModel.tokenize_kernel: with no merges each word is its
        # characters, the last one carrying </w>
        bpe = {
            r["doc_id"]: r["bpe_tokens"]
            for r in T.bpe_tokenize(df, T.BpeModel([])).collect()
        }
        assert {i: "".join(t).split("</w>")[:-1] for i, t in bpe.items()} == words

        # simhash64_vectorized: md5-prefix token hashes, one vote per bit
        def simhash(ws):
            votes = np.zeros(64, dtype=np.int64)
            for x in ws:
                h = int(hashlib.md5(x.encode()).hexdigest()[:16], 16)
                votes += [1 if h >> b & 1 else -1 for b in range(64)]
            s = sum(1 << b for b in range(64) if votes[b] > 0)
            return s - (1 << 64) if s >= 1 << 63 else s

        sh = {r["doc_id"]: r["simhash"]
              for r in D.simhash64_vectorized(df).collect()}
        assert sh == {i: simhash(w) for i, w in words.items()}

        # word_gram_hashes_vectorized (n=1): one blake2b per distinct word
        def blake(g):
            return int.from_bytes(
                hashlib.blake2b(g.encode(), digest_size=8).digest(),
                "big", signed=True)

        wg = {
            r["doc_id"]: set(r["g"]) for r in df.select(
                "doc_id",
                D.word_gram_hashes_vectorized(1)(F.col("text")).alias("g"),
            ).collect()
        }
        assert wg == {i: {blake(x) for x in w} for i, w in words.items()}

        # dedup._np_shingle_hashes: the rolling hash of each native gram
        def gram_hash(g):
            m = (1 << 64) - 1
            h = 0
            for ch in g:
                h = (h * D._FNV + ord(ch)) & m
            h = ((h ^ (h >> 30)) * 0xBF58476D1CE4E5B9) & m
            h = ((h ^ (h >> 27)) * 0x94D049BB133111EB) & m
            return h ^ (h >> 31)

        for i, t in enumerate(HOSTILE):
            got_h = {int(x) for x in D._np_shingle_hashes(t, k)}
            assert got_h == {gram_hash(g) for g in native[i]["grams"]}, t

        # hashing_embed (_hash_embed_one): crc32 bucket and sign per word
        dim, seed = 32, 42

        def embed(ws):
            v = np.zeros(dim)
            for x in ws:
                b = x.encode()
                v[zlib.crc32(str(seed).encode() + b) % dim] += (
                    1.0 if zlib.crc32(str(seed * 31 + 7).encode() + b) & 1
                    else -1.0)
            return v / np.linalg.norm(v)

        emb = {
            r["doc_id"]: r["e"] for r in df.select(
                "doc_id", T.hashing_embed(dim, 1, seed)(F.col("text")).alias("e")
            ).collect()
        }
        for i, w in words.items():
            assert np.allclose(emb[i], embed(w)), HOSTILE[i]


class TestOneBpeEncoder:
    def test_one_merge_loop_and_one_kernel(self):
        tree = ast.parse((PIPELINE / "text.py").read_text())
        defs = Counter(
            n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef))
        assert defs["tokenize_kernel"] == 1
        merge_loops = [
            n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
            and "ranks.get(" in ast.unparse(n)
        ]
        assert merge_loops == ["_encode"]
        bpe_public = [n for n in T.__all__ if "bpe" in n.lower()
                      and n != "bpe_ish_token_count"]
        assert sorted(bpe_public) == sorted([
            "BpeModel", "ByteBpeModel", "train_bpe", "train_bpe_bytes",
            "bpe_tokenize", "bpe_token_count"])
        assert not hasattr(T, "bpe_tokenize_bytes")
        assert not hasattr(T, "bpe_token_count_bytes")

    def test_entry_points_take_either_model(self, spark):
        texts = [
            "it's a Test<|endoftext|>of  tabs\tand\xa0nbsp",
            "naïve café 東京 🎉",
            "",
            None,
        ]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string")
        corpus = spark.createDataFrame(
            [("the test of the tests and the tester",)] * 3, "text string")
        word = T.train_bpe(corpus, num_merges=20, min_freq=1)
        byte = T.train_bpe_bytes(
            corpus, num_merges=20, min_freq=1,
            special_tokens=("<|endoftext|>",))
        assert word.merges and byte.merges
        for model, encode in (
            (word, lambda t: [x for w in T.py_tokenize(t)
                              for x in word.encode_word(w)]),
            (byte, byte.encode_text),
        ):
            toks = {r["doc_id"]: r["bpe_tokens"]
                    for r in T.bpe_tokenize(df, model).collect()}
            counts = {r["doc_id"]: r["bpe_n_tokens"]
                      for r in T.bpe_token_count(df, model).collect()}
            want = {i: None if t is None else encode(t)
                    for i, t in enumerate(texts)}
            assert toks == want
            assert counts == {
                i: None if v is None else len(v) for i, v in want.items()}
        assert "<|endoftext|>" in byte.encode_text(texts[0])

    def test_saved_formats_still_load(self, spark, tmp_path):
        """One JSON row of JSON-encoded string fields, as every earlier
        version saved it."""
        merges = [["t", "h"], ["th", "e</w>"]]
        for name, row in (
            ("word", {"merges": json.dumps(merges)}),
            ("byte", {"merges": json.dumps([["t", "h"]]),
                      "specials": json.dumps(["<|endoftext|>"])}),
        ):
            d = tmp_path / name
            d.mkdir()
            (d / "part-00000.json").write_text(json.dumps(row) + "\n")
        word = T.BpeModel.load(spark, str(tmp_path / "word"))
        assert word.merges == [("t", "h"), ("th", "e</w>")]
        assert word.encode_word("the") == ["the</w>"]
        byte = T.ByteBpeModel.load(spark, str(tmp_path / "byte"))
        assert byte.special_tokens == ("<|endoftext|>",)
        assert byte.encode_text("the<|endoftext|>") == [
            "th", "e", "<|endoftext|>"]
        for model, cls in ((word, T.BpeModel), (byte, T.ByteBpeModel)):
            out = str(tmp_path / f"{cls.__name__}_resaved")
            model.save(spark, out)
            back = cls.load(spark, out)
            assert back.merges == model.merges
            assert getattr(back, "special_tokens", None) == getattr(
                model, "special_tokens", None)
