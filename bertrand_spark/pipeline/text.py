"""Text analysis operators for large-scale training-data pipelines.

Not in the reference (its surface stops at the type system); these extend the
engine per the north star: language-ID, quality scoring, token counting,
document fingerprinting.  Everything below is native Column expressions —
regexp/array functions inside whole-stage codegen, no Python on the hot path,
so a 100 TB documents table is one narrow projection pass.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.kernel import row_udf
from ..session import local_frame

__all__ = [
    "tokenize", "token_count", "bpe_ish_token_count",
    "BpeModel", "train_bpe", "bpe_tokenize", "bpe_token_count",
    "ByteBpeModel", "train_bpe_bytes",
    "char_ngrams", "word_ngrams",
    "quality_features", "quality_score", "gopher_quality_flags",
    "language_scores", "detect_language",
    "fingerprint", "rolling_fingerprints",
    "hashing_embed", "embed_documents",
    "CharLM", "train_char_lm",
]

# --- the word rule (see tokenize's docstring) ------------------------------
_WS = r"\s+"
_PY_WS = re.compile(_WS, re.ASCII)
# GPT-2-style pre-tokenizer shape: word pieces, numbers, punctuation runs
_BPE_ISH = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+"


def tokenize(text: Column) -> Column:
    """The engine's word rule: lowercase, split on whitespace, drop empty
    pieces (``array<string>``, empty-safe).

    "Whitespace" is the ASCII class `` \\t\\n\\x0b\\f\\r``: Java's
    ``\\s`` (Spark) and RE2's ``\\s`` (the DuckDB oracles) match exactly
    that, while Python's ``\\s`` and ``str.split()`` also match NBSP,
    U+0085, U+2028, U+3000 and more.  Python kernels therefore never split
    text themselves: :func:`py_tokenize` is this rule's Python twin, and
    :func:`collapse_ws` / :func:`py_collapse_ws` are the pair for the
    whitespace-collapsed form that character shingles read."""
    return F.filter(F.split(F.lower(F.trim(text)), _WS), lambda t: t != "")


def py_tokenize(text: str) -> list[str]:
    """:func:`tokenize` for one Python string, inside Arrow kernels."""
    return [w for w in _PY_WS.split(text.lower()) if w]


def collapse_ws(text: Column) -> Column:
    """``text`` lowercased, each whitespace run (ASCII, as in
    :func:`tokenize`) replaced by one space."""
    return F.lower(F.regexp_replace(text, _WS, " "))


def py_collapse_ws(text: str) -> str:
    """:func:`collapse_ws` for one Python string."""
    return _PY_WS.sub(" ", text).lower()


def token_count(text: Column) -> Column:
    """Word count under :func:`tokenize`'s rule."""
    return F.size(tokenize(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token count via the GPT-2 pre-tokenizer regex (public
    pattern) — counts matches natively with ``regexp_count``."""
    return F.regexp_count(text, F.lit(_BPE_ISH))


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and pass the value into ``fn``.

    An expression referenced inside a higher-order-function lambda is
    re-evaluated at every element; a lambda *variable* is a bound value.
    Wrapping in a 1-element array and transforming binds the value:
    without this, ``char_ngrams`` re-ran lower+regexp_replace on the whole
    string per gram — O(len²) per document (the round-1 x02 blowup).
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def char_ngrams(text: Column, n: int = 5) -> Column:
    """Character n-gram shingles (array<string>), native ``transform`` over an
    index ``sequence`` — no explode, no shuffle, O(len) per document."""
    s = collapse_ws(text)

    def build(t: Column) -> Column:
        return F.when(F.length(t) < n, F.array(t)).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - F.lit(n - 1)),
                lambda i: t.substr(i, F.lit(n)),
            )
        )

    return _bind(s, build)


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>), tokens evaluated once."""

    def build(t: Column) -> Column:
        sz = F.size(t)
        return F.when(sz < n, F.array(F.concat_ws(" ", t))).otherwise(
            F.transform(
                F.sequence(F.lit(1), sz - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            )
        )

    return _bind(tokenize(text), build)


# --- quality scoring -------------------------------------------------------
_STOPWORDS_EN = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "this", "that", "be",
)


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword / digit ratios (C4-style heuristics)."""
    length = F.length(text).cast("double")
    toks = tokenize(text)
    n_tok = F.size(toks).cast("double")
    stop_hits = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in _STOPWORDS_EN])))
    return {
        "n_chars": F.length(text).cast("long"),
        "n_tokens": F.size(toks).cast("long"),
        "mean_token_len": F.when(n_tok > 0, length / n_tok).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(
            length > 0, F.regexp_count(text, F.lit(r"[^\w\s]")).cast("double") / length
        ).otherwise(F.lit(0.0)),
        "digit_ratio": F.when(
            length > 0, F.regexp_count(text, F.lit(r"\d")).cast("double") / length
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tok > 0, stop_hits.cast("double") / n_tok).otherwise(
            F.lit(0.0)
        ),
        "uppercase_ratio": F.when(
            length > 0, F.regexp_count(text, F.lit(r"[A-Z]")).cast("double") / length
        ).otherwise(F.lit(0.0)),
    }


def quality_score(text: Column) -> Column:
    """Scalar [0,1] quality heuristic combining the features (monotone,
    deterministic; thresholds follow common C4/Gopher-style filters)."""
    f = quality_features(text)
    length_ok = F.when((f["n_tokens"] >= 5) & (f["n_tokens"] <= 100000), 1.0).otherwise(0.2)
    punct_ok = F.when(f["punct_ratio"] <= 0.3, 1.0).otherwise(0.4)
    stop_ok = F.when(f["stopword_ratio"] >= 0.05, 1.0).otherwise(0.5)
    mean_ok = F.when(
        (f["mean_token_len"] >= 2.5) & (f["mean_token_len"] <= 12), 1.0
    ).otherwise(0.5)
    return (length_ok * punct_ok * stop_ok * mean_ok).cast("double")


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(text: Column) -> dict[str, Column]:
    """Gopher-style document filter rules (Rae et al. 2021, §A1.1) as
    individual boolean flags plus the conjunction — fully native
    expressions, no UDF, no shuffle.

    Rules (the published operating points):
    * 50 ≤ word count ≤ 100,000
    * 3 ≤ mean word length ≤ 10
    * symbol-to-word ratio (``#`` or ``...``) ≤ 0.1
    * ≥ 80% of words contain at least one alphabetic character
    * ≥ 2 distinct stopwords from {the, be, to, of, and, that, have, with}
    """
    toks = tokenize(text)
    n = F.size(toks)
    nd = n.cast("double")
    total_len = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    ).cast("double")
    mean_len = F.when(n > 0, total_len / nd).otherwise(F.lit(0.0))
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.when(n > 0, (n_hash + n_ellipsis).cast("double") / nd).otherwise(
        F.lit(0.0)
    )
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    alpha_frac = F.when(n > 0, n_alpha.cast("double") / nd).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS]),
        )
    )
    flags = {
        "wordcount_ok": (n >= 50) & (n <= 100_000),
        "meanlen_ok": (mean_len >= 3.0) & (mean_len <= 10.0),
        "symbol_ok": symbol_ratio <= 0.1,
        "alpha_ok": alpha_frac >= 0.8,
        "stopword_ok": stop_hits >= 2,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    flags["keep"] = keep
    return flags


# --- language identification ----------------------------------------------
# tiny public stopword seeds per language — the n-gram heuristic the north
# star asks for; extensible via the registry pattern
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr": ("le", "la", "les", "et", "est", "une", "pour", "dans", "que", "pas"),
    "es": ("el", "la", "los", "las", "es", "una", "para", "con", "que", "por"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "他"),
}


def language_scores(text: Column) -> Column:
    """struct of per-language marker-hit ratios."""
    toks = tokenize(text)
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    fields = []
    for lang, words in _LANG_MARKERS.items():
        hits = F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        ).cast("double")
        # zh has no whitespace tokens — also scan characters
        if lang == "zh":
            char_hits = sum(
                (F.when(F.contains(text, F.lit(w)), 1.0).otherwise(0.0) for w in words),
                F.lit(0.0),
            )
            hits = hits + char_hits
        fields.append((hits / n).alias(lang))
    return F.struct(*fields)


def detect_language(text: Column) -> Column:
    """argmax over language_scores — ties break lexicographically smaller
    language code first (deterministic)."""
    scores = language_scores(text)
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            for lang in _LANG_MARKERS
        ]
    )
    best = F.array_max(pairs)  # struct compare: score first, then lang
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


# --- fingerprinting --------------------------------------------------------
def fingerprint(text: Column) -> Column:
    """Whole-document fingerprint: xxhash64 of whitespace-normalized,
    lowercased text — the exact-dedup key."""
    return F.xxhash64(collapse_ws(F.trim(text)))


def rolling_fingerprints(
    text: Column, n: int = 8, keep: int = 16, portable: bool = False
) -> Column:
    """Winnowing-style rolling fingerprint set: hash every char n-gram, keep
    the ``keep`` smallest hashes (deterministic document sketch).  Native:
    transform → array_sort → slice.

    ``portable=True`` hashes with the first 15 hex chars of md5 (60 bits,
    sign-safe) instead of xxhash64 — bit-identical to DuckDB's
    ``CAST('0x'||substr(md5(g),1,15) AS BIGINT)``, making sketches
    oracle-checkable; xxhash64 stays the default (faster, JVM-native).
    """
    grams = char_ngrams(text, n)
    if portable:
        hashes = F.transform(
            grams,
            lambda g: F.conv(
                F.substring(F.md5(g.cast("binary")), 1, 15), 16, 10
            ).cast("long"),
        )
    else:
        hashes = F.transform(grams, lambda g: F.xxhash64(g))
    return F.slice(F.array_sort(hashes), 1, keep)


def hashing_embed(dim: int = 64, ngram: int = 1, seed: int = 42):
    """Feature-hashing ("hashing trick") document embedding kernel
    (Weinberger et al., ICML 2009): token (or word n-gram) counts
    scatter into ``dim`` buckets by one hash, a second independent sign
    hash debiases the collisions, and the vector is l2-normalized —
    cosine between embeddings approximates token-profile similarity
    with no vocabulary, no training, and no model artifact to ship.

    Returns an Arrow-batched ``pandas_udf`` producing ``array<double>``:
    one narrow map pass at any corpus size (the honest, deterministic
    baseline embedder that makes the ANN/semantic-dedup stack —
    knn_graph, cosine_near_dup_pairs, ivf_topk — runnable on raw text;
    swap in a learned encoder behind the same column signature when one
    is available).  Hashes are crc32-based — stable across workers,
    sessions, and machines (Python's builtin ``hash`` is per-process
    salted and MUST NOT be used here).
    """
    n = int(ngram)
    d = int(dim)
    salt_b = str(seed).encode()
    salt_s = str(seed * 31 + 7).encode()

    def embed_one(t):
        v = _hash_embed_one(t, n, d, salt_b, salt_s)
        return None if v is None else v.tolist()

    return row_udf("array<double>", embed_one)


def _hash_embed_one(t, n: int, d: int, salt_b: bytes, salt_s: bytes):
    """One document through the hashing-trick featurizer: the SINGLE
    definition both :func:`hashing_embed` and :func:`hashing_logit`
    execute, so a model trained on one can never be scored with a
    drifted variant of the other.  Returns an l2-normalized float64
    vector, or None for a NULL document."""
    import zlib

    import numpy as np

    if t is None:
        return None
    toks = py_tokenize(t)
    if n > 1:
        toks = [
            " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
        ] or ([" ".join(toks)] if toks else [])
    v = np.zeros(d, dtype=np.float64)
    for g in toks:
        gb = g.encode()
        bucket = zlib.crc32(salt_b + gb) % d
        sign = 1.0 if zlib.crc32(salt_s + gb) & 1 else -1.0
        v[bucket] += sign
    norm = np.linalg.norm(v)
    if norm > 0:
        v /= norm
    return v


def hashing_logit(
    dim: int, ngram: int, seed: int, weights, bias: float
):
    """Fused hash-embed → w·x + b → sigmoid scoring kernel: the entire
    model-based quality-filter scoring path in ONE Arrow pass.

    The coefficient vector rides in the task closure (dim × 8 B — 32 KB
    at dim=4096, broadcast once per executor), so scoring a 100 TB
    corpus is a narrow map with no Spark ML transform, no
    array↔vector conversions, and no java-serialized model closure.
    The last point is load-bearing on pyspark 4.1: the classic
    session lazily creates a non-serializable ``ObservationManager`` on
    first ``Observation`` use, after which serializing an ML model whose
    training summary pins the session fails — a fused kernel cannot be
    poisoned by unrelated session state.  Featurization is byte-for-byte
    :func:`hashing_embed` (shared :func:`_hash_embed_one`).
    """
    import numpy as np

    n = int(ngram)
    d = int(dim)
    salt_b = str(seed).encode()
    salt_s = str(seed * 31 + 7).encode()
    w = np.asarray(weights, dtype=np.float64)
    if w.shape != (d,):
        raise ValueError(
            f"hashing_logit: weights shape {w.shape} != (dim={d},)"
        )
    b = float(bias)

    def logit_one(t):
        v = _hash_embed_one(t, n, d, salt_b, salt_s)
        if v is None:
            return None
        return 1.0 / (1.0 + np.exp(-(float(v @ w) + b)))

    return row_udf("double", logit_one)


def embed_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    ngram: int = 1,
    seed: int = 42,
):
    """(id, embedding) table from raw text via :func:`hashing_embed` —
    the input shape every similarity operator in the engine consumes."""
    kernel = hashing_embed(dim, ngram, seed)
    return df.select(
        F.col(id_col), kernel(F.col(text_col)).alias("embedding")
    )


# --- character n-gram language model (CCNet-style perplexity) --------------
class CharLM:
    """A trained character n-gram language model + its exact
    normalization/geometry — CCNet-style (Wenzek et al. 2020) corpus
    filtering by LM perplexity: documents far from the training
    distribution (boilerplate, gibberish, wrong language) score high
    and get filtered or bucketed.

    The model is two bounded count tables (n-grams and their (n−1)-char
    contexts, both capped at ``top_k`` rows ≈ a few MB) that broadcast
    at scoring time; scoring is a fully NATIVE plan — per-doc n-gram
    array (`char_ngrams`, short documents dropped), explode, two broadcast
    joins, one map-side-combined groupBy — no Python anywhere, so a
    100 TB corpus scores as one pass.  Probabilities are add-alpha
    smoothed MLE: ``p(c|ctx) = (cnt(ctx·c) + α) / (cnt(ctx) + α·V)``
    with V = observed alphabet size; unseen grams/contexts degrade to
    the uniform floor instead of −inf.
    """

    def __init__(self, ngrams, ctxs, n: int, alpha: float, vocab: int):
        self.ngrams = ngrams      # DataFrame (g string, cnt long)
        self.ctxs = ctxs          # DataFrame (ctx string, ctx_cnt long)
        self.n = int(n)
        self.alpha = float(alpha)
        self.vocab = int(vocab)

    @staticmethod
    def _grams_expr(text: Column, n: int) -> Column:
        """:func:`char_ngrams` without its one short-document gram."""
        return F.filter(char_ngrams(text, n), lambda g: F.length(g) == n)

    def perplexity(
        self,
        df,
        id_col: str = "doc_id",
        text_col: str = "text",
        out_col: str = "lm_ppl",
    ):
        """(id, lm_ppl, lm_bits, n_grams) per document; documents
        shorter than n normalized chars get NULL (no evidence)."""
        ex = df.select(
            F.col(id_col),
            F.explode(self._grams_expr(F.col(text_col), self.n)).alias("g"),
        ).withColumn("ctx", F.substring(F.col("g"), 1, self.n - 1))
        joined = (
            ex.join(F.broadcast(self.ngrams), "g", "left")
            .join(F.broadcast(self.ctxs), "ctx", "left")
            .withColumn(
                "__p",
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(self.alpha))
                / (
                    F.coalesce(F.col("ctx_cnt"), F.lit(0))
                    + F.lit(self.alpha * self.vocab)
                ),
            )
        )
        bits = F.avg(-F.log2(F.col("__p"))).alias("lm_bits")
        return (
            joined.groupBy(id_col)
            .agg(bits, F.count("*").alias("n_grams"))
            .withColumn(out_col, F.pow(F.lit(2.0), F.col("lm_bits")))
        )

    def save(self, path: str) -> None:
        import json

        self.ngrams.write.mode("overwrite").parquet(f"{path}/ngrams")
        self.ctxs.write.mode("overwrite").parquet(f"{path}/ctxs")
        spark = self.ngrams.sparkSession
        local_frame(
            spark,
            [(json.dumps({"n": self.n, "alpha": self.alpha, "vocab": self.vocab}),)],
            "params string",
        ).coalesce(1).write.mode("overwrite").json(f"{path}/params")

    @classmethod
    def load(cls, spark, path: str) -> "CharLM":
        import json

        p = json.loads(
            spark.read.json(f"{path}/params").collect()[0]["params"]
        )
        return cls(
            spark.read.parquet(f"{path}/ngrams"),
            spark.read.parquet(f"{path}/ctxs"),
            p["n"], p["alpha"], p["vocab"],
        )


def train_char_lm(
    df,
    text_col: str = "text",
    n: int = 4,
    alpha: float = 0.1,
    top_k: int = 500_000,
) -> CharLM:
    """Fit a :class:`CharLM` on a corpus (or a sample of one — counts
    are what matters, and ``top_k`` bounds the model regardless).

    One explode + two groupBys over (n)- and (n−1)-gram strings — the
    counts shuffle is on short string keys with map-side combine, the
    same profile as any word-count.  ``top_k`` keeps the HEAD of each
    table by count (ties broken by gram for determinism): rare grams
    fall to the smoothing floor anyway, so dropping their rows changes
    scores only marginally while capping the broadcast at scoring
    time.  The tables are materialized eagerly (persist + count) so a
    scoring fan-out does not re-run training.
    """
    spark = df.sparkSession
    grams = df.select(
        F.explode(CharLM._grams_expr(F.col(text_col), n)).alias("g")
    )
    grams = grams.persist()
    try:
        vocab = (
            grams.select(F.explode(F.split(F.col("g"), "")).alias("c"))
            .filter(F.col("c") != "")
            .distinct()
            .count()
        ) or 1

        def top(counts, key):
            w = counts.orderBy(
                F.col("cnt" if key == "g" else "ctx_cnt").desc(), key
            ).limit(top_k)
            # driver-bounded by top_k; detaches from the input plan
            return local_frame(spark, w.collect(), w.schema)

        ng = top(
            grams.groupBy("g").agg(F.count("*").alias("cnt")), "g"
        )
        cx = top(
            grams.select(
                F.substring(F.col("g"), 1, n - 1).alias("ctx")
            ).groupBy("ctx").agg(F.count("*").alias("ctx_cnt")),
            "ctx",
        )
    finally:
        grams.unpersist()
    return CharLM(ng, cx, n, alpha, vocab)


# --- BPE subword tokenizers (round 7: word-level; round 8: byte-level) ------
# A REAL learned subword tokenizer (Sennrich et al. 2016, the HF
# `BPE`/wordpiece-family trainer design), upgrading the suite's
# token-counting from the whitespace + `bpe_ish` regex heuristics to a
# corpus-fitted vocabulary.  The scale split is the one every
# production trainer uses: ONE distributed pass aggregates the corpus
# to a (word, count) table — bounded by the distinct-word vocabulary,
# capped at `max_words` by frequency — and the merge loop runs
# driver-side on that table (pair statistics over ≤max_words rows,
# never over the corpus).  Encoding ships the learned merge ranks in
# an Arrow-kernel closure: one corpus pass, no shuffle, no join.
#
# The two models differ only in their pre-tokenizer (`_pieces`) and in a
# pre-token's starting symbols (`_symbols`).  The merge loop and the
# Arrow kernel are `_Bpe`'s; the bounded word table and the merge
# trainer are `_bpe_fit`'s.


class _Bpe:
    """Learned BPE merges + the encode kernel shared by
    :class:`BpeModel` and :class:`ByteBpeModel`.  ``merges`` is an
    ordered list of (left, right) string pairs; rank = list position."""

    def __init__(self, merges: "list[tuple[str, str]]"):
        self.merges = list(merges)
        self._ranks = {pair: i for i, pair in enumerate(self.merges)}

    def _encode(self, piece: str) -> "list[str]":
        """Greedy lowest-rank-first merge of one pre-token — the
        canonical BPE encode, merging EVERY occurrence of the best pair
        left to right."""
        if not piece:
            return []
        syms = self._symbols(piece)
        ranks = self._ranks
        while len(syms) > 1:
            best = None
            best_rank = None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            pair = (syms[best], syms[best + 1])
            out = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == pair:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def _tokens(self, text: str, encode) -> "list[str]":
        """``text``'s tokens: each pre-token through ``encode``, special
        tokens verbatim."""
        toks: list = []
        for piece, special in self._pieces(text):
            if special:
                toks.append(piece)
            else:
                toks.extend(encode(piece))
        return toks

    def tokenize_kernel(self, text_col: str, out_col: str, counts_only: bool):
        """mapInPandas kernel factory: merges ride the closure (a few
        hundred KB at 50k merges)."""
        model = self
        # per-TASK pre-token→tokens cache (closure state lives for one
        # task, not the worker's lifetime): corpora are Zipfian, so
        # within a partition the greedy merge runs once per DISTINCT
        # pre-token — the measured 8× warm rate applies inside each task
        # after its first batches, i.e. big-partition jobs (the 100 TB
        # default of 128 MB+ splits) run mostly warm while
        # many-tiny-partition jobs stay near the cold rate.  Bounded by
        # entry count AND cached characters (absurd pieces never
        # cached), so an adversarial all-unique long-word corpus
        # degrades to the cold rate instead of growing the worker heap.
        cache: dict = {}
        cache_chars = [0]

        def encode(piece):
            enc = cache.get(piece)
            if enc is None:
                enc = model._encode(piece)
                if (
                    len(piece) <= 64
                    and len(cache) < 500_000
                    and cache_chars[0] < 16_000_000
                ):
                    cache[piece] = enc
                    cache_chars[0] += len(piece)
            return enc

        def run(batches):
            for pdf in batches:
                out = []
                for text in pdf[text_col]:
                    if text is None:
                        out.append(None)
                        continue
                    toks = model._tokens(text, encode)
                    out.append(len(toks) if counts_only else toks)
                res = pdf.drop(columns=[text_col])
                res[out_col] = out
                yield res

        return run


class BpeModel(_Bpe):
    """Word-level BPE: :func:`tokenize`'s words are the pre-tokens.
    Tokens are characters plus the end-of-word marker ``</w>`` fused
    into the final character (the paper's formulation), so encoding is
    reversible per word."""

    END = "</w>"

    # -- persistence (same JSON-alongside convention as DsirModel) --
    def save(self, spark, path: str) -> None:
        import json

        local_frame(
            spark, [(json.dumps(self.merges),)], "merges string"
        ).coalesce(1).write.mode("overwrite").json(path)

    @classmethod
    def load(cls, spark, path: str) -> "BpeModel":
        import json

        raw = json.loads(spark.read.json(path).collect()[0]["merges"])
        return cls([tuple(p) for p in raw])

    @staticmethod
    def _pieces(text: str) -> list:
        return [(w, False) for w in py_tokenize(text)]

    @staticmethod
    def _symbols(word: str) -> list:
        return list(word[:-1]) + [word[-1] + BpeModel.END]

    def encode_word(self, word: str) -> "list[str]":
        """One word's subword tokens, the last ending in ``</w>``."""
        return self._encode(word)


def _bpe_fit(pieces, symbols, num_merges: int, min_freq: int,
             max_words: int) -> list:
    """Both trainers' merges from ``pieces``, a (w string, n long) frame
    of partial pre-token counts: sum per pre-token, keep those with
    count ≥ ``min_freq``, the ``max_words`` most frequent (ties by
    word — a TakeOrdered, so the driver table is bounded by
    construction and the cap is deterministic), then
    :func:`_bpe_merge_loop` over ``symbols(word)``."""
    rows = (
        pieces.groupBy("w")
        .agg(F.sum("n").alias("count"))
        .filter(F.col("count") >= int(min_freq))
        .orderBy(F.col("count").desc(), "w")
        .limit(int(max_words))
        .collect()
    )
    words = [(symbols(r["w"]), r["count"]) for r in rows]
    return _bpe_merge_loop(words, num_merges)


def train_bpe(
    df,
    text_col: str = "text",
    num_merges: int = 500,
    min_freq: int = 2,
    max_words: int = 1_000_000,
) -> BpeModel:
    """Fit BPE merges from a corpus: one distributed pass to the
    bounded (word, count) table (:func:`_bpe_fit`), then the classic
    merge loop over pair statistics.  Deterministic throughout: the
    best pair is (max count, then lexicographically smallest pair), so
    two runs — or two engines — learn identical merges.

    100 TB shape: the corpus pass is a tokenize→explode→groupBy with
    map-side combine (word keys); everything after runs on ≤max_words
    driver rows, which is how every production BPE trainer works —
    pair statistics live on the word-frequency table, not the corpus.
    The merge loop is INCREMENTAL (a pair→words index plus a
    lazily-invalidated heap, the subword-nmt design): each merge
    touches only the words that contain the merged pair, so cost is
    O(Σ affected-word lengths) per merge instead of a full vocabulary
    rescan — num_merges=50k over a million-word table is feasible,
    not days of driver time.
    """
    pieces = df.select(
        F.explode(tokenize(F.col(text_col))).alias("w"),
        F.lit(1).alias("n"),
    )
    return BpeModel(
        _bpe_fit(pieces, BpeModel._symbols, num_merges, min_freq, max_words)
    )


def _bpe_merge_loop(words: list, num_merges: int) -> list:
    """The incremental (pair→words index + lazily-invalidated heap)
    merge loop shared by the word-level and byte-level trainers.
    ``words`` is a list of (symbol list, count); returns the learned
    merge sequence.  Deterministic: best pair = (max count, then
    lexicographically smallest), so two runs — or two engines — learn
    identical merges."""
    import heapq

    pair_counts: dict = {}
    pair_words: dict = {}  # pair -> set of word ids containing it
    for wid, (syms, cnt) in enumerate(words):
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + cnt
            pair_words.setdefault((a, b), set()).add(wid)
    # heap of (-count, pair): pop order = highest count, then
    # lexicographically smallest pair — the deterministic tie-break, so
    # two runs (or two engines) learn identical merges.  Entries go
    # stale when counts change; pops are verified against pair_counts.
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    def push(p):
        c = pair_counts.get(p, 0)
        if c > 0:
            heapq.heappush(heap, (-c, p))

    merges: list = []
    while len(merges) < int(num_merges) and heap:
        negc, best_pair = heapq.heappop(heap)
        if pair_counts.get(best_pair, 0) != -negc:
            continue  # stale entry
        if -negc < 2:
            break  # nothing co-occurs anymore; more merges are noise
        merges.append(best_pair)
        merged = best_pair[0] + best_pair[1]
        for wid in pair_words.pop(best_pair, set()):
            syms, cnt = words[wid]
            touched = set()
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] -= cnt
                if pair_counts[(a, b)] <= 0:
                    pair_counts.pop((a, b), None)
                pw = pair_words.get((a, b))
                if pw is not None:
                    pw.discard(wid)
                touched.add((a, b))
            out = []
            i = 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == best_pair[0]
                    and syms[i + 1] == best_pair[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[wid] = (out, cnt)
            for a, b in zip(out, out[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + cnt
                pair_words.setdefault((a, b), set()).add(wid)
                touched.add((a, b))
            for p in touched:
                push(p)
    return merges


def _bpe_out_schema(df, text_col: str, out_col: str, out_type: str) -> str:
    """Shared schema builder for the two BPE entry points, with the
    driver-side validation that otherwise surfaces as an opaque Arrow
    schema-mismatch deep inside an executor."""
    if text_col not in df.columns:
        raise ValueError(f"text_col {text_col!r} not in {df.columns}")
    if out_col in df.columns:
        raise ValueError(
            f"out_col {out_col!r} already exists — pass a different out_col"
        )
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema
        if f.name != text_col
    )
    tail = f"{out_col} {out_type}"
    return f"{fields}, {tail}" if fields else tail


def bpe_tokenize(df, model: "BpeModel | ByteBpeModel", text_col: str = "text",
                 out_col: str = "bpe_tokens"):
    """(all other columns, array<string> subword tokens) per row — one
    Arrow pass, merges in the closure, no shuffle.  ``model`` is either
    a word-level or a byte-level model."""
    schema = _bpe_out_schema(df, text_col, out_col, "array<string>")
    return df.mapInPandas(
        model.tokenize_kernel(text_col, out_col, counts_only=False), schema
    )


def bpe_token_count(df, model: "BpeModel | ByteBpeModel", text_col: str = "text",
                    out_col: str = "bpe_n_tokens"):
    """(all other columns, subword token count) per row — the learned
    upgrade of :func:`token_count` / :func:`bpe_ish_token_count`; with a
    byte-level model, the production-comparable budget feed for
    ``curation.dsir_resample_tokens``."""
    schema = _bpe_out_schema(df, text_col, out_col, "long")
    return df.mapInPandas(
        model.tokenize_kernel(text_col, out_col, counts_only=True), schema
    )


# --- byte-level BPE (GPT-2 style, round 8) ----------------------------------
# The production-tokenizer shape: pre-tokenize text with a GPT-2-style
# pattern, map each UTF-8 byte to a printable stand-in character, learn
# merges over that byte alphabet — so EVERY input round-trips exactly
# (no unknown symbols, no lossy lowercase/END-marker convention), and
# bpe_token_count with a byte-level model feeds dsir_resample_tokens
# with budgets comparable to production tokenizers.  Reserved special tokens (e.g.
# "<|endoftext|>") are atomic: never split, never merged across.


def _byte_unicode_table() -> dict:
    """The GPT-2 byte→printable-unicode bijection (public convention):
    printable latin-1 bytes map to themselves, the rest to U+0100+n in
    first-seen order — merges then operate on ordinary strings."""
    keep = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(0xA1, 0xAC + 1))
        + list(range(0xAE, 0xFF + 1))
    )
    keep_set = set(keep)
    table = {}
    n = 0
    for b in range(256):
        if b in keep_set:
            table[b] = chr(b)
        else:
            table[b] = chr(256 + n)
            n += 1
    return table


_BYTE_TO_CHAR = _byte_unicode_table()
_CHAR_TO_BYTE = {c: b for b, c in _BYTE_TO_CHAR.items()}

# GPT-2-style pre-tokenizer in stdlib-re dialect: contractions, a
# leading-space letter run ([^\W\d_] ≈ \p{L}), a leading-space digit
# run, a leading-space other-symbol run (underscore grouped with
# symbols, as GPT-2 does), trailing-whitespace lookahead, whitespace.
# Documented DIALECT: \d is Unicode Nd (GPT-2 uses \p{N}, a superset);
# the gate is exact parity with the in-repo naive reference plus exact
# reversibility, not tiktoken-vocabulary compatibility.
_BYTE_PRETOK = None


def _byte_pretok():
    global _BYTE_PRETOK
    if _BYTE_PRETOK is None:
        import re

        _BYTE_PRETOK = re.compile(
            r"'s|'t|'re|'ve|'m|'ll|'d"
            r"| ?[^\W\d_]+| ?\d+| ?(?:_|[^\s\w])+"
            r"|\s+(?!\S)|\s+"
        )
    return _BYTE_PRETOK


_SPECIALS_PATTERNS: dict = {}


def _specials_pattern(specials: tuple):
    """Compiled longest-first alternation for the special tokens —
    cached on the specials tuple so the kernel's per-ROW calls don't
    rebuild the pattern string (simplify-pass finding)."""
    import re

    pat = _SPECIALS_PATTERNS.get(specials)
    if pat is None:
        pat = re.compile(
            "|".join(
                re.escape(s) for s in sorted(specials, key=len, reverse=True)
            )
        )
        if len(_SPECIALS_PATTERNS) < 64:  # bounded worker-side cache
            _SPECIALS_PATTERNS[specials] = pat
    return pat


def _byte_pre_tokenize(text: str, specials: tuple) -> list:
    """(piece, is_special) pre-tokens; special tokens split first
    (longest-first so an overlapping shorter special cannot shadow a
    longer one), the rest through the GPT-2-style pattern."""
    if not specials:
        return [(m.group(0), False) for m in _byte_pretok().finditer(text)]
    out = []
    pos = 0
    for m in _specials_pattern(specials).finditer(text):
        if m.start() > pos:
            out.extend(_byte_pre_tokenize(text[pos : m.start()], ()))
        out.append((m.group(0), True))
        pos = m.end()
    if pos < len(text):
        out.extend(_byte_pre_tokenize(text[pos:], ()))
    return out


def _byte_syms(piece: str) -> list:
    """UTF-8 bytes of a pre-token as byte-unicode symbols.
    surrogatepass keeps even lone-surrogate (non-UTF-8-safe) inputs
    reversible."""
    return [
        _BYTE_TO_CHAR[b]
        for b in piece.encode("utf-8", errors="surrogatepass")
    ]


class ByteBpeModel(_Bpe):
    """Byte-level BPE: merges over the 256-symbol byte alphabet, GPT-2
    pre-tokenization, atomic special tokens.  Tokens are byte-unicode
    strings (the familiar "Ġword" form); ``decode_tokens`` inverts
    ``encode_text`` EXACTLY for any input string.  No END marker: the
    pre-tokenizer owns the word boundary."""

    def __init__(self, merges: "list[tuple[str, str]]",
                 special_tokens: "tuple[str, ...]" = ()):
        super().__init__(merges)
        self.special_tokens = tuple(special_tokens)

    def save(self, spark, path: str) -> None:
        import json

        local_frame(
            spark,
            [(json.dumps(self.merges), json.dumps(list(self.special_tokens)))],
            "merges string, specials string",
        ).coalesce(1).write.mode("overwrite").json(path)

    @classmethod
    def load(cls, spark, path: str) -> "ByteBpeModel":
        import json

        row = spark.read.json(path).collect()[0]
        return cls(
            [tuple(p) for p in json.loads(row["merges"])],
            tuple(json.loads(row["specials"])),
        )

    def _pieces(self, text: str) -> list:
        return _byte_pre_tokenize(text, self.special_tokens)

    _symbols = staticmethod(_byte_syms)

    def encode_piece(self, piece: str) -> list:
        """One pre-token's byte-level subword tokens."""
        return self._encode(piece)

    def encode_text(self, text: str) -> list:
        return self._tokens(text, self._encode)

    def decode_tokens(self, tokens) -> str:
        specials = set(self.special_tokens)
        out: list = []
        buf = bytearray()
        for t in tokens:
            if t in specials:
                if buf:
                    out.append(
                        bytes(buf).decode("utf-8", errors="surrogatepass")
                    )
                    buf = bytearray()
                out.append(t)
            else:
                buf.extend(_CHAR_TO_BYTE[c] for c in t)
        if buf:
            out.append(bytes(buf).decode("utf-8", errors="surrogatepass"))
        return "".join(out)


def train_bpe_bytes(
    df,
    text_col: str = "text",
    num_merges: int = 500,
    min_freq: int = 2,
    max_words: int = 1_000_000,
    special_tokens: "tuple[str, ...]" = (),
) -> ByteBpeModel:
    """Fit byte-level BPE merges: one Arrow-kernel corpus pass emits
    per-task (pre-token, partial count) rows — the pre-tokenizer is
    Python regex, so unlike :func:`train_bpe` the word profile cannot
    be a native explode; the kernel pre-aggregates per batch so the
    shuffle carries distinct pieces, not occurrences — then the same
    bounded word table and incremental merge loop (:func:`_bpe_fit`).
    Special tokens are atomic and excluded from merge statistics,
    matching every production trainer."""
    specials = tuple(special_tokens)

    def count_pieces(batches):
        from collections import Counter

        for pdf in batches:
            c: Counter = Counter()
            for text in pdf[text_col]:
                if text is None:
                    continue
                for piece, sp in _byte_pre_tokenize(text, specials):
                    if not sp:
                        c[piece] += 1
            yield pd.DataFrame(
                {"w": list(c.keys()), "n": list(c.values())}
            )

    pieces = df.select(text_col).mapInPandas(count_pieces, "w string, n long")
    return ByteBpeModel(
        _bpe_fit(pieces, _byte_syms, num_merges, min_freq, max_words),
        specials,
    )
