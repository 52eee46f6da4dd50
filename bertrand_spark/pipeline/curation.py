"""Training-corpus curation operators: decontamination, PII redaction,
sequence packing, deterministic sampling, repetition scoring.

These are the pre-training hygiene steps a 100 TB pipeline runs after
dedup (pipeline/dedup.py) and quality scoring (pipeline/text.py):

* ``decontaminate`` — drop/flag documents sharing any word n-gram with a
  benchmark/eval set (the published GPT-3 appendix-C style n-gram
  decontamination).  The benchmark side is small by contract → its gram
  set broadcasts; the corpus side is one explode + broadcast semi-join,
  a map-only plan at any scale.
* ``redact_pii`` — regex scrubbing (emails, phone numbers, IPv4, SSN-ish
  ids) as native ``regexp_replace`` chains: narrow projection, zero
  shuffle, whole-stage codegen.  Patterns stay in the regex subset whose
  semantics agree between Java regex and RE2-family engines (char
  classes, bounded repetition, no lookaround) so results are
  oracle-comparable bit-for-bit.
* ``pack_sequences`` — assign documents to fixed-token-budget training
  bins: contiguous greedy packing within hash shards.  Each shard packs
  independently (window over the shard, not a global window — the
  serial portion is O(docs/shard) per task, shards run parallel), which
  is both the scale-safe plan and a deterministic spec an oracle can
  replay.
* ``sample_deterministic`` — keep a fixed fraction via an md5-derived
  bucket of the id: engine-independent (any SQL dialect computes the
  same buckets — unlike ``rand()`` or ``TABLESAMPLE``), stable across
  runs/partitionings, and trivially stratifiable by keying the hash
  with a stratum label.
* ``repetition_score`` — intra-document repetition (Gopher-style rule):
  1 − |distinct n-grams| / |n-grams|.  High scores mark boilerplate /
  degenerate generations for filtering.

Reference parity: the reference engine has no corpus ops (it is a
type-system library); these extend the north-star LLM-pipeline surface
(BASELINE.json) the same way dedup/similarity do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .text import py_tokenize, token_count, tokenize, word_ngrams

__all__ = [
    "benchmark_ngrams", "decontaminate",
    "bloom_table", "decontaminate_bloom",
    "redact_pii", "PII_PATTERNS",
    "pack_sequences", "sample_deterministic", "sample_per_group",
    "repetition_score",
    "temperature_resample", "mix_corpus",
    "QualityClassifier", "train_quality_classifier",
    "DsirModel", "train_dsir", "dsir_fit_score", "dsir_resample",
    "dsir_resample_tokens",
    "filter_cascade", "cascade_report",
]


# --- decontamination -------------------------------------------------------
def benchmark_ngrams(
    bench: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """Distinct 64-bit word-n-gram hashes of the benchmark/eval set
    (texts of ≥ n tokens only — shorter eval texts are matched whole by
    ``_short_bench_grams``, because their single fallback gram could
    never equal any corpus n-gram).

    Small by contract (eval sets are thousands of rows); the result is
    the broadcast side of every decontamination join.  Gram identity is
    the Arrow kernel's stable 64-bit hash (``dedup.
    word_gram_hashes_vectorized``) — the corpus side uses the same
    kernel, so build and probe identities agree by construction.
    """
    from .dedup import word_gram_hashes_vectorized

    kernel = word_gram_hashes_vectorized(n)
    return (
        bench.filter(token_count(F.col(text_col)) >= n)
        .select(F.explode(kernel(F.col(text_col))).alias("g"))
        .distinct()
    )


def _norm_tokens_str(text: Column) -> Column:
    """Lowercased, whitespace-normalized token string (the exact string
    ``word_ngrams`` grams are substrings of)."""
    return F.array_join(tokenize(text), " ")


def _short_bench_grams(
    bench: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """Whole-text grams of benchmark texts SHORTER than n tokens.

    A 4-token eval answer produces no 8-gram, so n-gram matching alone
    would silently never flag a corpus document quoting it (a false
    negative — the unsafe direction).  These short texts are matched by
    token-boundary containment instead; the table is tiny by contract
    (a subset of an already-small eval set) and broadcasts.
    """
    k = token_count(F.col(text_col))
    return (
        bench.filter((k > 0) & (k < n))
        .select(_norm_tokens_str(F.col(text_col)).alias("sg"))
        .distinct()
    )


def _containment_hits(
    corpus: DataFrame, short: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Corpus ids whose token string contains any short benchmark text
    at token boundaries (space-padded substring check against the
    broadcast short-gram list — map-side, no shuffle of text)."""
    padded = F.concat(F.lit(" "), _norm_tokens_str(F.col(text_col)), F.lit(" "))
    return (
        corpus.select(F.col(id_col), padded.alias("__pt"))
        .crossJoin(F.broadcast(short))
        .filter(
            F.col("__pt").contains(F.concat(F.lit(" "), F.col("sg"), F.lit(" ")))
        )
        .select(id_col)
    )


def decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    mode: str = "drop",
) -> DataFrame:
    """Remove (or flag) corpus documents that share ANY word ``n``-gram
    with the benchmark set.

    ``mode='drop'`` returns the clean corpus; ``mode='flag'`` returns the
    corpus with a ``contaminated`` boolean.  Plan shape: corpus explodes
    to (id, gram-hash) — never shuffling text — the gram stream
    semi-joins the BROADCAST benchmark gram set (map-side, no shuffle),
    and only the small hit-id list joins back against the corpus.
    Benchmark texts SHORTER than n tokens (which have no n-gram) are
    matched whole, by token-boundary containment against the broadcast
    short-text list — without this, quoting a short eval answer verbatim
    would never be flagged.  64-bit gram identity: collision odds per
    (doc, benchmark-gram) pair are ~2^-64, the same trade the dedup
    family documents.
    """
    if mode not in ("drop", "flag"):
        raise ValueError("mode must be drop|flag")
    from .dedup import word_gram_hashes_vectorized

    grams = F.broadcast(benchmark_ngrams(bench, text_col, n))
    kernel = word_gram_hashes_vectorized(n)
    doc_grams = corpus.select(
        F.col(id_col), F.explode(kernel(F.col(text_col))).alias("__g")
    )
    hit_ids = (
        doc_grams.join(grams, doc_grams["__g"] == grams["g"], "left_semi")
        .select(id_col)
        .unionByName(
            _containment_hits(
                corpus, _short_bench_grams(bench, text_col, n), id_col, text_col
            )
        )
        .distinct()
    )
    return _apply_hits(corpus, hit_ids, id_col, mode)


def _apply_hits(
    corpus: DataFrame, hit_ids: DataFrame, id_col: str, mode: str
) -> DataFrame:
    """drop → anti-join the hit list; flag → left-join a boolean."""
    if mode == "drop":
        return corpus.join(hit_ids, id_col, "left_anti")
    flagged = hit_ids.withColumn("contaminated", F.lit(True))
    return corpus.join(flagged, id_col, "left").withColumn(
        "contaminated", F.coalesce("contaminated", F.lit(False))
    )


def contamination_report(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-benchmark-document DIRTINESS report (GPT-3 App. C's
    train-test-overlap measurement, Brown et al. 2020): for each
    benchmark doc, the fraction of its distinct word ``n``-grams that
    also occur anywhere in the training corpus —
    ``(doc_id, n_grams, n_dirty, dirty_frac)``.

    :func:`decontaminate` answers "which docs touch the benchmark";
    this answers "HOW contaminated is each eval item", the number an
    eval-integrity report publishes (a doc at 0.02 is a stray idiom, a
    doc at 0.9 is a leaked test item).

    Only docs with ≥ n tokens participate ON BOTH SIDES — a short doc
    has no n-gram, and whole-short-text matching is the containment
    path :func:`decontaminate` already covers; mixing the two would
    make ``dirty_frac`` incomparable across docs.

    Plan shape: both sides explode to distinct 64-bit gram hashes
    (:func:`~bertrand_spark.pipeline.dedup
    .word_gram_hashes_vectorized` — text itself never shuffles), the
    corpus stream aggregates to its distinct gram set (map-side
    combine), and the bench grams left-join it on the hash.  The two
    gram-key shuffles are the irreducible cost of an EXACT report at
    100 TB; when approximate suffices, probe :func:`bloom_table`
    instead of the exact set and the corpus-side shuffle carries
    ``num_bits/64`` rows total.  Gram identity is 64-bit (collision
    odds ~2^-64 per pair) — the same trade the dedup family documents.
    """
    from .dedup import word_gram_hashes_vectorized

    kernel = word_gram_hashes_vectorized(n)
    b = (
        bench.filter(token_count(F.col(text_col)) >= n)
        .select(F.col(id_col), F.explode(kernel(F.col(text_col))).alias("__g"))
    )
    c = (
        corpus.filter(token_count(F.col(text_col)) >= n)
        .select(F.explode(kernel(F.col(text_col))).alias("__cg"))
        .distinct()
    )
    return (
        b.join(c, b["__g"] == c["__cg"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__cg").alias("n_dirty"),
        )
        .withColumn(
            "dirty_frac",
            F.col("n_dirty").cast("double") / F.col("n_grams"),
        )
    )


def bloom_table(
    bench: DataFrame,
    text_col: str = "text",
    n: int = 8,
    num_bits: int = 1 << 22,
    num_hashes: int = 4,
) -> DataFrame:
    """Bloom-filter sketch of the benchmark gram set, stored as a
    compacted (word → 64-bit mask) DataFrame of at most ``num_bits/64``
    rows — the scale path for benchmark sets too large to broadcast
    exactly (``decontaminate`` broadcasts the full gram set; this
    broadcasts a fixed-size sketch no matter how many grams).

    Bit positions come from ``xxhash64(gram, seed_i) mod num_bits``;
    the build is one explode + groupBy(word) with map-side ``bit_or``
    combining, so the shuffle carries at most ``num_bits/64`` rows.
    """
    grams = benchmark_ngrams(bench, text_col, n)
    probes = _bloom_wordbits(grams, "g", num_bits, num_hashes, keep=())
    return probes.groupBy("word").agg(F.bit_or("__bit").alias("mask"))


def _bloom_wordbits(
    df: DataFrame,
    gram_id_col: str,
    num_bits: int,
    num_hashes: int,
    keep: tuple[str, ...],
) -> DataFrame:
    """The ONE definition of the bloom layout, shared by build and probe
    (divergence here would silently break the no-false-negative
    invariant): probe positions ``pos_i = xxhash64(gram_id, i) mod
    num_bits``, stored as (word = pos div 64, __bit = 1 << pos mod 64).
    ``keep``: extra columns carried through the explode.
    """
    return df.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(gram_id_col, F.lit(i)), F.lit(num_bits))
                    for i in range(num_hashes)
                ]
            )
        ).alias("pos"),
    ).select(
        *keep,
        F.floor(F.col("pos") / 64).cast("long").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("__bit"),
    )


def decontaminate_bloom(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    num_bits: int = 1 << 22,
    num_hashes: int = 4,
    mode: str = "drop",
) -> DataFrame:
    """Bloom-filter decontamination: one-sided error — every document
    the exact method flags is flagged here too (no false negatives);
    a clean document is falsely flagged with probability ≈
    (1-e^(-k·G/m))^k per gram (G benchmark grams, m bits, k hashes),
    i.e. over-dropping by a tunable hair, which is the safe direction
    for decontamination.

    Plan: the corpus gram stream probes the broadcast (word → mask)
    sketch with ``num_hashes`` equi-joins folded into one join on the
    exploded probe positions; a gram is "present" iff ALL its probe
    bits are set; a document is contaminated iff ANY gram is present.
    Memory is O(num_bits) regardless of benchmark size.
    """
    if mode not in ("drop", "flag"):
        raise ValueError("mode must be drop|flag")
    from .dedup import word_gram_hashes_vectorized

    bloom = F.broadcast(bloom_table(bench, text_col, n, num_bits, num_hashes))
    # the 64-bit gram identity (the Arrow kernel's hash) is what
    # benchmark_ngrams stores, so probe positions derive from IT on both
    # sides — via the same _bloom_wordbits helper as the build
    kernel = word_gram_hashes_vectorized(n)
    doc_grams = corpus.select(
        F.col(id_col), F.explode(kernel(F.col(text_col))).alias("__gid")
    )
    probes = _bloom_wordbits(
        doc_grams, "__gid", num_bits, num_hashes, keep=(id_col, "__gid")
    )
    hit_ids = (
        probes.join(bloom, "word", "left")
        .withColumn(
            "__set",
            (F.coalesce(F.col("mask"), F.lit(0)).bitwiseAND(F.col("__bit")) != 0),
        )
        .groupBy(id_col, "__gid")
        .agg(F.min(F.col("__set").cast("int")).alias("__all_set"))
        .filter(F.col("__all_set") == 1)
        .select(id_col)
        # short benchmark texts are few even when the gram set is huge —
        # they stay on the exact containment path (no sketch needed)
        .unionByName(
            _containment_hits(
                corpus, _short_bench_grams(bench, text_col, n), id_col, text_col
            )
        )
        .distinct()
    )
    return _apply_hits(corpus, hit_ids, id_col, mode)


# --- PII redaction ---------------------------------------------------------
# Dialect-portable subset: no lookaround, no \b-dependent corner cases
# beyond ASCII, no possessive quantifiers.  Order matters: emails before
# generic digit runs so "a@b.co" is not half-eaten by the phone rule.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\d{3}-\d{2}-\d{4}", "<SSN>"),
    (r"(\+?\d{1,2}[ .-])?(\(\d{3}\)|\d{3})[ .-]?\d{3}[ .-]?\d{4}", "<PHONE>"),
    (r"(\d{1,3}\.){3}\d{1,3}", "<IP>"),
)


def redact_pii(
    text: Column, patterns: tuple[tuple[str, str], ...] = PII_PATTERNS
) -> Column:
    """Chained native ``regexp_replace`` — one narrow projection."""
    out = text
    for pat, repl in patterns:
        out = F.regexp_replace(out, pat, repl)
    return out


def materialize_stage(
    df: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """Cut lineage at a pipeline-stage boundary.

    A multi-stage curation pipeline (filter → dedup → near-dup →
    decontaminate → pack) re-executes every upstream stage once per
    downstream consumer unless the boundary is materialized — on the
    end-to-end composition that is a ~69-exchange plan re-running the
    quality-filter+fingerprint scan several times.  With
    ``checkpoint_dir`` set, the frame is reliably checkpointed there
    (survives executor loss — the 100 TB setting, where recomputing a
    multi-TB lineage on a lost executor is worse than the write);
    without it, ``localCheckpoint`` stores partition blocks on executors
    (cheap, but lost blocks force a full recompute — fine in local mode
    or on stable clusters).  Both truncate the plan, so downstream
    stages start from a materialized scan instead of the whole lineage.
    """
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


# --- sequence packing ------------------------------------------------------
def md5_bucket(key: Column, buckets: int) -> Column:
    """THE engine's deterministic-bucket convention, in one place:
    ``conv(substr(md5(key), 1, 8), 16, 10) % buckets`` — spelled
    ``('0x' || substr(md5(key), 1, 8))::BIGINT % buckets`` in SQL.
    Engine-independent, repartition-stable, no RNG state.  Every sampler/
    sharder below routes through this helper so the convention cannot
    drift between functions (or from the SQL-oracle spelling)."""
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % buckets
    )


def shard_expr(df: DataFrame, id_col: str, num_shards: int) -> Column:
    """Deterministic shard assignment that is safe for ANY id type.

    Integral ids shard by ``pmod(id, n)`` (the SQL-replayable fast path);
    everything else hashes through an md5-derived bucket — bare
    ``pmod(string_id, n)`` would cast-to-null and silently collapse every
    row into a NULL shard.  The md5 form is engine-independent and spells
    ``('0x' || substr(md5(id), 1, 8))::BIGINT % n`` in SQL.
    """
    from pyspark.sql import types as st

    dt = df.schema[id_col].dataType
    if isinstance(
        dt, (st.ByteType, st.ShortType, st.IntegerType, st.LongType)
    ):
        return F.pmod(F.col(id_col), F.lit(num_shards)).cast("int")
    return md5_bucket(F.col(id_col).cast("string"), num_shards).cast("int")


def pack_sequences(
    df: DataFrame,
    token_col: str,
    id_col: str,
    budget: int,
    num_shards: int = 64,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing (the standard pretraining
    loader layout): within a shard, documents are concatenated in id
    order and cut into fixed ``budget``-token training chunks; each
    document is assigned the chunk index where its first token lands.

    Output adds ``shard`` (= id mod ``num_shards``) and ``bin`` (chunk
    index within the shard), plus ``offset`` — the document's first
    token position inside its bin, which is exactly what a loader needs
    to materialize the chunk.

    Scale: one shuffle onto shards; each shard packs under a window
    whose serial portion is the shard length, so parallelism =
    ``num_shards`` regardless of corpus size (at 100 TB raise
    ``num_shards`` to ~cluster cores × 4; chunks never span shards by
    design, so packing is unaffected).  Deterministic and closed-form
    (``bin = floor(cumulative_tokens_before / budget)``), so any SQL
    engine replays it bit-for-bit.
    """
    from pyspark.sql import Window

    shard = shard_expr(df, id_col, num_shards)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum(F.col(token_col).cast("long")).over(w), F.lit(0)
    )
    return (
        df.withColumn("shard", shard)
        .withColumn("__cum_before", cum_before)
        .withColumn(
            "bin", F.floor(F.col("__cum_before") / F.lit(budget)).cast("long")
        )
        .withColumn(
            "offset", F.pmod(F.col("__cum_before"), F.lit(budget)).cast("long")
        )
        .drop("__cum_before")
    )


# --- deterministic sampling ------------------------------------------------
def sample_deterministic(
    df: DataFrame,
    id_col: str,
    fraction: float,
    buckets: int = 10_000,
    stratum: Column | None = None,
) -> DataFrame:
    """Keep ≈``fraction`` of rows, chosen by an md5-derived bucket of the
    id — engine-independent (md5 is identical everywhere, unlike
    ``rand()``/TABLESAMPLE), stable under repartitioning, and reproducible
    forever.  ``stratum`` keys the hash per stratum so each group is
    sampled at the same rate independently (deterministic stratified
    sampling).  Plan: one narrow filter, no shuffle, no RNG state.

    NULL strata hash as the empty string (``coalesce(stratum, '')``),
    so a NULL-stratum row is still deterministically sampled — and the
    SQL replay must spell the same coalesce, because bare ``||``
    NULL-propagates and would silently drop the row instead.
    """
    key = F.col(id_col).cast("string")
    if stratum is not None:
        key = F.concat(
            F.coalesce(stratum.cast("string"), F.lit("")), F.lit("|"), key
        )
    return df.filter(md5_bucket(key, buckets) < int(round(fraction * buckets)))


def sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    n: int,
) -> DataFrame:
    """Keep a deterministic fixed COUNT of rows per group (e.g. "at most
    N documents per domain") — the quota sibling of the rate-based
    :func:`sample_deterministic`.

    Selection ranks each group's rows by the md5 hash of the id (an
    engine-independent uniform order: no RNG state, stable under
    repartitioning/retries, reproducible forever) and keeps the first
    ``n`` — an unbiased uniform sample without replacement per group.
    Plan: ONE window partitioned by the group (hash-partition shuffle,
    per-group frames evaluate independently — never a global sort).
    Groups hotter than a task can hold still rank in one partition; for
    pathological single-group skew, pre-split the group key (salting)
    or raise the quota filter earlier with `skew_report` evidence.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(n))
        .drop("__rn")
    )


def temperature_resample(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    buckets: int = 10_000,
) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual-corpus
    p^alpha recipe): downsample each source s at rate
    ``(n_min / n_s)^(1-alpha)`` so the smallest source keeps everything
    and large sources flatten toward it; alpha=1 keeps the natural
    distribution, alpha→0 equalizes.

    Row selection reuses :func:`sample_deterministic`'s md5-bucket
    convention — engine-independent, repartition-stable, reproducible.
    ``alpha=0.5`` (default) computes rates with IEEE ``sqrt``, which is
    correctly rounded everywhere, so the kept SET is bit-deterministic
    across engines; other alphas go through ``pow``, whose last-ulp can
    differ between libms — fine for sampling, noted for oracle replay.

    Plan: ONE groupBy of the source key, collected to the driver (the
    per-source table is small by contract — sources are categorical), a
    broadcast join of the tiny rate table (null-safe, so a NULL source is
    a first-class stratum, matching :func:`sample_deterministic`'s
    NULL-retention semantics), and a narrow md5-bucket filter — the
    corpus itself never shuffles and is scanned exactly once.
    """
    import math

    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n")).collect()
    if not counts:
        return df.limit(0)
    n_min = min(r["__n"] for r in counts)
    rows = []
    for r in counts:
        ratio = float(n_min) / float(r["__n"])
        rate = math.sqrt(ratio) if alpha == 0.5 else ratio ** (1.0 - alpha)
        rows.append((r[source_col], int(math.floor(rate * buckets))))
    rates = local_frame(
        df.sparkSession, rows, df.select(source_col).schema.add("__thr", "long")
    )
    key = F.concat(
        F.coalesce(F.col(source_col).cast("string"), F.lit("")),
        F.lit("|"),
        F.col(id_col).cast("string"),
    )
    joined = df.join(
        F.broadcast(rates.withColumnRenamed(source_col, "__src")),
        F.col(source_col).eqNullSafe(F.col("__src")),
    )
    return (
        joined.filter(md5_bucket(key, buckets) < F.col("__thr"))
        .drop("__src", "__thr")
    )


# --- repetition scoring ----------------------------------------------------
def repetition_score(text: Column, n: int = 3) -> Column:
    """Intra-document repetition: 1 − |distinct word n-grams| / |n-grams|
    (0 = no repetition; → 1 for looping/boilerplate text)."""
    grams = word_ngrams(text, n)
    total = F.size(grams)
    return F.when(
        total > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))


def mix_corpus(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """Downsample-only corpus mixing to TARGET proportions — "make the
    training mix 60% web / 30% code / 10% books" in one call.

    Solves for the largest total ``T`` achievable without upsampling:
    ``T = min_s(n_s / w_s)`` over the requested sources, then keeps each
    source at rate ``w_s * T / n_s`` (the binding source keeps 100%; the
    rest downsample so realized proportions hit the targets).  Sources
    absent from ``weights`` are dropped — a mix is a whitelist.

    Row selection reuses the engine's md5-bucket convention
    (:func:`md5_bucket` keyed per source like
    :func:`sample_deterministic`) so the kept SET is engine-independent,
    repartition-stable, and reproducible forever.  Rates go through
    IEEE double divide/multiply only (correctly rounded everywhere), so
    a SQL oracle spelling the same ``floor(buckets * w * T / n)``
    reproduces the thresholds bit-for-bit — with one carve-out both
    sides must share: the BINDING source's threshold is pinned to
    ``buckets`` outright (its rate is mathematically 1, but the float
    expression can evaluate 0.999...8 and floor would shave a bucket
    off the source the solve promised to keep whole); a SQL replay of
    a non-binary-weight mix must clamp the argmin source the same way.

    Plan: one groupBy of the source key collected to the driver (small
    by contract — sources are categorical), a broadcast of the tiny
    threshold table, and a narrow filter; the corpus never shuffles and
    is scanned once.  At 100 TB this is the same shape as
    :func:`temperature_resample` — safe by construction.
    """
    import math

    if not weights:
        raise ValueError("mix_corpus: weights must name at least one source")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("mix_corpus: weights must be positive")
    clash = [c for c in ("__src", "__thr") if c in df.columns]
    if clash:  # the join temp columns would shadow (then .drop()) user data
        raise ValueError(
            f"mix_corpus: input already has reserved column(s) {clash}; "
            "rename them before mixing"
        )
    total_w = float(sum(weights.values()))
    counts = {
        r[source_col]: r["__n"]
        for r in df.filter(F.col(source_col).isin(*weights))
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    }
    missing = sorted(set(weights) - set(counts))
    if missing:
        raise ValueError(
            f"mix_corpus: requested sources absent from the corpus: {missing}"
        )
    # largest downsample-only total, then per-source keep thresholds
    T = min(counts[s] / (weights[s] / total_w) for s in weights)

    def _thr(s: str) -> int:
        # binding source(s) keep 100% BY CONSTRUCTION: for the argmin,
        # w*T/n is mathematically 1 but floats can evaluate
        # w*(n/w)/n = 0.9999999999999998 (non-binary weights), and
        # floor() would then silently drop one bucket (~0.01%) of the
        # very source the solve promised to keep whole.  Detect binding
        # by re-evaluating the SAME expression that produced T.
        if counts[s] / (weights[s] / total_w) == T:
            return buckets
        return int(math.floor(buckets * ((weights[s] / total_w) * T / counts[s])))

    rows = [(s, _thr(s)) for s in sorted(weights)]
    thr = local_frame(
        df.sparkSession, rows, df.select(source_col).schema.add("__thr", "long")
    ).withColumnRenamed(source_col, "__src")
    key = F.concat(
        F.col(source_col).cast("string"), F.lit("|"), F.col(id_col).cast("string")
    )
    return (
        df.join(F.broadcast(thr), F.col(source_col) == F.col("__src"))
        .filter(md5_bucket(key, buckets) < F.col("__thr"))
        .drop("__src", "__thr")
    )


# --- model-based quality filtering -----------------------------------------
class QualityClassifier:
    """A trained quality model plus the EXACT featurization that trained
    it — the GPT-3-style model-based quality filter (Brown et al. 2020,
    App. A: logistic regression over hashed document features, scoring
    crawl documents by similarity to a trusted reference corpus).

    The featurizer parameters (dim, ngram, seed) are carried WITH the
    model because scoring with a drifted featurization silently yields
    garbage probabilities — the same pinning rule as
    ``write_band_table``'s ``__params`` companion.  Persistence
    (:meth:`save`/:meth:`load`) stores them next to the Spark ML model
    for the same reason.

    Scoring is one Arrow embed pass + one JVM-side ML transform — a
    narrow map at any corpus size, no shuffle, no driver data.
    """

    def __init__(self, model, dim: int, ngram: int, seed: int):
        self.model = model
        self.dim = int(dim)
        self.ngram = int(ngram)
        self.seed = int(seed)

    def _features(self, df: DataFrame, text_col: str):
        from pyspark.ml.functions import array_to_vector

        from .text import hashing_embed

        kernel = hashing_embed(self.dim, self.ngram, self.seed)
        return df.withColumn(
            "__features", array_to_vector(kernel(F.col(text_col)))
        )

    def score(
        self,
        df: DataFrame,
        text_col: str = "text",
        out_col: str = "quality_prob",
    ) -> DataFrame:
        """P(high-quality) per document as ``out_col`` (double).

        Scoring does NOT go through ``model.transform``: the trained
        coefficients are pulled once (dim × 8 B) and fused with the
        featurizer into one Arrow kernel (:func:`~bertrand_spark
        .pipeline.text.hashing_logit`) — same sigmoid(w·x + b) math,
        one narrow map pass instead of embed-UDF → array_to_vector →
        ML ScalaUDF → vector_to_array, and immune to pyspark 4.1's
        ObservationManager serialization poisoning (see hashing_logit's
        docstring).  NULL documents score NULL instead of erroring.
        """
        from .text import hashing_logit

        kernel = hashing_logit(
            self.dim,
            self.ngram,
            self.seed,
            self.model.coefficients.toArray(),
            float(self.model.intercept),
        )
        return df.withColumn(out_col, kernel(F.col(text_col)))

    def pareto_filter(
        self,
        df: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        alpha: float = 9.0,
        out_col: str = "quality_prob",
    ) -> DataFrame:
        """GPT-3's stochastic acceptance, made deterministic: keep a
        document iff ``score > 1 − x`` where ``x ~ Pareto(alpha)`` —
        low-scoring documents still get in occasionally, which keeps
        the kept corpus from collapsing onto the reference
        distribution (the stated reason for the trick in Brown et al.
        2020, App. A).  The Pareto draw is derived from the document
        id via the engine's md5-uniform convention
        (``x = u^(−1/alpha) − 1``, the inverse CDF), so the kept set
        is reproducible across runs, repartitions, and retries —
        no RNG state, same contract as ``sample_deterministic``.
        """
        u = (
            md5_bucket(F.col(id_col).cast("string"), 1 << 30).cast("double")
            + F.lit(0.5)
        ) / F.lit(float(1 << 30))
        pareto = F.pow(u, F.lit(-1.0 / float(alpha))) - F.lit(1.0)
        return (
            self.score(df, text_col, out_col)
            .filter(F.col(out_col) > (F.lit(1.0) - pareto))
        )

    def save(self, path: str) -> None:
        import json

        self.model.write().overwrite().save(f"{path}/model")
        spark = self.model.sparkSession if hasattr(
            self.model, "sparkSession"
        ) else None
        params = json.dumps(
            {"dim": self.dim, "ngram": self.ngram, "seed": self.seed}
        )
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        local_frame(spark, [(params,)], "params string").coalesce(
            1
        ).write.mode("overwrite").json(f"{path}/featurizer")

    @classmethod
    def load(cls, spark, path: str) -> "QualityClassifier":
        import json

        from pyspark.ml.classification import LogisticRegressionModel

        model = LogisticRegressionModel.load(f"{path}/model")
        row = spark.read.json(f"{path}/featurizer").collect()[0]
        p = json.loads(row["params"])
        return cls(model, p["dim"], p["ngram"], p["seed"])


def train_quality_classifier(
    positives: DataFrame,
    negatives: DataFrame,
    text_col: str = "text",
    dim: int = 4096,
    ngram: int = 2,
    seed: int = 42,
    max_iter: int = 50,
    reg_param: float = 0.01,
) -> QualityClassifier:
    """Train the model-based quality filter: logistic regression over
    feature-hashed word n-grams, positives = a trusted reference corpus
    (curated docs), negatives = a raw-crawl sample.

    Featurization is the engine's deterministic :func:`hashing_embed`
    (no vocabulary to ship; l2-normalized so LR's regularization is
    scale-stable); training is Spark ML's distributed L-BFGS — the fit
    streams the corpus, the model is a single dim-width coefficient
    vector that broadcasts for scoring.  At 100 TB the training SETS
    are samples (100k-1M docs bound the fit regardless of corpus
    size); scoring the full corpus is the narrow map pass.

    Complements the heuristic scorers (:func:`~bertrand_spark.pipeline
    .text.quality_score`, Gopher rules): heuristics are
    interpretable floors, the classifier captures reference-corpus
    similarity that rules cannot express.  Reference anchor: the
    reference engine has no ML surface (SURVEY §2) — this extension
    exists for the training-data pipeline mandate.
    """
    from pyspark.ml.classification import LogisticRegression

    clf = QualityClassifier(None, dim, ngram, seed)
    pos = clf._features(
        positives.select(F.col(text_col)), text_col
    ).select(
        F.col("__features").alias("features"),
        F.lit(1.0).alias("label"),
    )
    neg = clf._features(
        negatives.select(F.col(text_col)), text_col
    ).select(
        F.col("__features").alias("features"),
        F.lit(0.0).alias("label"),
    )
    lr = LogisticRegression(
        maxIter=int(max_iter), regParam=float(reg_param)
    )
    clf.model = lr.fit(pos.unionByName(neg))
    return clf


# --- DSIR data selection (Xie et al. 2023) ---------------------------------


def _dsir_features(text: Column) -> Column:
    """Hashed-n-gram feature stream for DSIR: word unigrams + bigrams
    (the paper's feature space) as one string array, fully native.
    Bigrams come from zip_with against the array shifted by one —
    zip_with pads the shorter side with NULL, so the dangling last
    pair drops in the filter."""
    toks = tokenize(text)
    bigrams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks), F.lit(1))),
            lambda a, b: F.when(
                b.isNotNull(), F.concat(a, F.lit(" "), b)
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return F.concat(toks, bigrams)


def _dsir_bucket(feat: Column, buckets: int) -> Column:
    """Engine-portable feature hashing: md5-prefix bucket (the same
    convention as sample_deterministic / SimHash — any SQL dialect
    reproduces it, unlike xxhash64)."""
    return (
        F.conv(F.substring(F.md5(feat), 1, 8), 16, 10).cast("long")
        % F.lit(int(buckets))
    ).cast("int")


def _dsir_hist(
    df: DataFrame,
    flag: Column,
    text_col: str,
    buckets: int,
    id_col: str | None = None,
) -> DataFrame:
    """THE DSIR Python kernel — one Arrow pass that tokenizes each
    document and md5-buckets its features.  It emits

    * per document (only when ``id_col`` is given): the sparse bucket
      HISTOGRAM ``(id, __t, __p=false, __bk, __ct)``, ≤ min(n_feats,
      buckets) pairs — the lightweight proxy :func:`_dsir_score`
      explodes;
    * per task: TWO profile marker rows (``__p=true``), the task's summed
      ``flag`` / non-``flag`` histograms — exact integers that
      :func:`_dsir_profile` aggregates, so training never re-explodes
      the documents.

    Features are :func:`_dsir_features`' (the native reference):
    ``text.py_tokenize``'s words, unigrams then bigrams; the bucket is
    :func:`_dsir_bucket`'s md5 prefix.  ``flag`` is evaluated in the JVM
    and coalesced to false (filter semantics: a NULL predicate counts
    toward raw only).  Documents with NULL text or no tokens emit
    nothing."""
    B = int(buckets)
    id_cols = [id_col] if id_col else []
    schema = "__t boolean, __p boolean, __bk array<int>, __ct array<long>"
    if id_col:
        id_type = df.schema[id_col].dataType.simpleString()
        schema = f"{id_col} {id_type}, {schema}"

    def hist(batches):
        import hashlib
        import itertools
        from collections import Counter

        import numpy as np
        import pandas as pd

        # feature→bucket memo: natural-language corpora are Zipfian, so
        # a task's working vocabulary is far smaller than its feature
        # stream (md5 per occurrence was 70% of kernel CPU at sf0.1 —
        # guide §4.5, amortize per-task state); bounded so a
        # pathological corpus cannot grow it without limit
        memo: dict = {}
        _MEMO_MAX = 1 << 20
        # per-task profile accumulators (emitted as marker rows below)
        r_acc = np.zeros(B, dtype=np.int64)
        t_acc = np.zeros(B, dtype=np.int64)
        for pdf in batches:
            ids, ts, bks, cts = [], [], [], []
            for did, is_t, text in zip(
                pdf[id_col] if id_col else itertools.repeat(None),
                pdf["__t"],
                pdf[text_col],
            ):
                if text is None:
                    continue
                toks = py_tokenize(text)
                feats = toks + [
                    a + " " + b for a, b in zip(toks, toks[1:])
                ]
                if not feats:
                    continue
                acc: dict = {}
                # md5 once per DISTINCT feature per doc (Counter), not
                # per occurrence
                for f, c in Counter(feats).items():
                    b = memo.get(f)
                    if b is None:
                        b = (
                            int(
                                hashlib.md5(
                                    f.encode("utf-8")
                                ).hexdigest()[:8],
                                16,
                            )
                            % B
                        )
                        if len(memo) < _MEMO_MAX:
                            memo[f] = b
                    acc[b] = acc.get(b, 0) + c
                    r_acc[b] += c
                    if is_t:
                        t_acc[b] += c
                if id_col:
                    ids.append(did)
                    ts.append(bool(is_t))
                    bks.append(list(acc.keys()))
                    cts.append(list(acc.values()))
            if ids:  # an empty batch's list columns confuse Arrow
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "__t": ts,
                        "__p": [False] * len(ids),
                        "__bk": bks,
                        "__ct": cts,
                    }
                )
        marker = []
        for flag_, arr in ((True, t_acc), (False, r_acc - t_acc)):
            nz = np.nonzero(arr)[0]
            if len(nz):
                marker.append(
                    [None] * len(id_cols)
                    + [flag_, True, [int(b) for b in nz],
                       [int(c) for c in arr[nz]]]
                )
        if marker:
            yield pd.DataFrame(
                marker, columns=id_cols + ["__t", "__p", "__bk", "__ct"]
            )

    return df.select(
        *id_cols,
        F.coalesce(flag, F.lit(False)).alias("__t"),
        F.col(text_col),
    ).mapInPandas(hist, schema)


def _dsir_profile(hist: DataFrame) -> tuple[dict, dict]:
    """``(flagged, all)`` per-bucket feature counts from the kernel's
    marker rows: one ≤``buckets``-group aggregate over ≤ 2·buckets tiny
    rows per task, then a bounded collect."""
    rows = (
        hist.filter(F.col("__p"))
        .select("__t", F.explode(F.arrays_zip("__bk", "__ct")).alias("z"))
        .groupBy(F.col("z.__bk").alias("bucket"))
        .agg(
            F.sum("z.__ct").alias("__r"),
            F.sum(
                F.when(F.col("__t"), F.col("z.__ct")).otherwise(F.lit(0))
            ).alias("__tc"),
        )
        .collect()
    )
    return (
        {r["bucket"]: r["__tc"] for r in rows if r["__tc"]},
        {r["bucket"]: r["__r"] for r in rows},
    )


def _dsir_score(
    hist: DataFrame, lam: DataFrame, id_col: str, out_col: str
) -> DataFrame:
    """The DSIR scoring plan: explode each document's histogram →
    broadcast-join the λ table → ``sum(count × λ)`` per document.  All
    JVM codegen; partial aggregation collapses each document's rows
    before the one id-keyed exchange."""
    return (
        hist.filter(~F.col("__p"))
        .select(id_col, F.explode(F.arrays_zip("__bk", "__ct")).alias("z"))
        .join(F.broadcast(lam), F.col("z.__bk") == F.col("bucket"))
        .groupBy(id_col)
        .agg(
            F.sum(F.col("z.__ct").cast("double") * F.col("lam")).alias(
                out_col
            ),
            F.sum("z.__ct").alias("n_feats"),
        )
        .withColumn("keep", F.col(out_col) > 0.0)
    )


class DsirModel:
    """Data Selection via Importance Resampling (Xie et al. 2023):
    documents are scored by how much more likely their hashed-n-gram
    features are under a TARGET (in-domain) distribution than under
    the RAW corpus distribution —
    ``log w(doc) = Σ_features (log p_target(b) − log p_raw(b))``
    over ``buckets`` hashed unigram+bigram buckets, add-alpha smoothed.

    The model is ONE dense table of ``buckets`` rows (bucket → λ =
    the per-bucket log ratio), a few KB at any corpus size, broadcast
    at scoring time.  ``keep`` at λ-sum > 0 selects documents more
    target-like than raw-like; for a fixed token budget, rank on the
    weight instead (the resampling step — Gumbel-top-k on
    ``dsir_logw`` reproduces the paper's sampling).
    """

    def __init__(self, lam: DataFrame, buckets: int, alpha: float):
        self.lam = lam          # DataFrame (bucket int, lam double)
        self.buckets = int(buckets)
        self.alpha = float(alpha)

    def log_weights(
        self,
        df: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        out_col: str = "dsir_logw",
    ) -> DataFrame:
        """(id, dsir_logw, n_feats, keep) per document with ≥1 feature
        (documents whose text yields no tokens have no evidence and are
        absent, matching CharLM's NULL-semantics).

        One histogram-kernel pass over ``df`` (:func:`_dsir_hist`, no
        target flag), then the scoring plan :func:`dsir_fit_score` runs:
        the histograms explode against the broadcast λ table and sum
        ``count × λ`` per document.  Per-doc sums equal the occurrence-
        order sum up to float64 summation-order noise; ``n_feats`` is
        exact.
        """
        hist = _dsir_hist(df, F.lit(False), text_col, self.buckets, id_col)
        return _dsir_score(hist, self.lam, id_col, out_col)

    def save(self, path: str) -> None:
        import json

        self.lam.write.mode("overwrite").parquet(f"{path}/lam")
        spark = self.lam.sparkSession
        local_frame(
            spark,
            [(json.dumps({"buckets": self.buckets, "alpha": self.alpha}),)],
            "params string",
        ).coalesce(1).write.mode("overwrite").json(f"{path}/params")

    @classmethod
    def load(cls, spark, path: str) -> "DsirModel":
        import json

        p = json.loads(spark.read.json(f"{path}/params").collect()[0]["params"])
        return cls(spark.read.parquet(f"{path}/lam"), p["buckets"], p["alpha"])


def train_dsir(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    buckets: int = 4096,
    alpha: float = 1.0,
    target_pred: Column | None = None,
) -> DsirModel:
    """Fit the DSIR log-ratio table from a target (in-domain) corpus
    sample and the raw corpus (or a sample — only bucket FREQUENCIES
    matter).  One histogram-kernel pass; training aggregates only its
    per-task profile marker rows (≤ ``buckets`` groups), then the λ
    table materializes driver-side (bounded at ``buckets`` rows by
    construction) so scoring never re-runs training.

    λ_b = log( (cnt_target(b)+α) / (N_target+αB) )
        − log( (cnt_raw(b)+α)    / (N_raw+αB) )

    Two modes, both one pass:

    * two corpora: ``target`` and ``raw`` are unioned under a constant
      target flag, so the kernel's flagged profile is the target's and
      the unflagged one is the raw corpus's.
    * ``target_pred``: when the target IS a slice of ``raw``
      (``target ≡ raw.filter(target_pred)`` — the caller asserts this),
      the predicate is the flag and the pass reads ``raw`` alone.
      Counts are identical by construction — the target profile is the
      conditional count over exactly the rows the filter would have
      kept — so both modes give a bit-identical λ table.  ``target`` is
      ignored in this mode (pass it anyway for call-site readability,
      or ``None``).
    """
    B = int(buckets)
    if target_pred is not None:
        t_cnt, r_cnt = _dsir_profile(
            _dsir_hist(raw, target_pred, text_col, B)
        )
    else:
        both = target.select(
            F.lit(True).alias("__t"), F.col(text_col)
        ).unionByName(raw.select(F.lit(False).alias("__t"), F.col(text_col)))
        t_cnt, all_cnt = _dsir_profile(
            _dsir_hist(both, F.col("__t"), text_col, B)
        )
        r_cnt = {b: n - t_cnt.get(b, 0) for b, n in all_cnt.items()}
    return _model_from_counts(raw.sparkSession, t_cnt, r_cnt, B, alpha)


def _model_from_counts(
    spark, t_cnt: dict, r_cnt: dict, B: int, alpha: float
) -> DsirModel:
    """λ table + model from integer bucket-count profiles — the ONE
    smoothing arithmetic (shared by every trainer and the native
    reference so they cannot drift; counts are exact ints, so identical
    profiles give a bit-identical table)."""
    import math

    t_n, r_n = sum(t_cnt.values()), sum(r_cnt.values())
    lam_rows = [
        (
            b,
            math.log((t_cnt.get(b, 0) + alpha) / (t_n + alpha * B))
            - math.log((r_cnt.get(b, 0) + alpha) / (r_n + alpha * B)),
        )
        for b in range(B)
    ]
    lam = local_frame(spark, lam_rows, "bucket int, lam double")
    return DsirModel(lam, B, alpha)


def dsir_fit_score(
    raw: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    alpha: float = 1.0,
    out_col: str = "dsir_logw",
) -> tuple[DsirModel, DataFrame]:
    """Train DSIR *and* score the same corpus from ONE tokenize pass
    (guide §8: decide with small rows, move heavy work once).

    The histogram kernel (:func:`_dsir_hist`, flag = ``target_pred``)
    runs once and its output is persisted; both halves read it
    natively:

    * training aggregates the kernel's per-task profile marker rows
      (exactly what :func:`train_dsir` does), so the λ table is
      bit-identical to ``train_dsir(target_pred=...)``;
    * scoring explodes the per-document histograms against the
      broadcast λ table (exactly :meth:`DsirModel.log_weights`) — no
      second Python pass, no re-tokenization.

    Per-doc scores are ``Σ_b count_b·λ_b`` instead of the occurrence-
    order ``Σ_i λ_{b_i}`` — equal up to float64 summation-order noise
    (~1e-15 relative), the same noise class already accepted between
    the Spark and DuckDB engines; the ``keep`` sign boundary and the
    Gumbel top-k boundary both sit ≥9 orders above it (re-measured
    per run in tests).  ``n_feats`` stays an exact integer.

    Returns ``(model, scored)``; ``scored`` has the schema of
    :meth:`DsirModel.log_weights`.  The lazy ``scored`` reads the
    persisted histogram; release it after materializing ``scored`` with
    :func:`bertrand_spark.session.persistent_rdd_ids` /
    :func:`bertrand_spark.session.unpersist_rdds`.
    """
    B = int(buckets)
    hist = _dsir_hist(raw, target_pred, text_col, B, id_col).persist()
    t_cnt, r_cnt = _dsir_profile(hist)
    model = _model_from_counts(raw.sparkSession, t_cnt, r_cnt, B, alpha)
    return model, _dsir_score(hist, model.lam, id_col, out_col)


def _dsir_reference(
    raw: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    alpha: float = 1.0,
    out_col: str = "dsir_logw",
) -> tuple[DsirModel, DataFrame]:
    """:func:`dsir_fit_score` as ONE native explode plan, no Python —
    the parity reference for the histogram kernel, shaped like the
    x45/x47 DuckDB oracle: feature-bucket rows → both count profiles →
    λ → per-doc broadcast join and sum (occurrence order)."""
    B = int(buckets)
    fb = raw.select(
        F.col(id_col),
        F.coalesce(target_pred, F.lit(False)).alias("__t"),
        F.explode(_dsir_features(F.col(text_col))).alias("__feat"),
    ).select(id_col, "__t", _dsir_bucket(F.col("__feat"), B).alias("bucket"))
    rows = (
        fb.groupBy("bucket")
        .agg(
            F.count("*").alias("__r"),
            F.count_if(F.col("__t")).alias("__tc"),
        )
        .collect()
    )
    model = _model_from_counts(
        raw.sparkSession,
        {r["bucket"]: r["__tc"] for r in rows if r["__tc"]},
        {r["bucket"]: r["__r"] for r in rows},
        B,
        alpha,
    )
    scored = (
        fb.join(F.broadcast(model.lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("lam").alias(out_col),
            F.count(F.lit(1)).alias("n_feats"),
        )
        .withColumn("keep", F.col(out_col) > 0.0)
    )
    return model, scored


# TakeOrdered selection-regime HARD ceiling: orderBy().limit(k) keeps a
# k-slot heap per task plus a k-row driver merge, so pulls beyond ~10M
# rows are a driver OOM.  Both resamplers clamp a user-supplied
# max_candidates to this bound (round-9 review: after the default moved
# to the measured crossover below, nothing enforced the safety ceiling
# the comments advertised), so even max_candidates=10**9 routes pulls
# beyond 10M to the distributed key-threshold path.
_SELECTION_REGIME_MAX = 10_000_000

# Default fast-path ceiling (round 9): the round-8 verdict flagged that
# defaulting max_candidates to the 10M JVM-safety bound lets the fast
# path collect multi-GB of driver Rows in a regime where the threshold
# path is already FASTER.  Measured crossover (2M-doc synthetic corpus,
# local[32], min-of-3, healthy probes — SCALE.md "selection-regime
# crossover"): fast wins ≤10k pulls (~5.4 s vs ~6.3 s), dead-heat
# 50k-300k, threshold wins ≥500k (6.3 s vs 9.5 s; 8.0 s vs 22.9 s at
# 1M).  200k keeps the fast path where it measurably competes and caps
# the driver collect at ~200k Rows (~100 MB); max_candidates remains an
# explicit override in both directions, and results are identical
# either way (unit-proven selection equality).
_SELECTION_FAST_PATH_MAX = 200_000


def _gumbel_key(id_col: str, out_col: str, salt: str) -> Column:
    """``dsir_logw − log(−log u)`` with the uniform u derived from THE
    bucket convention (md5_bucket, 2^32 buckets = the full 8-hex-digit
    range), same (b + 0.5)/M pattern as pareto_filter — one spelling,
    one SQL-oracle translation."""
    u = (
        md5_bucket(
            F.concat(F.col(id_col).cast("string"), F.lit("|" + salt)),
            1 << 32,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    return (F.col(out_col) - F.log(-F.log(u))).cast("double")


def dsir_resample(
    scored: DataFrame,
    n: int,
    id_col: str = "doc_id",
    out_col: str = "dsir_logw",
    salt: str = "gumbel",
    max_candidates: int = _SELECTION_FAST_PATH_MAX,
) -> DataFrame:
    """The RESAMPLING half of DSIR (Xie et al. 2023 §2.3): draw ``n``
    documents with probability proportional to their importance weight
    ``exp(dsir_logw)``, from a scoring frame ``scored`` —
    :func:`dsir_fit_score`'s or :meth:`DsirModel.log_weights`'s
    (id, ``out_col``, n_feats, ...).

    Sampling uses the Gumbel-top-k equivalence (sampling without
    replacement ∝ w_i  ≡  top-k of log w_i + Gumbel noise), with the
    Gumbel uniforms derived DETERMINISTICALLY from an md5 bucket of
    the document id: u = (('0x'||md5(id|salt)[:8]) + 0.5) / 2^32, so
    the draw is engine-independent (DuckDB replays the exact keys),
    stable under repartitioning, and reproducible forever — the same
    no-RNG-state convention as :func:`sample_deterministic`.  A
    different ``salt`` is a fresh independent draw.

    Scale shape: the key is one narrow projection; top-k is
    ``orderBy(...).limit(n)`` — Spark's TakeOrderedAndProject keeps a
    per-partition heap of n and merges, never a global sort, so the
    plan holds at any corpus size.  Ties: the key is continuous, and
    ``id_col`` breaks the measure-zero remainder, so the cutoff is a
    total order.  A selection budget beyond ``max_candidates`` routes
    to the same histogram-bisection cutoff search as
    :func:`dsir_resample_tokens` — a document-count budget is the
    token budget with unit weights — so near-complete selections run
    distributed instead of raising (round 8; the pre-round-8 guard
    rejected them).  The default ceiling is the MEASURED crossover
    (round 9, see ``_SELECTION_FAST_PATH_MAX``): beyond ~200k the
    bisection is faster AND keeps driver state bounded, so the big
    driver collect is opt-in, never the default.
    """
    keyed = scored.withColumn("gumbel_key", _gumbel_key(id_col, out_col, salt))
    max_candidates = min(int(max_candidates), _SELECTION_REGIME_MAX)
    if int(n) > int(max_candidates):
        sel = _token_prefix_by_threshold(
            keyed.withColumn("__ntok", F.lit(1).cast("long")).select(
                id_col, out_col, "n_feats", "__ntok", "gumbel_key"
            ),
            int(n),
            id_col,
        )
        return sel.drop("n_tokens")
    return (
        keyed.select(id_col, out_col, "n_feats", "gumbel_key")
        .orderBy(F.col("gumbel_key").desc(), id_col)
        .limit(int(n))
    )


def _token_prefix_by_threshold(
    keyed: DataFrame,
    token_budget: int,
    id_col: str,
    bins: int = 4096,
    collect_max: int = 262_144,
    max_rounds: int = 64,
) -> DataFrame:
    """Exact maximal-token-prefix selection WITHOUT a bounded candidate
    pull — the large-regime path of :func:`dsir_resample_tokens`.

    The selected set is upward-closed in the total order
    ``(gumbel_key DESC, id ASC)``, so one cutoff — the FIRST EXCLUDED
    document — characterizes it exactly.  The cutoff is found by
    histogram bisection, never a global sort:

    1. one groupBy over a linear binning of ``gumbel_key`` (≤ ``bins``
       groups, map-side combine) gives per-bin token sums in key order;
    2. whole bins that fit are committed against the budget driver-side
       (≤ ``bins`` rows collected); the first bin that would overflow
       becomes the new, ~``bins``×-smaller boundary region;
    3. repeat until the region is ≤ ``collect_max`` rows, then resolve
       the exact cumulative cutoff driver-side (bounded collect).

    Each round is one full-lineage scan of ``keyed``; with
    ``bins=4096`` a 10-billion-document corpus resolves in 3 rounds
    (10^10 → 2.4M → collect), i.e. ~3 scans plus the final selection
    filter — no step's driver state exceeds ``max(bins, collect_max)``
    rows at any corpus size.  Equality with the full-ordering prefix is
    unit-proven against the TakeOrdered path on a forced-small regime
    (tests/test_round8.py).

    Raises only in the adversarial case of > ``collect_max`` documents
    sharing ONE double-valued Gumbel key (measure-zero under the md5
    key construction).

    The bisection rounds run against a PERSISTED copy of the THREE
    columns they read — (id, __ntok, gumbel_key), ~tens of bytes per
    row — so the scoring kernel + key computation execute once (the
    repo's persist-before-fanout lesson) without caching the scored
    frame's full payload; the cache is released before returning, so
    the returned selection recomputes the lineage exactly once when
    the caller executes it and nothing leaks across calls.
    """
    key = F.col("gumbel_key")
    cached = keyed.select(id_col, "__ntok", "gumbel_key").persist()
    try:
        totals = cached.agg(
            F.sum("__ntok").alias("tot"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        if not totals["n"]:
            return keyed.limit(0).withColumnRenamed("__ntok", "n_tokens")
        ordered_out = (
            lambda sel: sel.withColumnRenamed("__ntok", "n_tokens").orderBy(
                key.desc(), id_col
            )
        )
        if int(totals["tot"] or 0) <= int(token_budget):
            return ordered_out(keyed)  # everything fits: no cutoff
        cutoff = _threshold_cutoff(
            cached, int(token_budget), id_col, int(totals["n"]),
            bins, collect_max, max_rounds,
        )
        sel = keyed.filter(
            (key > F.lit(cutoff["gumbel_key"]))
            | (
                (key == F.lit(cutoff["gumbel_key"]))
                & (F.col(id_col) < F.lit(cutoff[id_col]))
            )
        )
        return ordered_out(sel)
    finally:
        cached.unpersist()


def _threshold_cutoff(
    cached: DataFrame,
    token_budget: int,
    id_col: str,
    total_n: int,
    bins: int,
    collect_max: int,
    max_rounds: int,
):
    """Histogram bisection over the persisted keyed frame: returns the
    FIRST EXCLUDED row of the maximal token prefix."""
    key = F.col("gumbel_key")
    region = cached
    budget_left = int(token_budget)
    region_n = total_n
    for _ in range(max_rounds):
        if region_n <= collect_max:
            rows = region.orderBy(key.desc(), id_col).collect()
            total = 0
            cut = 0
            for r in rows:
                if total + r["__ntok"] > budget_left:
                    break
                total += r["__ntok"]
                cut += 1
            # the overflow doc is inside the region by invariant (the
            # boundary bin was chosen because it crosses the budget)
            return rows[cut]
        span = region.agg(
            F.min("gumbel_key").alias("lo"), F.max("gumbel_key").alias("hi")
        ).collect()[0]
        lo, hi = float(span["lo"]), float(span["hi"])
        if hi <= lo:
            raise ValueError(
                f"{region_n:,} documents share one Gumbel key — beyond "
                f"the {collect_max:,}-row exact-resolution bound; use a "
                "different salt"
            )
        width = (hi - lo) / bins
        # bin 0 = highest keys; clamp so hi itself lands in bin 0
        binidx = F.least(
            F.lit(bins - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.lit(hi) - key) / F.lit(width)).cast("int"),
            ),
        )
        hist = sorted(
            region.groupBy(binidx.alias("__bin"))
            .agg(F.sum("__ntok").alias("tok"), F.count(F.lit(1)).alias("n"))
            .collect(),
            key=lambda r: r["__bin"],
        )
        boundary = None
        for b in hist:
            if int(b["tok"]) <= budget_left:
                budget_left -= int(b["tok"])  # whole bin fits: commit it
            else:
                boundary = b
                break
        region = region.filter(binidx == F.lit(boundary["__bin"]))
        if int(boundary["n"]) >= region_n and region_n > collect_max:
            raise ValueError(
                f"{region_n:,} documents share one histogram bin and one "
                "key neighborhood — beyond the exact-resolution bound; "
                "use a different salt"
            )
        region_n = int(boundary["n"])
    raise RuntimeError(
        f"key-threshold bisection did not converge in {max_rounds} rounds"
    )


def dsir_resample_tokens(
    df: DataFrame,
    model: DsirModel,
    token_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "dsir_logw",
    salt: str = "gumbel",
    token_col: str | None = None,
    max_candidates: int = _SELECTION_FAST_PATH_MAX,
    threshold_bins: int = 4096,
    threshold_collect_max: int = 262_144,
) -> DataFrame:
    """:func:`dsir_resample` to a TOKEN budget instead of a document
    count — the paper's actual operating mode ("sample to the training
    token budget"): take documents in Gumbel-key order until the next
    one would exceed ``token_budget`` tokens (maximal prefix; the
    boundary document that would overflow is excluded).

    ``token_col`` names a precomputed per-document token count; by
    default whitespace tokens are counted from ``text_col`` (swap in a
    BPE count via ``text.bpe_token_count`` upstream for a learned
    budget).

    Scale shape, two regimes:

    * **Selection fits TakeOrdered** (expected candidates ≤
      ``max_candidates``): one aggregate estimates the expected
      selection size (budget / mean tokens), a TakeOrdered pulls a
      small multiple of that as candidates (per-partition heap, never a
      global sort), the driver cumsum-trims the bounded pull, and the
      result is a broadcast semi-join of the selected ids.  If the pull
      undershoots (token-length skew toward high keys), it doubles and
      retries — re-checking the regime bound on every doubling (a
      near-complete selection must never collect the corpus).
    * **Beyond it** (the unbounded operating mode this function used to
      reject): :func:`_token_prefix_by_threshold` finds the exact
      cutoff document by histogram bisection over the key — ≤ a few
      full scans, driver state bounded by the bin count, any corpus
      size.  ``max_candidates`` defaults to the MEASURED crossover
      (``_SELECTION_FAST_PATH_MAX``, round 9), not the 10M JVM-safety
      bound: past ~200k pulls the bisection is already faster, so the
      multi-GB driver collect is opt-in.

    Both regimes produce the IDENTICAL selection (unit-proven on a
    forced-small regime): the same md5-Gumbel keys and the same
    ``(gumbel_key DESC, id ASC)`` total order as :func:`dsir_resample`,
    deterministic end to end.
    """
    scored = model.log_weights(df, id_col, text_col, out_col)
    if token_col is None:
        toks = df.select(
            F.col(id_col),
            token_count(F.col(text_col)).cast("long").alias("__ntok"),
        )
    else:
        toks = df.select(F.col(id_col), F.col(token_col).cast("long").alias("__ntok"))
    keyed = (
        scored.withColumn("gumbel_key", _gumbel_key(id_col, out_col, salt))
        .join(toks, id_col)
        .select(id_col, out_col, "n_feats", "__ntok", "gumbel_key")
    )
    max_candidates = min(int(max_candidates), _SELECTION_REGIME_MAX)
    stats = keyed.agg(
        F.avg("__ntok").alias("avg"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if not stats["n"] or not stats["avg"]:
        return keyed.limit(0).withColumnRenamed("__ntok", "n_tokens")
    est = int(1.5 * float(token_budget) / float(stats["avg"])) + 8
    while True:
        pull = min(est, int(stats["n"]))
        if pull > max_candidates:
            # beyond the TakeOrdered regime (round-7 ADVICE: the bound
            # is re-checked on every doubling, and the corpus-sized
            # pull of a near-complete selection hits it too) — switch
            # to the distributed key-threshold path
            return _token_prefix_by_threshold(
                keyed,
                int(token_budget),
                id_col,
                bins=threshold_bins,
                collect_max=threshold_collect_max,
            )
        cand = (
            keyed.orderBy(F.col("gumbel_key").desc(), id_col)
            .limit(pull)
            .collect()
        )
        total = 0
        cut = 0
        for r in cand:
            if total + r["__ntok"] > token_budget:
                break
            total += r["__ntok"]
            cut += 1
        if cut < len(cand) or len(cand) >= stats["n"]:
            break  # budget hit inside the pull, or corpus exhausted
        est *= 2  # undershot: candidates all fit; pull more
    selected = cand[:cut]
    if not selected:
        return keyed.limit(0).withColumnRenamed("__ntok", "n_tokens")
    spark = df.sparkSession
    ids = local_frame(
        spark,
        [(r[id_col],) for r in selected],
        f"{id_col} {keyed.schema[id_col].dataType.simpleString()}",
    )
    return (
        keyed.join(F.broadcast(ids), id_col, "left_semi")
        .withColumnRenamed("__ntok", "n_tokens")
        .orderBy(F.col("gumbel_key").desc(), id_col)
    )


# --- filter-cascade attrition funnel ---------------------------------------


def filter_cascade(
    df: DataFrame,
    rules: "list[tuple[str, Column]]",
    out_col: str = "first_fail",
) -> DataFrame:
    """Apply an ORDERED quality-filter cascade (FineWeb/Dolma style:
    language → Gopher rules → repetition → ... ) in one pass, tagging
    each document with the FIRST rule it fails (NULL = kept by all).

    The cascade is one coalesce-of-CASE projection — fully native,
    zero shuffle, whole-stage codegen — so "run the full funnel" costs
    the same scan as "run one filter" at any corpus size.  Attribution
    to the FIRST failure is what makes per-rule drop rates actionable
    (each document is counted against exactly one rule, so the funnel
    sums to the total attrition — the reporting convention of the
    published pipeline ablations).

    Rules must be null-safe: a rule evaluating to NULL (not FALSE)
    counts as a pass, per SQL CASE semantics — coalesce defaults into
    the predicate if the underlying column is nullable.
    """
    if not rules:
        raise ValueError("filter_cascade needs at least one rule")
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {names}")
    tag = F.coalesce(
        *[F.when(~cond, F.lit(name)) for name, cond in rules],
        F.lit(None).cast("string"),
    )
    return df.withColumn(out_col, tag)


def cascade_report(
    df: DataFrame,
    rules: "list[tuple[str, Column]]",
) -> DataFrame:
    """The attrition funnel of :func:`filter_cascade` as one small
    DataFrame: per rule (in cascade order) the number of documents
    REACHING that stage, the number it drops, its conditional drop
    fraction, and the cumulative keep fraction after it.

    One groupBy over the first-fail tag (≤ len(rules)+1 groups — a
    bounded categorical aggregate, so the driver-side funnel assembly
    is O(rules), never O(corpus)); the input scan is the only
    full-data work.
    """
    tagged = filter_cascade(df, rules)
    counts = {
        r["first_fail"]: r["cnt"]
        for r in tagged.groupBy("first_fail")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    total = sum(counts.values())
    spark = df.sparkSession
    rows, reaching = [], total
    for i, (name, _) in enumerate(rules):
        failed = counts.get(name, 0)
        rows.append(
            (
                i + 1,
                name,
                reaching,
                failed,
                (failed / reaching) if reaching else 0.0,
                ((reaching - failed) / total) if total else 0.0,
            )
        )
        reaching -= failed
    return local_frame(
        spark,
        rows,
        "stage int, rule string, n_reaching long, n_failed long, "
        "drop_frac double, cum_keep_frac double",
    )
