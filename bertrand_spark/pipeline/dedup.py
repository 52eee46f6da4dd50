"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

North-star extensions (BASELINE.json); algorithms follow the published
MinHash/LSH construction (Broder 1997; banding per Mining of Massive
Datasets ch.3) and SimHash (Charikar 2002).

Scale design notes (the whole point of these ops):

* Exact dedup: hash-groupBy on a 64-bit fingerprint — one shuffle on a
  uniformly-distributed key; no skew by construction.
* MinHash: one Arrow kernel (``minhash_banded_vectorized``) per document
  emits the band keys and the 64-bit shingle-hash set in one numpy pass —
  no explode, no shuffle.  LSH banding then shuffles only (band, bucket)
  pairs — ``num_bands × n_rows`` small tuples, not the documents
  themselves.
* Candidate pairs come from an equi-join on band buckets (hash join on a
  high-cardinality key).  Verification (exact Jaccard on the hash sets)
  runs only on candidates — the classic LSH cost profile.
* One candidate join serves every MinHash operator: the self-join, the
  two-corpus fuzzy join, the band-store join and the stored band table
  all generate candidates through ``_band_candidates`` (band equi-join,
  then the ``min_band_matches`` consensus floor), and the three that
  verify hand the pairs to ``_verify_candidates``.  Each caller keeps
  only its own broadcast-hint decision; stored band tables carry their
  geometry in a ``__params`` companion read by ``_band_geometry``.
* SimHash: one Arrow kernel (``simhash64_vectorized``) votes the 64 bits
  per document — a narrow projection, no shuffle; near-dup = pigeonhole
  block join, then Hamming distance via ``bit_count(xor)``, native.
* n-gram Jaccard: one Arrow kernel (``word_gram_hashes_vectorized``)
  hashes each document's distinct word n-grams; the posting self-join
  counts intersections.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.reader import spread as _spread
from .text import fingerprint, py_collapse_ws, py_tokenize

__all__ = [
    "exact_dedup", "exact_dedup_incremental", "exact_dup_groups",
    "write_fingerprint_store", "exact_dedup_incremental_store",
    "compact_fingerprint_store",
    "minhash_banded_vectorized", "min_band_matches", "near_dup_pairs_minhash",
    "simhash64_vectorized", "near_dup_pairs_simhash",
    "ngram_jaccard_pairs", "word_gram_hashes_vectorized", "cosine_near_dup_pairs",
    "fuzzy_join_minhash", "fuzzy_join_band_store", "near_dup",
    "near_dup_plan", "semantic_dedup",
    "write_band_table", "candidate_pairs_from_band_table", "dedup_report",
]

# deterministic (a, b) coefficients for the k minhash permutations
_MERSENNE = (1 << 61) - 1
_FNV = 0x100000001B3


def _np_shingle_hashes(t: str, shingle_n: int):
    """Distinct 64-bit shingle hashes of one document, fully vectorized.

    Normalizes like ``text.char_ngrams`` (``text.py_collapse_ws``),
    then hashes every char n-gram with a polynomial rolling hash over
    code points + splitmix64 finalizer — sliding-window numpy, no
    per-gram Python loop (the old crc32-per-gram path was ~20M
    interpreter iterations per 5k docs).  The hash IS the shingle
    identity: Jaccard over these sets equals Jaccard over the string
    sets up to 64-bit collisions (~|A||B|/2^64 per pair).
    """
    import numpy as np

    s = py_collapse_ws(t)
    cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    if len(cp) < shingle_n:  # short doc → the whole string is the one gram
        win = cp[None, :]
    else:
        win = np.lib.stride_tricks.sliding_window_view(cp, shingle_n)
    h = np.zeros(win.shape[0], dtype=np.uint64)
    for i in range(win.shape[1]):  # loop over ≤shingle_n columns, not grams
        h = h * np.uint64(_FNV) + win[:, i]
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    h = h ^ (h >> np.uint64(31))
    return np.unique(h)


def _np_minhash_sig(hashes, A, B):
    """Exact Broder signature over 32-bit-reduced hashes: a<2^31,
    h<2^32 ⇒ a*h+b < 2^63+2^61 stays in uint64.

    The ``% (2^61−1)`` is the Mersenne fold — ``(x >> 61) + (x & M)``
    with one conditional subtract (x < 2^64 ⇒ the fold lands in
    [0, M+7], so a single subtract completes the reduction; y == M
    folds to 0 == x mod M).  Bit-identical to ``%`` and ~25% faster
    than numpy's per-element division; shingle columns are processed
    in L2-sized chunks with preallocated buffers so the (k × chunk)
    temporaries never spill to main memory (r14, guide §1.2 per-task
    work: measured 6.1 → 4.6 ms/doc at k=770, n=1200)."""
    import numpy as np

    h32 = hashes >> np.uint64(32)
    k = A.shape[0]
    n = h32.shape[0]
    M = np.uint64(_MERSENNE)
    s61 = np.uint64(61)
    chunk = 128
    acc = np.full(k, _MERSENNE, dtype=np.uint64)
    x = np.empty((k, min(chunk, max(n, 1))), dtype=np.uint64)
    y = np.empty_like(x)
    for i in range(0, n, chunk):
        hh = h32[None, i:i + chunk]
        m = hh.shape[1]
        xv, yv = x[:, :m], y[:, :m]
        np.multiply(A, hh, out=xv)
        np.add(xv, B, out=xv)
        np.right_shift(xv, s61, out=yv)
        np.bitwise_and(xv, M, out=xv)
        np.add(xv, yv, out=xv)
        np.subtract(xv, M, out=xv, where=xv >= M)
        np.minimum(acc, xv.min(axis=1), out=acc)
    return acc


def _np_band_keys(sig, num_bands, rows_per_band):
    """64-bit key per band: FNV-fold the band's rows, splitmix-finalize —
    vectorized across bands."""
    import numpy as np

    view = sig.reshape(num_bands, rows_per_band)
    bk = np.zeros(num_bands, dtype=np.uint64)
    for j in range(rows_per_band):
        bk = (bk ^ view[:, j]) * np.uint64(_FNV)
    bk = (bk ^ (bk >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    bk = bk ^ (bk >> np.uint64(31))
    return bk


def min_band_matches(
    threshold: float, rows_per_band: int, num_bands: int, tol: float = 1e-4
) -> int:
    """Largest required band-match count ``s`` such that a pair at exactly
    ``jaccard = threshold`` is missed with probability ≤ ``tol``:
    P[Binomial(b, threshold^r) ≤ s−1] ≤ tol.

    Requiring m ≥ s (instead of m ≥ 1) is the band-consensus prefilter:
    on template-heavy corpora most candidates are low-similarity pairs
    that collide in 1-2 bands by chance; they fail the consensus floor
    and skip exact verification entirely.  Pairs above threshold sit far
    up the binomial curve, so the recall loss is bounded by ``tol`` at
    the threshold and decays exponentially above it.
    """
    from math import comb

    p = threshold ** rows_per_band
    s, cdf = 1, 0.0
    for i in range(num_bands + 1):
        cdf += comb(num_bands, i) * (p ** i) * ((1.0 - p) ** (num_bands - i))
        if cdf > tol:
            break
        s = i + 1
    return max(s, 1)


def _perm_coeffs(k: int, seed: int = 42) -> list[tuple[int, int]]:
    # xorshift-style deterministic sequence — stable across runs/machines
    out, x = [], seed | 1
    for _ in range(k):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        # a < 2^31, b < 2^61 and the 32-bit-reduced hashes h < 2^32 keep
        # a*h + b < 2^63 + 2^61 — inside uint64, so _np_minhash_sig's
        # multiply-add never wraps before its Mersenne fold
        a = (x % ((1 << 31) - 1)) + 1
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        b = x % ((1 << 61) - 1)
        out.append((a, b))
    return out


# --- exact -----------------------------------------------------------------
def exact_dedup(df: DataFrame, text_col: str = "text", keep_by: str | None = None) -> DataFrame:
    """Keep one row per normalized-text fingerprint (hash groupBy).

    ``keep_by``: column whose minimum decides the survivor (deterministic);
    default keeps the row with the smallest ``keep_by``/first key.
    """
    with_fp = df.withColumn("__fp", fingerprint(F.col(text_col)))
    if keep_by is None:
        keep_by = df.columns[0]
    survivors = with_fp.groupBy("__fp").agg(F.min(keep_by).alias(keep_by))
    return (
        with_fp.join(survivors, ["__fp", keep_by], "inner")
        .drop("__fp")
    )


def exact_dedup_incremental(
    new_df: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    keep_by: str | None = None,
    seen_fp_col: str | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus/fingerprint store —
    the continuously-crawled-corpus pattern: never re-shuffle the whole
    historical corpus, only the batch and the (16-byte) fingerprint keys.

    ``seen``: previously-ingested docs (fingerprinted here via
    ``text_col``) or, preferably at scale, a persisted fingerprint store
    (pass ``seen_fp_col``).  Keeps rows of ``new_df`` that are (a) the
    minimum-``keep_by`` member of their fingerprint group *within the
    batch* and (b) absent from ``seen`` — one groupBy + one left-anti
    join, both shuffling on the fingerprint key only.
    """
    if seen_fp_col is None:
        store = seen.select(fingerprint(F.col(text_col)).alias("__fp")).distinct()
    else:
        store = seen.select(F.col(seen_fp_col).alias("__fp")).distinct()
    batch = exact_dedup(new_df, text_col, keep_by).withColumn(
        "__fp", fingerprint(F.col(text_col))
    )
    return batch.join(store, "__fp", "left_anti").drop("__fp")


def write_fingerprint_store(
    df: DataFrame,
    table: str,
    text_col: str = "text",
    fp_col: str | None = None,
    num_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist a corpus's distinct fingerprints as a table BUCKETED (and
    sorted) on the fingerprint — the production-scale history side of
    :func:`exact_dedup_incremental_store`.

    The SCALE.md contract this realizes: the history store is re-read by
    every future ingest batch, so its shuffle must be paid ONCE at write
    time, not per batch.  A bucketed layout gives every subsequent
    anti join a zero-exchange (and zero-sort) history side — the batch
    alone shuffles, into the store's fixed bucket count.

    ``mode="append"`` ingests a new batch's fingerprints (dedup'd within
    the batch only; cross-append duplicate keys are harmless to an anti
    join and are collapsed on the next compaction rewrite).
    """
    from ..sources.reader import write_bucketed

    if fp_col is None:
        fps = df.select(fingerprint(F.col(text_col)).alias("fp"))
    else:
        fps = df.select(F.col(fp_col).alias("fp"))
    write_bucketed(fps.distinct(), table, ["fp"], num_buckets=num_buckets, mode=mode)


def compact_fingerprint_store(
    spark,
    table: str,
    num_buckets: int | None = None,
) -> None:
    """Rewrite a fingerprint store distinct — the periodic maintenance
    pass for ``write_fingerprint_store(mode="append")`` ingest: appended
    batches may repeat fingerprints already in the store (harmless to
    the anti join, but each duplicate is a wasted row in every future
    history scan).  One distinct + one bucketed write; run it on
    whatever cadence the duplicate fraction warrants (the anti join's
    CORRECTNESS never depends on it).  ``num_buckets`` defaults to the
    table's current bucket count so the zero-Exchange join property is
    preserved across compactions.
    """
    from ..sources.reader import write_bucketed

    if num_buckets is None:
        # DESCRIBE exposes the bucket spec; parse "Num Buckets"
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        spec = {r["col_name"]: r["data_type"] for r in rows}
        try:
            num_buckets = int(spec["Num Buckets"])
        except (KeyError, ValueError):
            raise ValueError(
                f"cannot read bucket count of {table!r} from DESCRIBE; "
                "pass num_buckets explicitly"
            )
    # write-to-temp-then-swap: overwriting a table read by its own plan
    # is refused by the analyzer (and caching it is eviction-fragile),
    # so the compacted copy lands under a temp name and is swapped in.
    # The swap is rename-rename-drop, NOT drop-rename: the store name
    # must resolve at every intermediate step, so a crash between the
    # two renames leaves the old data under the __compact_bak name
    # (recoverable by renaming it back) instead of leaving the store
    # missing entirely.
    tmp = f"{table}__compact_tmp"
    bak = f"{table}__compact_bak"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    spark.sql(f"DROP TABLE IF EXISTS {bak}")
    write_bucketed(
        spark.table(table).distinct(), tmp, ["fp"], num_buckets=num_buckets
    )
    spark.sql(f"ALTER TABLE {table} RENAME TO {bak}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    spark.sql(f"DROP TABLE {bak}")


def exact_dedup_incremental_store(
    new_df: DataFrame,
    store_table: str,
    text_col: str = "text",
    keep_by: str | None = None,
) -> DataFrame:
    """Store-backed :func:`exact_dedup_incremental`: dedup a new batch
    against a PERSISTED bucketed fingerprint store
    (:func:`write_fingerprint_store`) instead of an inline DataFrame.

    Identical results to the inline path (oracle-equivalence is
    unit-gated); the difference is the physical plan — the history side
    is scanned straight out of its buckets with NO Exchange and no
    sort (the store is written sorted), so per-batch cost is
    O(batch) + a metadata-cheap history scan, never a history shuffle.
    This is the 100 TB continuous-ingest shape: the fingerprint store
    outgrows any single batch by orders of magnitude, and re-shuffling
    it per batch would dominate the whole pipeline.
    """
    spark = new_df.sparkSession
    # alias-aware output partitioning carries the bucket distribution
    # through the rename, so the join still sees the store pre-hashed
    store = spark.table(store_table).select(F.col("fp").alias("__fp"))
    batch = exact_dedup(new_df, text_col, keep_by).withColumn(
        "__fp", fingerprint(F.col(text_col))
    )
    return batch.join(store, "__fp", "left_anti").drop("__fp")


def exact_dup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fingerprint → group size for groups with >1 member (dup report)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


# --- MinHash + LSH ---------------------------------------------------------
def minhash_banded_vectorized(
    k: int = 192,
    num_bands: int = 64,
    shingle_n: int = 5,
    seed: int = 42,
) -> Column:
    """The MinHash signature kernel — the only one; every MinHash
    operator (self-join, fuzzy join, band store) bands through it.

    One Arrow pass per document: the distinct 64-bit shingle hashes
    (``_np_shingle_hashes``), their k-permutation Broder signature
    (``_np_minhash_sig``) and one key per band of ``k // num_bands``
    signature rows (``_np_band_keys``).  Returns a Column factory that
    yields struct{bk: array<bigint>, hs: array<bigint>}: ``bk[i]`` is
    band i's bucket key, ``hs`` the shingle-hash set that exact-Jaccard
    verification intersects.  The per-document loop runs in numpy
    because Spark's higher-order functions are interpreted row at a time
    (CodegenFallback); the JVM side is left with a posexplode.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    coeffs = _perm_coeffs(k, seed)
    rows_per_band = k // num_bands

    @pandas_udf("bk: array<bigint>, hs: array<bigint>")
    def kernel(texts: pd.Series) -> pd.DataFrame:
        A = np.array([a for a, _ in coeffs], dtype=np.uint64)[:, None]
        B = np.array([b for _, b in coeffs], dtype=np.uint64)[:, None]
        bks, hsets = [], []
        for t in texts:
            if t is None:
                bks.append(None)
                hsets.append(None)
                continue
            hs = _np_shingle_hashes(t, shingle_n)
            sig = _np_minhash_sig(hs, A, B)
            bks.append(_np_band_keys(sig, num_bands, rows_per_band).view(np.int64))
            hsets.append(hs.view(np.int64))
        return pd.DataFrame({"bk": bks, "hs": hsets})

    # non-deterministic: stops the optimizer duplicating the kernel below
    # a repartition to evaluate a pushed-down null filter (guide §4.4 —
    # r14 caught the twin ArrowEvalPython running the whole kernel
    # single-task on the exchange's map side; the kernel is pure, only
    # the optimizer's licence to copy/reorder it changes)
    return kernel.asNondeterministic()


# A prep table whose hash-set payload measures below this broadcasts
# whole for verification (one pipelined job); above it, the semi-join
# path trims it to the candidate ids first.
_DIRECT_BROADCAST_BYTES = 100 << 20


def _minhash_sketch(
    df: DataFrame, id_col: str, text_col: str, kernel, out_id: str
) -> DataFrame:
    """Fused signature+shingle-set pass → (out_id, __bk, __g)."""
    return _spread(df).select(
        F.col(id_col).alias(out_id), kernel(F.col(text_col)).alias("__p")
    ).select(
        out_id, F.col("__p.bk").alias("__bk"), F.col("__p.hs").alias("__g")
    )


def _minhash_prep(
    df: DataFrame, id_col: str, text_col: str, kernel, out_id: str
):
    """:func:`_minhash_sketch`, persisted and measured →
    (prep, count, hash-set payload bytes)."""
    # materialize BEFORE fanning out: concurrent jobs racing an
    # unpopulated cache each recompute the kernel.  The same job
    # MEASURES the hash-set payload (rows + 16 B/hash incl. array
    # overhead) — the evidence the verify step's broadcast-vs-
    # semi-join decision needs.
    p = _minhash_sketch(df, id_col, text_col, kernel, out_id).persist()
    row = p.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.size("__g")), F.lit(0)).alias("h"),
        # the id column rides along in the broadcast: measure it too
        # (wide string ids — URLs — can dwarf short docs' hash sets)
        F.coalesce(
            F.sum(F.length(F.col(out_id).cast("string"))), F.lit(0)
        ).alias("idb"),
    ).first()
    # 16 B per hash (value + array overhead); ids at measured string
    # length + 24 B per-row object/offset overhead
    n = row["n"]
    return p, n, row["h"] * 16 + row["idb"] + 24 * n


def _bands(prep: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bucket) rows of a sketch table, one per band key."""
    return prep.select(
        F.col(id_col), F.posexplode(F.col("__bk")).alias("band", "bucket")
    )


def _band_candidates(
    a: DataFrame,
    b: DataFrame,
    a_id: str,
    b_id: str,
    threshold: float,
    k: int,
    num_bands: int,
    self_join: bool,
) -> DataFrame:
    """The MinHash candidate rule — the only copy; every MinHash join
    (self-join, two-corpus join, band store, stored band table) makes
    its candidates here → consensus-filtered ``(a_id, b_id)`` pairs.

    ``a``/``b`` are (id, band, bucket) band frames keyed ``a_id``/
    ``b_id``; a broadcast hint on ``b`` is the caller's decision.  They
    equi-join on (band, bucket) — a self-join keeps each unordered pair
    once (``a_id < b_id``) — and a pair survives only if it collides in
    at least the :func:`min_band_matches` number of bands (r = k //
    num_bands rows per band).  Template-heavy corpora produce millions
    of 1-band chance collisions between low-similarity pairs (at sf0.1,
    25% of ALL doc pairs collide in ≥1 band, but the similarity
    distribution is bimodal: background at j≈0.2, true dups at j≥0.9);
    the binomial floor misses an exactly-at-threshold pair with
    probability ≤ 1e-4 and cuts ~96% of the verification workload.

    A bucket of d documents emits d²/2 pair rows, so a corpus with many
    IDENTICAL copies (which collide in every band) degrades
    quadratically: run ``exact_dedup`` first — near-dup LSH is the
    wrong tool for exact copies.
    """
    pairs = a.join(b, ["band", "bucket"], "inner")
    if self_join:
        pairs = pairs.filter(F.col(a_id) < F.col(b_id))
    consensus = min_band_matches(threshold, k // num_bands, num_bands)
    return (
        pairs.groupBy(a_id, b_id)  # same shuffle as distinct(), plus the m count
        .agg(F.count("*").alias("__m"))
        .filter(F.col("__m") >= consensus)
        .select(a_id, b_id)
    )


def _band_geometry(spark, table: str) -> tuple[int, int, int]:
    """``(k, num_bands, shingle_n)`` of a band table, read from the
    ``__params`` companion :func:`write_band_table` writes beside it.

    The geometry IS the table's semantics — a batch banded with other
    permutations, or a consensus floor from other band counts, silently
    collapses recall — so it is never defaulted: a missing companion
    raises ``ValueError`` naming the table."""
    try:
        prow = spark.table(f"{table}__params").first()
    except AnalysisException:
        prow = None
    if prow is None:
        raise ValueError(
            f"band table {table!r} has no readable '{table}__params' "
            "companion — its banding geometry is unknown; write it with "
            "write_band_table(mode='overwrite') first"
        )
    return prow["k"], prow["num_bands"], prow["shingle_n"]


def _verify_candidates(
    cand: DataFrame,
    prep_a: DataFrame,
    prep_b: DataFrame | Callable[[DataFrame], DataFrame],
    a_id: str,
    b_id: str,
    threshold: float,
    direct: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair list.

    ``cand``: consensus-filtered (a_id, b_id) pairs from
    :func:`_band_candidates`; ``prep_x``: (x_id, ..., __g) hash-set
    tables.  ``prep_b`` may instead be a function that builds the b-side
    table from the broadcast candidate ``b_id`` frame — for a side whose
    hash sets are computed for candidates only (the band store).

    ``direct=True`` (caller MEASURED the prep payload below the
    broadcast budget): broadcast the whole hash-set tables — the verify
    collapses into one pipelined job with the candidate generation, no
    materialization barrier.  ``direct=False`` (corpus scale): the
    hash-set tables are SEMI-JOINED to the candidate ids before the
    broadcast — candidates are small by construction, the per-doc table
    is not, and broadcasting the full table is the one unscalable step
    at corpus size (the id lists themselves broadcast trivially);
    ``cand`` then feeds three consumers (two semi-join builds and the
    verify join, submitted concurrently on the broadcast thread pool),
    so it is persisted and materialized here BEFORE the fan-out —
    otherwise each build races the unpopulated cache and recomputes the
    band join.

    (r14 note: for the self-join callers ``prep_a``/``prep_b`` are the
    same cached table renamed, and with AQE off ReuseExchange dedupes
    the two broadcasts into one — but under AQE, which the bench and
    production configs run, the two broadcast query stages are built
    independently (verified empirically on 4.1: canonical-equal
    broadcast stages still materialize twice), so a shared-projection
    rewrite buys nothing; the two builds overlap on the exchange
    thread pool.)
    """
    # stage break: without it Catalyst fuses agg + consensus filter +
    # both verification joins + the jaccard math into ONE generated
    # method that exceeds the JIT/hugeMethodLimit and the whole
    # pipeline runs interpreted (~100 µs/row over the full agg input).
    # The exchange carries only the post-consensus pairs (16 B each).
    # The partition count is pinned: the pair stream is BYTE-small but
    # CPU-heavy downstream (~85 µs/intersect), and with a bare
    # repartition AQE coalesces the 3 MB exchange to ONE partition,
    # serializing verification (15 s single-task vs 2 s at 32-way).
    cand = cand.repartition(
        cand.sparkSession.sparkContext.defaultParallelism, a_id
    )
    if not direct:
        cand = cand.persist()
        cand.count()
    # the id frames are built only where they are used: each is a
    # driver-side analysis of the whole candidate plan
    if callable(prep_b):
        prep_b = prep_b(F.broadcast(cand.select(b_id).distinct()))
    ga = prep_a.select(a_id, F.col("__g").alias("__ga"))
    gb = prep_b.select(b_id, F.col("__g").alias("__gb"))
    if not direct:
        ga = ga.join(F.broadcast(cand.select(a_id).distinct()), a_id, "left_semi")
        gb = gb.join(F.broadcast(cand.select(b_id).distinct()), b_id, "left_semi")
    joined = cand.join(F.broadcast(ga), a_id).join(F.broadcast(gb), b_id)
    ca, cb = F.col("__ga"), F.col("__gb")
    # Size-ratio prefilter: j ≥ t ⟹ min(|A|,|B|) ≥ t·max(|A|,|B|) — an
    # int compare that skips the intersect when sizes rule the pair out.
    sa, sb = F.size(ca), F.size(cb)
    size_ok = F.least(sa, sb).cast("double") >= F.lit(threshold) * F.greatest(
        sa, sb
    ).cast("double")
    inter = F.size(F.array_intersect(ca, cb)).cast("double")
    uni = (sa + sb).cast("double") - inter
    return (
        joined.filter(size_ok)
        .withColumn("jaccard", F.when(uni > 0, inter / uni).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select(a_id, b_id, "jaccard")
    )


def near_dup_pairs_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 32,
    num_bands: int = 8,
    shingle_n: int = 5,
) -> DataFrame:
    """LSH candidates → band-consensus prefilter → exact-Jaccard ≥ threshold.

    The join back to texts is two hash joins on the id; at scale the texts
    side is the big table and candidates are rare, so Spark broadcasts the
    candidate list (AQE decides from runtime size).  Candidates must
    collide in the binomial consensus number of bands
    (:func:`_band_candidates`), so a pair exactly at ``threshold`` is
    missed with probability ≤ 1e-4; run ``exact_dedup`` first on corpora
    with many identical copies.

    The per-doc prep table (and, above the broadcast budget, the
    candidate table) stays persisted while the lazy result reads it.
    Long-lived sessions that call this repeatedly release them after
    materializing the result: snapshot
    :func:`bertrand_spark.session.persistent_rdd_ids` before the call
    and pass the new ids to :func:`bertrand_spark.session.unpersist_rdds`.
    """
    # ONE fused Arrow pass per document produces both the signature (for
    # banding) and the 64-bit shingle-hash set (for verification); the
    # result is persisted so banding, both self-join sides, and both
    # verification joins all read the same materialized rows.  Collision
    # odds per candidate pair ~|A||B|/2^64 ≈ 5e-15, so Jaccard over the
    # hash sets equals Jaccard over the string shingle sets.
    kernel = minhash_banded_vectorized(k, num_bands, shingle_n)
    prep, n_docs, g_bytes = _minhash_prep(df, id_col, text_col, kernel, id_col)
    bands = _bands(prep, id_col)
    a = bands.withColumnRenamed(id_col, "id_a")
    b = bands.withColumnRenamed(id_col, "id_b")
    # broadcast the build side only while the band table (n_docs ×
    # num_bands × 24 B tuples) is broadcast-sized — skips AQE's
    # materialize-both-sides shuffle stage; at corpus scale the hint is
    # withheld and the self-join shuffles on (band, bucket) as usual
    if n_docs * num_bands * 24 < 100 << 20:
        b = F.broadcast(b)
    cand = _band_candidates(
        a, b, "id_a", "id_b", threshold, k, num_bands, self_join=True
    )
    # measured-direct regime: the whole hash-set table fits the broadcast
    # budget → verification fuses with candidate generation into ONE
    # pipelined job (cand has a single consumer — no materialization
    # barrier); otherwise the verify persists cand before its fan-out
    return _verify_candidates(
        cand,
        prep.withColumnRenamed(id_col, "id_a"),
        prep.withColumnRenamed(id_col, "id_b"),
        "id_a", "id_b", threshold,
        direct=2 * g_bytes < _DIRECT_BROADCAST_BYTES,
    )


def fuzzy_join_minhash(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    left_text: str = "text",
    right_text: str = "text",
    threshold: float = 0.7,
    k: int = 770,
    num_bands: int = 154,
    shingle_n: int = 5,
) -> DataFrame:
    """Fuzzy JOIN between two corpora: pairs (left, right) with exact
    shingle-set Jaccard ≥ ``threshold``, candidates from shared LSH
    bands.

    The two-table sibling of :func:`near_dup_pairs_minhash` (decontam-
    style matching where BOTH sides are too big to broadcast as text):
    each side gets the same fused signature+shingle-set kernel, the band
    tables equi-join on (band, bucket) — 24-byte tuples, shuffled on the
    bucket key — and the binomial band-consensus floor plus exact
    verification make the result identical to the O(|L|·|R|) oracle.
    Returns ``(id_l, id_r, jaccard)``.

    At 100 TB: same profile as the self-join path — only (id, band,
    bucket) shuffles for candidate generation; verification broadcasts
    the candidate ids' hash sets (small by construction).  If one side is
    a compact benchmark/probe set, pass it as ``right`` — its band table
    gets the broadcast hint when it is provably broadcast-sized.

    Both prep tables (and, above the broadcast budget, the candidate
    table) stay persisted while the lazy result reads them; release
    them as :func:`near_dup_pairs_minhash` describes.
    """
    kernel = minhash_banded_vectorized(k, num_bands, shingle_n)
    # the two prep materializations are independent jobs — submit them
    # concurrently so the second side's kernel back-fills the slots the
    # first side's stage tail leaves idle (guide §2.6: overlap
    # independent jobs; r14 measured the sequential preps at ~1.3 s
    # where one combined window runs in ~0.7 s)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_l = pool.submit(
            _minhash_prep, left, left_id, left_text, kernel, "id_l"
        )
        fut_r = pool.submit(
            _minhash_prep, right, right_id, right_text, kernel, "id_r"
        )
        prep_l, _, gb_l = fut_l.result()
        prep_r, n_r, gb_r = fut_r.result()

    bands_r = _bands(prep_r, "id_r")
    if n_r * num_bands * 24 < 100 << 20:
        bands_r = F.broadcast(bands_r)
    cand = _band_candidates(
        _bands(prep_l, "id_l"), bands_r, "id_l", "id_r",
        threshold, k, num_bands, self_join=False,
    )
    # measured-direct regime (see near_dup_pairs_minhash): both hash-set
    # tables under the broadcast budget -> one pipelined job
    return _verify_candidates(
        cand, prep_l, prep_r, "id_l", "id_r", threshold,
        direct=2 * (gb_l + gb_r) < _DIRECT_BROADCAST_BYTES,
    )


def fuzzy_join_band_store(
    batch: DataFrame,
    band_table: str,
    store_corpus: DataFrame,
    batch_id_col: str = "doc_id",
    batch_text_col: str = "text",
    store_id_col: str = "doc_id",
    store_text_col: str = "text",
    threshold: float = 0.7,
) -> DataFrame:
    """:func:`fuzzy_join_minhash` with the RIGHT side read from a
    persisted bucketed band table (:func:`write_band_table`) instead of
    being re-banded per call — the recurring-ingest shape: the store's
    signature/banding pass and its candidate-join shuffle are both paid
    ONCE at table-write time, and each batch pays only its own prep
    plus an exchange into the store's fixed bucket count (the store
    side of the candidate join is a bucketed scan, no Exchange).

    The banding geometry (k, num_bands, shingle_n) is ALWAYS read from
    the ``__params`` companion table so the batch-side kernel provably
    matches the store's banding — a geometry drift between the two
    sides silently collapses recall, so it is not overridable here.  A
    table without the companion raises ``ValueError``.

    ``store_corpus`` is probed ONLY for candidate ids (semi join before
    the text re-hash), so verification cost is O(candidates), never
    O(store).  Returns ``(id_l, id_r, jaccard)`` like the inline path.

    The batch-side prep table and the candidate table stay persisted
    while the lazy result reads them; release them as
    :func:`near_dup_pairs_minhash` describes.
    """
    spark = batch.sparkSession
    k, num_bands, shingle_n = _band_geometry(spark, band_table)
    kernel = minhash_banded_vectorized(k, num_bands, shingle_n)
    prep_l, _, _ = _minhash_prep(
        batch, batch_id_col, batch_text_col, kernel, "id_l"
    )
    cand = _band_candidates(
        _bands(prep_l, "id_l"),
        spark.table(band_table).withColumnRenamed(store_id_col, "id_r"),
        "id_l", "id_r", threshold, k, num_bands, self_join=False,
    )
    store = store_corpus.withColumnRenamed(store_id_col, "id_r")
    # hash sets for ONLY the candidate store rows: candidate ids are
    # small by construction (consensus-filtered), the store is not
    return _verify_candidates(
        cand,
        prep_l,
        lambda ids: _minhash_sketch(
            store.join(ids, "id_r", "left_semi"),
            "id_r", store_text_col, kernel, "id_r",
        ),
        "id_l", "id_r", threshold,
    )


# --- SimHash ---------------------------------------------------------------
def simhash64_vectorized(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document (Charikar 2002) via one Arrow kernel —
    the only SimHash sketch, and NO shuffle: a pure narrow projection
    (the per-bit vote runs inside numpy per document), so the whole
    sketch phase is one map pass over the corpus.

    Token hash = first 16 hex chars of md5 (portable: DuckDB's
    ``CAST('0x'||substr(md5(t),1,16) AS UBIGINT)`` reproduces it exactly,
    so SimHash results are oracle-checkable).  Tokens are
    ``text.py_tokenize``'s.  Documents with no tokens yield NULL (the
    oracle's token-less docs vanish in its explode, so both sides
    exclude them from the pair universe).
    """
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def kernel(texts: pd.Series) -> pd.Series:
        bits = np.arange(64, dtype=np.uint64)
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = py_tokenize(t)
            if not toks:
                out.append(None)
                continue
            h = np.fromiter(
                (
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:16], 16)
                    for w in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            votes = (
                ((h[:, None] >> bits[None, :]) & np.uint64(1)).astype(np.int64)
                * 2
                - 1
            ).sum(axis=0)
            sim = int(
                np.bitwise_or.reduce(
                    np.where(votes > 0, np.uint64(1) << bits, np.uint64(0))
                )
            )
            out.append(sim - (1 << 64) if sim >= (1 << 63) else sim)
        return pd.Series(out, dtype="Int64")

    # non-deterministic: the isNotNull below otherwise gets pushed past
    # the spread exchange WITH a duplicated kernel evaluation (guide
    # §4.4 — r14 measured the twin ArrowEvalPython hashing every doc
    # single-task on the map side and again 32-way above)
    kernel = kernel.asNondeterministic()
    return (
        _spread(df)
        .select(F.col(id_col), kernel(F.col(text_col)).alias("simhash"))
        .filter(F.col("simhash").isNotNull())
    )


def near_dup_pairs_simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    num_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: split 64 bits into ``num_blocks`` blocks; any pair
    within distance < num_blocks shares ≥1 exact block → equi-join per block
    (no O(n²) scan), then verify with ``bit_count(xor)``.

    Recall is EXACT only while ``max_hamming < num_blocks`` (a pair can
    differ in at most ``max_hamming`` blocks, so some block matches
    exactly); beyond that blocking is a heuristic.  ``num_blocks`` must
    lie in 1..64: a block narrower than one bit does not exist.
    """
    if not 1 <= num_blocks <= 64:
        raise ValueError(f"num_blocks must be in 1..64, got {num_blocks}")
    if max_hamming >= num_blocks:
        import warnings

        warnings.warn(
            f"max_hamming={max_hamming} >= num_blocks={num_blocks}: "
            "pigeonhole recall is no longer exact",
            stacklevel=2,
        )
    sh = simhash64_vectorized(df, id_col, text_col)
    width = 64 // num_blocks

    def block_key(i: int) -> Column:
        key = F.shiftright(F.col("simhash"), i * width)
        # one 64-bit block is the whole sketch; its mask 2^64 - 1 would
        # not fit a long literal
        return key if width == 64 else key.bitwiseAND(F.lit((1 << width) - 1))

    blocks = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("blk"), block_key(i).alias("key"))
                    for i in range(num_blocks)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    a = blocks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "blk", "key"
    )
    bn = blocks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "blk", "key"
    )
    return (
        a.join(bn, ["blk", "key"], "inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- n-gram Jaccard (word-level) -------------------------------------------
def word_gram_hashes_vectorized(n: int = 3):
    """Arrow kernel: distinct 64-bit word-n-gram hashes per document.

    ``text.word_ngrams`` (transform/slice/concat_ws higher-order
    functions) is CodegenFallback — interpreted per element; this kernel
    tokenizes and hashes each batch in Python with a fixed 64-bit
    blake2b gram identity (stable across processes, unlike ``hash()``).
    Token/gram semantics mirror ``text.tokenize``/``word_ngrams``
    exactly (tokens are ``text.py_tokenize``'s); texts with fewer than n
    tokens contribute their whole token string as the single gram.
    """
    import hashlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def kernel(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = py_tokenize(t)
            if not toks:
                out.append([])
                continue
            if len(toks) < n:
                grams = {" ".join(toks)}
            else:
                grams = {
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                }
            out.append(
                [
                    int.from_bytes(
                        hashlib.blake2b(g.encode(), digest_size=8).digest(),
                        "big",
                        signed=True,
                    )
                    for g in grams
                ]
            )
        return pd.Series(out)

    # non-deterministic: stops the optimizer duplicating the kernel below
    # a repartition to evaluate a pushed-down null filter (guide §4.4 —
    # r14 caught the twin ArrowEvalPython running the whole kernel
    # single-task on the exchange's map side; the kernel is pure, only
    # the optimizer's licence to copy/reorder it changes)
    return kernel.asNondeterministic()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Word n-gram Jaccard near-dup via inverted-index join.

    explode(ngrams) → join on the gram → per-pair intersection counts →
    Jaccard with |A|+|B|−|A∩B|.  Shuffles (gram → id) postings, the same
    cost profile as building an inverted index.

    ``max_df``: stop-gram cap — drop grams whose document frequency
    exceeds it BEFORE the self-join.  A gram shared by d documents emits
    d·(d−1)/2 pair rows, so boilerplate grams ("terms and conditions")
    quadratically dominate the join at corpus scale while contributing
    almost nothing to any pair's Jaccard.  ``None`` (default) keeps the
    computation exact — |A|/|B| still count ALL grams either way, so with
    a cap the reported jaccard is a LOWER bound: pairs can only be
    missed, never invented.  At 100 TB set e.g. ``max_df=10_000``; the
    df table costs one extra groupBy over the (already materialized)
    posting list.

    The per-doc gram-array table stays persisted while the lazy result
    reads it.  Long-lived sessions that call this repeatedly release it
    after materializing the result: snapshot
    :func:`bertrand_spark.session.persistent_rdd_ids` before the call
    and pass the new ids to :func:`bertrand_spark.session.unpersist_rdds`.
    """
    # 64-bit gram identity: the join/shuffle key drops from a ~25 B
    # 3-word string to 8 B and the hash-join compares longs — ~2× on the
    # posting self-join, the dominant stage.  Collision odds per pair
    # ~|A||B|/2^64 (same argument as the MinHash verification sets), so
    # intersection counts — and the reported Jaccard — are unchanged.
    gram_kernel = word_gram_hashes_vectorized(n)
    base = _spread(df).select(
        F.col(id_col), gram_kernel(F.col(text_col)).alias("__ga")
    )
    # materialize at the ARRAY level, once: the gram pipeline is the
    # expensive part and feeds three consumers — |A| sizes (narrow:
    # F.size over the array, NO groupBy shuffle over the posting list),
    # and both self-join sides (narrow explode each)
    base = base.filter(F.col("__ga").isNotNull()).persist()
    base.count()
    sizes = base.select(F.col(id_col), F.size("__ga").alias("sz"))
    grams = base.select(F.col(id_col), F.explode("__ga").alias("gram"))
    joinable = grams
    if max_df is not None:
        rare = (
            grams.groupBy("gram")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("gram")
        )
        joinable = grams.join(rare, "gram")
    a = joinable.withColumnRenamed(id_col, "id_a")
    b = joinable.withColumnRenamed(id_col, "id_b")
    inter = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- embedding cosine near-dup ---------------------------------------------
def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    num_tables: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH + exact cosine verify.

    Signature = sign bits of dot products with ``num_planes`` seeded
    random hyperplanes per table (SimHash for angles, Charikar 2002);
    candidates share a full signature in ANY of ``num_tables``
    independent tables (OR-amplification — P(candidate) =
    1-(1-p^k)^t with p = 1-θ/π).  High thresholds (≈0.95) work with one
    table of many planes; mid thresholds need several short tables.
    Exact cosine runs only within buckets.

    The candidate-pair table stays persisted while the lazy result reads
    it.  Long-lived sessions that call this repeatedly release it after
    materializing the result: snapshot
    :func:`bertrand_spark.session.persistent_rdd_ids` before the call
    and pass the new ids to :func:`bertrand_spark.session.unpersist_rdds`.
    """
    from .similarity import cosine_sim, hyperplane_signatures_vectorized

    # one Arrow pass computes every table's signature (a single
    # batch × planes matrix multiply); one row per (vector, table) after
    # posexplode — shuffles t 16-byte rows per vector, never pairs
    sig_kernel = hyperplane_signatures_vectorized(num_planes, num_tables, seed)
    tagged = _spread(df).select(
        F.col(id_col),
        F.posexplode(sig_kernel(F.col(vec_col))).alias("tbl", "s"),
    )
    # candidate generation joins IDS ONLY: carrying the vectors through
    # the bucket self-join replicates every embedding once per colliding
    # pair per table (at 2k vectors × 12 tables that is ~GBs of array
    # copies and GC thrash; at corpus scale it is fatal).  The (tbl, s)
    # join shuffles 16-byte rows; verification then broadcasts only the
    # vectors OF CANDIDATE IDS (semi-join first — candidates are small
    # by construction, the full embedding table is not), the same
    # verify-small profile as the MinHash path.  ``cand`` feeds the
    # semi-join and the verify join, so it is persisted once instead of
    # re-running the LSH self-join per consumer.
    a = tagged.select(F.col(id_col).alias("id_a"), "tbl", "s")
    b = tagged.select(F.col(id_col).alias("id_b"), "tbl", "s")
    cand = (
        a.join(b, ["tbl", "s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "id_a")
        .persist()
    )
    vecs = df.select(F.col(id_col), F.col(vec_col))
    hit_a = cand.select(F.col("id_a").alias(id_col))
    hit_b = cand.select(F.col("id_b").alias(id_col))
    va = F.broadcast(
        vecs.join(hit_a, id_col, "left_semi").select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
        )
    )
    vb = F.broadcast(
        vecs.join(hit_b, id_col, "left_semi").select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
        )
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_sim(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# --- auto-regime selection --------------------------------------------------
def near_dup_plan(metric: str, threshold: float) -> tuple[str, dict]:
    """Pick the near-duplicate algorithm + parameters for an operating
    point — the measured regime rules, as a dispatchable function instead
    of documentation prose.

    jaccard (text):
      * t ≥ 0.45 → MinHash LSH banding; rows-per-band chosen so the
        S-curve midpoint (1/b)^(1/r) sits near the threshold: longer
        bands at high t collapse the background collision rate (j^r),
        shorter bands at moderate t protect recall.  k stays ~768 — extra
        permutations are nearly free inside the fused Arrow kernel.
      * t < 0.45 → exact inverted-index n-gram join
        (``ngram_jaccard_pairs``): below the S-curve's useful range LSH
        admits most pairs anyway, so candidate generation costs more
        than scoring; the posting join with a ``max_df`` stop-gram cap
        is the scalable exact plan.
    cosine (embeddings):
      * t ≥ 0.9 → hyperplane LSH (``cosine_near_dup_pairs``): per-band
        agreement for unrelated pairs is 0.5^planes vs (1−θ/π)^planes
        at the threshold — a real gap only at high thresholds.
      * t < 0.9 → blocked-GEMM exact scoring
        (``similarity.cosine_all_pairs_blocked``): at moderate
        thresholds a guaranteed-recall LSH admits ~everything (measured:
        ~96% of all pairs at t=0.45) and loses to BLAS tiles.
    hamming (text → 64-bit SimHash):
      * ``threshold`` is the max Hamming distance; pigeonhole blocking
        needs ``num_blocks > max_hamming`` for exact recall, so
        ``num_blocks = max_hamming + 1``, capped at 64 one-bit blocks.
    """
    m = metric.lower()
    if m == "jaccard":
        if threshold >= 0.85:
            return "minhash", dict(k=768, num_bands=96, shingle_n=5)   # r=8
        if threshold >= 0.7:
            return "minhash", dict(k=768, num_bands=128, shingle_n=5)  # r=6
        if threshold >= 0.45:
            return "minhash", dict(k=770, num_bands=154, shingle_n=5)  # r=5
        return "ngram_jaccard", dict(n=3)
    if m == "cosine":
        if threshold >= 0.9:
            return "hyperplane_lsh", dict(num_planes=12, num_tables=4)
        return "blocked_gemm", dict(num_blocks=8)
    if m == "hamming":
        max_h = int(threshold)
        # 64 one-bit blocks are the finest split; past 63 bits recall
        # is no longer exact (near_dup_pairs_simhash warns)
        return "simhash", dict(max_hamming=max_h, num_blocks=min(max_h + 1, 64))
    raise ValueError(
        f"unknown near-dup metric {metric!r}; expected jaccard|cosine|hamming"
    )


def near_dup(
    df: DataFrame,
    id_col: str,
    value_col: str,
    metric: str = "jaccard",
    threshold: float = 0.8,
    **overrides,
) -> DataFrame:
    """Near-duplicate pairs with the algorithm chosen by
    :func:`near_dup_plan` for (metric, threshold); ``overrides`` replace
    individual tuned parameters.  Returns ``(id_a, id_b, score)`` where
    score is ``jaccard``, ``cosine``, or ``hamming`` per the metric.
    """
    # cosine over a STRING column: embed it first (feature-hashing BoW,
    # deterministic) so `near_dup(df, 'doc_id', 'text', metric='cosine')`
    # works on raw text — the same (id, embedding) shape a learned
    # encoder would produce.  `embed_dim`/`embed_ngram` override the
    # defaults; they are consumed HERE unconditionally so an
    # already-embedded input doesn't leak them into the algorithm kwargs.
    metric = metric.lower()
    embed_dim = int(overrides.pop("embed_dim", 256))
    embed_ngram = int(overrides.pop("embed_ngram", 1))
    if metric == "cosine":
        from pyspark.sql.types import StringType

        if isinstance(df.schema[value_col].dataType, StringType):
            from .text import embed_documents

            df = embed_documents(
                df, id_col, value_col, dim=embed_dim, ngram=embed_ngram
            )
            value_col = "embedding"
    algo, params = near_dup_plan(metric, threshold)
    params.update(overrides)
    if algo == "minhash":
        return near_dup_pairs_minhash(
            df, id_col, value_col, threshold=threshold, **params
        )
    if algo == "ngram_jaccard":
        return ngram_jaccard_pairs(
            df, id_col, value_col, threshold=threshold, **params
        )
    if algo == "hyperplane_lsh":
        return cosine_near_dup_pairs(
            df, id_col, value_col, threshold=threshold, **params
        )
    if algo == "blocked_gemm":
        from .similarity import cosine_all_pairs_blocked

        return cosine_all_pairs_blocked(
            df, id_col, value_col, threshold=threshold, **params
        )
    return near_dup_pairs_simhash(df, id_col, value_col, **params)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    value_col: str = "text",
    metric: str = "jaccard",
    threshold: float = 0.8,
    **overrides,
) -> DataFrame:
    """End-user near-duplicate REMOVAL in one call: pairs from the
    auto-selected algorithm (:func:`near_dup`), transitive clusters from
    large-star/small-star (:mod:`.graph`), minimum-id survivor per
    cluster — returns the deduplicated rows of ``df``.

    The composition every pretraining pipeline hand-writes: run
    ``exact_dedup`` first (identical copies are the LSH pathology), then
    this for the near-dup tail.  Every stage is shuffle-on-key; the
    corpus itself only ever joins on its own id column.
    """
    from .graph import dedup_keep_canonical

    pairs = near_dup(df, id_col, value_col, metric, threshold, **overrides)
    return dedup_keep_canonical(df, pairs, id_col)


# --- bucketed band-table path (the shuffle-free LSH self-join) --------------
def write_band_table(
    df: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 770,
    num_bands: int = 154,
    shingle_n: int = 5,
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Materialize the LSH band table `(id, band, bucket)` BUCKETED on its
    self-join key — the SCALE.md path that makes the candidate-generation
    join shuffle-free at corpus scale.

    The band self-join is the one shuffle MinHash pays per run; a corpus
    deduplicated repeatedly (every ingest batch, every re-crawl) pays it
    every time.  Bucketing the band table once on (band, bucket) makes
    every subsequent self- or cross-join against it a ZERO-exchange local
    sort-merge (Spark aligns the bucket files), so re-runs cost only the
    new batch's prep.  Banding math and downstream verification are
    unchanged — :func:`candidate_pairs_from_band_table` feeds the same
    consensus filter + exact verify as the in-memory path.

    ``mode="append"`` adds a new batch's bands to an existing table —
    the continuous-ingest loop (dedup a batch against the store with
    :func:`fuzzy_join_band_store`, then append the KEPT rows' bands so
    the next batch dedups against them too).  The append is refused
    with a ValueError unless the batch's banding geometry matches the
    table's ``__params`` companion exactly: mixed-geometry bands in one
    table silently collapse recall (bucket keys from different
    permutation sets never collide where they should).
    """
    from ..sources.reader import write_bucketed

    spark = df.sparkSession
    if mode == "append":
        have = _band_geometry(spark, table)
        want = (int(k), int(num_bands), int(shingle_n))
        if have != want:
            raise ValueError(
                f"banding geometry mismatch appending to {table!r}: "
                f"table has (k, num_bands, shingle_n)={have}, caller "
                f"passed {want} — mixed geometries in one band table "
                "silently collapse recall"
            )
    kernel = minhash_banded_vectorized(k, num_bands, shingle_n)
    bands = _bands(_minhash_sketch(df, id_col, text_col, kernel, id_col), id_col)
    write_bucketed(
        bands, table, ["band", "bucket"], num_buckets=num_buckets, mode=mode
    )
    if mode == "append":
        return
    # the banding geometry IS the table's semantics: persist it alongside
    # so readers derive the consensus floor from the TRUE parameters
    # instead of trusting call-site defaults (a k/num_bands mismatch
    # silently collapses recall otherwise)
    local_frame(
        spark,
        [(int(k), int(num_bands), int(shingle_n))],
        "k int, num_bands int, shingle_n int",
    ).write.mode("overwrite").saveAsTable(f"{table}__params")


def candidate_pairs_from_band_table(
    spark, table: str, id_col: str = "doc_id", threshold: float = 0.7
) -> DataFrame:
    """Consensus-filtered candidate pairs from a bucketed band table:
    the same candidate rule as ``near_dup_pairs_minhash``'s inline path
    (:func:`_band_candidates`), but the self-join reads two aligned
    bucketed scans — no exchange on either side (no broadcast hint, so
    the planner keeps the bucketed sort-merge join).  Feed the result to
    exact verification (``_verify_candidates`` via the prep table, or
    re-hash the candidate texts) exactly like the inline path.

    The banding geometry (k, num_bands) is read from the ``__params``
    companion table :func:`write_band_table` wrote — the consensus floor
    always matches the table's true parameters; a table without the
    companion raises ``ValueError``."""
    k, num_bands, _ = _band_geometry(spark, table)
    bands = spark.table(table)
    return _band_candidates(
        bands.withColumnRenamed(id_col, "id_a"),
        bands.withColumnRenamed(id_col, "id_b"),
        "id_a", "id_b", threshold, k, num_bands, self_join=True,
    )


def dedup_report(
    df: DataFrame,
    text_col: str = "text",
    by: str | None = None,
) -> DataFrame:
    """Duplication summary: rows, distinct fingerprints, duplicate rows
    and duplication rate — overall, or per ``by`` group (the per-source
    table a dedup run publishes next to its corpus stats).

    One groupBy over 16-byte fingerprints (+ the group key) then a
    count-distinct aggregate — map-side combinable, no text shuffles
    (only fingerprints and the group key move).
    """
    fp = fingerprint(F.col(text_col)).alias("__fp")
    keys = [by] if by else []
    out = (
        df.select(*keys, fp)
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("__fp").alias("n_unique"),
        )
        .select(
            *keys,
            "n_rows",
            "n_unique",
            (F.col("n_rows") - F.col("n_unique")).alias("n_dup_rows"),
            (
                (F.col("n_rows") - F.col("n_unique")) / F.col("n_rows")
            ).cast("double").alias("dup_rate"),
        )
    )
    return out.orderBy(by) if by else out
