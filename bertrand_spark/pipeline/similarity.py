"""Approximate/exact similarity search over embedding columns.

North-star extension: ANN over ``array<float>`` embeddings.

* Exact path: brute-force cosine top-k — the (small) query matrix rides
  an Arrow ``mapInPandas`` kernel that scores every corpus batch with
  one BLAS GEMM; the corpus is scanned once and only (query, candidate)
  scores reach the per-query rank window (a hash-partitioned window,
  never a global sort).
* Scale path: IVF — k-means-style coarse centroids (trained on a sample via
  Spark ML), each vector assigned to its nearest centroid once (narrow
  projection persisted alongside the data); queries probe ``nprobe``
  partitions → candidate set shrinks by ~ncells/nprobe.  Brute force is
  the one-cell case of the same probe scorer.
* PQ path: asymmetric distances over product-quantization codes, by
  lookup tables per query (per (query, probed cell) for residual
  codes); ``pq_topk`` is its one-cell case.
* LSH path: random-hyperplane signatures
  (``hyperplane_signatures_vectorized``, shared with dedup) for bucketed
  joins.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as st
from pyspark.sql.functions import pandas_udf

from ..session import local_frame

__all__ = [
    "dot", "l2_norm", "cosine_sim",
    "hyperplane_signatures_vectorized",
    "cosine_all_pairs_blocked", "knn_graph", "ann_recall",
    "brute_force_topk", "ivf_build", "ivf_assign", "ivf_append",
    "ivf_topk", "ivf_write", "ivf_read",
    "pq_train", "pq_encode", "pq_topk", "ivf_pq_topk", "ivf_drift_report",
    "sign_bucket", "semantic_dedup_bucketed", "semantic_dedup_ivf",
    "kcenter_select",
]


def dot(a: Column, b: Column) -> Column:
    """Native dot product: zip_with + aggregate (no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def _seeded_planes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes (Box-Muller on an xorshift
    stream) — the same planes on every process for a given seed."""
    x = seed | 1
    def rnd():
        nonlocal x
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        return (x % 10**9) / 10**9
    planes = []
    for _ in range(num_planes):
        v = []
        for _ in range(dim):
            u1, u2 = max(rnd(), 1e-12), rnd()
            v.append(math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.pi * u2))
        planes.append(v)
    return planes


def hyperplane_signatures_vectorized(
    num_planes: int, num_tables: int, seed: int = 42
):
    """Arrow kernel: ALL hyperplane-table signatures in one matrix multiply.

    ``num_tables × num_planes`` dot products per vector as higher-order
    functions would be CodegenFallback, interpreted row at a time.  Here
    the whole batch stacks into one (batch × dim) float64 matrix and a
    single ``@ planes.T`` yields every sign bit at once; per-table
    bit-packing is a vectorized fold.  Table ``t`` uses the planes
    ``_seeded_planes(dim, num_planes, seed + 7919 * t)`` and bit ``i`` of
    its signature is ``v · plane_i >= 0``, so the bucketing — and
    therefore the candidate set — is fixed by ``_seeded_planes`` alone.
    NULL vectors get a NULL signature.

    Returns a pandas_udf: ``array<bigint>`` of ``num_tables`` packed
    signatures for an ``array<double>`` input column.
    """
    # closure-level cache: the pure-Python Box–Muller plane generation
    # (tables × planes × dim iterations) runs once per worker process,
    # not once per Arrow batch
    planes_cache: dict[int, "np.ndarray"] = {}

    def planes_for(dim: int) -> "np.ndarray":
        got = planes_cache.get(dim)
        if got is None:
            got = np.array(
                [
                    _seeded_planes(dim, num_planes, seed + 7919 * t)
                    for t in range(num_tables)
                ],
                dtype=np.float64,
            ).reshape(num_tables * num_planes, dim)
            planes_cache[dim] = got
        return got

    @pandas_udf("array<bigint>")
    def kernel(vecs: pd.Series) -> pd.Series:
        mask = vecs.notna().to_numpy()
        out: list = [None] * len(vecs)
        if mask.any():
            M = np.stack(vecs.to_numpy()[mask])  # (rows, dim)
            bits = (M @ planes_for(M.shape[1]).T) >= 0  # (rows, t*p)
            bits = bits.reshape(len(M), num_tables, num_planes)
            weights = (1 << np.arange(num_planes, dtype=np.int64))
            sigs = (bits * weights).sum(axis=2).astype(np.int64)  # (rows, t)
            for pos, sig in zip(np.nonzero(mask)[0], sigs):
                out[pos] = sig
        return pd.Series(out, dtype=object)

    # non-deterministic: stops the optimizer duplicating the kernel below
    # a repartition to evaluate a pushed-down null filter (guide §4.4 —
    # r14 caught the twin ArrowEvalPython running the whole kernel
    # single-task on the exchange's map side; the kernel is pure, only
    # the optimizer's licence to copy/reorder it changes)
    return kernel.asNondeterministic()


def _unit_rows(M: np.ndarray) -> np.ndarray:
    """Rows of ``M`` scaled to unit L2 norm.  An all-zero row keeps norm
    1 and stays zero, so it scores cosine 0 against everything."""
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0] = 1.0
    return M / norms[:, None]


def _block_pair_tiles(
    df: DataFrame, id_col: str, vec_col: str, num_blocks: int, tile, out_schema
) -> DataFrame:
    """Run ``tile((bi, bj), pdf)`` once per block pair ``bi <= bj`` over
    the non-NULL vectors of ``df`` (``pdf`` carries ``id_col``, the
    float64 vector ``__v`` and ``__side``).

    Vectors shard into ``num_blocks`` blocks by id.  A vector in block k
    meets every block m exactly once, in tile (min(k,m), max(k,m)): it is
    the tile's LEFT side (``__side`` 0) when k ≤ m and the RIGHT side
    otherwise, so a square tile carries its block once, on side 0.  One
    shuffle of n·B rows, B(B+1)/2 independent tile tasks."""
    from .curation import shard_expr

    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).withColumn("__b", shard_expr(df, id_col, num_blocks))
    k = F.col("__b")
    pairs = F.transform(
        F.sequence(F.lit(0), F.lit(num_blocks - 1)),
        lambda m: F.struct(
            F.least(k, m).cast("int").alias("bi"),
            F.greatest(k, m).cast("int").alias("bj"),
            F.when(k <= m, F.lit(0)).otherwise(F.lit(1)).alias("__side"),
        ),
    )
    fanned = base.select(id_col, "__v", F.explode(pairs).alias("p")).select(
        id_col, "__v",
        F.col("p.bi").alias("bi"), F.col("p.bj").alias("bj"),
        F.col("p.__side").alias("__side"),
    )
    return fanned.groupBy("bi", "bj").applyInPandas(tile, out_schema)


def _top_k(
    scored: DataFrame, part_col: str, id_col: str, order: Column, k: int,
    rank: str = "rank",
) -> DataFrame:
    """Keep each ``part_col`` group's first ``k`` rows by ``order`` and
    then ``id_col`` ascending — a total order, so ties break the same way
    on retries and in every engine — numbered 1..k in ``rank``.  One
    window hash-partitioned by ``part_col``, never a global sort."""
    w = Window.partitionBy(part_col).orderBy(order, F.col(id_col).asc())
    return scored.withColumn(rank, F.row_number().over(w)).filter(
        F.col(rank) <= k
    )


def cosine_all_pairs_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    num_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold via blocked GEMM — the right
    plan for low/moderate thresholds where LSH cannot prune.

    Hyperplane LSH's per-band collision probability for an UNRELATED
    pair is 0.5^planes versus (1−θ/π)^planes at the threshold; below
    cos≈0.8 that gap is so small that guaranteed-recall banding admits
    nearly every pair — candidate generation costs more than scoring
    everything.  Production all-pairs-similarity at such thresholds is
    blocked matrix multiplication: split the n vectors into B blocks,
    ship each block PAIR to one task, and let BLAS do the n_i × n_j
    score tile at hardware speed.

    Plan shape: vectors replicate B times onto their block-pair groups
    (one shuffle of n·B rows — B ≈ √cluster-cores keeps tiles square),
    then ``applyInPandas`` per (bi, bj) group computes the tile GEMM and
    emits only pairs ≥ threshold.  O(n²·d) FLOPs total — the same as any
    exact method — but sequential-scan memory access and SIMD GEMM
    instead of a per-pair expression interpreter, and the quadratic work
    spreads over B·(B+1)/2 independent tasks.

    The LSH variant (``dedup.cosine_near_dup_pairs``) remains the scale
    path for HIGH thresholds (≈0.9 near-duplicates), where banding
    prunes candidates by orders of magnitude.
    """
    out_schema = f"id_a long, id_b long, cosine double"
    thr = float(threshold)

    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        a = pdf[pdf["__side"] == 0]
        b = pdf[pdf["__side"] == 1] if bi != bj else a
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        sims = _unit_rows(np.stack(a["__v"].to_numpy())) @ _unit_rows(
            np.stack(b["__v"].to_numpy())
        ).T
        ia = a[id_col].to_numpy()
        ib = b[id_col].to_numpy()
        ii, jj = np.nonzero(sims >= thr)
        id_a, id_b, cs = ia[ii], ib[jj], sims[ii, jj]
        if bi == bj:
            # both orientations are present in the square tile: keep one
            # and drop the self-pairs
            keep = id_a < id_b
            id_a, id_b, cs = id_a[keep], id_b[keep], cs[keep]
        else:
            # a cross-block pair appears in exactly ONE tile — orient it,
            # never drop it
            lo = np.minimum(id_a, id_b)
            hi = np.maximum(id_a, id_b)
            id_a, id_b = lo, hi
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine": cs})

    return _block_pair_tiles(df, id_col, vec_col, num_blocks, tile, out_schema)


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_blocks: int = 8,
) -> DataFrame:
    """EXACT k-nearest-neighbor graph over an embedding column
    (directed edges ``src → dst`` with cosine similarity and rank).

    Two-level top-k keeps the quadratic score matrix out of the shuffle:
    each GEMM tile emits only its per-row top-k (tile output is
    O(rows·k), never O(rows²)), then ONE hash-partitioned window per
    ``src`` merges the ≤ k·num_blocks tile candidates down to the global
    top-k.  Exact by construction — a vector meets every other vector in
    exactly one tile, and a global winner is necessarily within the
    per-tile top-k of the tile that scored it.  Total ordering is
    (cosine desc, dst asc) at BOTH levels: tile frames are pre-sorted by
    id so numpy's stable argsort breaks float-equal ties by dst, and the
    merge window repeats the same keys — deterministic under retries and
    across engines.

    Plan shape mirrors ``cosine_all_pairs_blocked``: one n·B-row
    fan-out shuffle, B(B+1)/2 independent BLAS tile tasks, one window
    partitioned by src (never a global sort).  At 100 TB this is the
    exact-kNN baseline the ANN tiers (ivf_topk / ivf_pq_topk) are
    measured against."""
    kk = int(k)
    # id-typed output schema (string/long/... ids all work — same rule as
    # brute_force_topk/ivf_topk)
    id_type = df.schema[id_col].dataType
    out_schema = st.StructType(
        [
            st.StructField("src", id_type),
            st.StructField("dst", id_type),
            st.StructField("cosine", st.DoubleType()),
        ]
    )

    def topk_rows(sims, An, Bn, src_ids, dst_ids) -> "pd.DataFrame":
        # dst_ids ascending + stable argsort of -sims ⇒ (cos desc, dst asc).
        # The GEMM picks the candidates; the EMITTED cosine is recomputed
        # per pair with a tile-shape-INDEPENDENT reduction (row-wise
        # multiply-sum over dim) so a pair's score is bit-identical no
        # matter which tile scored it — without this, mathematically equal
        # cosines (duplicate vectors) differ by 1 ulp across tiles and the
        # merge window's tie-break becomes nondeterministic.
        take = min(kk, sims.shape[1])
        order = np.argsort(-sims, axis=1, kind="stable")[:, :take]
        src_idx = np.repeat(np.arange(len(src_ids)), take)
        dst_idx = order.ravel()
        keep = np.isfinite(np.take_along_axis(sims, order, axis=1).ravel())
        src_idx, dst_idx = src_idx[keep], dst_idx[keep]
        cs = (An[src_idx] * Bn[dst_idx]).sum(axis=1)
        return pd.DataFrame(
            {"src": src_ids[src_idx], "dst": dst_ids[dst_idx], "cosine": cs}
        )

    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        pdf = pdf.sort_values(id_col, kind="mergesort")
        a = pdf[pdf["__side"] == 0]
        b = pdf[pdf["__side"] == 1] if bi != bj else a
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"src": [], "dst": [], "cosine": []})
        An = _unit_rows(np.stack(a["__v"].to_numpy()))
        Bn = _unit_rows(np.stack(b["__v"].to_numpy()))
        sims = An @ Bn.T
        ia = a[id_col].to_numpy()
        ib = b[id_col].to_numpy()
        if bi == bj:
            np.fill_diagonal(sims, -np.inf)
            return topk_rows(sims, An, Bn, ia, ib)
        return pd.concat(
            [
                topk_rows(sims, An, Bn, ia, ib),
                topk_rows(sims.T, Bn, An, ib, ia),
            ],
            ignore_index=True,
        )

    edges = _block_pair_tiles(
        df, id_col, vec_col, num_blocks, tile, out_schema
    )
    return _top_k(
        edges, "src", "dst", F.col("cosine").desc(), kk, "rn"
    ).select("src", "dst", "cosine", F.col("rn").cast("int").alias("rn"))


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "src",
    id_col: str = "dst",
    summarize: bool = True,
) -> DataFrame:
    """Recall of an ANN result against the exact neighbor set — the
    quality metric every approximate tier (ivf_topk, ivf_pq_topk,
    hyperplane LSH) is tuned by.

    Both inputs are edge lists ``(query_col, id_col, ...)``; ``exact``
    is typically :func:`knn_graph` (or ``brute_force_topk`` renamed).
    Per query: recall = |approx ∩ exact| / |exact|.  Queries the ANN
    returned nothing for still count (recall 0) — a silently-empty
    probe is exactly the failure mode this metric exists to catch.

    ``summarize=False`` returns per-query rows (query, n_exact, n_hit,
    recall); ``summarize=True`` one row (n_queries, mean_recall,
    micro_recall).  Plan: one left-semi join on (query, id) + one
    aggregate — both sides are edge lists (k rows per query), never
    vectors, so the comparison costs O(edges) at any corpus size."""
    e = exact.select(
        F.col(query_col).alias("__q"), F.col(id_col).alias("__i")
    )
    a = approx.select(
        F.col(query_col).alias("__q"), F.col(id_col).alias("__i")
    )
    hits = e.join(a, ["__q", "__i"], "left_semi")
    per_query = (
        e.groupBy("__q")
        .agg(F.count("*").alias("n_exact"))
        .join(
            hits.groupBy("__q").agg(F.count("*").alias("n_hit")),
            "__q",
            "left",
        )
        .select(
            F.col("__q").alias("query"),
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (
                F.coalesce("n_hit", F.lit(0)) / F.col("n_exact")
            ).cast("double").alias("recall"),
        )
    )
    if not summarize:
        return per_query
    return per_query.agg(
        F.count("*").alias("n_queries"),
        F.avg("recall").cast("double").alias("mean_recall"),
        (F.sum("n_hit") / F.sum("n_exact")).cast("double").alias("micro_recall"),
    )


def _parse_query_vec(raw, dim: int):
    """Driver-side query-vector validation: returns a float64 numpy
    vector or None for anything unscoreable (null, empty, null elements,
    non-numeric, wrong dimension when ``dim`` > 0).  The guard exists so
    ONE malformed record in a streamed micro-batch cannot crash the
    foreachBatch epoch into a checkpoint replay loop."""
    if raw is None:
        return None
    try:
        qv = np.asarray(list(raw), dtype=np.float64)
    except (TypeError, ValueError):
        return None
    if qv.ndim != 1 or qv.size == 0 or not np.isfinite(qv).all():
        return None
    if dim and qv.size != dim:
        return None
    return qv


def _probe_map(
    queries: DataFrame, q_id_col: str, q_vec_col: str, dim: int,
    centroids=None, nprobe: int = 1,
):
    """Collect and parse the query frame and plan its probes.

    Queries are small by contract: a probe set or one streamed
    micro-batch, so the caller's batch size bounds this collect.
    Returns ``(ids, Q, probe)``: the ids and float64 vectors (rows of
    ``Q``) of the queries :func:`_parse_query_vec` accepts (with ``dim``
    0 the first valid vector fixes it), and ``probe``, which maps each
    probed cell to the positions of the queries that probe it.  A query
    probes its ``nprobe`` nearest ``centroids`` by squared L2, ties to
    the lower cell; without centroids every query probes the one cell
    0."""
    ids, vecs = [], []
    for r in queries.select(q_id_col, q_vec_col).collect():
        qv = _parse_query_vec(r[1], dim)
        if qv is None:
            continue
        dim = dim or qv.size
        ids.append(r[0])
        vecs.append(qv)
    if not vecs:
        return np.asarray(ids), np.empty((0, dim)), {}
    Q = np.stack(vecs)
    if centroids is None:
        cells = np.zeros((len(Q), 1), dtype=np.int64)
    else:
        C = np.asarray(centroids, dtype=np.float64)
        d = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        cells = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
    probe = {
        int(c): np.nonzero((cells == c).any(axis=1))[0]
        for c in np.unique(cells)
    }
    return np.asarray(ids), Q, probe


def _probe_topk(
    corpus: DataFrame, col: str, dtype: str, cell: Column, queries: DataFrame,
    ids, probe: dict, score, k: int, id_col: str, q_id_col: str,
    metric: str, order: Column,
) -> DataFrame:
    """The one probe-and-rank search behind every top-k scorer here.

    Rows of ``corpus`` whose ``cell`` is probed and whose ``col`` is not
    NULL are read as (id, ``col`` cast to ``dtype``, cell) by one
    ``mapInPandas`` kernel.  Per Arrow batch and cell,
    ``score(cell, qi, X)`` returns the (rows, len(qi)) ``metric`` matrix
    of the stacked payload ``X`` against the queries at positions ``qi``
    that probe the cell, so a query is only ever scored against its own
    cells.  Then :func:`_top_k` keeps each query's first ``k`` by
    ``order``: (q_id, id, metric, rank), empty but typed when no query
    probes anything."""
    schema = st.StructType(
        [
            st.StructField(q_id_col, queries.schema[q_id_col].dataType),
            st.StructField(id_col, corpus.schema[id_col].dataType),
            st.StructField(metric, st.DoubleType()),
        ]
    )

    def emit(batches):
        for pdf in batches:
            for c, grp in pdf.groupby("__cell"):
                qi = probe.get(c)
                if qi is None:
                    continue
                scores = score(c, qi, np.stack(grp["__x"].to_numpy()))
                yield pd.DataFrame(
                    {
                        q_id_col: np.tile(ids[qi], len(grp)),
                        id_col: np.repeat(grp[id_col].to_numpy(), len(qi)),
                        metric: scores.ravel(),
                    }
                )

    if probe:
        scored = corpus.filter(
            F.col(col).isNotNull() & cell.isin(list(probe))
        ).select(
            id_col, F.col(col).cast(dtype).alias("__x"), cell.alias("__cell")
        ).mapInPandas(emit, schema)
    else:
        scored = local_frame(corpus.sparkSession, [], schema)
    return _top_k(scored, q_id_col, id_col, order, k)


def _cosine_topk(
    vectors: DataFrame, queries: DataFrame, k: int, id_col: str,
    vec_col: str, q_id_col: str, q_vec_col: str, centroids=None,
    nprobe: int = 1,
) -> DataFrame:
    """Exact cosine scorer: :func:`brute_force_topk` is its one-cell
    case (no centroids), :func:`ivf_topk` probes ``nprobe`` cells.
    Query vectors are normalized once on the driver and ride the kernel
    closure; each corpus batch is normalized and scored with one GEMM."""
    dim = len(centroids[0]) if centroids else 0
    ids, Q, probe = _probe_map(
        queries, q_id_col, q_vec_col, dim, centroids, nprobe
    )
    Qn = _unit_rows(Q)
    return _probe_topk(
        vectors, vec_col, "array<double>",
        F.lit(0) if centroids is None else F.col("__cell"), queries, ids,
        probe, lambda c, qi, M: _unit_rows(M) @ Qn[qi].T, k, id_col,
        q_id_col, "cosine", F.col("cosine").desc(),
    ).drop("rank")


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact cosine top-k per query — the scan-bound baseline.

    Result: (q_id, vec_id, cosine).  The query matrix (small by
    contract, same bounded-batch rule as IVF probing) is collected,
    normalized once, and shipped in the ``mapInPandas`` closure; every
    Arrow batch of corpus vectors scores against ALL queries with one
    BLAS GEMM — no cross join, no per-pair interpreted HOF, the corpus
    is scanned exactly once.  The rank window shuffles only (q_id,
    candidate) pairs.  It is :func:`ivf_topk` with one cell that every
    query probes; NULL or malformed query vectors are skipped.
    """
    return _cosine_topk(
        vectors, queries, k, id_col, vec_col, q_id_col, q_vec_col
    )


def ivf_build(
    vectors: DataFrame,
    num_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float = 1.0,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF index: train coarse centroids (Spark ML KMeans on a sample), then
    assign every vector to its nearest centroid — one narrow projection.

    Returns (assigned_df with ``__cell``, centroids).  At 100 TB you persist
    ``assigned_df`` partitioned by ``__cell`` so probes prune files.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sample = vectors if sample_fraction >= 1.0 else vectors.sample(sample_fraction, seed)
    ml_df = sample.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=num_cells, seed=seed, maxIter=20).fit(ml_df)
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return ivf_assign(vectors, centroids, vec_col), centroids


# above this many centroid·dim multiply-adds per row, the interpreted
# HOF expression path (CodegenFallback — the array lambdas never
# compile) loses to one Arrow-batched GEMM despite the Python transfer
_ASSIGN_VECTORIZE_FLOPS = 2048


def ivf_assign(
    vectors: DataFrame,
    centroids,
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to their nearest EXISTING centroid (adds
    ``__cell``) — the assignment half of :func:`ivf_build`, exposed so
    new corpus batches can join a live index without reclustering
    (:func:`ivf_append`).  Narrow projection, no shuffle, in one of two
    physically different but semantically identical forms:

    * small indexes (cells·dim < ~2k flops/row): native argmin over
      literal centroid arrays — zero Python, fine interpreted.
    * large indexes: one Arrow kernel per batch — distances via GEMM
      (||c||² − 2·M·Cᵀ, row norm constant under argmin), ties to the
      LOWEST cell exactly like the struct-min.  The HOF expression path
      is CodegenFallback (interpreted per element, measured ~1-4k
      rows/s at 64 cells × 64 dims); the GEMM kernel is the same fix
      ``hyperplane_signatures_vectorized`` applied to LSH signatures.
      Near-exact-tie rows can differ from the expression path by one
      float ulp of summation order — immaterial for IVF (either cell is
      "nearest"), and no caller compares assignments across the two
      physical paths.
    """
    ncells = len(centroids)
    dim = len(centroids[0]) if ncells else 0
    if ncells * dim >= _ASSIGN_VECTORIZE_FLOPS:
        C = np.asarray(centroids, dtype=np.float64)  # (cells, dim)
        c2 = (C * C).sum(axis=1)  # (cells,)

        @pandas_udf("int")
        def nearest(vecs: pd.Series) -> pd.Series:
            mask = vecs.notna().to_numpy()
            out = np.full(len(vecs), None, dtype=object)
            if mask.any():
                M = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in vecs[mask]]
                )
                # argmin_c ||m-c||² = argmin_c (||c||² - 2 m·c)
                d = c2[None, :] - 2.0 * (M @ C.T)
                cells = d.argmin(axis=1)  # first (lowest) cell on ties
                out[mask] = cells
            return pd.Series(out, dtype=object)

        return vectors.withColumn(
            "__cell", nearest(F.col(vec_col).cast("array<double>"))
        )

    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return vectors.withColumn("__cell", F.array_min(dists)["cell"])


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Probe the ``nprobe`` nearest cells per query, exact cosine inside.

    Result: (q_id, vec_id, cosine), each query's top k among the rows of
    the cells it probed.  The big table is filtered by cell before any
    scoring (partition pruning when it is stored partitioned by cell,
    :func:`ivf_write`); each (Arrow batch, probed cell) is one BLAS GEMM
    against that cell's queries.  A query vector that is NULL,
    malformed or of the wrong dimension is skipped.
    """
    return _cosine_topk(
        assigned, queries, k, id_col, vec_col, q_id_col, q_vec_col,
        centroids, nprobe,
    )


def _ivf_cell_stats(assigned: DataFrame, centroids, vec_col: str) -> DataFrame:
    """Per-cell (count, mean L2 distance to own centroid) — one Arrow
    kernel + one ≤n_cells-group aggregate; the shared measurement
    behind build-time stats and :func:`ivf_drift_report`."""
    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("double")
    def dist(v: pd.Series, cell: pd.Series) -> pd.Series:
        out = np.full(len(v), np.nan)
        mask = v.notna().to_numpy()
        if mask.any():
            M = np.stack(v.to_numpy()[mask])
            cells = cell.to_numpy()[mask].astype(int)
            d = M - C[cells]
            out[np.nonzero(mask)[0]] = np.sqrt((d * d).sum(axis=1))
        return pd.Series(out)

    return (
        assigned.select(
            F.col("__cell").cast("int").alias("cell"),
            dist(F.col(vec_col), F.col("__cell")).alias("__d"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("__d").alias("mean_dist"),
        )
    )


def ivf_write(
    assigned: DataFrame,
    centroids: list[list[float]],
    path: str,
    mode: str = "overwrite",
    vec_col: str = "embedding",
    stats: bool = True,
) -> None:
    """Persist an IVF index partitioned by ``__cell`` — probes then prune
    whole cell directories at scan time (the layout half of nprobe
    pruning at scale).  Centroids ride along as JSON; so does a
    BUILD-TIME per-cell stats snapshot (count + mean distance to
    centroid) when ``stats`` — the baseline :func:`ivf_drift_report`
    compares continuous-ingest indexes against to answer "rebuild
    yet?" with a measurement instead of a guess.

    Stats mechanics: they are measured from the WRITTEN files (a
    projection-pruned re-read of ``{path}/vectors``), not from the
    ``assigned`` lineage — no second pass over the upstream corpus
    plan, and the snapshot is self-consistent with what is on disk
    even under a nondeterministic upstream.  Only an ``overwrite``
    writes stats (they are a build-time baseline; appends must not
    move it — that is :func:`ivf_append`'s job to drift from).  An
    overwrite that does NOT produce fresh stats (``stats=False`` or a
    missing ``vec_col``) DELETES any previous snapshot so a later
    drift report can never silently compare the new index against a
    dead one's baseline."""
    import json
    import warnings

    assigned.write.mode(mode).partitionBy("__cell").parquet(f"{path}/vectors")
    spark = assigned.sparkSession
    local_frame(
        spark, [(json.dumps(centroids),)], "centroids string"
    ).coalesce(1).write.mode(mode).json(f"{path}/centroids")
    if mode != "overwrite":
        return
    write_stats = stats and vec_col in assigned.columns
    if stats and vec_col not in assigned.columns:
        warnings.warn(
            f"ivf_write: vec_col {vec_col!r} not in the assigned frame "
            "— build stats skipped (pass vec_col= to enable the drift "
            "baseline)",
            stacklevel=2,
        )
    if write_stats:
        written = spark.read.parquet(f"{path}/vectors").select(
            vec_col, "__cell"
        )
        _ivf_cell_stats(written, centroids, vec_col).write.mode(
            "overwrite"
        ).parquet(f"{path}/build_stats")
    else:
        jvm = spark._jvm
        stats_path = jvm.org.apache.hadoop.fs.Path(f"{path}/build_stats")
        fs = stats_path.getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        if fs.exists(stats_path):
            fs.delete(stats_path, True)


def ivf_drift_report(spark, path: str, vec_col: str = "embedding") -> DataFrame:
    """Centroid-drift report for a persisted IVF index: per cell, the
    CURRENT count and mean distance to centroid versus the BUILD-TIME
    snapshot (``ivf_write(stats=True)``), plus growth and drift ratios.

    This closes the loop the ``ivf_append`` docstring leaves open:
    appends assign correctly forever, but cell sizes skew and
    recall-per-nprobe degrades as the data distribution drifts from
    the build-time centroids — this report turns "rebuild on what
    cadence?" into numbers (``n_growth`` per cell for skew,
    ``drift_ratio`` > ~1.2 for distributional drift).  Plan: one
    Arrow-kernel pass over the index + a ≤n_cells aggregate + a
    broadcast-sized join of two n_cells-row frames; indexes written
    before build stats existed report NULL build columns (rows-only
    evidence is better than none).
    """
    assigned, centroids = ivf_read(spark, path)
    cur = _ivf_cell_stats(assigned, centroids, vec_col).select(
        "cell",
        F.col("n").alias("n_now"),
        F.col("mean_dist").alias("mean_dist_now"),
    )
    # existence-check rather than a broad except: a build_stats dir
    # that EXISTS but fails to read (corrupt footer, permissions) must
    # surface as an error, not masquerade as a pre-stats index
    jvm = spark._jvm
    stats_path = jvm.org.apache.hadoop.fs.Path(f"{path}/build_stats")
    fs = stats_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(stats_path):
        build = spark.read.parquet(f"{path}/build_stats").select(
            "cell",
            F.col("n").alias("n_build"),
            F.col("mean_dist").alias("mean_dist_build"),
        )
    else:
        build = None
    if build is None:
        out = cur.withColumn("n_build", F.lit(None).cast("long")).withColumn(
            "mean_dist_build", F.lit(None).cast("double")
        )
    else:
        out = cur.join(build, "cell", "left")
    return out.select(
        "cell", "n_build", "n_now",
        (F.col("n_now") / F.col("n_build")).alias("n_growth"),
        "mean_dist_build", "mean_dist_now",
        (F.col("mean_dist_now") / F.col("mean_dist_build")).alias(
            "drift_ratio"
        ),
    ).orderBy("cell")


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    codebooks=None,
    residual: bool = False,
) -> None:
    """Append a new batch to a persisted IVF index WITHOUT reclustering:
    assign the batch to the index's existing centroids
    (:func:`ivf_assign` — one narrow projection over the batch only)
    and append under the same ``__cell`` partition layout.  Per-batch
    cost is O(batch); the existing index is never rewritten or even
    read (only the centroids JSON is).

    The trade this makes is the standard IVF-ingest one: centroids
    drift from the data distribution as the corpus grows, so cell sizes
    skew and recall-per-nprobe slowly degrades.  Probe pruning and
    every search path stay CORRECT regardless (assignment is always
    nearest-centroid); when drift matters, a periodic :func:`ivf_build`
    + :func:`ivf_write` rewrite is the compaction analog — same cadence
    logic as :func:`~bertrand_spark.pipeline.dedup
    .compact_fingerprint_store`.

    For a PQ-served index (the stored frame carries ``__pq``), pass the
    index's ``codebooks`` (+ ``residual=True`` for IVFADC codes): the
    batch is encoded after assignment so appended rows are scoreable by
    ``ivf_pq_topk`` immediately.  Codebooks are NOT retrained — same
    drift trade as the centroids, same rebuild cadence answer.
    """
    import json

    row = spark.read.json(f"{path}/centroids").collect()[0]
    centroids = json.loads(row["centroids"])
    if codebooks is None:
        # Appending un-coded rows to a PQ-served index would merge them
        # in with NULL __pq codes, and ivf_pq_topk would silently never
        # return them — quiet recall loss under continuous ingest.
        # Probe the stored schema and refuse instead.
        try:
            stored_fields = {
                f.name for f in spark.read.parquet(f"{path}/vectors").schema
            }
        except Exception:
            stored_fields = set()
        if "__pq" in stored_fields:
            raise ValueError(
                f"index at {path!r} is PQ-served (stored rows carry "
                "__pq); pass codebooks= (and residual=True for IVFADC) "
                "so appended rows stay scoreable by ivf_pq_topk"
            )
    assigned = ivf_assign(new_vectors, centroids, vec_col)
    if codebooks is not None:
        assigned = pq_encode(
            assigned, codebooks, vec_col,
            centroids=centroids if residual else None,
        )
    assigned.write.mode("append").partitionBy("__cell").parquet(
        f"{path}/vectors"
    )


def ivf_read(spark, path: str):
    """Load a persisted IVF index → (assigned_df, centroids)."""
    import json

    assigned = spark.read.parquet(f"{path}/vectors")
    row = spark.read.json(f"{path}/centroids").collect()[0]
    return assigned, json.loads(row["centroids"])


# --- product quantization (IVF-PQ memory-compression path) ------------------
def _pq_kmeans(X, m: int, nbits: int, seed: int, iters: int):
    """Per-subspace Lloyd k-means over a driver-side sample matrix —
    the shared trainer behind raw and residual codebooks."""
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub, ksub = d // m, 1 << nbits
    rng = np.random.default_rng(seed)
    codebooks = []
    for j in range(m):
        sub = X[:, j * dsub:(j + 1) * dsub]
        k = min(ksub, len(sub))
        cent = sub[rng.choice(len(sub), size=k, replace=False)].copy()
        for _ in range(iters):  # Lloyd, vectorized
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        codebooks.append(cent.tolist())
    return codebooks


def pq_train(
    vectors: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    sample_fraction: float = 1.0,
    max_sample: int = 100_000,
    seed: int = 42,
    iters: int = 15,
    centroids=None,
    cell_col: str = "__cell",
):
    """Train product-quantization codebooks (Jégou et al. 2011): split
    each d-dim vector into ``m`` subvectors and k-means each subspace to
    ``2**nbits`` centroids.

    Training runs on a bounded driver-side SAMPLE (``max_sample`` rows —
    same contract as Spark ML's KMeans sampled fit; codebooks are a few
    hundred KB regardless of corpus size).  Returns ``codebooks`` of
    shape [m][ksub][d/m] (plain lists — broadcastable, serializable).

    ``centroids`` (from :func:`ivf_build`) switches to RESIDUAL training
    — the IVFADC scheme (Jégou et al. 2011 §III): quantize
    ``v − centroid(cell(v))`` instead of ``v``.  Residuals concentrate
    around the origin with strictly less variance than the raw vectors
    (the coarse quantizer has already absorbed the cell-level spread),
    so the same (m, nbits) budget quantizes tighter at identical cost
    (SCALE.md: recall@10 +0.010–0.033 on isotropic 64-d vectors, no
    gain on 256-d text embeddings).  ``vectors`` must then carry
    ``cell_col``.
    """
    # NULL vectors — and, in residual mode, NULL cells (a row whose
    # embedding was NULL at ivf_build time gets a NULL cell) — are
    # droppable for TRAINING (pq_encode's kernel already null-guards
    # them to NULL codes); without the filter np.array over a
    # None-bearing sample raises an opaque TypeError (round-5 ADVICE).
    sampled = vectors.select(
        [vec_col] if centroids is None else [vec_col, cell_col]
    ).filter(F.col(vec_col).isNotNull())
    if centroids is not None:
        sampled = sampled.filter(F.col(cell_col).isNotNull())
    rows = (
        sampled.sample(min(sample_fraction, 1.0), seed)
        .limit(max_sample)
        .collect()
    )
    if not rows:
        raise ValueError(
            f"pq_train: no non-null rows to sample from {vec_col!r}"
            + ("" if centroids is None else f" with non-null {cell_col!r}")
        )
    X = np.array([r[0] for r in rows], dtype=np.float64)
    if centroids is not None:
        C = np.array(centroids, dtype=np.float64)
        cells = np.array([r[1] for r in rows], dtype=np.int64)
        X = X - C[cells]
    return _pq_kmeans(X, m, nbits, seed, iters)


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    centroids=None,
    cell_col: str = "__cell",
) -> DataFrame:
    """Encode vectors to ``m`` uint8-sized codes (``__pq`` array<int>) —
    an Arrow map pass against the broadcast codebooks; the encoded corpus
    is ~d*4/m× smaller than the raw float vectors (64-dim float → 8 bytes
    at m=8), which is what lets a 100 TB embedding corpus fit an ANN
    serving tier.

    With ``centroids`` the RESIDUAL ``v − centroid(cell)`` is encoded
    (IVFADC — pair with residual-trained codebooks and
    ``ivf_pq_topk(..., residual=True)``); ``df`` must carry
    ``cell_col``."""
    cb = [np.array(c, dtype=np.float64) for c in codebooks]
    cb_sq = [(c * c).sum(axis=1) for c in cb]  # ||c||² per centroid, once
    m = len(cb)
    dsub = cb[0].shape[1]
    C = None if centroids is None else np.array(centroids, dtype=np.float64)

    def _codes_matrix(X, chunk=8192):
        """(n, d) → (n, m) argmin codes, one GEMM per (row-chunk,
        subspace) (round-6: replaces the per-row Python loop — encode
        throughput is a once-per-corpus cost but at 100 TB that once is
        large).  ||x−c||² = ||x||² − 2x·c + ||c||²; the x² term is
        constant per (row, subspace) so the argmin needs only the GEMM
        term and the precomputed centroid norms.  Rows are processed in
        chunks with the subspace slice made contiguous first: the
        strided (n, dsub) view otherwise defeats the GEMM's cache
        blocking, and the (chunk, ksub) distance temporary stays
        cache-resident (measured 3.7× over the unchunked GEMM at
        d=256/m=32, ~11× over the row loop; identical codes — same
        float64 ops, only layout changes)."""
        n = X.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        for s in range(0, n, chunk):
            B = X[s:s + chunk]
            for j in range(m):
                sub = np.ascontiguousarray(B[:, j * dsub:(j + 1) * dsub])
                d2 = cb_sq[j][None, :] - 2.0 * (sub @ cb[j].T)
                codes[s:s + chunk, j] = d2.argmin(axis=1)
        return codes

    def _encode_batch(vecs: pd.Series, cells: pd.Series | None) -> pd.Series:
        if cells is None:
            mask = vecs.notna().to_numpy()
        else:
            mask = (vecs.notna() & cells.notna()).to_numpy()
        out = np.full(len(vecs), None, dtype=object)
        if mask.any():
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in vecs[mask]]
            )
            if cells is not None:
                X = X - C[cells[mask].to_numpy(dtype=np.int64)]
            codes = _codes_matrix(X)
            for i, pos in enumerate(np.nonzero(mask)[0]):
                out[pos] = codes[i]
        return pd.Series(out, index=vecs.index)

    if C is None:

        @pandas_udf("array<int>")
        def kernel(vecs: pd.Series) -> pd.Series:
            return _encode_batch(vecs, None)

        return df.withColumn("__pq", kernel(F.col(vec_col)))

    @pandas_udf("array<int>")
    def res_kernel(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        return _encode_batch(vecs, cells)

    return df.withColumn("__pq", res_kernel(F.col(vec_col), F.col(cell_col)))


def _adc_topk(
    encoded: DataFrame, queries: DataFrame, codebooks, k: int, id_col: str,
    q_id_col: str, q_vec_col: str, centroids=None, nprobe: int = 1,
    residual: bool = False,
) -> DataFrame:
    """ADC scorer keyed by (query, cell): :func:`pq_topk` is its one-cell
    case (no centroids), :func:`ivf_pq_topk` probes ``nprobe`` cells.

    A lookup table (LUT) holds, per subspace j, the squared L2 from the
    query's j-th subvector to each of the subspace's centroids; a code
    word's distance is the sum of its m entries, so vectors are never
    reconstructed.  Without ``residual`` a query's LUT is one array that
    all its cells share, so driver memory does not grow with
    ``nprobe``.  With ``residual`` (IVFADC) the LUT of (query, cell) is
    built from the query residual ``q − centroid(cell)``, to match codes
    that encode ``v − centroid(cell(v))``."""
    cb = [np.asarray(c, dtype=np.float64) for c in codebooks]
    m, dsub = len(cb), cb[0].shape[1]
    ids, Q, probe = _probe_map(
        queries, q_id_col, q_vec_col, m * dsub, centroids, nprobe
    )

    def luts(X):  # (queries, m, ksub)
        subs = [X[:, None, j * dsub:(j + 1) * dsub] for j in range(m)]
        return np.stack(
            [((x - c[None]) ** 2).sum(axis=2) for x, c in zip(subs, cb)],
            axis=1,
        )

    if residual:
        C = np.asarray(centroids, dtype=np.float64)
        tables = {
            c: (luts(Q[qi] - C[c]), slice(None)) for c, qi in probe.items()
        }
    else:
        shared = luts(Q)
        tables = {c: (shared, qi) for c, qi in probe.items()}

    def adc(c, qi, codes):
        table, rows = tables[c]
        dist = np.zeros((len(codes), len(qi)))
        for j in range(m):
            dist += table[rows, j][:, codes[:, j]].T
        return dist

    return _probe_topk(
        encoded, "__pq", "array<int>",
        F.lit(0) if centroids is None else F.col("__cell"), queries, ids,
        probe, adc, k, id_col, q_id_col, "adc_dist", F.col("adc_dist").asc(),
    )


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 10,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: per query, precompute the m×ksub
    LUT of subspace squared distances, score every code word as m LUT
    lookups (never reconstructing vectors), window top-k per query.

    Queries are small by contract (they ride the kernel closure); the
    corpus side reads only (id, codes).  NULL or malformed query vectors
    and NULL codes are skipped.  Returns (q_id, vec_id, adc_dist, rank).
    """
    return _adc_topk(
        encoded, queries, codebooks, k, id_col, q_id_col, q_vec_col
    )


def ivf_pq_topk(
    assigned: DataFrame,
    centroids,
    codebooks,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """IVF×PQ: probe the ``nprobe`` nearest cells (partition pruning),
    then ADC-score ONLY those cells' PQ codes — the full production ANN
    shape: IVF cuts the scan fan-out, PQ cuts the bytes per scanned row.

    ``assigned`` must carry ``__cell`` (from :func:`ivf_build`) and
    ``__pq`` (from :func:`pq_encode`).  Each query's top k is taken over
    the rows of the cells IT probed, whatever other queries share the
    batch.  Recall is bounded by both the probe coverage and the
    quantization error; raise ``nprobe``/``m`` to trade cost for recall.
    Returns (q_id, vec_id, adc_dist, rank).

    ``residual=True`` selects the IVFADC scoring path for codes produced
    by residual :func:`pq_train`/:func:`pq_encode`: the ADC lookup table
    is built per (query, probed cell) from the query RESIDUAL
    ``q − centroid(cell)``, so distances compare against what was
    actually encoded.  Cost shape is unchanged — the LUTs stay a
    driver-side table of ``nprobe × m × ksub`` doubles per query riding
    the closure, and scoring is still m lookups per code word.
    """
    return _adc_topk(
        assigned, queries, codebooks, k, id_col, q_id_col, q_vec_col,
        centroids, nprobe, residual,
    )


def sign_bucket(vec_col: Column, bits: int = 6) -> Column:
    """Deterministic semantic bucket id from the SIGN of the first
    ``bits`` dimensions: bucket = Σ (v[i] ≥ 0) · 2^i, a pure native
    expression (codegen, no UDF, no trained state).

    For zero-centered embeddings each axis splits the corpus roughly in
    half, so 2^bits buckets of ≈ n/2^bits vectors — the cheapest
    clustering that needs no training pass and replays exactly in any
    engine (the property the DuckDB oracle for x43 relies on).  Unlike
    random-hyperplane LSH there is no seed to ship: the axes ARE the
    planes.
    """
    b = F.lit(0)
    for i in range(bits):
        b = b + F.when(
            F.element_at(vec_col, i + 1) >= 0, F.lit(2**i)
        ).otherwise(F.lit(0))
    return b.cast("int")


def semantic_dedup_bucketed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    bits: int = 6,
) -> DataFrame:
    """SemDeDup-style bucketed embedding dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster cheaply, pairwise-compare ONLY within a
    cluster, keep a row iff no lower-id row in the same bucket has
    cosine ≥ threshold ("dominated-pair" rule — the same drop semantics
    x16's pair list induces, restricted to bucket-local candidates).

    Returns the KEPT rows as ``(id_col, bucket)``.

    Scale shape: one shuffle on the bucket key, then an m_b×m_b GEMM
    per bucket via ``applyInPandas`` — O(Σ m_b²·d) FLOPs instead of
    O(n²·d).  At 100 TB raise ``bits`` so m_b stays bounded
    (n/2^bits ≈ 10-100k rows ⇒ tiles of 10-100 GB·d⁻¹ FLOPs that fit
    one task); sign buckets on zero-centered dims keep sizes near-even,
    and a skewed bucket is split by the same block-pair fan-out as
    :func:`cosine_all_pairs_blocked` if one ever exceeds task memory.
    Candidate-generation honesty: cross-bucket near-dups are NOT
    examined — by construction recall is bucket-local (the SemDeDup
    trade: intra-cluster dups are where the mass is).  The oracle
    replays the identical buckets, so the contract is exact, not
    probabilistic.

    Reference anchor: the reference engine has no embedding surface
    (SURVEY §2); this extension exists for the training-data pipeline
    mandate alongside x16/x30.
    """
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    bucketed = base.withColumn("bucket", sign_bucket(F.col("__v"), bits))
    return _keep_dominant_per_bucket(bucketed, id_col, float(threshold))


def _keep_dominant_per_bucket(
    bucketed: DataFrame, id_col: str, thr: float
) -> DataFrame:
    """Within-bucket dominated-pair dedup kernel shared by
    :func:`semantic_dedup_bucketed` (sign buckets) and
    :func:`semantic_dedup_ivf` (trained k-means cells): one GEMM per
    bucket, keep a row iff no STRICTLY-lower-id row in the same bucket
    has cosine ≥ thr.  Input needs ``(id_col, __v float64, bucket)``.
    The output id field inherits the INPUT's id type (string ids sort
    lexicographically — the keep rule only needs a total order), so
    any id column the public API accepts works here too."""
    id_field = bucketed.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_field}, bucket int"

    def keep_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        Xn = _unit_rows(np.stack(pdf["__v"].to_numpy()[order]))
        sims = Xn @ Xn.T
        # dominated ⇔ some STRICTLY-lower-id row scores ≥ thr: with ids
        # sorted ascending that is any above-threshold entry strictly
        # below the diagonal
        dom = (np.tril(sims >= thr, k=-1)).any(axis=1)
        return pd.DataFrame(
            {id_col: ids[~dom], "bucket": pdf["bucket"].iloc[0]}
        )

    return bucketed.groupBy("bucket").applyInPandas(keep_bucket, out_schema)


def semantic_dedup_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    num_cells: int = 16,
    centroids=None,
    seed: int = 42,
    sample_fraction: float = 1.0,
) -> DataFrame:
    """TRUE SemDeDup (Abbas et al. 2023): k-means cells as the
    clustering, within-cell dominated-pair cosine dedup — the
    production variant of :func:`semantic_dedup_bucketed` (same keep
    rule, same per-bucket GEMM kernel) with a LEARNED partition that
    tracks the data manifold instead of axis signs, so near-dups
    co-locate far more reliably on real embeddings.

    Returns the KEPT rows as ``(id_col, bucket)`` where bucket is the
    k-means cell.  Pass ``centroids=`` (e.g. from a live
    :func:`ivf_build` index) so dedup and ANN serving share ONE
    clustering: new corpus batches then dedup against the same fixed
    geometry via :func:`ivf_assign` with no retraining — the
    continuous-ingest contract the fingerprint/band stores establish
    for exact/MinHash dedup, extended to the embedding family.

    Scale shape identical to the bucketed variant: assignment is a
    narrow native projection (argmin over literal centroid arrays),
    then one shuffle on the cell key and O(Σ m_c²·d) GEMM FLOPs.  Size
    ``num_cells ≈ n / 10-100k`` so cells fit one task; identical
    vectors always share a cell (distance 0), so exact duplicates can
    never straddle the partition the way a sign-boundary pair can.
    Training-backed clustering is why this variant has no DuckDB
    oracle (k-means is iterative); the keep rule itself is oracle-
    gated through x43 and property-tested here against a driver-side
    replay (TestSemanticDedupIvf).
    """
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    if centroids is None:
        assigned, centroids = ivf_build(
            base, num_cells, id_col, "__v", seed, sample_fraction
        )
    else:
        assigned = ivf_assign(base, centroids, "__v")
    bucketed = assigned.withColumn(
        "bucket", F.col("__cell").cast("int")
    ).drop("__cell")
    return _keep_dominant_per_bucket(bucketed, id_col, float(threshold))


def kcenter_select(
    df: DataFrame,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_picks: int = 10_000,
) -> "list":
    """Greedy k-center DIVERSITY selection (Gonzalez 1985 farthest-point
    traversal, the classic 2-approximation to the k-center objective):
    pick ``n`` rows so the rest of the corpus is as close as possible to
    some pick — the coreset/diversity-sampling step of a training-data
    pipeline (complementary to SemDeDup: dedup REMOVES redundancy,
    k-center KEEPS a maximally spread subset, e.g. for eval-set or
    annotation-budget selection).

    Returns a driver-side list of ``(id, radius)`` in pick order —
    bounded at n rows by construction (n is an annotation/eval budget,
    never corpus-scale).  ``radius`` is the max-min cosine distance at
    the moment of the pick; radii are NON-INCREASING (the greedy
    invariant) and radius[i] bounds the final coverage radius of the
    first i picks.

    Determinism: the seed is the minimum id; every later pick is
    argmax of min-distance-to-picks with ties broken by minimum id —
    a total order, so the selection is repartition-stable and
    engine-reproducible.  Per-row distances are computed as an
    independent per-row reduction (never a tile-shaped GEMM), so the
    floats don't depend on batch boundaries (the cross-tile 1-ulp
    lesson from knn_graph).

    Scale shape: n passes over the corpus, each ONE Arrow kernel (the
    running min-distance column rides a persisted frame; each round
    adds only the NEWEST pick's distance — O(n·N·d) total, not the
    O(n²·N·d) of recomputing against all picks) followed by a
    TakeOrdered(1).  State shipped per round: one d-vector in the
    closure.  The n sequential barriers are inherent to the greedy
    algorithm; at 1000 executors each pass is embarrassingly parallel.

    Practical budget ceiling: each pick is a full Spark JOB (~1 s of
    fixed scheduling overhead at minimum), so wall-clock is ≥ n
    seconds regardless of cluster size — n ≤ a few thousand is the
    regime this operator is FOR (annotation/eval budgets).  Beyond
    ``max_picks`` (default 10,000 ≈ 3+ hours of pure job overhead) it
    raises with guidance instead of silently running for days — the
    same explicit-regime-guard convention as
    ``curation.dsir_resample_tokens``: coreset selection at corpus
    scale wants k-means-style assignment
    (:func:`semantic_dedup_ivf`), not a sequential greedy.
    """
    if n <= 0:
        return []
    if n > max_picks:
        raise ValueError(
            f"n={n:,} picks = {n:,} sequential Spark jobs (~1 s fixed "
            "overhead each) — beyond the greedy k-center regime; for "
            "corpus-scale coreset selection use semantic_dedup_ivf's "
            "k-means clustering and sample per cluster, or raise max_picks "
            "explicitly if the wall-clock is acceptable"
        )
    base = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    )

    def dist_kernel(center: "np.ndarray"):
        c = center / (np.linalg.norm(center) or 1.0)

        def score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf["__v"].to_numpy())
                # elementwise-multiply + axis-1 pairwise sum, NOT a BLAS
                # GEMV: BLAS picks different accumulation kernels by
                # batch shape (the knn_graph cross-tile ulp lesson), and
                # the radii must be bit-stable under repartitioning
                norms = np.sqrt((X * X).sum(axis=1))
                norms[norms == 0] = 1.0
                d = 1.0 - (X * c).sum(axis=1) / norms
                if "__mind" in pdf.columns:
                    d = np.minimum(d, pdf["__mind"].to_numpy())
                out = pdf[[id_col]].copy()
                out["__v"] = pdf["__v"]
                out["__mind"] = d
                yield out

        return score

    schema = (
        f"{id_col} {base.schema[id_col].dataType.simpleString()}, "
        "__v array<double>, __mind double"
    )
    seed = base.orderBy(id_col).limit(1).collect()
    if not seed:
        return []
    picks = [(seed[0][id_col], float("inf"))]
    next_center = np.asarray(seed[0]["__v"], dtype=np.float64)
    work = base
    prev_cached = None
    for _ in range(int(n) - 1):
        work = work.mapInPandas(dist_kernel(next_center), schema).persist()
        far = work.orderBy(
            F.col("__mind").desc(), F.col(id_col)
        ).limit(1).collect()
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = work
        # 1e-12, not 0.0: an exact duplicate of a pick renormalizes to
        # cosine 1 ± a few ulps, so a strict zero test could spend the
        # budget on degenerate ~1e-16-radius picks instead of stopping
        if not far or far[0]["__mind"] <= 1e-12:
            break
        picks.append((far[0][id_col], float(far[0]["__mind"])))
        next_center = np.asarray(far[0]["__v"], dtype=np.float64)
    if prev_cached is not None:
        prev_cached.unpersist()
    return picks
