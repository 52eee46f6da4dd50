"""Scale smoke: run the scale-sensitive operators at ~10-60x the bench
rows (synthetic multiplication of sf0.1, in memory — no files written)
and report wall times + the parallelism actually achieved.

This is the "would it survive 100x?" check: the operators exercised here
are exactly the ones whose naive implementations degrade superlinearly
(global windows, unpinned exchanges, interpreted HOF kernels, posting
self-joins).  A run that completes with all stages >1 task and roughly
linear time vs the multiplier is the evidence.

Usage::

    python tools/scale_smoke.py [multiplier] [section]
    # multiplier default 10; section: core (default) | relational | streaming
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    # sections: 'core' (default) = the original operator sweep;
    # 'relational' = the round-4 q39-q49 suite; 'streaming' = measured
    # micro-batch throughput.  Each fits a 10-minute budget ALONE —
    # there is deliberately no run-everything mode.
    section = sys.argv[2] if len(sys.argv) > 2 else "core"

    from pyspark.sql import functions as F

    from bertrand_spark.session import build_session

    # 10-60x the sf0.1 rows held in memory
    spark = build_session(32, "scale_smoke", **{"spark.driver.memory": "24g"})

    from bertrand_spark.convert.cast import cast
    from bertrand_spark.operators import rows as R
    from bertrand_spark.pipeline import dedup as D
    from bertrand_spark.sources.reader import read_table

    def blow_up(df, id_col):
        """mult copies with distinct ids — keys stay unique so dedup /
        enumerate semantics are preserved while volume scales."""
        reps = spark.range(mult).select(F.col("id").alias("__rep"))
        return (
            df.crossJoin(reps)
            .withColumn(id_col, F.col(id_col) * mult + F.col("__rep"))
            .drop("__rep")
            .repartition(128)
        )

    if section == "relational":
        _relational(spark, F, blow_up, read_table)
        spark.stop()
        return
    if section == "relational50":
        _relational_50x(spark, F, blow_up, read_table)
        spark.stop()
        return
    if section == "streaming":
        _streaming(spark, F, blow_up, read_table, mult)
        spark.stop()
        return
    if section == "partsupp7":
        _partsupp7(spark, F, blow_up, read_table, mult)
        spark.stop()
        return
    if section == "ivfadc256":
        _ivfadc_256d(spark, F, read_table)
        spark.stop()
        return
    if section == "semdedup":
        _semdedup(spark, F, blow_up, read_table, mult)
        spark.stop()
        return
    if section == "curation20":
        _curation20(spark, F, blow_up, read_table, mult)
        spark.stop()
        return

    li = blow_up(
        read_table(spark, SF_DIR, "lineitem").withColumn(
            "__rid",
            F.monotonically_increasing_id(),
        ),
        "__rid",
    ).persist()
    n_li = li.count()
    # PERTURB the copied texts (unique suffix per copy): identical copies
    # collide in EVERY LSH band, so a corpus of exact duplicates degrades
    # any banding scheme quadratically — that's what exact_dedup is for
    # (run it first in a real pipeline; see dedup._band_candidates).
    # The perturbed corpus measures honest 10x near-dup throughput
    # instead of that pathology.
    docs = (
        blow_up(read_table(spark, SF_DIR, "documents"), "doc_id")
        .withColumn(
            "text",
            F.concat(
                F.col("text"), F.lit(" v"), (F.col("doc_id") % mult).cast("string")
            ),
        )
        .persist()
    )
    n_docs = docs.count()
    print(f"rows: lineitem x{mult} = {n_li:,}; documents x{mult} = {n_docs:,}")

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        print(f"{name:32s} {dt:7.2f}s   {out}")

    # 0. elementwise detect throughput — the BASELINE.md anchor (reference
    # object-scan: 4.5 M elem/s/core).  At sf0.1 the wall time is Spark
    # fixed cost; at mult>=10 (sf>=1-equivalent rows) per-row cost
    # dominates and rows/s/core becomes comparable to the anchor.
    from bertrand_spark.types.detect import type_tag_column

    def det():
        t0 = time.time()
        s = F.when(
            F.abs(F.col("l_orderkey") * 7 + F.col("__rid")) % 4 == 0,
            F.col("l_linenumber").cast("string"),
        ).otherwise(F.col("l_returnflag"))
        out = (
            li.select(type_tag_column(s).alias("tag"))
            .groupBy("tag").count().collect()
        )
        dt = time.time() - t0
        rate = n_li / dt
        return (
            f"tags={len(out)} {rate/1e6:,.2f}M rows/s "
            f"({rate/32/1e6:,.3f}M rows/s/core)"
        )

    timed(f"elementwise detect {n_li:,} rows", det)

    # 1. cast matrix: narrow projection, should scale with scan only
    timed(
        "cast 4 cols + raise-validate",
        lambda: cast(
            li.select("__rid", "l_quantity", "l_extendedprice", "l_discount"),
            {"l_quantity": "int32", "l_extendedprice": "decimal",
             "l_discount": "float32"},
            rounding="half_even",
        ).write.mode("overwrite").format("noop").save(),
    )

    # 2. scale-safe enumeration (the old global-window killer)
    def enum():
        out = R.enumerate_rows(li.select("__rid", "l_orderkey"), ["__rid"])
        parts = out.rdd.getNumPartitions()
        mx = out.agg(F.max("idx")).first()[0]
        return f"partitions={parts} max_idx={mx:,}"

    timed(f"enumerate_rows {n_li:,} rows", enum)

    # 3. first-seen dedup over the enumerated stream
    timed(
        "ordered dedup (keyed)",
        lambda: (
            R.dedup_ordered(
                li.select("__rid", "l_suppkey"), ["l_suppkey"], ["__rid"]
            ).write.mode("overwrite").format("noop").save()
        ),
    )

    # 4. MinHash near-dup: the full LSH pipeline at mult x docs.
    # NOTE: multiplying a corpus multiplies every pairwise relation by
    # mult² — candidate volume (and therefore wall time) grows
    # quadratically HERE BY CONSTRUCTION, not in a real mult-x corpus
    # with a constant dup rate.  Judge the pairs/s, not the total.
    def mh():
        t0 = time.time()
        n_pairs = D.near_dup_pairs_minhash(
            docs, "doc_id", "text", threshold=0.6, k=770, num_bands=154
        ).count()
        rate = n_pairs / max(time.time() - t0, 1e-9)
        return f"pairs={n_pairs} ({rate:,.0f} verified-pairs/s)"

    timed(f"minhash near-dup {n_docs:,} docs", mh)

    # 5. SimHash near-dup
    timed(
        f"simhash near-dup {n_docs:,} docs",
        lambda: "pairs=%d"
        % D.near_dup_pairs_simhash(
            docs, "doc_id", "text", max_hamming=3, num_blocks=4
        ).count(),
    )

    # 6. exact dedup
    timed(
        "exact dedup",
        lambda: "kept=%d" % D.exact_dedup(docs, "text", keep_by="doc_id").count(),
    )

    # 6b. exact kNN graph over mult x embeddings (perturbed copies so the
    # geometry isn't degenerate).  Work is O(n²·d) BY CONSTRUCTION —
    # judge the scored-pairs/s, not the total.
    from bertrand_spark.pipeline.similarity import knn_graph

    emb = (
        blow_up(read_table(spark, SF_DIR, "embeddings"), "vec_id")
        .select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x + (F.col("vec_id") % mult).cast("double") * 1e-3,
            ).alias("embedding"),
        )
        .persist()
    )
    n_emb = emb.count()

    def knn():
        t0 = time.time()
        n_edges = knn_graph(emb, "vec_id", "embedding", k=5, num_blocks=16).count()
        rate = n_emb * n_emb / max(time.time() - t0, 1e-9)
        return f"edges={n_edges:,} ({rate/1e6:,.0f}M scored-pairs/s)"

    timed(f"exact kNN graph {n_emb:,} vecs", knn)

    # 7. pathological skew join: 80% of the fact rows share ONE key and
    # the right side is too big to broadcast, so the plain shuffle join
    # funnels the hot key into one sort-merge task.  Three plans:
    # (a) shuffle join with AQE skew splitting DISABLED — the serialized
    #     baseline; (b) AQE skew splitting ON (the default; splits the
    #     skewed partition by mapper ranges); (c) explicit salted_join —
    #     the belt-and-suspenders path for keys AQE cannot split (e.g.
    #     a skewed AGGREGATION key, or a single key past task memory).
    # NOTE broadcast is force-disabled for all three: if the right side
    # fits a broadcast there is no skew problem to solve.
    from bertrand_spark.operators.joins import salted_join

    hot = li.select(
        F.when(F.rand(7) < 0.8, F.lit(0))
        .otherwise((F.rand(11) * 200_000).cast("long"))
        .alias("k"),
        F.col("l_quantity").alias("v"),
    )
    dim = spark.range(200_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )

    def _with_conf(pairs, fn):
        old = {k: spark.conf.get(k) for k in pairs}
        for k, v in pairs.items():
            spark.conf.set(k, v)
        try:
            return fn()
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)

    no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    timed(
        f"skewed join 80%-hot (AQE skew OFF)",
        lambda: _with_conf(
            {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "false"},
            lambda: "rows=%d" % hot.join(dim, "k").count(),
        ),
    )
    timed(
        "same, AQE skew split ON",
        lambda: _with_conf(
            no_bcast, lambda: "rows=%d" % hot.join(dim, "k").count()
        ),
    )
    timed(
        "same, salted_join(salt=32)",
        lambda: _with_conf(
            no_bcast,
            lambda: "rows=%d" % salted_join(hot, dim, ["k"], salt=32).count(),
        ),
    )

    _relational(spark, F, blow_up, read_table)

    spark.stop()


def _relational(spark, F, blow_up, read_table) -> None:
    """Round-4: the relational suite at sf1-equivalent rows.

    q39-q49 are the TPC-H shapes a 100x scale-up stresses first (full
    scan+agg, 3-way join top-N, CUBE, correlated-agg, EXISTS semi,
    6-way cycle join, distinct-count + anti).  Materialize the
    multiplied tables to parquet ONCE and run the REAL registered
    queries against that dir — same code path as the driver, including
    read_table normalization; keys multiply consistently (o_orderkey
    and l_orderkey share the formula, so joins stay referentially
    intact; customer/supplier/part/nation/region pass through).
    """
    import shutil
    import tempfile

    rel_dir = tempfile.mkdtemp(prefix="scale_rel_")
    try:
        ords = blow_up(read_table(spark, SF_DIR, "orders"), "o_orderkey")
        li_rel = blow_up(
            read_table(spark, SF_DIR, "lineitem"), "l_orderkey"
        )
        ords.write.mode("overwrite").parquet(f"{rel_dir}/orders.parquet")
        li_rel.write.mode("overwrite").parquet(f"{rel_dir}/lineitem.parquet")
        for t in ("customer", "supplier", "part", "nation", "region"):
            read_table(spark, SF_DIR, t).write.mode("overwrite").parquet(
                f"{rel_dir}/{t}.parquet"
            )
        n_li_rel = spark.read.parquet(f"{rel_dir}/lineitem.parquet").count()

        from bertrand_spark.plans.queries import QUERIES

        for qname in (
            "q39_pricing_summary", "q40_shipping_priority",
            "q41_revenue_forecast", "q42_returned_items",
            "q43_large_orders", "q44_cube_orders", "q45_above_average",
            "q46_late_orders_exists", "q47_supplier_nation_cycle",
            "q48_priority_class_agg", "q49_supplier_part_counts",
        ):
            fn = QUERIES[qname]
            fn(spark, rel_dir).write.mode("overwrite").format("noop").save()  # warm
            spark.catalog.clearCache()
            t0 = time.time()
            fn(spark, rel_dir).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            spark.catalog.clearCache()
            print(
                f"{qname:32s} {dt:7.2f}s   lineitem_rows={n_li_rel:,} "
                f"({n_li_rel / dt / 1e6:.1f} M rows/s)"
            )
    finally:
        shutil.rmtree(rel_dir, ignore_errors=True)




def _relational_50x(spark, F, blow_up, read_table) -> None:
    """Round-5: the two LINEAR relational shapes (q42/q43 — both bound
    by the orders/orderkey-grained aggregate) at 50x (~30M lineitem
    rows, sf5-equivalent), to confirm the asymptote, plus a
    bucketed-layout variant of q43 answering SCALE.md's open question:
    does bucketing lineitem+orders on the orderkey remove q43's one
    fact shuffle?  (Run with `python tools/scale_smoke.py 50
    relational50` — the mult argument is fixed at the call site by the
    blow_up closure, so pass 50.)
    """
    import shutil
    import tempfile

    rel_dir = tempfile.mkdtemp(prefix="scale_rel50_")
    try:
        ords = blow_up(read_table(spark, SF_DIR, "orders"), "o_orderkey")
        li_rel = blow_up(read_table(spark, SF_DIR, "lineitem"), "l_orderkey")
        ords.write.mode("overwrite").parquet(f"{rel_dir}/orders.parquet")
        li_rel.write.mode("overwrite").parquet(f"{rel_dir}/lineitem.parquet")
        for t in ("customer", "nation"):
            read_table(spark, SF_DIR, t).write.mode("overwrite").parquet(
                f"{rel_dir}/{t}.parquet"
            )
        n_li = spark.read.parquet(f"{rel_dir}/lineitem.parquet").count()

        from bertrand_spark.plans.queries import QUERIES, q43_plan

        def timed_noop(name, df, n=n_li):
            df.write.mode("overwrite").format("noop").save()  # warm
            spark.catalog.clearCache()
            t0 = time.time()
            df.write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            print(
                f"{name:32s} {dt:7.2f}s   lineitem_rows={n:,} "
                f"({n / dt / 1e6:.1f} M rows/s)"
            )

        for qname in ("q42_returned_items", "q43_large_orders"):
            timed_noop(qname, QUERIES[qname](spark, rel_dir))

        # --- bucketed variant: same logical q43, lineitem+orders
        # bucketed on the orderkey (write cost paid once, amortized
        # across every orderkey-grained query) ---------------------------
        from bertrand_spark.sources.reader import write_bucketed

        spark.sql("DROP TABLE IF EXISTS s50_lineitem")
        spark.sql("DROP TABLE IF EXISTS s50_orders")
        write_bucketed(
            spark.read.parquet(f"{rel_dir}/lineitem.parquet"),
            "s50_lineitem", ["l_orderkey"], num_buckets=128,
        )
        write_bucketed(
            spark.read.parquet(f"{rel_dir}/orders.parquet"),
            "s50_orders", ["o_orderkey"], num_buckets=128,
        )
        bucketed = q43_plan(
            spark.table("s50_lineitem"),
            spark.table("s50_orders"),
            spark.read.parquet(f"{rel_dir}/customer.parquet"),
        )
        plan = bucketed._jdf.queryExecution().executedPlan().toString()
        n_ex = plan.count("Exchange")
        timed_noop(f"q43 bucketed (exchanges={n_ex})", bucketed)
    finally:
        spark.sql("DROP TABLE IF EXISTS s50_lineitem")
        spark.sql("DROP TABLE IF EXISTS s50_orders")
        shutil.rmtree(rel_dir, ignore_errors=True)


def _ivfadc_256d(spark, F, read_table) -> None:
    """Round-6 (VERDICT item 5): residual-vs-raw PQ recall on STRUCTURED
    data at production-like dimensionality — 256-d hashing embeddings of
    the sf0.1 documents corpus (word-distribution manifold, not the
    64-d isotropic vectors of the unit gate, which are PQ's pathological
    case), m=32, nbits=8.  Also times the vectorized pq_encode pass —
    the once-per-corpus cost the chunked-GEMM kernel speeds up.
    """
    from bertrand_spark.pipeline.similarity import (
        ann_recall, brute_force_topk, ivf_build, ivf_pq_topk, pq_encode,
        pq_train,
    )
    from bertrand_spark.pipeline.text import embed_documents

    docs = read_table(spark, SF_DIR, "documents")
    emb = embed_documents(docs, dim=256).withColumnRenamed(
        "doc_id", "vec_id"
    ).persist()
    n = emb.count()
    assigned, centroids = ivf_build(emb, num_cells=64, seed=42)
    assigned = assigned.persist()
    assigned.count()
    queries = emb.limit(100).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = brute_force_topk(
        emb, queries.withColumnRenamed("embedding", "q_vec"), k=10
    ).persist()
    exact.count()

    def recall(approx):
        return ann_recall(
            exact, approx, query_col="q_id", id_col="vec_id"
        ).collect()[0]["micro_recall"]

    for label, residual in (("raw", False), ("residual", True)):
        cb = pq_train(
            assigned, "embedding", m=32, nbits=8, seed=7,
            centroids=centroids if residual else None,
        )
        t0 = time.time()
        enc = pq_encode(
            assigned, cb, "embedding",
            centroids=centroids if residual else None,
        ).persist()
        enc.count()
        dt = time.time() - t0
        for nprobe in (4, 8):
            r = recall(
                ivf_pq_topk(
                    enc, centroids, cb, queries, k=10, nprobe=nprobe,
                    residual=residual,
                )
            )
            print(
                f"ivfadc 256d m=32 {label:8s} nprobe={nprobe}: "
                f"recall@10={r:.3f}  (encode {n / dt:,.0f} vec/s, "
                f"{dt:.1f}s for {n:,} rows)"
            )
        enc.unpersist()
    exact.unpersist()
    assigned.unpersist()
    emb.unpersist()


def _semdedup(spark, F, blow_up, read_table, mult) -> None:
    """Round-6: the SemDeDup family at mult× the sf0.1 embeddings table
    — wall time, kept fraction, and BUCKET-SIZE SKEW (the claim "sign
    buckets on zero-centered dims keep sizes near-even" and "size
    num_cells so cells fit one task" needs numbers, not prose).  The
    blow-up copies vectors verbatim with fresh ids — exact embedding
    duplicates are precisely the planted-dup scenario, so kept-count ≈
    original distinct count is also a correctness smoke at volume.
    """
    import time as _t

    from bertrand_spark.pipeline.similarity import (
        ivf_build, semantic_dedup_bucketed, semantic_dedup_ivf, sign_bucket,
    )

    emb = blow_up(
        read_table(spark, SF_DIR, "embeddings"), "vec_id"
    ).persist()
    n = emb.count()

    def skew(assigned_df, key):
        # INPUT bucket sizes — the GEMM-tile / task-memory number (the
        # kept output is always smaller)
        sizes = (
            assigned_df.groupBy(key).count().agg(
                F.max("count").alias("mx"),
                F.avg("count").alias("avg"),
                F.count(F.lit(1)).alias("nb"),
            ).collect()[0]
        )
        return sizes["mx"], sizes["avg"], sizes["nb"]

    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("__v")
    )
    for bits in (6, 8):
        t0 = _t.time()
        kept = semantic_dedup_bucketed(emb, bits=bits).persist()
        nk = kept.count()
        dt = _t.time() - t0
        mx, avg, nb = skew(
            base.withColumn("b", sign_bucket(F.col("__v"), bits)), "b"
        )
        print(
            f"semdedup sign bits={bits}: {n:,} rows -> {nk:,} kept in "
            f"{dt:.1f}s ({n / dt:,.0f} rows/s); input-bucket max/avg = "
            f"{mx}/{avg:.0f} over {nb} buckets"
        )
        kept.unpersist()

    t0 = _t.time()
    from bertrand_spark.pipeline.similarity import ivf_assign

    _, cents = ivf_build(
        base, num_cells=64, vec_col="__v", sample_fraction=0.2
    )
    t_train = _t.time() - t0
    t0 = _t.time()
    kept = semantic_dedup_ivf(emb, centroids=cents).persist()
    nk = kept.count()
    dt = _t.time() - t0
    mx, avg, nb = skew(ivf_assign(base, cents, "__v"), "__cell")
    print(
        f"semdedup ivf cells=64: train {t_train:.1f}s (20% sample), "
        f"dedup {n:,} rows -> {nk:,} kept in {dt:.1f}s "
        f"({n / dt:,.0f} rows/s); input-cell max/avg = {mx}/{avg:.0f} "
        f"over {nb} cells"
    )
    kept.unpersist()
    emb.unpersist()


def _streaming(spark, F, blow_up, read_table, mult) -> None:
    """Round-4: measured Structured Streaming throughput at mult x events.

    Stages the multiplied events table as 16 parquet files and drives a
    REAL incremental query (maxFilesPerTrigger=2 -> 8 micro-batches,
    availableNow) through (a) the watermarked windowed rollup and
    (b) watermark-bounded keyed stream dedup — end-to-end events/s
    including state-store maintenance, the number the SCALE.md streaming
    section previously asserted only qualitatively.
    """
    import shutil
    import tempfile
    import time

    from bertrand_spark.streaming.rollup import stream_dedup, windowed_rollup

    stage = tempfile.mkdtemp(prefix="scale_stream_")
    ckpt_root = tempfile.mkdtemp(prefix="scale_ckpt_")
    try:
        ev = blow_up(read_table(spark, SF_DIR, "events"), "event_id")
        # range-partition by event time so the ASCENDING part-file order
        # (what maxFilesPerTrigger consumes) matches the arrival model
        # watermarks assume; within-file order is irrelevant to
        # watermark advancement (it tracks per-batch max event time),
        # so no global sort and no double materialization
        ev.repartitionByRange(16, "ts").write.mode("overwrite").parquet(
            f"{stage}/events"
        )
        n_ev = spark.read.parquet(f"{stage}/events").count()
        schema = spark.read.parquet(f"{stage}/events").schema

        # state-store cost scales with shuffle partitions PER MICRO-BATCH
        # (each partition writes a checkpoint delta every batch): 128
        # batch-tuned partitions cost ~2.5s/batch in pure state commits
        # at this state size; 32 is the streaming-appropriate setting
        # for local[32] (measured 20.5s -> single-digit for the same 1M
        # events).  On a cluster this is the knob to size to state
        # volume, not to input volume.
        spark.conf.set("spark.sql.shuffle.partitions", "32")

        # round-5: measure BOTH state store providers.  The default
        # HDFSBackedStateStore keeps state on the JVM heap — at 100 TB
        # keyed-dedup state is the first thing that outgrows executor
        # heap; RocksDBStateStoreProvider (built into OSS Spark,
        # rocksdbjni ships in pyspark's jars) spills state to local
        # disk with a bounded block cache, trading per-op latency for
        # unbounded state capacity.  Same queries, same data, same
        # micro-batch cadence — the delta IS the provider overhead.
        _ROCKSDB = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )

        def run(name, build, provider=None):
            if provider:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", provider
                )
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            src = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 2)
                .format("parquet")
                .load(f"{stage}/events")
            )
            tag = "rocksdb" if provider else "heap"
            q = (
                build(src)
                .writeStream.format("noop")
                .option("checkpointLocation", f"{ckpt_root}/{name}-{tag}")
                .trigger(availableNow=True)
                .start()
            )
            t0 = time.time()
            q.awaitTermination()
            dt = time.time() - t0
            print(
                f"{name:26s} [{tag:7s}] {dt:7.2f}s   events={n_ev:,} "
                f"({n_ev / dt / 1e6:.2f} M events/s, 8 micro-batches)"
            )

        for provider in (None, _ROCKSDB):
            run(
                "stream windowed rollup",
                lambda s: windowed_rollup(
                    s, "ts", "1 hour",
                    {"n": F.count("*"), "v": F.sum("value")},
                    keys=["event_type"], watermark="30 minutes",
                ),
                provider,
            )
            run(
                "stream keyed dedup",
                lambda s: stream_dedup(
                    s, ["user_id", "event_type"], "ts", watermark="30 minutes"
                ),
                provider,
            )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt_root, ignore_errors=True)




def _curation20(spark, F, blow_up, read_table, mult) -> None:
    """Round-6: the model-based curation passes at mult× the sf0.1
    documents table — DSIR train/score and the 7-rule filter-cascade
    funnel.  The claims under test: training cost is bounded by the
    512-group count profile (not corpus size), scoring is one native
    pass, and the funnel costs the same scan as a single filter.
    Blown-up copies share text, so λ and per-doc weights are IDENTICAL
    to the 1× run — kept fraction must match the sf0.1 single-copy
    fraction, a correctness smoke at volume.
    """
    import time as _t

    from bertrand_spark.pipeline.curation import (
        cascade_report, train_dsir,
    )
    from bertrand_spark.pipeline.text import gopher_quality_flags

    docs = blow_up(
        read_table(spark, SF_DIR, "documents"), "doc_id"
    ).persist()
    n = docs.count()

    t0 = _t.time()
    model = train_dsir(
        docs.filter(F.col("lang") == "en"), docs, buckets=512
    )
    t_train = _t.time() - t0
    t0 = _t.time()
    w = model.log_weights(docs).persist()
    scored = w.count()
    kept = w.filter("keep").count()
    t_score = _t.time() - t0
    print(
        f"dsir: train {t_train:.1f}s over {n:,} docs (512-bucket "
        f"profiles), score {scored:,} docs in {t_score:.1f}s "
        f"({scored / t_score:,.0f} docs/s), kept {kept:,} "
        f"({kept / scored:.3f})"
    )
    w.unpersist()

    flags = gopher_quality_flags(F.col("text"))
    rules = [
        ("lang_en", F.col("lang") == "en"),
        *[(k, flags[k]) for k in (
            "wordcount_ok", "meanlen_ok", "symbol_ok",
            "alpha_ok", "stopword_ok",
        )],
    ]
    t0 = _t.time()
    rep = cascade_report(docs, rules).collect()
    t_funnel = _t.time() - t0
    survivors = rep[-1]["n_reaching"] - rep[-1]["n_failed"]
    print(
        f"cascade funnel: {len(rules)} rules over {n:,} docs in "
        f"{t_funnel:.1f}s ({n / t_funnel:,.0f} docs/s), "
        f"keep {survivors / n:.3f}"
    )
    docs.unpersist()




def _partsupp7(spark, F, blow_up, read_table, mult) -> None:
    """Round-7: the derived-partsupp TPC-H shapes (q58 Q2 / q59 Q11 /
    q60 Q20) at mult× part and supplier — partsupp is derived from
    part × supplier, so multiplying those two multiplies partsupp
    (mult=10 at sf0.1 ⇒ 200k part / 1k supplier / 800k partsupp,
    sf1-equivalent).  Replicated part rows keep their attributes, so
    q58's size/type filter and q59's per-part groups scale linearly;
    lineitem stays unmultiplied (q60's shipped-quantity semi chain is
    measured at a larger partsupp against the same fact volume — the
    new parts have no shipments and drop out of the semi, which is the
    correct semantics)."""
    import shutil
    import tempfile

    rel_dir = tempfile.mkdtemp(prefix="scale_ps7_")
    try:
        blow_up(read_table(spark, SF_DIR, "part"), "p_partkey").write.mode(
            "overwrite"
        ).parquet(f"{rel_dir}/part.parquet")
        blow_up(
            read_table(spark, SF_DIR, "supplier"), "s_suppkey"
        ).write.mode("overwrite").parquet(f"{rel_dir}/supplier.parquet")
        # only the tables q58/q59/q60 actually read (no orders/customer)
        for t in ("lineitem", "nation", "region"):
            read_table(spark, SF_DIR, t).write.mode("overwrite").parquet(
                f"{rel_dir}/{t}.parquet"
            )
        n_part = spark.read.parquet(f"{rel_dir}/part.parquet").count()

        from bertrand_spark.plans.queries import QUERIES

        for qname in (
            "q58_min_cost_supplier",
            "q59_important_stock",
            "q60_potential_promotion",
        ):
            fn = QUERIES[qname]
            fn(spark, rel_dir).write.mode("overwrite").format("noop").save()
            spark.catalog.clearCache()
            t0 = time.time()
            fn(spark, rel_dir).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            spark.catalog.clearCache()
            print(
                f"{qname:28s} {dt:7.2f}s   part_rows={n_part:,} "
                f"partsupp_rows={4 * n_part:,}"
            )
    finally:
        shutil.rmtree(rel_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
