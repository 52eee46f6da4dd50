"""Round-6 additions.

1. Store-backed STREAMING dedup (`stream_dedup_against_fingerprint_store`,
   `stream_curation_pipeline(store_table=...)`): the continuous-ingest
   history side is the bucketed fingerprint store, so the per-micro-batch
   stream-static anti join scans the store with NO Exchange — the same
   plan-shape guarantee TestBucketedFingerprintStore pins for batch,
   asserted here on the micro-batch executed plan, plus stream==batch
   parity.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from bertrand_spark.sources.reader import read_table


def run_stream(stream_df, mode="append"):
    """Start → drain (availableNow) → return (memory-table name, query)."""
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return name, q


def _walk_jplan(node):
    yield node
    if node.nodeName() == "InMemoryTableScan":
        # a persisted frame's plan hangs off the scan, not below it
        cached = node.relation().cachedPlan()
        if cached.nodeName() == "AdaptiveSparkPlan":
            cached = cached.initialPlan()
        yield from _walk_jplan(cached)
    cs = node.children()
    for i in range(cs.size()):
        yield from _walk_jplan(cs.apply(i))


class TestStoreBackedStreamDedup:
    """VERDICT r5 item 4: the streaming ingest path must use the bucketed
    fingerprint store, not an inline corpus frame."""

    @pytest.fixture()
    def store(self, spark, sf_dir, tmp_path):
        from bertrand_spark.pipeline.dedup import write_fingerprint_store

        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        hist = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        spark.sql("DROP TABLE IF EXISTS t_fp_store_r6")
        write_fingerprint_store(hist, "t_fp_store_r6", num_buckets=8)
        src = str(tmp_path / "docs_src")
        batch.write.parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        yield docs, hist, batch, stream
        spark.sql("DROP TABLE IF EXISTS t_fp_store_r6")

    def test_stream_equals_batch_store_path(self, spark, store):
        """Streamed ingest against the store == the batch
        exact_dedup_incremental_store on the same split (fingerprint
        sets — the within-stream dedup keeps SOME doc per fp)."""
        from bertrand_spark.pipeline.dedup import exact_dedup_incremental_store
        from bertrand_spark.pipeline.text import fingerprint
        from bertrand_spark.streaming.rollup import (
            stream_dedup_against_fingerprint_store,
        )

        docs, hist, batch, stream = store
        out = stream_dedup_against_fingerprint_store(
            stream, "t_fp_store_r6", "text"
        )
        name, _ = run_stream(out)
        got = {
            r["fp"]
            for r in spark.table(name)
            .select(fingerprint(F.col("text")).alias("fp"))
            .collect()
        }
        want = {
            r["fp"]
            for r in exact_dedup_incremental_store(batch, "t_fp_store_r6")
            .select(fingerprint(F.col("text")).alias("fp"))
            .collect()
        }
        assert got == want and len(got) > 0

    def test_micro_batch_history_side_has_no_exchange(self, spark, store):
        """The micro-batch executed plan's anti-join history side reads
        the store's buckets directly — no Exchange, Bucketed: true —
        with broadcast forbidden (at 100 TB the store dwarfs any
        micro-batch, so sort-merge IS the production plan)."""
        from bertrand_spark.streaming.rollup import (
            stream_dedup_against_fingerprint_store,
        )

        docs, hist, batch, stream = store
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = stream_dedup_against_fingerprint_store(
                stream, "t_fp_store_r6", "text"
            )
            _, q = run_stream(out)
            # StreamingQueryWrapper -> StreamExecution -> last micro-batch
            jplan = q._jsq.streamingQuery().lastExecution().executedPlan()
            if jplan.nodeName() == "AdaptiveSparkPlan":
                jplan = jplan.initialPlan()
            anti = next(
                n
                for n in _walk_jplan(jplan)
                if "Join" in n.nodeName()
                and "t_fp_store_r6" in n.children().apply(1).toString()
            )
            history = anti.children().apply(1).toString()
            assert "Exchange" not in history
            assert "Bucketed: true" in history
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_curation_pipeline_store_table(self, spark, store):
        """stream_curation_pipeline(store_table=...) == the inline-store
        variant on the same data; passing both stores raises."""
        from bertrand_spark.pipeline.text import fingerprint
        from bertrand_spark.streaming.rollup import stream_curation_pipeline

        docs, hist, batch, stream = store
        out_store = stream_curation_pipeline(
            stream, min_quality=0.5, store_table="t_fp_store_r6"
        )
        name_s, _ = run_stream(out_store)
        out_inline = stream_curation_pipeline(stream, hist, min_quality=0.5)
        name_i, _ = run_stream(out_inline)
        fps = lambda nm: {
            r["fp"]
            for r in spark.table(nm)
            .select(fingerprint(F.col("text")).alias("fp"))
            .collect()
        }
        assert fps(name_s) == fps(name_i) and len(fps(name_s)) > 0
        with pytest.raises(ValueError, match="not both"):
            stream_curation_pipeline(
                stream, hist, store_table="t_fp_store_r6"
            )


class TestCompactFingerprintStore:
    def test_compaction_dedups_preserves_results_and_buckets(
        self, spark, sf_dir
    ):
        """Appended batches repeat fingerprints; compaction collapses
        them without changing anti-join results, and the rewritten
        table keeps its bucket count (zero-Exchange join preserved)."""
        from bertrand_spark.pipeline.dedup import (
            compact_fingerprint_store,
            exact_dedup_incremental_store,
            write_fingerprint_store,
        )

        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        hist = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 2 == 1)
        spark.sql("DROP TABLE IF EXISTS t_fp_compact_r6")
        try:
            write_fingerprint_store(hist, "t_fp_compact_r6", num_buckets=8)
            # append the SAME fingerprints twice: pure duplicates
            write_fingerprint_store(
                hist, "t_fp_compact_r6", num_buckets=8, mode="append"
            )
            n_before = spark.table("t_fp_compact_r6").count()
            before = sorted(
                r["doc_id"]
                for r in exact_dedup_incremental_store(
                    batch, "t_fp_compact_r6"
                ).collect()
            )
            compact_fingerprint_store(spark, "t_fp_compact_r6")
            n_after = spark.table("t_fp_compact_r6").count()
            assert n_after < n_before and n_after == n_before // 2
            after = sorted(
                r["doc_id"]
                for r in exact_dedup_incremental_store(
                    batch, "t_fp_compact_r6"
                ).collect()
            )
            assert after == before
            # bucket spec survived the rewrite
            rows = spark.sql(
                "DESCRIBE TABLE EXTENDED t_fp_compact_r6"
            ).collect()
            spec = {r["col_name"]: r["data_type"] for r in rows}
            assert int(spec["Num Buckets"]) == 8
        finally:
            spark.sql("DROP TABLE IF EXISTS t_fp_compact_r6")
            spark.sql("DROP TABLE IF EXISTS t_fp_compact_r6__compact_tmp")


class TestDriverRotationInvariants:
    """The two-round rotation policy (plans/queries.py) is enforced by
    construction: 50 unique existing names fill the window, and the
    ORACLES dict rotates identically so the driver's first-50 slice
    compares the right pairs."""

    def test_window_is_50_unique_known_names(self):
        from bertrand_spark.plans.queries import (
            _DRIVER_ROTATION, ORACLES, QUERIES,
        )

        assert len(_DRIVER_ROTATION) == 50
        assert len(set(_DRIVER_ROTATION)) == 50
        assert all(name in QUERIES for name in _DRIVER_ROTATION)
        assert list(QUERIES)[:50] == _DRIVER_ROTATION
        assert list(ORACLES)[:50] == [
            n for n in _DRIVER_ROTATION if n in ORACLES
        ]

    def test_rotation_covers_last_rounds_gap(self):
        """Every query name absent from the last FULL ROTATION CYCLE of
        CORRECTNESS_r*.json artifacts must sit inside the next driver
        window — the invariant rounds 4 and 5 each broke once by hand.

        A cycle is ceil(N/50) artifacts: with N > 100 registered
        queries and a 50-slot driver window, two artifacts can never
        cover the full set, so the round-6 form of this test (newest
        artifact only — red the moment the driver wrote r06) and the
        naive two-artifact union are both mis-specified.  The staleness
        bound this enforces: no query's driver attestation is older
        than ceil(N/50) rounds unless it sits in the upcoming window or
        the machine-checked new-query deferral queue."""
        import glob
        import json
        import math
        import os

        from bertrand_spark.plans.queries import QUERIES

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        files = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
        if not files:
            pytest.skip("no driver correctness artifacts present")
        from bertrand_spark.plans.queries import _DEFERRED_NEW

        cycle = max(2, math.ceil(len(QUERIES) / 50))
        attested = set()
        for f in files[-cycle:]:
            attested |= set(json.load(open(f)))
        missing = [k for k in QUERIES if k not in attested]
        head = set(list(QUERIES)[:50])
        uncovered = [k for k in missing if k not in head]
        # a query with no driver history may sit outside the window ONLY
        # via the explicit deferral queue (window oversubscribed by the
        # stale-re-attestation backlog); anything else is the rounds-4/5
        # hand-rotation bug this test exists to catch
        stragglers = [k for k in uncovered if k not in _DEFERRED_NEW]
        assert stragglers == [], (
            f"queries lacking a current-round driver row are outside "
            f"the 50-slot window and not in _DEFERRED_NEW: {stragglers}"
        )
        assert all(k in QUERIES for k in _DEFERRED_NEW)
        # the queue is for NEW (never-attested) queries only — a query
        # with any driver history parked here would hide real staleness
        ever = set()
        for f in files:
            ever |= set(json.load(open(f)))
        assert not (set(_DEFERRED_NEW) & ever), (
            "deferral queue contains previously-attested queries"
        )


class TestFuzzyJoinBandStore:
    """fuzzy_join_band_store: the two-corpus MinHash join with the store
    side read from its persisted bucketed band table — identical pairs
    to the inline path, store-side candidate join exchange-free."""

    GEOM = dict(k=64, num_bands=16, shingle_n=5)

    @pytest.fixture()
    def corpus(self, spark, sf_dir):
        from bertrand_spark.pipeline.dedup import write_band_table

        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        store = docs.filter(F.col("doc_id") % 2 == 0).persist()
        store.count()
        near = store.limit(3).select(
            (F.col("doc_id") + 100_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        )
        batch = docs.filter(F.col("doc_id") % 2 == 1).unionByName(near)
        spark.sql("DROP TABLE IF EXISTS t_band_r6")
        write_band_table(
            store, "t_band_r6", num_buckets=8, **self.GEOM
        )
        yield store, batch
        spark.sql("DROP TABLE IF EXISTS t_band_r6")
        spark.sql("DROP TABLE IF EXISTS t_band_r6__params")
        store.unpersist()

    def test_pairs_equal_inline_path(self, spark, corpus):
        from bertrand_spark.pipeline.dedup import (
            fuzzy_join_band_store,
            fuzzy_join_minhash,
        )

        store, batch = corpus
        got = {
            (r["id_l"], r["id_r"], round(r["jaccard"], 9))
            for r in fuzzy_join_band_store(
                batch, "t_band_r6", store, threshold=0.6
            ).collect()
        }
        want = {
            (r["id_l"], r["id_r"], round(r["jaccard"], 9))
            for r in fuzzy_join_minhash(
                batch, store, threshold=0.6, **self.GEOM
            ).collect()
        }
        assert got == want and len(got) >= 3  # the 3 planted near-dups

    def test_candidate_join_store_side_has_no_exchange(self, spark, corpus):
        from bertrand_spark.pipeline.dedup import fuzzy_join_band_store

        store, batch = corpus
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = fuzzy_join_band_store(
                batch, "t_band_r6", store, threshold=0.6
            )
            jplan = out._jdf.queryExecution().executedPlan()
            if jplan.nodeName() == "AdaptiveSparkPlan":
                jplan = jplan.initialPlan()
            # the CANDIDATE join is the one keyed on (band, bucket) —
            # the later verify joins also reference the table's scans
            # (and use intentional candidate-sized broadcasts), so
            # select by join key, not by subtree content
            cand_join = next(
                n
                for n in _walk_jplan(jplan)
                if "Join" in n.nodeName()
                and "band#" in n.toString().splitlines()[0]
                and "t_band_r6" in n.children().apply(1).toString()
            )
            store_side = cand_join.children().apply(1).toString()
            assert "Exchange" not in store_side
            assert "Bucketed: true" in store_side
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_streamed_band_store_dedup_equals_inline(
        self, spark, corpus, tmp_path
    ):
        from bertrand_spark.pipeline.dedup import fuzzy_join_minhash
        from bertrand_spark.streaming import stream_fuzzy_dedup

        store, batch = corpus
        expected_hits = {
            r["id_l"]
            for r in fuzzy_join_minhash(
                batch, store, threshold=0.6, **self.GEOM
            ).collect()
        }
        expected_kept = {
            r["doc_id"] for r in batch.collect()
        } - expected_hits
        qdir = str(tmp_path / "in")
        batch.repartition(2).write.parquet(qdir)
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(qdir)
        )
        out = str(tmp_path / "kept")
        q = (
            stream.writeStream.foreachBatch(
                stream_fuzzy_dedup(
                    store, out, threshold=0.6, band_table="t_band_r6"
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        assert got == expected_kept


class TestBandTableAppendIngestLoop:
    """write_band_table(mode='append'): the continuous-ingest loop —
    dedup batch N against the store, append the kept rows' bands, batch
    N+1 then dedups against them too.  Geometry is pinned by __params;
    a mismatched append is refused."""

    GEOM = dict(k=64, num_bands=16, shingle_n=5)

    def test_ingest_loop_sees_appended_batch(self, spark, sf_dir):
        from bertrand_spark.pipeline.dedup import (
            fuzzy_join_band_store,
            fuzzy_join_minhash,
            write_band_table,
        )

        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        base = docs.filter(F.col("doc_id") % 4 == 0).persist()
        base.count()
        batch1 = docs.filter(F.col("doc_id") % 4 == 1)
        # batch2 plants a near-copy of a BATCH-1 doc: only visible to
        # the store path if batch1's bands were actually appended
        seed = batch1.limit(1).select(
            (F.col("doc_id") + 500_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        )
        batch2 = docs.filter(F.col("doc_id") % 4 == 2).unionByName(seed)
        spark.sql("DROP TABLE IF EXISTS t_band_append_r6")
        try:
            write_band_table(
                base, "t_band_append_r6", num_buckets=8, **self.GEOM
            )
            write_band_table(
                batch1, "t_band_append_r6", num_buckets=8, mode="append",
                **self.GEOM,
            )
            corpus = base.unionByName(batch1).persist()
            corpus.count()
            got = {
                (r["id_l"], r["id_r"], round(r["jaccard"], 9))
                for r in fuzzy_join_band_store(
                    batch2, "t_band_append_r6", corpus, threshold=0.6
                ).collect()
            }
            want = {
                (r["id_l"], r["id_r"], round(r["jaccard"], 9))
                for r in fuzzy_join_minhash(
                    batch2, corpus, threshold=0.6, **self.GEOM
                ).collect()
            }
            assert got == want
            # the planted near-copy of the batch-1 doc IS caught
            planted = {r["doc_id"] for r in seed.collect()}
            assert planted <= {p[0] for p in got}
            corpus.unpersist()
        finally:
            spark.sql("DROP TABLE IF EXISTS t_band_append_r6")
            spark.sql("DROP TABLE IF EXISTS t_band_append_r6__params")
            base.unpersist()

    def test_append_refuses_geometry_mismatch(self, spark, sf_dir):
        from bertrand_spark.pipeline.dedup import write_band_table

        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        ).limit(20)
        spark.sql("DROP TABLE IF EXISTS t_band_geom_r6")
        try:
            write_band_table(
                docs, "t_band_geom_r6", num_buckets=4, **self.GEOM
            )
            with pytest.raises(ValueError, match="geometry mismatch"):
                write_band_table(
                    docs, "t_band_geom_r6", num_buckets=4, mode="append",
                    k=128, num_bands=32, shingle_n=5,
                )
            with pytest.raises(ValueError, match="__params"):
                write_band_table(
                    docs, "t_band_nonexistent_r6", num_buckets=4,
                    mode="append", **self.GEOM,
                )
        finally:
            spark.sql("DROP TABLE IF EXISTS t_band_geom_r6")
            spark.sql("DROP TABLE IF EXISTS t_band_geom_r6__params")


class TestStreamAnnEnrichPq:
    def test_streamed_pq_topk_equals_batch(self, spark, sf_dir, tmp_path):
        """PQ-compressed streaming ANN serving (round 6): streamed
        micro-batch ivf_pq_topk union == the batch call on the same
        queries — the serving tier holds codes, not vectors."""
        from bertrand_spark.pipeline.similarity import (
            ivf_build, ivf_pq_topk, pq_encode, pq_train,
        )
        from bertrand_spark.streaming import stream_ann_enrich

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned, cents = ivf_build(emb, num_cells=4, seed=5)
        cb = pq_train(
            assigned, "embedding", m=8, nbits=6, seed=7, centroids=cents
        )
        enc = pq_encode(
            assigned, cb, "embedding", centroids=cents
        ).persist()
        enc.count()

        queries = emb.limit(30).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        expected = {
            (r["q_id"], r["vec_id"], r["rank"])
            for r in ivf_pq_topk(
                enc, cents, cb, queries, k=3, nprobe=2,
                q_vec_col="q_vec", residual=True,
            ).collect()
        }

        qdir = str(tmp_path / "queries")
        queries.repartition(3).write.parquet(qdir)
        stream = (
            spark.readStream.schema(queries.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(qdir)
        )
        out = str(tmp_path / "enriched")
        q = (
            stream.writeStream.foreachBatch(
                stream_ann_enrich(
                    enc, cents, out, k=3, nprobe=2,
                    codebooks=cb, residual=True,
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["q_id"], r["vec_id"], r["rank"])
            for r in spark.read.parquet(out).collect()
        }
        assert got == expected and len(got) > 0
        enc.unpersist()


class TestIvfAppend:
    def test_appended_vectors_are_searchable_and_assignment_matches(
        self, spark, sf_dir, tmp_path
    ):
        """ivf_append: new batch joins a persisted index without
        reclustering — the reloaded index equals assigning the union
        inline with the SAME centroids, and an appended vector finds
        itself under exhaustive probes."""
        from bertrand_spark.pipeline.similarity import (
            ivf_append, ivf_assign, ivf_build, ivf_read, ivf_topk,
            ivf_write,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base = emb.filter(F.col("vec_id") % 2 == 0)
        batch = emb.filter(F.col("vec_id") % 2 == 1).limit(50)
        assigned, cents = ivf_build(base, num_cells=4, seed=5)
        idx = str(tmp_path / "ivf")
        ivf_write(assigned, cents, idx)
        ivf_append(spark, idx, batch)
        reloaded, cents2 = ivf_read(spark, idx)
        assert cents2 == cents
        got = {
            (r["vec_id"], r["__cell"])
            for r in reloaded.select("vec_id", "__cell").collect()
        }
        want = {
            (r["vec_id"], r["__cell"])
            for r in ivf_assign(base.unionByName(batch), cents)
            .select("vec_id", "__cell").collect()
        }
        assert got == want
        # an appended vector is its own nearest neighbor, exhaustively
        probe = batch.limit(3).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        top = ivf_topk(reloaded, cents, probe, k=1, nprobe=4)
        assert all(r["q_id"] == r["vec_id"] for r in top.collect())

    def test_pq_index_append_keeps_codes_complete(
        self, spark, sf_dir, tmp_path
    ):
        """Appending to a PQ-served index with codebooks= encodes the
        batch too: every stored row keeps non-null __pq, the appended
        rows' codes equal a direct pq_encode with the same books, and
        ivf_pq_topk serves the appended rows."""
        from bertrand_spark.pipeline.similarity import (
            ivf_append, ivf_assign, ivf_build, ivf_pq_topk, ivf_read,
            ivf_write, pq_encode, pq_train,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base = emb.filter(F.col("vec_id") % 2 == 0)
        batch = emb.filter(F.col("vec_id") % 2 == 1).limit(40)
        assigned, cents = ivf_build(base, num_cells=4, seed=5)
        cb = pq_train(
            assigned, "embedding", m=8, nbits=6, seed=7, centroids=cents
        )
        enc = pq_encode(assigned, cb, "embedding", centroids=cents)
        idx = str(tmp_path / "ivf_pq")
        ivf_write(enc, cents, idx)
        ivf_append(spark, idx, batch, codebooks=cb, residual=True)
        reloaded, _ = ivf_read(spark, idx)
        assert reloaded.filter(F.col("__pq").isNull()).count() == 0
        # appended rows' codes == direct encode with the same books
        direct = {
            r["vec_id"]: list(r["__pq"])
            for r in pq_encode(
                ivf_assign(batch, cents), cb, "embedding", centroids=cents
            ).select("vec_id", "__pq").collect()
        }
        stored = {
            r["vec_id"]: list(r["__pq"])
            for r in reloaded.join(
                batch.select("vec_id"), "vec_id", "left_semi"
            ).select("vec_id", "__pq").collect()
        }
        assert stored == direct
        probe = batch.limit(3).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        served = ivf_pq_topk(
            reloaded, cents, cb, probe, k=5, nprobe=4,
            q_vec_col="q_vec", residual=True,
        )
        by_q = {}
        for r in served.collect():
            by_q.setdefault(r["q_id"], []).append(r["vec_id"])
        assert set(by_q) == {r["q_id"] for r in probe.collect()}
        # the appended vector itself appears in its own top-5
        assert all(q in vs for q, vs in by_q.items())


class TestQualityClassifier:
    """GPT-3-style model-based quality filter (Brown et al. 2020 App. A):
    LR over hashed n-gram features, deterministic Pareto acceptance."""

    @pytest.fixture(scope="class")
    def corpus(self, spark, sf_dir):
        docs = (
            read_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.length("text") > 50)
        )
        # negatives: degenerate token soup of the same length profile —
        # separable from real prose, as a crawl-junk stand-in
        junk = docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(
                F.lit("zqx jkw vbn "),
                F.repeat(
                    F.lit("lorem zz qq xx yy kk jj ww vv "),
                    (F.length("text") / 30).cast("int") + 1,
                ),
            ).alias("text"),
        )
        return docs.persist(), junk.persist()

    def test_separates_held_out_docs(self, spark, corpus):
        from bertrand_spark.pipeline.curation import (
            train_quality_classifier,
        )

        docs, junk = corpus
        pos_tr = docs.filter(F.col("doc_id") % 2 == 0)
        neg_tr = junk.filter(F.col("doc_id") % 2 == 0)
        clf = train_quality_classifier(pos_tr, neg_tr, dim=1024)
        held_pos = clf.score(docs.filter(F.col("doc_id") % 2 == 1))
        held_neg = clf.score(junk.filter(F.col("doc_id") % 2 == 1))
        p_acc = held_pos.filter(F.col("quality_prob") > 0.5).count() / max(
            held_pos.count(), 1
        )
        n_acc = held_neg.filter(F.col("quality_prob") < 0.5).count() / max(
            held_neg.count(), 1
        )
        assert p_acc > 0.9 and n_acc > 0.9

    def test_pareto_filter_deterministic_and_selective(self, spark, corpus):
        from bertrand_spark.pipeline.curation import (
            train_quality_classifier,
        )

        docs, junk = corpus
        clf = train_quality_classifier(docs, junk, dim=1024)
        mixed = docs.unionByName(junk)
        kept1 = {r["doc_id"] for r in clf.pareto_filter(mixed).collect()}
        kept2 = {
            r["doc_id"]
            for r in clf.pareto_filter(mixed.repartition(7)).collect()
        }
        assert kept1 == kept2  # md5-derived draw: repartition-stable
        n_docs = docs.count()
        kept_pos = sum(1 for i in kept1 if i < 1_000_000)
        kept_neg = len(kept1) - kept_pos
        # real docs kept at high rate; junk mostly rejected but the
        # Pareto tail admits SOME (the distribution-collapse guard)
        assert kept_pos / n_docs > 0.8
        assert kept_neg < kept_pos

    def test_save_load_roundtrip_scores_identical(
        self, spark, corpus, tmp_path
    ):
        from bertrand_spark.pipeline.curation import (
            QualityClassifier, train_quality_classifier,
        )

        docs, junk = corpus
        clf = train_quality_classifier(
            docs.limit(100), junk.limit(100), dim=256, ngram=1
        )
        path = str(tmp_path / "qclf")
        clf.save(path)
        clf2 = QualityClassifier.load(spark, path)
        assert (clf2.dim, clf2.ngram, clf2.seed) == (256, 1, 42)
        sample = docs.limit(20)
        a = {
            r["doc_id"]: round(r["quality_prob"], 12)
            for r in clf.score(sample).collect()
        }
        b = {
            r["doc_id"]: round(r["quality_prob"], 12)
            for r in clf2.score(sample).collect()
        }
        assert a == b


class TestCharLm:
    """CCNet-style (Wenzek et al. 2020) char-n-gram LM perplexity:
    in-distribution held-out text scores lower than junk; the whole
    scoring plan is native (no Python)."""

    @pytest.fixture(scope="class")
    def lm(self, spark, sf_dir):
        from bertrand_spark.pipeline.text import train_char_lm

        docs = (
            read_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.length("text") > 50)
        )
        train = docs.filter(F.col("doc_id") % 2 == 0)
        return train_char_lm(train, n=4, top_k=100_000), docs

    def test_held_out_real_beats_junk(self, spark, lm):
        model, docs = lm
        held = docs.filter(F.col("doc_id") % 2 == 1)
        junk = held.select(
            "doc_id",
            F.concat(
                F.lit("zqxj kwvb "),
                F.repeat(F.lit("qzk wxj vqb zzj "), 20),
            ).alias("text"),
        )
        real_med = (
            model.perplexity(held)
            .approxQuantile("lm_ppl", [0.5], 0.01)[0]
        )
        junk_med = (
            model.perplexity(junk)
            .approxQuantile("lm_ppl", [0.5], 0.01)[0]
        )
        assert real_med < junk_med / 2  # clear separation, not jitter
        # per-doc: the overwhelming majority of real docs beat junk's
        # median too (the filterable signal, not just aggregate)
        n_held = held.count()
        n_better = (
            model.perplexity(held)
            .filter(F.col("lm_ppl") < junk_med)
            .count()
        )
        assert n_better / n_held > 0.95

    def test_short_doc_null_and_determinism(self, spark, lm):
        model, docs = lm
        tiny = spark.createDataFrame(
            [(1, "ab"), (2, "a reasonable english sentence here")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["lm_ppl"] for r in model.perplexity(tiny).collect()}
        assert 1 not in out  # no n-grams → no row
        assert out[2] > 0
        again = {
            r["doc_id"]: r["lm_ppl"]
            for r in model.perplexity(tiny.repartition(5)).collect()
        }
        assert out == again

    def test_save_load_scores_identical(self, spark, lm, tmp_path):
        from bertrand_spark.pipeline.text import CharLM

        model, docs = lm
        path = str(tmp_path / "charlm")
        model.save(path)
        model2 = CharLM.load(spark, path)
        assert (model2.n, model2.alpha, model2.vocab) == (
            model.n, model.alpha, model.vocab,
        )
        sample = docs.limit(20)
        a = {
            r["doc_id"]: round(r["lm_ppl"], 9)
            for r in model.perplexity(sample).collect()
        }
        b = {
            r["doc_id"]: round(r["lm_ppl"], 9)
            for r in model2.perplexity(sample).collect()
        }
        assert a == b

    def test_scoring_plan_is_native(self, spark, lm):
        """No Python evaluation nodes in the scoring plan — the 100 TB
        pass must stay JVM-side."""
        model, docs = lm
        plan = (
            model.perplexity(docs.limit(100))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan and "BatchEval" not in plan


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _make_png(w, h, depth, ctype, interlace, raw_scanlines: bytes) -> bytes:
    """Minimal PNG writer for decoder tests: caller supplies the
    already-filtered scanline stream; this wraps IHDR/IDAT/IEND."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw_scanlines))
        + _png_chunk(b"IEND", b"")
    )


def _adam7_scanlines(px, bpp):
    """Filter-0 Adam7 pass stream for an (h, w, bpp) uint8 array."""
    import numpy as np

    h, w = px.shape[:2]
    grid = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    out = bytearray()
    for x0, y0, dx, dy in grid:
        sub = px[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            out += b"\x00" + row.astype(np.uint8).tobytes()
    return bytes(out)


class TestPng16AndAdam7:
    """Round-6: the stdlib fallback decodes 16-bit and Adam7 PNGs (the
    two gaps rounds 4-5 documented as NULL-by-contract)."""

    def test_16bit_gray_high_byte(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _png_decode

        vals = np.array(
            [[0x1234, 0xFF00], [0x0001, 0xABCD], [0x8000, 0x7FFF]],
            dtype=">u2",
        )  # 2x3
        raw = b"".join(b"\x00" + row.tobytes() for row in vals)
        png = _make_png(2, 3, 16, 0, 0, raw)
        w, h, c, buf = _png_decode(png, 1)
        assert (w, h, c) == (2, 3, 1)
        got = np.frombuffer(buf, dtype=np.uint8).reshape(3, 2)
        assert (got == (vals.astype(np.uint16) >> 8)).all()

    def test_16bit_rgb_with_sub_filter_uses_bpp_lane(self):
        """Filter 1 (Sub) on 16-bit RGB: the left-predictor distance is
        6 BYTES (bpp), not 3 — the exact bug a naive channel-count lane
        would introduce."""
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _png_decode

        rng = np.random.default_rng(7)
        px = rng.integers(0, 1 << 16, size=(2, 3, 3), dtype=np.uint16)
        be = px.astype(">u2")
        row_bytes = [
            np.frombuffer(be[y].tobytes(), dtype=np.uint8) for y in range(2)
        ]
        bpp = 6
        out = bytearray()
        out += b"\x00" + row_bytes[0].tobytes()  # row 0: filter 0
        r = row_bytes[1].astype(np.int32)  # row 1: filter 1 (Sub)
        filt = r.copy()
        filt[bpp:] = (r[bpp:] - r[:-bpp]) % 256
        out += b"\x01" + filt.astype(np.uint8).tobytes()
        png = _make_png(3, 2, 16, 2, 0, bytes(out))
        w, h, c, buf = _png_decode(png, 3)
        assert (w, h, c) == (3, 2, 3)
        got = np.frombuffer(buf, dtype=np.uint8).reshape(2, 3, 3)
        assert (got == (px >> 8).astype(np.uint8)).all()

    def test_adam7_rgb_equals_noninterlaced(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            _png_decode, png_encode,
        )

        rng = np.random.default_rng(11)
        px = rng.integers(0, 256, size=(5, 5, 3), dtype=np.uint8)
        plain = png_encode(5, 5, 3, px.tobytes())
        interlaced = _make_png(5, 5, 8, 2, 1, _adam7_scanlines(px, 3))
        assert _png_decode(interlaced, 3) == _png_decode(plain, 3)
        got = np.frombuffer(_png_decode(interlaced, 3)[3], np.uint8)
        assert (got.reshape(5, 5, 3) == px).all()

    def test_adam7_16bit_gray_combined(self):
        import numpy as np

        from bertrand_spark.pipeline.multimodal import _png_decode

        rng = np.random.default_rng(13)
        vals = rng.integers(0, 1 << 16, size=(4, 3), dtype=np.uint16)
        byte_px = np.frombuffer(
            vals.astype(">u2").tobytes(), dtype=np.uint8
        ).reshape(4, 3, 2)
        png = _make_png(3, 4, 16, 0, 1, _adam7_scanlines(byte_px, 2))
        w, h, c, buf = _png_decode(png, 1)
        assert (w, h, c) == (3, 4, 1)
        got = np.frombuffer(buf, dtype=np.uint8).reshape(4, 3)
        assert (got == (vals >> 8).astype(np.uint8)).all()

    def test_subbyte_depth_still_null(self):
        from bertrand_spark.pipeline.multimodal import _png_decode

        png = _make_png(2, 1, 4, 0, 0, b"\x00\x12")
        assert _png_decode(png, 3) == (None, None, None, None)


class TestNullClassSplitInDecodeReport:
    def test_variant_vs_no_decoder_vs_other(self, spark):
        """Round-6 (VERDICT item 8): the report distinguishes
        'unsupported-variant NULL' (sub-byte depth / unknown color type
        — corpus problem) from 'no-decoder NULL' (JPEG under the stdlib
        fallback — deployment problem) from other (corrupt); and since
        the round-6 decoder landed, well-formed 16-bit and Adam7 PNGs
        DECODE rather than count as variants."""
        import warnings

        import numpy as np

        from bertrand_spark.pipeline.multimodal import (
            decode_format_report, decode_images, png_encode,
        )

        png = png_encode(2, 2, 3, bytes(12))
        vals = np.array([[1, 2]], dtype=">u2")
        png16 = _make_png(2, 1, 16, 0, 0, b"\x00" + vals.tobytes())
        px = np.zeros((2, 2, 3), dtype=np.uint8)
        png_adam7 = _make_png(2, 2, 8, 2, 1, _adam7_scanlines(px, 3))
        png4bit = _make_png(2, 1, 4, 0, 0, b"\x00\x12")
        jpeg = b"\xff\xd8\xff\xe0" + b"notarealjpeg" * 4
        corrupt_png = png[:40]  # truncated mid-IDAT: depth 8, still NULL
        df = spark.createDataFrame(
            [(1, png), (2, png16), (3, png_adam7), (4, jpeg),
             (5, corrupt_png), (6, png4bit)],
            "media_id long, payload binary",
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            decoded = decode_images(df, decode="real")
        rep = {
            r["sniffed_format"]: r
            for r in decode_format_report(df, decoded).collect()
        }
        png_row = rep["png"]
        # 16-bit and Adam7 now DECODE; 4-bit is the variant NULL
        assert png_row["n_total"] == 5 and png_row["n_decoded"] == 3
        assert png_row["n_null_unsupported_variant"] == 1
        assert png_row["n_null_no_decoder"] == 0
        assert png_row["n_null_other"] == 1  # the truncated one
        jpg_row = rep["jpeg"]
        assert jpg_row["n_null"] == 1
        # round 7: the stdlib fallback gained a baseline JPEG decoder,
        # so a nulled JPEG is no longer 'no decoder' — this payload is
        # garbage after the magic bytes, i.e. corrupt → n_null_other
        assert jpg_row["n_null_no_decoder"] == 0
        assert jpg_row["n_null_other"] == 1
        assert jpg_row["n_null_unsupported_variant"] == 0


class TestVectorizedPqEncode:
    """Round-6 (VERDICT item 6): pq_encode's kernel is batch-vectorized
    (chunked GEMM per subspace).  Codes must equal the row-at-a-time
    reference formula exactly — same float64 arithmetic, only layout
    changes — including in residual mode and around NULL rows."""

    def test_codes_match_rowloop_reference(self, spark, sf_dir):
        import numpy as np

        from bertrand_spark.pipeline.similarity import (
            ivf_build, pq_encode, pq_train,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned, centroids = ivf_build(e, num_cells=8, seed=42)
        cb = pq_train(
            assigned, "embedding", m=4, nbits=4, seed=3,
            centroids=centroids,
        )
        got = {
            r["vec_id"]: list(r["__pq"])
            for r in pq_encode(
                assigned, cb, "embedding", centroids=centroids
            ).select("vec_id", "__pq").collect()
        }
        cbn = [np.array(c) for c in cb]
        C = np.array(centroids)
        m, dsub = len(cbn), cbn[0].shape[1]

        def ref_codes(x):
            return [
                int(
                    (((x[j * dsub:(j + 1) * dsub][None, :] - cbn[j]) ** 2)
                     .sum(axis=1)).argmin()
                )
                for j in range(m)
            ]

        rows = assigned.select("vec_id", "embedding", "__cell").collect()
        mismatches = [
            r["vec_id"]
            for r in rows
            if got[r["vec_id"]]
            != ref_codes(
                np.asarray(r["embedding"], dtype=np.float64)
                - C[int(r["__cell"])]
            )
        ]
        assert mismatches == [] and len(got) > 0

    def test_null_rows_stay_null_between_encoded_rows(self, spark):
        from pyspark.sql import types as T

        from bertrand_spark.pipeline.similarity import pq_encode, pq_train

        data = [
            (1, [1.0, 2.0, 3.0, 4.0]),
            (2, None),
            (3, [4.0, 3.0, 2.0, 1.0]),
            (4, None),
            (5, [0.0, 0.0, 1.0, 1.0]),
        ]
        df = spark.createDataFrame(
            data,
            T.StructType(
                [
                    T.StructField("vec_id", T.LongType()),
                    T.StructField(
                        "embedding", T.ArrayType(T.DoubleType())
                    ),
                ]
            ),
        )
        cb = pq_train(df, "embedding", m=2, nbits=2, seed=1)
        out = {
            r["vec_id"]: r["__pq"]
            for r in pq_encode(df, cb, "embedding").collect()
        }
        assert out[2] is None and out[4] is None
        assert all(
            out[i] is not None and len(out[i]) == 2 for i in (1, 3, 5)
        )


class TestSemanticDedupBucketed:
    """x43: SemDeDup-style bucketed dedup — bucket determinism, the
    dominated-pair keep rule, and the documented bucket-local recall
    contract."""

    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_dominated_pair_rule_and_bucket_locality(self, spark):
        from bertrand_spark.pipeline.similarity import (
            semantic_dedup_bucketed,
        )

        # dims 1-2 drive the bucket (bits=2); the tail carries identity
        a = [1.0, 1.0, 1.0, 0.0]      # bucket 3
        a_dup = [1.0, 1.0, 0.9, 0.0]  # bucket 3, cos(a)≈0.995
        b = [-1.0, 1.0, 1.0, 0.0]     # bucket 2
        b_dup = [1.0, 1.0, -0.9, 1.9]  # bucket 3: near-dup of NOTHING
        rows = [(1, a), (2, a_dup), (3, b), (4, b_dup), (5, None)]
        kept = semantic_dedup_bucketed(
            self._df(spark, rows), threshold=0.9, bits=2
        )
        got = {r["vec_id"]: r["bucket"] for r in kept.collect()}
        # 2 dominated by 1 (same bucket, cos≥0.9); 3 kept (own bucket);
        # 4 kept (same bucket as 1 but cos<0.9); NULL row excluded
        assert got == {1: 3, 3: 2, 4: 3}

    def test_cross_bucket_dup_kept_by_contract(self, spark):
        from bertrand_spark.pipeline.similarity import (
            semantic_dedup_bucketed,
        )

        # identical tails, dim-1 sign flip ⇒ different buckets ⇒ the
        # near-dup (cos≈0.98) is OUT of contract and both rows survive
        rows = [
            (1, [0.1, 1.0, 1.0, 1.0]),
            (2, [-0.1, 1.0, 1.0, 1.0]),
        ]
        kept = semantic_dedup_bucketed(
            self._df(spark, rows), threshold=0.9, bits=1
        )
        assert kept.count() == 2

    def test_repartition_stable(self, spark, sf_dir):
        from bertrand_spark.pipeline.similarity import (
            semantic_dedup_bucketed,
        )

        e = read_table(spark, sf_dir, "embeddings")
        k1 = {
            r["vec_id"]
            for r in semantic_dedup_bucketed(e, bits=6).collect()
        }
        k2 = {
            r["vec_id"]
            for r in semantic_dedup_bucketed(
                e.repartition(13), bits=6
            ).collect()
        }
        assert k1 == k2 and 0 < len(k1) <= e.count()


class TestExhaustDoesNotPoisonSession:
    """Regression: pyspark 4.1's classic session lazily creates a
    non-serializable ObservationManager on first Observation use; the
    old Observation-backed exhaust() then broke EVERY later job that
    java-serializes the session (e.g. Spark ML model.transform, whose
    training summary pins it) with NotSerializableException.  exhaust()
    is now Observation-free and scoring is a fused Arrow kernel — this
    test runs the exact failing sequence."""

    def test_exhaust_then_ml_transform(self, spark):
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.functions import array_to_vector, vector_to_array

        from bertrand_spark.operators.rows import exhaust

        assert exhaust(spark.range(50)) == 50
        train = spark.createDataFrame(
            [([0.0, 1.0], 0.0), ([1.0, 0.0], 1.0)] * 10,
            "arr array<double>, label double",
        ).select(array_to_vector(F.col("arr")).alias("features"), "label")
        m = LogisticRegression(maxIter=5).fit(train)
        out = m.transform(train).withColumn(
            "p", vector_to_array(F.col("probability")).getItem(1)
        )
        # forces the probability ScalaUDF to serialize and execute
        assert out.filter(F.col("p") > 0.5).count() == 10

    def test_exhaust_reads_every_column(self, spark):
        from bertrand_spark.operators.rows import exhaust

        df = spark.range(10).select(
            F.col("id"),
            F.col("id").cast("string").alias("s"),
            F.create_map(F.lit("k"), F.col("id")).alias("m"),
            F.array(F.col("id")).alias("a"),
        )
        assert exhaust(df) == 10


class TestContaminationReport:
    """x44: per-benchmark-doc dirtiness (GPT-3 App. C train-test
    overlap) — planted-leak fractions, short-doc exclusion."""

    def test_planted_overlap_fractions(self, spark):
        from bertrand_spark.pipeline.curation import contamination_report

        w = "tok{} " * 1  # noqa: F841  (readability anchor)
        mk = lambda *ws: " ".join(ws)  # noqa: E731
        train_text = mk(*[f"t{i}" for i in range(20)])
        corpus = spark.createDataFrame(
            [(100, train_text), (101, mk(*[f"u{i}" for i in range(12)]))],
            "doc_id long, text string",
        )
        # bench doc 1: verbatim leak of train doc 100 → dirty_frac 1.0
        # bench doc 2: first 8 tokens of 100 + 12 fresh → 1 dirty of 13
        # bench doc 3: disjoint → 0.0;  bench doc 4: 7 tokens → excluded
        bench = spark.createDataFrame(
            [
                (1, train_text),
                (2, mk(*[f"t{i}" for i in range(8)],
                       *[f"z{i}" for i in range(12)])),
                (3, mk(*[f"q{i}" for i in range(10)])),
                (4, mk(*[f"s{i}" for i in range(7)])),
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in contamination_report(corpus, bench, n=8).collect()
        }
        assert set(rows) == {1, 2, 3}
        assert rows[1]["n_grams"] == 13 and rows[1]["dirty_frac"] == 1.0
        assert rows[2]["n_grams"] == 13 and rows[2]["n_dirty"] == 1
        assert rows[3]["n_dirty"] == 0 and rows[3]["dirty_frac"] == 0.0


class TestSemanticDedupIvf:
    """True SemDeDup: trained k-means cells + the shared dominated-pair
    kernel.  No SQL oracle (k-means is iterative) — instead a driver-
    side replay of the keep rule over the ACTUAL cell assignment."""

    def test_keep_rule_replay_on_testdata(self, spark, sf_dir):
        import numpy as np

        from bertrand_spark.pipeline.similarity import (
            ivf_assign,
            ivf_build,
            semantic_dedup_ivf,
        )

        e = read_table(spark, sf_dir, "embeddings")
        base = e.select("vec_id", F.col("embedding").cast("array<double>").alias("__v"))
        _, cents = ivf_build(base, num_cells=8, vec_col="__v")
        kept = semantic_dedup_ivf(
            e, threshold=0.45, centroids=cents
        ).collect()
        kept_ids = {r["vec_id"] for r in kept}
        # replay: same assignment, driver-side pairwise check
        rows = ivf_assign(base, cents, "__v").collect()
        by_cell: dict = {}
        for r in rows:
            by_cell.setdefault(r["__cell"], []).append(
                (r["vec_id"], np.array(r["__v"]))
            )
        expect = set()
        for cell, members in by_cell.items():
            members.sort(key=lambda t: t[0])
            M = np.stack([v for _, v in members])
            n = np.linalg.norm(M, axis=1)
            n[n == 0] = 1.0
            S = (M / n[:, None]) @ (M / n[:, None]).T
            for i, (vid, _) in enumerate(members):
                if not (S[i, :i] >= 0.45).any():
                    expect.add(vid)
        assert kept_ids == expect and 0 < len(kept_ids) <= len(rows)

    def test_exact_duplicate_never_survives(self, spark, sf_dir):
        from bertrand_spark.pipeline.similarity import semantic_dedup_ivf

        e = read_table(spark, sf_dir, "embeddings").limit(100)
        dup = e.filter(F.col("vec_id") == 3).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
        )
        kept = {
            r["vec_id"]
            for r in semantic_dedup_ivf(
                e.unionByName(dup), threshold=0.99, num_cells=4
            ).collect()
        }
        # identical vectors share a cell (distance 0) at ANY clustering,
        # so the higher-id copy is always dominated
        assert 1_000_003 not in kept and 3 in kept


class TestLateRoundTpchShapes:
    """q51-q57 (TPC-H Q8/Q9/Q13/Q17/Q19/Q21/Q15 shapes) — semantics are
    oracle-gated at sf0.01; these pin the PLAN properties the
    docstrings claim, which the oracle cannot see."""

    def _plan(self, spark, sf_dir, name):
        from bertrand_spark.plans.queries import QUERIES

        return (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    def test_q55_disjunction_decomposed_to_both_scans(self, spark, sf_dir):
        plan = self._plan(spark, sf_dir, "q55_disjunctive_revenue")
        # derived single-side implications must reach the scans...
        li_scan = next(
            ln for ln in plan.splitlines()
            if "FileScan" in ln and "l_quantity" in ln
        )
        assert "l_quantity" in li_scan.split("DataFilters:")[-1]
        p_filter = next(
            ln for ln in plan.splitlines()
            if "Filter" in ln and "p_brand" in ln and "p_size" in ln
        )
        assert "Brand#3" in p_filter
        # ...while the full cross-table OR survives as the join residual
        join_line = next(ln for ln in plan.splitlines() if "HashJoin" in ln)
        assert "OR" in join_line or "||" in join_line

    def test_q53_left_join_keeps_zero_order_customers(self, spark, sf_dir):
        from bertrand_spark.plans.queries import QUERIES

        plan = self._plan(spark, sf_dir, "q53_customer_distribution")
        # the priority predicate must NOT demote the join to inner
        join_line = next(
            ln for ln in plan.splitlines()
            if "HashJoin" in ln or "SortMergeJoin" in ln
        )
        assert "LeftOuter" in join_line
        rows = {
            r["c_count"]: r["custdist"]
            for r in QUERIES["q53_customer_distribution"](
                spark, sf_dir
            ).collect()
        }
        assert 0 in rows  # zero-order customers form a real bucket

    def test_q54_decorrelated_single_pass(self, spark, sf_dir):
        plan = self._plan(spark, sf_dir, "q54_small_quantity_revenue")
        # the per-part threshold joins back via broadcast — the naive
        # correlated form would re-aggregate under a shuffled join
        assert plan.count("BroadcastHashJoin") >= 2
        assert "CartesianProduct" not in plan

    def test_q56_one_aggregate_replaces_both_exists(self, spark, sf_dir):
        plan = self._plan(spark, sf_dir, "q56_waiting_supplier")
        # the rewrite must not materialize correlated self-joins:
        # no left-semi / left-anti pair over lineitem
        assert "LeftSemi" not in plan and "LeftAnti" not in plan
        # countDistinct pair → exactly one per-order aggregate chain
        # (partial+final expand), not two independent groupings
        assert plan.count("Expand") <= 2

    def test_q57_ties_preserved_not_limit1(self, spark, sf_dir):
        from bertrand_spark.plans.queries import QUERIES

        plan = self._plan(spark, sf_dir, "q57_top_supplier")
        assert "GlobalLimit" not in plan  # WHERE = max, not LIMIT 1
        out = QUERIES["q57_top_supplier"](spark, sf_dir).collect()
        assert len(out) >= 1
        assert len({r["total_revenue"] for r in out}) == 1


class TestFilterCascade:
    def test_first_fail_attribution_order(self, spark):
        from bertrand_spark.pipeline.curation import filter_cascade

        df = spark.createDataFrame(
            [(1, 5, 5), (2, 50, 5), (3, 50, 50), (4, 5, 50)],
            "id long, a int, b int",
        )
        rules = [("a_big", F.col("a") >= 10), ("b_big", F.col("b") >= 10)]
        got = {
            r["id"]: r["first_fail"]
            for r in filter_cascade(df, rules).collect()
        }
        # doc 1 fails BOTH but is attributed to the FIRST rule only
        assert got == {1: "a_big", 2: "b_big", 3: None, 4: "a_big"}

    def test_null_rule_counts_as_pass(self, spark):
        from bertrand_spark.pipeline.curation import filter_cascade

        df = spark.createDataFrame([(1, None), (2, 3)], "id long, a int")
        out = filter_cascade(df, [("a_big", F.col("a") >= 10)]).collect()
        got = {r["id"]: r["first_fail"] for r in out}
        assert got == {1: None, 2: "a_big"}  # NULL predicate = pass

    def test_funnel_arithmetic_invariants(self, spark, sf_dir):
        from bertrand_spark.pipeline.curation import cascade_report
        from bertrand_spark.pipeline.text import gopher_quality_flags

        d = read_table(spark, sf_dir, "documents")
        flags = gopher_quality_flags(F.col("text"))
        rules = [("lang_en", F.col("lang") == "en")] + [
            (k, flags[k]) for k in ("wordcount_ok", "meanlen_ok")
        ]
        rows = cascade_report(d, rules).orderBy("stage").collect()
        total = d.count()
        assert rows[0]["n_reaching"] == total
        for prev, cur in zip(rows, rows[1:]):
            assert cur["n_reaching"] == prev["n_reaching"] - prev["n_failed"]
        survivors = rows[-1]["n_reaching"] - rows[-1]["n_failed"]
        assert survivors + sum(r["n_failed"] for r in rows) == total
        assert abs(rows[-1]["cum_keep_frac"] - survivors / total) < 1e-12

    def test_duplicate_rule_name_raises(self, spark):
        from bertrand_spark.pipeline.curation import filter_cascade

        df = spark.range(1)
        with pytest.raises(ValueError, match="duplicate"):
            filter_cascade(df, [("r", F.lit(True)), ("r", F.lit(False))])
