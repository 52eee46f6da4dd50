"""Structured Streaming operators: stream result == batch oracle.

Each test runs the SAME logical operator in streaming mode (file source,
availableNow trigger, memory sink) and in batch mode, and compares — the
strongest equivalence check Structured Streaming offers locally.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from bertrand_spark.sources.reader import read_table
from bertrand_spark.streaming import (
    read_events_stream,
    running_totals,
    sessionize,
    stream_dedup,
    windowed_rollup,
)


def run_stream_to_memory(stream_df, mode="append"):
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    # wait for the data, not the clock: a stateful query with a
    # processing-time timeout keeps running after its last batch
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return name


def rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


class TestWindowedRollup:
    def test_stream_matches_batch(self, spark, sf_dir):
        batch = read_table(spark, sf_dir, "events")
        stream = read_events_stream(spark, sf_dir)

        aggs = {
            "n": F.count("*"),
            "total": F.sum("value").cast("double"),
        }
        expected = windowed_rollup(batch, "ts", "1 hour", aggs, keys=["user_id"])
        # complete mode emits every window at end-of-stream (append mode
        # would correctly hold back windows newer than the watermark)
        streamed = windowed_rollup(stream, "ts", "1 hour", aggs, keys=["user_id"])
        name = run_stream_to_memory(streamed, mode="complete")
        got = spark.sql(f"select * from {name}")
        cols = ["user_id", "window_start", "window_end", "n"]
        assert rows_set(got, cols) == rows_set(expected, cols)

    def test_batch_path_is_plain_groupby(self, spark, sf_dir):
        batch = read_table(spark, sf_dir, "events")
        out = windowed_rollup(batch, "ts", "1 hour", {"n": F.count("*")})
        assert not out.isStreaming
        assert out.count() > 0


class TestSessionize:
    def test_sessions_stream_matches_batch(self, spark, sf_dir):
        batch = read_table(spark, sf_dir, "events")
        stream = read_events_stream(spark, sf_dir)
        expected = sessionize(batch, "ts", "5 minutes", keys=["user_id"])
        streamed = sessionize(stream, "ts", "5 minutes", keys=["user_id"])
        name = run_stream_to_memory(streamed, mode="complete")
        got = spark.sql(f"select * from {name}")
        cols = ["user_id", "session_start", "n_events"]
        assert rows_set(got, cols) == rows_set(expected, cols)


class TestStreamDedup:
    def test_dedup_stream_matches_batch(self, spark, sf_dir):
        batch = read_table(spark, sf_dir, "events")
        stream = read_events_stream(spark, sf_dir)
        expected = batch.select("event_type").distinct()
        streamed = stream_dedup(
            stream.select("event_type", "ts"), ["event_type"], "ts", "1 minute"
        ).select("event_type")
        name = run_stream_to_memory(streamed, mode="append")
        got = spark.sql(f"select * from {name}")
        assert rows_set(got, ["event_type"]) == rows_set(expected, ["event_type"])


class TestRunningTotals:
    def test_stateful_totals_match_batch(self, spark, sf_dir):
        batch = read_table(spark, sf_dir, "events")
        stream = read_events_stream(spark, sf_dir)
        expected = running_totals(batch, "user_id", "value")
        streamed = running_totals(stream, "user_id", "value")
        # the processing-time timeout asks for a no-data batch after every
        # batch, so with those on the query never drains (the timeout's
        # eviction is not what this test checks)
        conf = "spark.sql.streaming.noDataMicroBatches.enabled"
        spark.conf.set(conf, "false")
        try:
            name = run_stream_to_memory(streamed, mode="update")
        finally:
            spark.conf.unset(conf)
        # update mode: last emission per key is the final running total
        got = spark.sql(
            f"select user_id, max(n) as n, max(total) as total "
            f"from {name} group by user_id"
        )
        e = {r["user_id"]: (r["n"], round(r["total"], 6)) for r in expected.collect()}
        g = {r["user_id"]: (r["n"], round(r["total"], 6)) for r in got.collect()}
        assert e == g

    def test_available_now_query_ends_only_when_asked(self, spark, sf_dir):
        """The documented contract: the processing-time timeout runs a
        no-data micro-batch after every batch, so an availableNow query
        is still running after its data is in, until stopped; with
        no-data batches off the same query ends by itself.  Waits on
        query events, never on the clock (the bounds only stop a broken
        run from hanging)."""
        import threading

        from pyspark.sql.streaming import StreamingQueryListener

        idle_batch = threading.Event()

        class OnIdleBatch(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.batchId > 0 and p.numInputRows == 0:
                    idle_batch.set()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        def start():
            totals = running_totals(
                read_events_stream(spark, sf_dir), "user_id", "value"
            )
            return (
                totals.writeStream.format("memory")
                .queryName("mem_" + uuid.uuid4().hex[:8])
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )

        listener = OnIdleBatch()
        spark.streams.addListener(listener)
        q = start()
        try:
            assert idle_batch.wait(120)
            assert q.isActive
        finally:
            q.stop()
            spark.streams.removeListener(listener)
        conf = "spark.sql.streaming.noDataMicroBatches.enabled"
        spark.conf.set(conf, "false")
        try:
            q = start()
        finally:
            spark.conf.unset(conf)
        try:
            assert q.awaitTermination(120)
            assert q.exception() is None
        finally:
            q.stop()


class TestStreamDedupAgainstStore:
    def test_stream_static_anti_join_matches_batch(self, spark, sf_dir, tmp_path):
        """Streamed events deduped against a static store == the batch
        incremental-dedup semantics on the same split."""
        from bertrand_spark.streaming.rollup import stream_dedup_against_store

        ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")
        # store = users seen in even events; stream = all events
        store = ev.filter(F.col("event_id") % 2 == 0).select("user_id").distinct()
        src = str(tmp_path / "stream_src")
        ev.write.parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        out = stream_dedup_against_store(stream, store, ["user_id"])
        name = run_stream_to_memory(out)
        got = rows_set(spark.table(name).select("user_id"), ["user_id"])
        batch = ev.join(store, "user_id", "left_anti").dropDuplicates(["user_id"])
        want = rows_set(batch.select("user_id"), ["user_id"])
        assert got == want


class TestStreamCurationPipeline:
    def test_stream_matches_batch_composition(self, spark, sf_dir, tmp_path):
        """quality filter -> store anti-join -> within-stream dedup,
        streamed over documents == the identical batch composition."""
        from bertrand_spark.streaming.rollup import stream_curation_pipeline

        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        store = docs.filter(F.col("doc_id") % 5 == 0)
        src = str(tmp_path / "docs_src")
        docs.write.parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        out = stream_curation_pipeline(stream, store, min_quality=0.5)
        name = run_stream_to_memory(out)
        got = rows_set(spark.table(name).select("doc_id"), ["doc_id"])
        # batch equivalent of the same composition (dedup keeps SOME doc
        # per fingerprint; compare fingerprint SETS, which are order-free)
        from bertrand_spark.pipeline.text import fingerprint, quality_score

        batch = (
            docs.filter(quality_score(F.col("text")) >= 0.5)
            .withColumn("__fp", fingerprint(F.col("text")))
            .join(
                store.select(fingerprint(F.col("text")).alias("__fp")).distinct(),
                "__fp", "left_anti",
            )
        )
        got_fps = rows_set(
            docs.withColumn("__fp", fingerprint(F.col("text")))
            .join(spark.table(name).select("doc_id"), "doc_id")
            .select("__fp"),
            ["__fp"],
        )
        want_fps = rows_set(batch.select("__fp").distinct(), ["__fp"])
        assert got_fps == want_fps and len(got) == len(want_fps)


class TestStreamAnnEnrich:
    def test_streamed_topk_equals_batch(self, spark, sf_dir, tmp_path):
        from bertrand_spark.pipeline.similarity import ivf_build, ivf_topk
        from bertrand_spark.streaming import stream_ann_enrich

        emb = read_table(spark, sf_dir, "embeddings")
        assigned, cents = ivf_build(emb, num_cells=4, seed=5)
        assigned = assigned.persist()
        assigned.count()

        queries = emb.select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        expected = rows_set(
            ivf_topk(assigned, cents, queries, k=3, nprobe=2),
            ["q_id", "vec_id"],
        )

        # stage the queries as files; one micro-batch per file
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
                stream_ann_enrich(assigned, cents, out, k=3, nprobe=2)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = rows_set(spark.read.parquet(out), ["q_id", "vec_id"])
        assert got == expected
        assigned.unpersist()


class TestStreamFuzzyDedup:
    def test_streamed_near_dup_filter_equals_batch(self, spark, sf_dir, tmp_path):
        from bertrand_spark.pipeline.dedup import fuzzy_join_minhash
        from bertrand_spark.streaming import stream_fuzzy_dedup

        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        # store = even ids; the stream carries odd ids plus near-copies
        # of two store docs (suffix tweak -> not exact dups)
        store = docs.filter(F.col("doc_id") % 2 == 0).persist()
        store.count()
        near = (
            store.limit(2)
            .select(
                (F.col("doc_id") + 100_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" tail")).alias("text"),
            )
        )
        stream_src = docs.filter(F.col("doc_id") % 2 == 1).unionByName(near)

        expected_hits = {
            r["id_l"]
            for r in fuzzy_join_minhash(
                stream_src, store, threshold=0.7
            ).collect()
        }
        assert {r["doc_id"] for r in near.collect()} <= expected_hits
        expected_kept = {
            r["doc_id"] for r in stream_src.collect()
        } - expected_hits

        qdir = str(tmp_path / "in")
        stream_src.repartition(2).write.parquet(qdir)
        stream = (
            spark.readStream.schema(stream_src.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(qdir)
        )
        out = str(tmp_path / "kept")
        q = (
            stream.writeStream.foreachBatch(
                stream_fuzzy_dedup(store, out, threshold=0.7)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        assert got == expected_kept
        store.unpersist()
