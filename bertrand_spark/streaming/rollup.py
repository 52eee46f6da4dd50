"""Structured Streaming operators: hypertable-style rollups, sessionization,
streaming dedup, and custom stateful aggregation.

The reference engine is batch-only (SURVEY §2: "Streaming: none anywhere"),
but its operator surface — rollups over time, first-seen dedup, running
aggregates — lifts naturally onto Structured Streaming, and a training-data
pipeline at 100 TB ingests continuously.  Everything here is expressed so
the SAME logical plan runs in batch or streaming mode: pass a batch
DataFrame and you get the batch rollup; pass a ``readStream`` DataFrame and
you get an incremental query with watermark-bounded state.

Scale notes:
* windowed aggregations are partial-aggregated map-side before the state
  store shuffle (same profile as a batch groupBy);
* watermarks bound state: with a ``delay`` watermark, window state older
  than the watermark is evicted — memory is O(active windows), not O(time);
* ``stream_dedup`` keeps one state entry per key within the watermark
  horizon — exact dedup over an unbounded stream with bounded memory;
* ``running_totals`` uses ``applyInPandasWithState`` (Arrow-batched
  per-key state) — the custom-stateful-operator escape hatch.
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "windowed_rollup", "sessionize", "stream_dedup", "running_totals",
    "read_events_stream", "stream_stream_join",
    "foreach_batch_parquet_sink", "stream_dedup_against_store",
    "stream_dedup_against_fingerprint_store",
    "stream_curation_pipeline", "stream_ann_enrich", "stream_fuzzy_dedup",
    "stream_decode_media", "stream_extract_audio",
    "stream_extract_warc",
]


def _watermarkable(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (ltz); testdata event times arrive as
    TIMESTAMP_NTZ.  With the session timezone pinned to UTC the cast is a
    pure reinterpretation (no value shift), so stream results still match
    the batch/DuckDB oracle computed on the naive timestamps."""
    from pyspark.sql import types as st

    if isinstance(df.schema[ts_col].dataType, st.TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def windowed_rollup(
    df: DataFrame,
    ts_col: str,
    window: str,
    aggs: dict[str, Column],
    slide: str | None = None,
    keys: Sequence[str] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling/sliding time-window rollup (hypertable continuous
    aggregate, batch and streaming alike).

    ``aggs``: output name → aggregate expression.  With ``watermark`` on a
    streaming input, late rows beyond the delay are dropped and completed
    windows are finalized (append mode works).
    """
    if watermark is not None and df.isStreaming:
        df = _watermarkable(df, ts_col).withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    named = [expr.alias(name) for name, expr in aggs.items()]
    return df.groupBy(*keys, win.alias("win")).agg(*named).select(
        *keys,
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *[F.col(name) for name in aggs],
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str] = (),
    aggs: dict[str, Column] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Session windows (gap-based) per key — ``session_window`` native op."""
    if watermark is not None and df.isStreaming:
        df = _watermarkable(df, ts_col).withWatermark(ts_col, watermark)
    aggs = aggs or {"n_events": F.count("*")}
    named = [expr.alias(name) for name, expr in aggs.items()]
    win = F.session_window(F.col(ts_col), gap)
    return df.groupBy(*keys, win.alias("sess")).agg(*named).select(
        *keys,
        F.col("sess.start").alias("session_start"),
        F.col("sess.end").alias("session_end"),
        *[F.col(name) for name in aggs],
    )


def stream_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Exact dedup lifted to streams: ``dropDuplicates`` keyed state,
    bounded by the watermark horizon (batch: plain dropDuplicates)."""
    if watermark is not None and ts_col is not None and df.isStreaming:
        df = _watermarkable(df, ts_col).withWatermark(ts_col, watermark)
        return df.dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def stream_dedup_against_store(
    stream: DataFrame,
    store: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Incremental dedup of a stream against a STATIC historical store —
    the streaming sibling of ``dedup.exact_dedup_incremental``.

    Composition: a stream-static left-anti join (re-planned per
    micro-batch, so a refreshed store parquet is picked up without
    restarting the query) drops rows already ingested historically, then
    :func:`stream_dedup` drops within-stream repeats with
    watermark-bounded keyed state.  The store side should be a compact
    key/fingerprint table — it is the build side of a broadcast-or-hash
    anti join every micro-batch, never stream state.
    """
    fresh = stream.join(store.select(*keys).distinct(), list(keys), "left_anti")
    return stream_dedup(fresh, keys, ts_col, watermark)


def stream_dedup_against_fingerprint_store(
    stream: DataFrame,
    store_table: str,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Continuous-ingest dedup against the BUCKETED fingerprint store —
    the streaming sibling of ``dedup.exact_dedup_incremental_store``
    (and the production shape of :func:`stream_dedup_against_store`,
    whose inline-frame store side re-shuffles per micro-batch).

    Per micro-batch the stream-static anti join's history side scans
    the store straight out of its buckets with NO Exchange and no sort
    (``write_fingerprint_store`` writes bucketed+sorted on ``fp``), so
    each micro-batch pays O(batch): only the batch side hashes into the
    store's fixed bucket count.  At 100 TB the history store dwarfs
    every micro-batch by orders of magnitude — re-shuffling (or
    re-broadcasting) it per batch is exactly the cost this layout
    removes; the store's one shuffle was paid at write time.  The
    static side is re-planned per micro-batch, so fingerprints appended
    by ``write_fingerprint_store(mode="append")`` are picked up live
    without restarting the query.

    Within-stream repeats are then dropped by watermark-bounded keyed
    state on the fingerprint (:func:`stream_dedup`), same as the
    inline-store variant.
    """
    from ..pipeline.text import fingerprint

    spark = stream.sparkSession
    store = spark.table(store_table).select(F.col("fp").alias("__fp"))
    out = stream.withColumn("__fp", fingerprint(F.col(text_col)))
    out = out.join(store, "__fp", "left_anti")
    return stream_dedup(out, ["__fp"], ts_col, watermark).drop("__fp")


def stream_curation_pipeline(
    stream: DataFrame,
    store: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    ts_col: str | None = None,
    watermark: str | None = None,
    store_table: str | None = None,
) -> DataFrame:
    """The pretraining ingest pipeline lifted onto a stream: quality
    filter → dedup against the historical store → within-stream exact
    dedup — the streaming sibling of the batch x18 composition.

    Every stage is streaming-legal by construction: the quality score is
    a narrow native projection (stateless), the store anti-join is
    stream-static (re-planned per micro-batch, store refreshes picked up
    live), and the within-stream dedup is keyed state bounded by the
    watermark horizon.  Pass a batch DataFrame and the SAME composition
    runs as a batch query — the equivalence the tests assert.

    ``store_table`` names a BUCKETED fingerprint store written by
    ``dedup.write_fingerprint_store`` and replaces the inline ``store``
    frame for production ingest: the history side then scans its
    buckets with no per-micro-batch Exchange (see
    :func:`stream_dedup_against_fingerprint_store`).  Mutually
    exclusive with ``store``.
    """
    from ..pipeline.text import fingerprint, quality_score

    if store is not None and store_table is not None:
        raise ValueError("pass either store or store_table, not both")
    out = stream.filter(quality_score(F.col(text_col)) >= min_quality)
    out = out.withColumn("__fp", fingerprint(F.col(text_col)))
    if store_table is not None:
        hist = stream.sparkSession.table(store_table).select(
            F.col("fp").alias("__fp")
        )
        out = out.join(hist, "__fp", "left_anti")
    elif store is not None:
        store_fp = store.select(
            fingerprint(F.col(text_col)).alias("__fp")
        ).distinct()
        out = out.join(store_fp, "__fp", "left_anti")
    return stream_dedup(out, ["__fp"], ts_col, watermark).drop("__fp")


def running_totals(
    df: DataFrame,
    key: str,
    value_col: str,
    timeout_s: int = 3600,
) -> DataFrame:
    """Custom stateful operator: per-key running (count, sum) emitted on
    every micro-batch — ``applyInPandasWithState`` (Arrow-batched state).
    A key with no update for ``timeout_s`` seconds of processing time is
    evicted and emits nothing; if it comes back it starts from zero.

    A streaming query over this operator does not end by itself, not
    even under ``trigger(availableNow=True)``: to evict idle keys, a
    processing-time timeout makes Spark run a no-data micro-batch after
    every batch, so the query never drains and ``processAllAvailable()``
    never returns.  Stop the query once its data is in.  A query that
    must end on its own can be started with
    ``spark.sql.streaming.noDataMicroBatches.enabled=false``; idle keys
    are then evicted only by batches that carry data.

    Batch inputs fall back to a groupBy (same result, no state store).
    """
    if not df.isStreaming:
        return (
            df.groupBy(key)
            .agg(F.count("*").alias("n"), F.sum(value_col).cast("double").alias("total"))
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key_tuple: Any, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle key: evict the state (the bounded-memory contract) and
            # emit nothing — re-arming here would re-emit an unchanged
            # row every interval forever
            state.remove()
            return
        (n, total) = state.get if state.exists else (0, 0.0)
        for batch in batches:
            n += len(batch)
            total += float(batch[value_col].sum())
        state.update((n, total))
        state.setTimeoutDuration(timeout_s * 1000)
        yield pd.DataFrame({key: [key_tuple[0]], "n": [n], "total": [total]})

    from pyspark.sql import types as st

    out_struct = st.StructType(
        [
            st.StructField(key, df.schema[key].dataType),
            st.StructField("n", st.LongType()),
            st.StructField("total", st.DoubleType()),
        ]
    )
    return df.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_struct,
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str,
    watermark: str = "1 minute",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: rows from ``right`` matched to rows
    of ``left`` with the same ``key`` whose event time falls in
    ``[left_ts, left_ts + within]``.

    This is THE bounded-state shape for joining two live topics: Spark's
    stream-stream join requires (a) a watermark on both inputs and (b) an
    event-time range constraint tying the two clocks together — together
    they let the state store evict left rows once ``left_ts + within`` is
    past the right watermark and right rows once ``right_ts`` is past the
    left watermark + range.  Without the range condition the join state
    grows without bound; with it, state is O(key cardinality × window),
    independent of stream length — the property that matters on an
    unbounded 100 TB/day feed.

    Batch inputs get the identical logical join (same results, no state),
    preserving the module's batch/stream parity contract.  ``within`` is a
    SQL interval string (e.g. ``'1 hour'``).  The two inputs must not share
    column names apart from ``key``; event-time columns are compared with
    an inclusive-start, inclusive-end range.
    """
    if left.isStreaming:
        left = _watermarkable(left, left_ts).withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = _watermarkable(right, right_ts).withWatermark(right_ts, watermark)
    l, r = left.alias("l"), right.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return l.join(r, cond, how)


def foreach_batch_parquet_sink(out_dir: str):
    """Idempotent ``foreachBatch`` parquet writer: each micro-batch lands in
    its own ``ingest_batch=<id>`` directory with ``overwrite`` mode, so a
    replayed batch (failure → restart from checkpoint) overwrites its own
    output instead of duplicating rows — the standard exactly-once recipe
    for sinks without transactional commit (parquet/object storage).

    The batch id is Spark's monotonically increasing epoch id, stable
    across replays of the same epoch; downstream readers glob
    ``out_dir/ingest_batch=*`` and see each epoch exactly once.  At scale
    the per-batch write parallelism is the batch's own partitioning — no
    coalesce, no driver collect.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                f"{out_dir}/ingest_batch={batch_id}"
            )
        )

    return write


def stream_ann_enrich(
    assigned: DataFrame,
    centroids: list,
    out_dir: str,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    codebooks=None,
    residual: bool = False,
):
    """ANN serving on a stream: a ``foreachBatch`` handler that runs each
    micro-batch of query vectors through :func:`~bertrand_spark.pipeline
    .similarity.ivf_topk` against a prebuilt IVF index and lands the
    (q_id, vec_id, cosine) edges in an idempotent per-epoch parquet sink
    (same exactly-once recipe as :func:`foreach_batch_parquet_sink`).

    The index side is STATIC within the handler — ``assigned`` re-plans
    per micro-batch, so republishing the cell table (ivf_write) is picked
    up without restarting the query.  ``ivf_topk``'s driver-side probe
    list is bounded by the micro-batch row count — at scale the batch
    size IS the knob (maxFilesPerTrigger / maxOffsetsPerTrigger), which
    makes the per-epoch collect bounded by configuration, not by data.

    ``codebooks`` (round 6) switches the scorer to
    :func:`~bertrand_spark.pipeline.similarity.ivf_pq_topk`: ``assigned``
    must then carry ``__pq`` (from :func:`pq_encode`; pass
    ``residual=True`` for IVFADC codes), and the served index is the PQ-
    compressed one — ~d·4/m× smaller, which is what lets the serving
    tier hold a 100 TB corpus's codes in memory.  Output schema then has
    ``adc_dist`` in place of ``cosine`` (ADC ranks ascending by
    distance; recall/knob guidance in SCALE.md's IVFADC sections).

    Wire it up::

        q = (queries_stream.writeStream
             .foreachBatch(stream_ann_enrich(assigned, cents, out))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    """
    from ..pipeline.similarity import ivf_pq_topk, ivf_topk

    sink = foreach_batch_parquet_sink(out_dir)

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if codebooks is not None:
            out = ivf_pq_topk(
                assigned,
                centroids,
                codebooks,
                batch_df,
                k=k,
                nprobe=nprobe,
                id_col=id_col,
                q_id_col=q_id_col,
                q_vec_col=q_vec_col,
                residual=residual,
            )
        else:
            out = ivf_topk(
                assigned,
                centroids,
                batch_df,
                k=k,
                nprobe=nprobe,
                id_col=id_col,
                vec_col=vec_col,
                q_id_col=q_id_col,
                q_vec_col=q_vec_col,
            )
        sink(out, batch_id)

    return enrich


def stream_fuzzy_dedup(
    store: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 770,
    num_bands: int = 154,
    shingle_n: int = 5,
    band_table: str | None = None,
):
    """Streaming NEAR-duplicate dedup against a historical corpus: a
    ``foreachBatch`` handler that fuzzy-joins each micro-batch of
    documents against the static store (two-table MinHash LSH, exact
    Jaccard verified), drops batch rows with a match ≥ ``threshold``,
    and lands the kept rows in the idempotent per-epoch parquet sink.

    After each epoch's write, every RDD persisted DURING the epoch is
    released through :func:`bertrand_spark.session.unpersist_rdds` —
    the fuzzy join's prep/cand caches are epoch-scoped and would
    otherwise grow executor storage without bound on a long-running
    stream.  The snapshot diff claims every RDD persisted while the
    epoch runs, so run the stream in a SparkContext where nothing else
    persists concurrently.

    The fuzzy sibling of :func:`stream_dedup_against_store` (which is
    exact-fingerprint only): a re-crawled page with a new timestamp or
    boilerplate tweak sails through exact dedup but is caught here.
    Cost profile per micro-batch is `dedup.fuzzy_join_minhash`'s: both
    sides pay one fused Arrow prep pass, only (id, band, bucket) tuples
    shuffle, and the store side re-plans every batch so a refreshed
    corpus parquet is picked up live.

    ``band_table`` (round 6 — the production form): name of a bucketed
    band table written by ``dedup.write_band_table`` over the SAME
    ``store`` corpus.  Each micro-batch then candidate-joins against
    the store's persisted bands — the store pays neither a re-banding
    pass nor a candidate-join shuffle per batch (its one shuffle was
    paid at table-write time), and ``store`` itself is probed only for
    candidate ids during verification.  Banding geometry comes from the
    table's ``__params`` companion; the ``k``/``num_bands``/
    ``shingle_n`` arguments are ignored in this mode so the batch
    kernel can never drift from the store's banding.
    """
    from ..pipeline.dedup import fuzzy_join_band_store, fuzzy_join_minhash
    from ..session import persistent_rdd_ids, unpersist_rdds

    sink = foreach_batch_parquet_sink(out_dir)

    def dedup(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # the fuzzy join persists its prep/cand tables (load-bearing for
        # the multi-consumer fan-out) — epoch-scoped caches freed after
        # the write
        before = persistent_rdd_ids(spark)
        try:
            if band_table is not None:
                pairs = fuzzy_join_band_store(
                    batch_df,
                    band_table,
                    store,
                    batch_id_col=id_col,
                    batch_text_col=text_col,
                    store_id_col=id_col,
                    store_text_col=text_col,
                    threshold=threshold,
                )
            else:
                pairs = fuzzy_join_minhash(
                    batch_df,
                    store,
                    left_id=id_col,
                    right_id=id_col,
                    left_text=text_col,
                    right_text=text_col,
                    threshold=threshold,
                    k=k,
                    num_bands=num_bands,
                    shingle_n=shingle_n,
                )
            hits = pairs.select(F.col("id_l").alias(id_col)).distinct()
            kept = batch_df.join(hits, id_col, "left_anti")
            sink(kept, batch_id)
        finally:
            unpersist_rdds(spark, persistent_rdd_ids(spark) - before)

    return dedup


def read_events_stream(
    spark, sf_dir: str, n_files: int = 1, order_by: str | None = None
) -> DataFrame:
    """events.parquet as a file-source stream of ``n_files``
    micro-batches, its event time normalized as by
    :func:`~bertrand_spark.sources.reader.read_table`.

    The file source needs a directory, so the table is staged into a
    temp directory as ``n_files`` contiguous row slices (driver-side
    pyarrow) and read one file per trigger: with ``n_files > 1`` the
    query carries state across real micro-batches.  ``order_by`` sorts
    the rows before slicing, so batches arrive in event-time order, the
    arrival model watermarks assume: a stream-stream join needs it, as
    with random-time slices the watermark after batch 0 would leap to
    near max(ts) and evict join state that batch 1 still matches (late
    data, which watermarks drop by design).

    The stage is named by the source file's version (device, inode,
    mtime, size) and the slicing, so a regenerated source re-stages; it
    is written under a temporary name and renamed into place, so no
    reader sees a partial stage.  Its schema and normalization come from
    resolving the staged directory itself, so a parquet type the pyarrow
    rewrite changed is normalized too.  Test-data plumbing: a production
    source is already a directory of arriving files."""
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from ..sources.reader import _resolve

    path = f"{sf_dir}/events.parquet"
    st = os.stat(path)
    stage = os.path.join(
        tempfile.gettempdir(),
        f"bspark_stream_{st.st_dev}_{st.st_ino}_{st.st_mtime_ns}_{st.st_size}"
        f"_{n_files}_{order_by}",
    )
    if not os.path.isdir(stage):
        tmp = tempfile.mkdtemp(prefix=os.path.basename(stage) + ".tmp")
        table = pq.read_table(path)
        if order_by is not None:
            table = table.sort_by(order_by)
        step = max(1, -(-table.num_rows // n_files))
        for i in range(n_files):
            sl = table.slice(i * step, step)
            if sl.num_rows or i == 0:
                pq.write_table(sl, os.path.join(tmp, f"part-{i:05d}.parquet"))
        try:
            os.rename(tmp, stage)
        except OSError:  # another process staged it first
            shutil.rmtree(tmp)
    reader = spark.readStream.option("maxFilesPerTrigger", 1)
    return _resolve(stage).load(spark, reader)


def stream_decode_media(
    out_dir: str,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decode: str = "real",
    report_dir: str | None = None,
):
    """Multimodal ingest on a stream: a ``foreachBatch`` handler that
    sniffs + decodes each micro-batch of binary payloads
    (:func:`~bertrand_spark.pipeline.multimodal.decode_images` — PIL
    when workers have it, the stdlib PNG/JPEG/GIF/lossless-WebP codecs
    otherwise; per-epoch decode budget measured in SCALE.md)
    and lands (id, sniffed_format, width, height, channels, pixels) in
    the idempotent per-epoch parquet layout
    (:func:`foreach_batch_parquet_sink`'s exactly-once recipe).  When
    ``report_dir`` is set, each epoch also writes its
    :func:`~bertrand_spark.pipeline.multimodal.decode_format_report`
    — the per-format decode/NULL-class counts — so a PIL-less executor
    image or a corrupt-payload burst is visible per micro-batch, not
    at end-of-job.

    Scale shape: decode is stateless (mapInPandas, one Arrow pass per
    batch), the report is one id join + a ≤n_formats aggregate on the
    batch only — no streaming state at all, so throughput is bounded
    by the decode kernels, never by a state store.  Replayed epochs
    overwrite their own directories (decode is deterministic per
    payload), preserving exactly-once.
    """
    from ..pipeline.multimodal import (
        attach_media_metadata,
        decode_format_report,
        decode_images,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        fmt = attach_media_metadata(batch_df, payload_col).select(
            F.col(id_col), "sniffed_format"
        )
        decoded = decode_images(
            batch_df, payload_col=payload_col, id_col=id_col, decode=decode
        )
        out = decoded.join(
            fmt, decoded["media_id"] == fmt[id_col], "left"
        ).select(
            decoded["media_id"], "sniffed_format",
            "width", "height", "channels", "pixels",
        )
        out.write.mode("overwrite").parquet(
            f"{out_dir}/ingest_batch={batch_id}"
        )
        if report_dir is not None:
            decode_format_report(
                batch_df, decoded, payload_col=payload_col, id_col=id_col
            ).write.mode("overwrite").parquet(
                f"{report_dir}/ingest_batch={batch_id}"
            )

    return handle


def stream_extract_audio(
    out_dir: str,
    payload_col: str = "payload",
    id_col: str = "media_id",
    n_features: int = 16,
    decode: str = "real",
    report_dir: str | None = None,
):
    """Audio ingest on a stream — the audio twin of
    :func:`stream_decode_media`: a ``foreachBatch`` handler that runs
    :func:`~bertrand_spark.pipeline.multimodal.extract_audio_features`
    (stdlib WAV + FLAC decode + deterministic spectral features under
    ``decode='real'``) over each micro-batch and lands
    (id, features, decode_status) in the idempotent per-epoch parquet
    layout.  The container sniff gates the decoder (round 10): known-
    lossy and unknown payloads are routed AROUND it, so each epoch's
    decode cost tracks its decodable bytes.  When
    ``report_dir`` is set, each epoch also writes one
    (n_total, n_decoded, n_null, n_skipped_lossy, n_skipped_unknown,
    n_decode_failed, n_decode_partial) row — a compressed-audio or
    corrupt burst is visible per micro-batch, not at end-of-job (and
    round 10's n_decode_partial isolates gated-MP3 coverage gaps from
    corruption) — plus the
    PER-CONTAINER breakdown (``audio_format_report``: wav/flac/lossy
    classes) under ``{report_dir}/formats/`` (round 9), the same
    per-format visibility stream_decode_media gives images.  The
    global row keeps its schema and its empty-batch-reads-zero
    contract; the format table is empty for an empty batch.

    Scale shape: stateless (one Arrow pass per batch, per-row work
    capped by the decoder's 2^21-sample analysis bound), the report is
    one global aggregate on the batch — no streaming state, throughput
    bounded by the feature kernel.  Replayed epochs overwrite their own
    directories (features are deterministic per payload), preserving
    exactly-once.
    """
    from ..pipeline.multimodal import (
        audio_format_report, extract_audio_features,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        feats = extract_audio_features(
            batch_df, payload_col=payload_col, id_col=id_col,
            n_features=n_features, decode=decode,
        )
        feats.write.mode("overwrite").parquet(
            f"{out_dir}/ingest_batch={batch_id}"
        )
        if report_dir is not None:
            landed = batch_df.sparkSession.read.parquet(
                f"{out_dir}/ingest_batch={batch_id}"
            )

            # coalesce: F.sum over an EMPTY micro-batch is NULL, and a
            # monitoring consumer summing/alerting on the counters must
            # see 0 (review finding)
            def _n(cond, alias):
                return F.coalesce(
                    F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
                ).alias(alias)

            status = F.col("decode_status")
            landed.agg(
                F.count(F.lit(1)).alias("n_total"),
                _n(F.col("features").isNotNull(), "n_decoded"),
                _n(F.col("features").isNull(), "n_null"),
                # round 10 (probe-gated decode): the NULL class splits
                # into rows the sniff ROUTED AROUND the decoder vs rows
                # that entered it and failed — the per-epoch evidence
                # that decode cost tracks decodable bytes
                _n(status == "skipped-lossy", "n_skipped_lossy"),
                _n(status == "skipped-unknown", "n_skipped_unknown"),
                _n(status == "decode-failed", "n_decode_failed"),
                # round 10: gated-MP3 coverage gaps (stream parsed,
                # some granule outside the validated Huffman set) —
                # distinct from corruption
                _n(status == "decode-partial", "n_decode_partial"),
            ).write.mode("overwrite").parquet(
                f"{report_dir}/ingest_batch={batch_id}"
            )
            audio_format_report(
                batch_df, landed, payload_col=payload_col, id_col=id_col
            ).write.mode("overwrite").parquet(
                f"{report_dir}/formats/ingest_batch={batch_id}"
            )

    return handle


def stream_extract_warc(
    out_dir: str,
    record_types: tuple = ("response",),
    extract_text: bool = True,
    report_dir: str | None = None,
    worker_open: bool = False,
    route_documents: bool = False,
):
    """Crawl ingest on a stream — the WARC twin of
    :func:`stream_decode_media`: point ``readStream.format(
    "binaryFile")`` at the directory where .warc.gz segments land
    (streaming sources need the schema up front — binaryFile's is the
    fixed ``path string, modificationTime timestamp, length long,
    content binary``) and
    each micro-batch of NEW files explodes into records
    (:func:`~bertrand_spark.sources.warc.warc_records`) and writes
    the idempotent per-epoch parquet layout.  With ``extract_text``
    (default), text/html records additionally run the full text seam
    in the pinned order — charset-aware byte decode → mojibake repair
    → main-content extraction
    (:func:`~bertrand_spark.pipeline.htmltext.decode_html_bytes` →
    :func:`~bertrand_spark.pipeline.htmltext.fix_mojibake` →
    :func:`~bertrand_spark.pipeline.htmltext.extract_html_text`;
    repair MUST precede extraction because the extractor's whitespace
    folding destroys the byte pattern the repair detects) — landing a
    ``text`` column (NULL for non-HTML records).  When
    ``report_dir`` is set, each epoch writes one (n_files, n_records,
    n_html, n_with_text, payload_bytes) row — a parse-failure or
    non-HTML burst is visible per micro-batch.

    Scale shape: stateless; files are the parallel unit (the
    binaryFile source hands each micro-batch's new segments to
    executors whole); the explosion and both text kernels are
    Arrow-batched map passes with no shuffle.  Replayed epochs
    overwrite their own directories (extraction is deterministic per
    payload), preserving exactly-once.

    ``route_documents`` (round 14, round-13 verdict item 2): HTML is
    not the only thing a crawl serves — with this flag every record
    runs through the unified magic-sniff router
    (:func:`~bertrand_spark.pipeline.docrouter.extract_document_text`)
    instead of the html-only gate, so PDF / Office / EPUB / RTF /
    legacy-.doc payloads land extracted ``text`` too, plus
    ``doc_status`` and ``doc_format`` columns carrying each format's
    degrade ladder.  Same Arrow-batched no-shuffle shape; the
    transport ``mime``/``charset`` ride along as tiebreak hints only
    (payload magic wins).  Default off: the html-only seam stays
    byte-identical for existing pipelines.

    ``worker_open`` (round 13, round-12 verdict item 6): for
    local/mounted segment layouts, route each micro-batch through
    the bounded-memory core instead — each worker opens its files
    directly and streams records at O(record) peak memory
    (:func:`~bertrand_spark.sources.warc.warc_records_worker_open`)
    — the ~1 GB-segment shape.  IMPORTANT: prune on the STREAM side
    (``readStream...load(dir).select("path")`` before
    ``writeStream``) — that projection reaches the source scan at
    micro-batch planning, so the binaryFile reader never reads the
    bytes; a ``foreachBatch``-side select is too late (the batch
    arrives as a LogicalRDD whose schema is already fixed).  The
    handler ENFORCES this (round 14): a ``worker_open`` batch that
    still carries ``content`` raises with the prune recipe rather
    than silently paying full segment I/O.  Default unchanged
    (whole-segment ``content``, which object stores without a mount
    require — do NOT prune the stream then).
    """
    from ..pipeline.docrouter import extract_document_text
    from ..pipeline.htmltext import (decode_html_bytes,
                                     extract_html_text, fix_mojibake)
    from ..sources.warc import warc_records, warc_records_worker_open

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if worker_open and "content" in batch_df.columns:
            # guard the silent 100×-scale footgun (round-13 verdict):
            # with worker_open the workers re-open files themselves,
            # so a stream still carrying `content` means the
            # binaryFile source read EVERY segment's bytes anyway —
            # correct results at full I/O cost, invisible until
            # cluster scale.  A foreachBatch-side select cannot fix
            # it (the source scan already happened), so refuse here.
            raise ValueError(
                "stream_extract_warc(worker_open=True) received a "
                "micro-batch that still carries the `content` column: "
                "the binaryFile source has already read every "
                "segment's bytes, defeating the worker-open I/O "
                "savings. Prune on the STREAM side before "
                "writeStream — readStream.format('binaryFile')..."
                ".load(dir).select('path') — so the projection "
                "reaches the source scan at micro-batch planning."
            )
        recs = (warc_records_worker_open(batch_df, record_types)
                if worker_open
                else warc_records(batch_df, record_types))
        if route_documents:
            routed = extract_document_text(
                F.col("payload"), F.col("mime"), F.col("charset"))
            recs = (recs
                    .withColumn("_doc", routed)
                    .withColumn("text", F.col("_doc.text"))
                    .withColumn("doc_status", F.col("_doc.status"))
                    .withColumn("doc_format", F.col("_doc.format"))
                    .drop("_doc"))
        elif extract_text:
            is_html = F.col("mime").isin("text/html",
                                         "application/xhtml+xml")
            repaired = fix_mojibake(
                decode_html_bytes(F.col("payload"), F.col("charset"))
            )
            recs = recs.withColumn(
                "text",
                F.when(is_html, extract_html_text(repaired["text"])),
            )
        recs.write.mode("overwrite").parquet(
            f"{out_dir}/ingest_batch={batch_id}"
        )
        if report_dir is not None:
            landed = batch_df.sparkSession.read.parquet(
                f"{out_dir}/ingest_batch={batch_id}"
            )
            n_files = batch_df.count()

            def _n(cond, alias):
                return F.coalesce(
                    F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
                ).alias(alias)

            aggs = [
                F.count(F.lit(1)).alias("n_records"),
                _n(F.col("mime").isin("text/html",
                                      "application/xhtml+xml"),
                   "n_html"),
                F.coalesce(F.sum(F.length("payload")),
                           F.lit(0)).alias("payload_bytes"),
            ]
            if extract_text or route_documents:
                aggs.insert(2, _n(F.col("text").isNotNull(),
                                  "n_with_text"))
            landed.agg(*aggs).withColumn(
                "n_files", F.lit(n_files)
            ).write.mode("overwrite").parquet(
                f"{report_dir}/ingest_batch={batch_id}"
            )

    return handle
