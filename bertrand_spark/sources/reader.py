"""Parquet ingestion that survives TIMESTAMP(NANOS) columns.

Spark 4 rejects parquet INT64 TIMESTAMP(NANOS,*) outright
(``PARQUET_TYPE_ILLEGAL``) unless ``spark.sql.legacy.parquet.nanosAsLong``
is set, in which case the column arrives as a raw ns LongType.  That raw
ns count is exactly this engine's internal temporal currency (SURVEY §7.4,
functions/temporal.py), so the ingestion layer:

1. reads the parquet footer (driver-side metadata only — one footer fetch,
   no data IO, scale-independent) to find timestamp[ns] columns;
2. reads with ``nanosAsLong=true``;
3. converts each ns column to Spark's µs TimestampType by truncating
   division — matching DuckDB, which also truncates ns→µs on read, so
   oracle comparisons line up bit-for-bit.

Reference parity: the reference engine stores datetimes as ns-since-epoch
int64 end-to-end (bertrand convert/datetime.py:67-121); Spark's µs
TimestampType is the boundary representation here.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Footer-sample width for mixed-writer directories: a table whose
# sampled fragments are all INT96 but carries an INT64-NANOS file
# elsewhere is out of contract (tables the engine writes are
# single-writer); sampling the FIRST k AND LAST k fragments (appended
# files typically enumerate last) bounds metadata reads while catching
# both the original files and the realistic append case.  When a
# directory has more fragments than 2k, a debug log records the
# sampling so a silently-missed mixed-writer file is diagnosable
# (round-5 ADVICE).
_NANOS_SAMPLE_FRAGMENTS = 8


def nanos_timestamp_columns(path: str) -> tuple[str, ...]:
    """Names of timestamp[ns] columns in a parquet file/directory footer.

    Cached on (path, mtime, size) so a file regenerated in place gets a
    fresh footer read instead of a stale column list.
    """
    import os

    try:
        stat = os.stat(path)
        key = (path, stat.st_mtime_ns, stat.st_size)
    except OSError:
        key = (path, 0, 0)
    return _nanos_timestamp_columns_cached(key)


@lru_cache(maxsize=256)
def _nanos_timestamp_columns_cached(key: tuple) -> tuple[str, ...]:
    """INT64 TIMESTAMP(NANOS) columns only — read from the PARQUET
    schema, not the Arrow view of it: pyarrow maps legacy INT96
    timestamps (Spark's default output type) to ``timestamp[ns]`` too,
    but Spark reads INT96 back as µs TimestampType natively, and
    flagging it would apply a bogus ns→µs division to an already-µs
    column (this bit any re-written table, e.g. scale_smoke's
    multiplied parquet)."""
    import json

    import pyarrow.dataset as ds

    path = key[0]
    # ds.dataset resolves the filesystem from the URI (local, s3://,
    # hdfs://, ...) and enumerates data fragments, skipping _SUCCESS
    # etc.  The PARQUET footer metadata (not the Arrow view)
    # distinguishes INT64-NANOS from legacy INT96.  Footer schemas are
    # ALMOST always uniform per table, but a directory with mixed
    # writers (INT96 files plus INT64-NANOS files appended later) would
    # break that; sample up to ``_NANOS_SAMPLE_FRAGMENTS`` footers and
    # UNION the flagged column sets so a later-appended ns file still
    # gets its normalization.  Footer reads are metadata-only
    # (kilobytes), so the extra probes cost ~nothing relative to a
    # table load.
    dset = ds.dataset(path, format="parquet")
    out: list[str] = []
    # fragment enumeration is a file listing (no footer IO yet); the
    # order is filesystem-dependent, so take both ends of the listing —
    # appended files usually sort last, and "first k" alone would miss
    # them entirely.
    frags = list(dset.get_fragments())
    k = _NANOS_SAMPLE_FRAGMENTS
    if len(frags) > 2 * k:
        import logging

        logging.getLogger(__name__).debug(
            "nanos footer sampling: %s has %d fragments; probing the "
            "first %d and last %d — a mixed-writer INT64-NANOS file in "
            "the unsampled middle would be missed (raise "
            "_NANOS_SAMPLE_FRAGMENTS if this table has interleaved "
            "writers)",
            path, len(frags), k, k,
        )
        sample = frags[:k] + frags[-k:]
    else:
        sample = frags
    for frag in sample:
        schema = frag.metadata.schema  # parquet schema, not arrow
        for i in range(len(schema)):
            col = schema.column(i)
            # TOP-LEVEL leaves only: parquet flattens nested paths, and
            # a nested ns leaf whose LEAF name matches a top-level
            # column would otherwise falsely flag that column (the
            # div-1000 fix — and the arrow-era behavior — applies to
            # top-level columns only).  For a top-level leaf
            # path == name; nested paths are dotted.
            if "." in col.path:
                continue
            lt = col.logical_type
            if col.physical_type != "INT64" or lt is None or lt.type != "TIMESTAMP":
                continue
            try:
                unit = json.loads(lt.to_json()).get("timeUnit")
            except Exception:
                unit = "nanoseconds" if "nanoseconds" in str(lt) else None
            if unit == "nanoseconds" and col.name not in out:
                out.append(col.name)
    if not out:
        return ()
    # preserve top-level column order/names as the arrow schema exposes
    # them (parquet flattens nested paths; timestamps here are top-level)
    names = set(out)
    return tuple(f.name for f in dset.schema if f.name in names)


def read_csv_inferred(
    spark: SparkSession, path: str, header: bool = True, **options: str
) -> DataFrame:
    """CSV ingestion with ENGINE type inference (C31), not Spark's sampler.

    Reads all-string, then the anonymous cast classifies every column in
    ONE full-data aggregate and promotes all-parseable columns — unlike
    ``inferSchema=true``, which samples and re-reads, this sees every row
    (a column with one stray word stays string instead of failing later).
    """
    from ..convert.cast import cast

    raw = spark.read.options(header=str(header).lower(), **options).csv(path)
    return cast(raw, errors="coerce")


def read_json_inferred(spark: SparkSession, path: str, **options: str) -> DataFrame:
    """JSON-lines ingestion; string fields re-classified by the engine."""
    from ..convert.cast import cast

    raw = spark.read.options(**options).json(path)
    return cast(raw, errors="coerce")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) table layout — the co-located-join half
    of the scale design: two tables bucketed on their join key with the
    same bucket count join with ZERO exchanges (each bucket pair is a
    local sort-merge), and groupBy on the bucket key skips its shuffle
    too.  At 100 TB this is how the repeatedly-joined fact tables and
    the LSH band table are stored (SCALE.md).  ``sort_cols`` defaults to
    the bucket columns so the merge side needs no sort either.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    w = w.sortBy(*(sort_cols or bucket_cols))
    w.saveAsTable(table)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC ingestion — schema-carrying like parquet, so no engine
    inference pass is needed; timestamp normalization matches
    ``read_table`` (ORC stores µs TIMESTAMP, nothing to fix)."""
    return spark.read.orc(path)


def read_xml_inferred(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    **options: str,
) -> DataFrame:
    """XML ingestion (Spark 4's built-in XML source — no external
    package) with the same ENGINE re-classification pass as CSV/JSON:
    string leaves that parse uniformly get promoted by the anonymous
    cast (C31), so an all-numeric ``<qty>`` element becomes a numeric
    column from ONE full-data aggregate, not Spark's sampler.
    ``row_tag`` names the repeated element that forms a row; nested
    elements arrive as struct columns whose STRING LEAVES the cast
    promotes recursively under the same one-aggregate convention
    (round 9), and *repeated* elements arrive as ``array<string>``
    columns whose ELEMENTS promote the same way (round 10 — an
    all-numeric repeated ``<qty>`` becomes ``array<bigint>``; a mixed
    one stays string).  The source's own SAMPLING
    inference is disabled (``inferSchema=false`` → all-string leaves)
    so the engine's full-data pass owns the decision, same as the CSV
    path."""
    from ..convert.cast import cast

    raw = (
        spark.read.format("xml").option("rowTag", row_tag)
        .option("inferSchema", "false").options(**options).load(path)
    )
    return cast(raw, errors="coerce")


def read_text_lines(
    spark: SparkSession, path: str, classify: bool = False
) -> DataFrame:
    """Line-oriented text ingestion: one ``value`` string column per
    line (the raw-corpus entry point for the curation/dedup pipeline).
    ``classify=True`` additionally runs the engine's elementwise
    type-tagger so downstream casts know what the lines hold."""
    df = spark.read.text(path)
    if classify:
        from ..types.detect import type_tag_column

        df = df.withColumn("tag", type_tag_column(F.col("value")))
    return df


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Partitioned sink — the layout half of partition pruning: filters on
    ``partition_by`` columns prune whole directories at read time."""
    w = df.write.mode(mode).format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def spread(df: DataFrame, *key: str) -> DataFrame:
    """Round-robin repartition when the input has fewer partitions than the
    cluster has slots.  Single-row-group parquet files (every testdata
    table) admit exactly ONE scan task no matter what
    ``maxPartitionBytes`` says, which serializes any CPU-heavy downstream
    stage (regex classification, Arrow kernels, explodes); at real scale
    inputs have ≥slots splits and this is a no-op.  Where it does fire,
    the shuffled payload is the small input itself.

    The partition probe is driver-cheap: for plain scans it stats the
    input files (``df.rdd.getNumPartitions()`` re-plans the query into an
    RDD, ~1 s of driver time PER CALL); only computed frames fall back to
    the RDD probe.

    ``key`` columns switch the spread from round-robin to a hash
    repartition on those columns: when the downstream plan aggregates or
    windows on (a superset of) the key, the single spread exchange
    satisfies their ClusteredDistribution and Spark inserts no further
    shuffle — one exchange does both jobs (guide §2.4: two operations
    keyed the same way share one exchange).  Round-robin additionally
    pays a local sort of its input (sortBeforeRepartition, guide §2.5);
    the keyed form does not.
    """

    def _repart(frame: DataFrame) -> DataFrame:
        if key:
            return frame.repartition(target, *[F.col(k) for k in key])
        return frame.repartition(target)

    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        import os
        from urllib.parse import urlparse

        total = 0
        for f in files:
            p = urlparse(f).path or f
            try:
                total += os.path.getsize(p)
            except OSError:
                # non-local fs: trust the planner's split count instead
                return df
        # few files + small bytes ⇒ the scan cannot parallelize (≤1 task
        # per file / row group) and the shuffle payload is modest.  Large
        # inputs split fine natively — never reshuffle those.
        if len(files) < target and total < (256 << 20):
            return _repart(df)
        return df
    if df.rdd.getNumPartitions() < target:
        return _repart(df)
    return df


def _event_time_normalizer(spark: SparkSession, path: str):
    """Set the session up to read the parquet at ``path`` and return the
    function that normalizes a frame read from it afterwards — batch or
    stream — to µs TimestampType event time (the engine's boundary
    representation).  The one owner of the fix for :func:`read_table`
    and the staged event streams of ``streaming.rollup``.

    Two parquet shapes occur in the wild and both normalize here:
    * INT64 TIMESTAMP(NANOS) — Spark 4 rejects it outright, so read with
      ``nanosAsLong`` and truncate ns→µs (positive epochs: div == floor),
      same as DuckDB's read;
    * TIMESTAMP_NTZ (isAdjustedToUTC=false) — valid but rejected by
      instant-typed functions (``unix_micros``, watermarks).  With the
      session timezone pinned UTC the cast to TimestampType is a pure
      reinterpretation: no value shift vs. DuckDB's naive TIMESTAMP.

    Session-conf caveat: ``nanosAsLong`` must stay set for the returned
    (lazy) DataFrame to execute, so it is NOT restored afterwards — a
    later bare ``spark.read.parquet`` on a ns-timestamp file will
    return raw ns longs instead of failing.
    """
    from pyspark.sql import types as st

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ns_cols = nanos_timestamp_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def normalize(df: DataFrame) -> DataFrame:
        fixes = {
            c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in ns_cols
        }
        for field in df.schema:
            if isinstance(field.dataType, st.TimestampNTZType):
                fixes[field.name] = F.col(field.name).cast("timestamp")
        return df.withColumns(fixes) if fixes else df

    return normalize


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing event-time columns to µs
    TimestampType (both parquet shapes; see
    :func:`_event_time_normalizer`, which also sets the session conf the
    read needs and leaves it set).  Read through this function (the
    engine's ingestion contract) and the conversion is applied.
    """
    path = f"{sf_dir}/{name}.parquet"
    normalize = _event_time_normalizer(spark, path)
    return normalize(spark.read.parquet(path))
