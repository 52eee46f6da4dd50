"""Parquet ingestion: one resolution per parquet file version.

What a parquet input looks like is worked out once per file version by
the private :func:`_resolve`, and both parquet loads of the engine's
ingestion contract read from it: :func:`read_table` (batch) and
``streaming.rollup.read_events_stream`` (the staged event stream).  A
resolution holds

* the top-level INT64 TIMESTAMP(NANOS) columns, from the parquet footers
  (driver-side metadata, no data IO);
* the Spark schema, inferred once with ``nanosAsLong`` set when there
  are ns columns (Spark 4 otherwise rejects them, ``PARQUET_TYPE_ILLEGAL``;
  with it they arrive as raw ns LongType);
* from that schema the TIMESTAMP_NTZ columns, and one ``withColumns`` of
  fixes that turns both kinds into µs TimestampType.

A load reads with the resolved schema, so Spark infers nothing and starts
no job, and applies the fixes.

**Key.** A file is keyed by ``(path, mtime_ns, size)``; a directory by
that triple for each of its data files (names starting with ``_`` or
``.`` are not data, for Spark and pyarrow alike), so rewriting one member
re-resolves it.  A path that cannot be stat'ed, such as a remote URI
(``s3://``, ``file://``), is resolved afresh on every call: nothing local
tells its versions apart.

Reference parity: the reference engine stores datetimes as ns-since-epoch
int64 end-to-end (bertrand convert/datetime.py:67-121), this engine's
internal temporal currency too (SURVEY §7.4).  Spark's µs TimestampType
is the boundary representation, reached by truncating ns→µs division as
DuckDB does on read, so oracle comparisons line up bit-for-bit.
"""

from __future__ import annotations

import os
from functools import lru_cache
from stat import S_ISDIR

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Footer-sample width for mixed-writer directories (µs or INT96 files
# plus INT64-NANOS files appended later; tables the engine writes are
# single-writer): the FIRST k AND LAST k fragments are probed, as
# appended files typically enumerate last, and a debug log records the
# sampling when a directory has more than 2k (round-5 ADVICE).  Files
# that disagree on a column's unit cannot be scanned together, so a
# load of such a directory raises (``_Resolution.load``).
_NANOS_SAMPLE_FRAGMENTS = 8


def _quote(name: str) -> str:
    """``name`` as one backtick-quoted column reference, so a top-level
    name holding a dot never resolves to a struct field."""
    return "`" + name.replace("`", "``") + "`"


def _footer_nanos_columns(path: str) -> tuple[tuple[str, ...], dict]:
    """INT64 TIMESTAMP(NANOS) columns only — read from the PARQUET
    schema, not the Arrow view of it: pyarrow maps legacy INT96
    timestamps (Spark's default output type) to ``timestamp[ns]`` too,
    but Spark reads INT96 back as µs TimestampType natively, and
    flagging it would apply a bogus ns→µs division to an already-µs
    column (this bit any re-written table, e.g. scale_smoke's
    multiplied parquet).  The flagged sets of the sampled footers are
    UNIONed.  Also returns the columns the sampled files disagree on,
    ``{name: (files where ns, files where another type)}``."""
    import pyarrow.dataset as ds

    # ds.dataset resolves the filesystem from the URI (local, s3://,
    # hdfs://, ...) and enumerates data fragments, skipping _SUCCESS etc.
    dset = ds.dataset(path, format="parquet")
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
        frags = frags[:k] + frags[-k:]
    ns_in: dict = {}  # column -> files where it is ns
    other_in: dict = {}  # column -> files where it is another leaf type
    for frag in frags:
        schema = frag.metadata.schema  # parquet schema, not arrow
        for i in range(len(schema)):
            col = schema.column(i)
            # a leaf is top-level exactly when its path is its name: the
            # nested leaf `a`.`ns` has path ``a.ns`` and name ``ns``, the
            # top-level column ``a.ns`` has both ``a.ns``
            if col.path != col.name:
                continue
            lt = col.logical_type
            ns = (col.physical_type == "INT64" and lt.type == "TIMESTAMP"
                  and "timeUnit=nanoseconds" in str(lt))
            (ns_in if ns else other_in).setdefault(col.name, []).append(
                frag.path
            )
    mixed = {c: (ns_in[c], other_in[c]) for c in ns_in if c in other_in}
    return tuple(f.name for f in dset.schema if f.name in ns_in), mixed


class _Resolution:
    """What one version of the parquet file or directory at ``path``
    looks like.  The footer scan runs at construction; the Spark schema
    and the fixes are inferred on the first :meth:`load`, so the footer
    view (:func:`nanos_timestamp_columns`) needs no session."""

    def __init__(self, path: str):
        self.path = path
        self.ns_cols, self.mixed = _footer_nanos_columns(path)
        self._read: tuple | None = None  # (schema, fixes)

    def load(self, spark: SparkSession, reader) -> DataFrame:
        """Load ``path`` through ``reader`` (``spark.read`` or
        ``spark.readStream``, options set) with the resolved schema and
        fixes, after the conf writes :func:`read_table` documents.

        Raises ``ValueError``, before any Spark job, when the sampled
        files disagree on whether a column is INT64 TIMESTAMP(NANOS): a
        Spark scan reads one physical type per column, so such a
        directory fails mid-job (``PARQUET_COLUMN_DATA_TYPE_MISMATCH``)."""
        from pyspark.sql import types as st

        if self.mixed:
            raise ValueError(
                f"{self.path}: files disagree on the timestamp unit of "
                + "; ".join(
                    f"column {c!r} (ns in {ns}; another type in {other})"
                    for c, (ns, other) in self.mixed.items()
                )
                + ". Rewrite the files with one unit per column."
            )

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        if self.ns_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        if self._read is None:
            schema = spark.read.parquet(self.path).schema
            fixes = {
                c: F.timestamp_micros(F.expr(f"{_quote(c)} div 1000"))
                for c in self.ns_cols
            }
            for f in schema.fields:
                if isinstance(f.dataType, st.TimestampNTZType):
                    fixes[f.name] = F.col(_quote(f.name)).cast("timestamp")
            self._read = (schema, fixes)
        schema, fixes = self._read
        df = reader.schema(schema).parquet(self.path)
        return df.withColumns(fixes) if fixes else df


def _version(path: str) -> tuple | None:
    """The key of ``path``'s current version (module docstring), or None
    when it cannot be stat'ed."""
    try:
        st = os.stat(path)
        if not S_ISDIR(st.st_mode):
            return (path, st.st_mtime_ns, st.st_size)
        members = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for name in files:
                if not name.startswith(("_", ".")):
                    st = os.stat(os.path.join(root, name))
                    members.append((root, name, st.st_mtime_ns, st.st_size))
        return (path, tuple(sorted(members)))
    except OSError:
        return None


@lru_cache(maxsize=256)
def _resolved(key: tuple) -> _Resolution:
    return _Resolution(key[0])


def _resolve(path: str) -> _Resolution:
    """The resolution of ``path``'s current version; a fresh one on every
    call when the version has no key."""
    key = _version(path)
    return _Resolution(path) if key is None else _resolved(key)


def nanos_timestamp_columns(path: str) -> tuple[str, ...]:
    """Names of the top-level INT64 TIMESTAMP(NANOS) columns of a parquet
    file or directory: the footer view of its resolution."""
    return _resolve(path).ns_cols


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


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table through its resolution (module
    docstring): the resolved schema, so no inference job, then one
    ``withColumns`` that turns INT64 TIMESTAMP(NANOS) columns (truncating
    ns→µs, as DuckDB does) and TIMESTAMP_NTZ columns (a pure
    reinterpretation with the session time zone pinned to UTC, no value
    shift against DuckDB's naive TIMESTAMP) into µs TimestampType, which
    instant-typed functions (``unix_micros``, watermarks) accept.

    Conf contract: every call sets ``spark.sql.session.timeZone`` to UTC,
    and ``spark.sql.legacy.parquet.nanosAsLong`` to true when the table
    has ns columns, and leaves both set: the lazy frame needs them when
    it runs, so a later bare ``spark.read.parquet`` of a ns file returns
    raw ns longs instead of failing.  The two writes start no job.  They
    stay per call rather than in ``session.RECOMMENDED_RUNTIME_CONF``
    because ``read_table`` must be right on any session, tuned or not,
    and ``nanosAsLong`` on every session would turn that failure into
    silent raw longs for reads that do not come through here.

    A directory whose files disagree on a column's timestamp unit (one
    writer µs or INT96, another INT64 ns) raises ``ValueError`` naming
    the column and the files, before any Spark job.
    """
    return _resolve(f"{sf_dir}/{name}.parquet").load(spark, spark.read)
