"""The engine's session lifecycle — ONE builder and ONE cache-release helper.

Session recipe: :func:`build_session` is the single way this repo's
bench, tests and tools build a Spark session, so the plans the audit
tools print are the plans the bench times.  Its confs are the bench's
(``local[cpus]``, ``max(4·cpus, 8)`` shuffle partitions, UTC, 16g
driver); a caller overrides a conf only where it needs a different
value.  :data:`RECOMMENDED_RUNTIME_CONF` holds the runtime-settable SQL
confs; :func:`tune_session` applies them to any existing session, and
every declared query calls it on the session it is handed, so driver
and library sessions run the same engine as the bench.

Cache release: library operators persist intermediate tables that
their lazy results still read (MinHash prep and candidate tables,
connected-components checkpoints).  :func:`persistent_rdd_ids`
snapshots the SparkContext's persistent RDD ids and
:func:`unpersist_rdds` frees a given set of them; a long-lived session
that calls such operators repeatedly takes a snapshot before the call
and releases ``persistent_rdd_ids(spark) - before`` once the result has
been written or materialized.  The diff claims every RDD persisted in
between, so it assumes nothing else persists in the SparkContext
concurrently.

Driver-side tables: :func:`local_frame` is the engine's one way to turn
rows (or a pandas frame) held on the driver into a DataFrame.  It
builds a ``pyarrow.Table`` in the driver and hands it to the JVM, so no
Python task runs; ``spark.createDataFrame`` over a Python list would
parallelize a PythonRDD and start a second Python daemon and worker pool
just to decode the rows.

Python workers: PySpark calls ``importlib.invalidate_caches()`` at the
start of every task, and CPython's ``zipimporter.invalidate_caches``
re-reads its archive's central directory on every call: a reused worker
re-read ``pyspark.zip`` (1,328 entries) once per zip importer, 16 times
per task.  Importing ``bertrand_spark`` inside a worker installs
:func:`guard_zip_rereads`, so each importer re-reads its archive only
when the file changed since its last read.  The driver is untouched.
"""

from __future__ import annotations

RECOMMENDED_RUNTIME_CONF: dict[str, str] = {
    # Let AQE coalesce exchanges that feed persist()/cache() plans.
    # Default false only to keep a cached plan's output partitioning
    # stable for downstream repartition-sensitive consumers, which
    # nothing in this engine relies on.  Without it every cached
    # materialization runs ALL spark.sql.shuffle.partitions tasks —
    # x18's 3 MB drop-list distinct ran 128 tiny tasks (r14 profile).
    # Scale-neutral: AQE only merges below-advisory-size partitions,
    # so at 100 TB the same setting is a no-op on big exchanges.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def tune_session(spark) -> None:
    """Apply the recommended runtime confs to ``spark`` (idempotent,
    best-effort: a managed session that locks a conf keeps its value)."""
    for k, v in RECOMMENDED_RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def build_session(cpus: int | str, app: str, **conf: str):
    """Build (or get) the engine's local session: ``local[cpus]`` with
    the bench's confs, then :func:`tune_session` and log level ERROR.

    ``conf`` maps Spark conf keys to values that replace or extend the
    recipe's, e.g. ``**{"spark.driver.memory": "4g"}``.

    The Python workers import the engine this function belongs to, not
    whichever ``bertrand_spark`` sits in the working directory: their
    ``PYTHONPATH`` leads with this checkout's root, followed by the
    working directory, and they skip Python's implicit working-directory
    entry (``PYTHONSAFEPATH``, Python ≥ 3.11) that would otherwise come
    first.  Like every conf here, this takes effect only when the call
    starts the JVM; on a JVM that is already running it has no effect.
    """
    import os

    from pyspark.sql import SparkSession

    cpus = int(cpus)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    recipe = {
        "spark.sql.shuffle.partitions": str(max(cpus * 4, 8)),
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": "16g",
        # many queries x many codegen units blow through the default
        # 100-entry generated-class LRU; evictions force Janino
        # recompiles mid-run
        "spark.sql.codegen.cache.maxEntries": "5000",
        # reclaim driver-side RDD/broadcast refs promptly so the context
        # cleaner drops prior queries' shuffle files during the run
        "spark.cleaner.periodicGC.interval": "30s",
        # workers plan-consistent with the driver: a tool run from one
        # checkout while the shell sits in another would otherwise
        # unpickle its UDFs against the other checkout's engine
        "spark.executorEnv.PYTHONPATH": os.pathsep.join((root, os.getcwd())),
        "spark.executorEnv.PYTHONSAFEPATH": "1",
    }
    recipe.update(conf)
    b = SparkSession.builder.master(f"local[{cpus}]").appName(app)
    for k, v in recipe.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    tune_session(spark)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def local_frame(spark, data, schema):
    """A DataFrame over ``data`` (a list of rows — tuples, ``Row`` objects
    or dicts — or a pandas DataFrame) built through Arrow on the driver.

    ``schema`` is a ``StructType``, a DDL string, or a list of column
    names whose types are inferred from the rows exactly as
    ``createDataFrame`` infers them.  Values convert as
    ``createDataFrame`` converts them: a naive ``datetime`` (or a naive
    pandas timestamp) for a ``timestamp`` column is a wall-clock time in
    the driver's local time zone (``TZ``), not in the session's.  The
    table reaches the JVM as Arrow batches; no Python worker starts."""
    import pandas as pd
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if isinstance(data, pd.DataFrame):  # Spark's own pandas-to-rows step
        schema = schema or [str(c) for c in data.columns]
        tz = spark._jconf.sessionLocalTimeZone()
        data = spark._convert_from_pandas(data, schema, tz)
    rows = list(data)
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    elif not isinstance(schema, StructType):
        schema = spark._inferSchemaFromList(rows, names=list(schema))
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, False)
    else:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)


def guard_zip_rereads() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` re-read an
    archive's directory only when the archive's ``(st_mtime_ns,
    st_size)`` differs from what that importer last read (idempotent).

    A changed or rewritten zip is still re-read, so a module added to
    it imports; an importer whose archive cannot be stat'ed re-reads as
    before."""
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "guarded", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.guarded = True
    invalidate_caches.__doc__ = reread.__doc__
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs currently persisted in ``spark``'s SparkContext."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def unpersist_rdds(spark, ids) -> None:
    """Unpersist the persisted RDDs among ``ids`` (best-effort: an id
    that is already gone is skipped, and leaked blocks only cost
    memory)."""
    from py4j.protocol import Py4JError

    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        try:
            rdd = jmap.get(i)
            if rdd is not None:
                rdd.unpersist()
        except Py4JError:
            pass
