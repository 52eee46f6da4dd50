"""The engine session lifecycle (``bertrand_spark/session.py``): the one
session builder, the recommended runtime confs, and the cache-release
helper the library's cache owners route through."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bertrand_spark.session import persistent_rdd_ids

_REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")


class TestSessionRecipe:
    def test_queries_apply_recommended_conf(self, spark, sf_dir):
        """Every declared query applies the shared session recipe to
        the session it is handed — a session built elsewhere gets the
        same runtime confs as the bench session."""
        from bertrand_spark.plans.queries import QUERIES
        from bertrand_spark.session import RECOMMENDED_RUNTIME_CONF

        key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        spark.conf.set(key, "false")
        QUERIES["q03_generic_casts"](spark, sf_dir)
        for k, v in RECOMMENDED_RUNTIME_CONF.items():
            assert spark.conf.get(k) == v

    def test_bench_routes_through_shared_recipe(self, spark):
        """A session from ``build_session`` — the builder bench, tests
        and tools all call — carries every recommended runtime conf and
        the recipe's ``max(4·cpus, 8)`` shuffle partitions."""
        from bertrand_spark.session import (
            RECOMMENDED_RUNTIME_CONF,
            build_session,
        )

        key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(key, "false")
        try:
            # getOrCreate hands back the suite's session with the
            # recipe's modifiable confs applied
            s = build_session(4, "recipe-check")
            for k, v in RECOMMENDED_RUNTIME_CONF.items():
                assert s.conf.get(k) == v
            assert s.conf.get("spark.sql.shuffle.partitions") == "16"
            assert s.conf.get("spark.sql.session.timeZone") == "UTC"
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", parts)

    def test_one_session_builder(self):
        """No Python file outside ``bertrand_spark/session.py`` and
        ``perfbench/`` builds its own session."""
        needle = "SparkSession" + ".builder"
        allowed = {os.path.join("bertrand_spark", "session.py")}
        found = []
        for root, dirs, files in os.walk(_REPO):
            rel_root = os.path.relpath(root, _REPO)
            dirs[:] = [
                d
                for d in dirs
                if not d.startswith(".")
                and d not in {"__pycache__", "spark-warehouse"}
                and not (rel_root == "." and d == "perfbench")
            ]
            for f in files:
                rel = os.path.normpath(os.path.join(rel_root, f))
                if not f.endswith(".py") or rel in allowed:
                    continue
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    if needle in fh.read():
                        found.append(rel)
        assert found == []


    def test_workers_import_the_drivers_engine(self, tmp_path):
        """A session built from a working directory that holds another
        ``bertrand_spark`` still runs its UDFs against the driver's."""
        import subprocess
        import sys

        decoy = tmp_path / "bertrand_spark"
        decoy.mkdir()
        (decoy / "__init__.py").write_text("")
        repo = os.path.abspath(_REPO)
        script = (
            "import sys\n"
            f"sys.path.insert(0, {repo!r})\n"
            "import bertrand_spark\n"
            "from pyspark.sql import functions as F\n"
            "from bertrand_spark.session import build_session\n"
            "spark = build_session(1, 'worker-path', **{\n"
            "    'spark.driver.memory': '1g', 'spark.ui.enabled': 'false'})\n"
            "@F.udf('string')\n"
            "def where(_):\n"
            "    import bertrand_spark\n"
            "    return bertrand_spark.__file__\n"
            "print(bertrand_spark.__file__)\n"
            "print(spark.range(1).select(where('id')).first()[0])\n"
            "spark.stop()\n"
        )
        out = subprocess.run(
            [sys.executable, "-c", script],
            cwd=tmp_path,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        driver, worker = out.stdout.strip().splitlines()[-2:]
        assert driver == os.path.join(repo, "bertrand_spark", "__init__.py")
        assert worker == driver


class TestCacheRelease:
    def test_x18_releases_near_dup_caches(self, spark, sf_dir):
        """x18 keeps only its two stage checkpoints (post-exact-dedup and
        survivors): the MinHash prep cache and the drop list are freed
        once the survivors are materialized."""
        from bertrand_spark.plans.queries import QUERIES

        before = persistent_rdd_ids(spark)
        rows = QUERIES["x18_pipeline_end_to_end"](spark, sf_dir).collect()
        assert len(rows) == 1
        assert len(persistent_rdd_ids(spark) - before) == 2

    def test_stream_fuzzy_dedup_epochs_add_no_cache(
        self, spark, sf_dir, tmp_path
    ):
        from bertrand_spark.sources.reader import read_table
        from bertrand_spark.streaming import stream_fuzzy_dedup

        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        store = docs.filter(F.col("doc_id") % 2 == 0)
        near = store.limit(2).select(
            (F.col("doc_id") + 100_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        )
        odd = docs.filter(F.col("doc_id") % 2 == 1)
        handler = stream_fuzzy_dedup(store, str(tmp_path / "kept"))
        before = persistent_rdd_ids(spark)
        handler(odd.filter(F.col("doc_id") % 4 == 1).unionByName(near), 0)
        handler(odd.filter(F.col("doc_id") % 4 == 3), 1)
        assert persistent_rdd_ids(spark) <= before
        kept = spark.read.parquet(str(tmp_path / "kept"))
        assert kept.filter(F.col("doc_id") >= 100_000).count() == 0

    def test_connected_components_frees_superseded_rounds(
        self, spark, monkeypatch
    ):
        """Distributed CC leaves the same persistent RDDs after 3 rounds
        as after 6: each round frees the checkpoint it supersedes."""
        from bertrand_spark.pipeline.graph import connected_components

        def run(chain_len):
            df = spark.createDataFrame(
                [(i, i + 1) for i in range(chain_len)], "id_a long, id_b long"
            )
            calls = []
            orig = type(df).localCheckpoint

            def counting(self, *a, **k):
                calls.append(1)
                return orig(self, *a, **k)

            with monkeypatch.context() as m:
                m.setattr(type(df), "localCheckpoint", counting)
                before = persistent_rdd_ids(spark)
                out = connected_components(df, local_threshold=0)
                assert out.count() == chain_len + 1
                left = len(persistent_rdd_ids(spark) - before)
            return len(calls) - 1, left  # the first checkpoint is round 0

        (rounds_3, left_3), (rounds_6, left_6) = run(3), run(20)
        assert (rounds_3, rounds_6) == (3, 6)
        assert left_3 == left_6


def _run_script(script, env=None, timeout=300):
    """Run ``script`` in a fresh Python (its own JVM); returns stdout
    lines, failing the test with the script's stderr on error."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=timeout,
        env=None if env is None else {**os.environ, **env},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout.strip().splitlines()


def _write_zip(path, modules):
    import zipfile

    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name + ".py", src)


class TestZipRereadGuard:
    """``session.guard_zip_rereads``: a zip importer re-reads its
    archive's directory only when the archive changed."""

    def _guarded(self, monkeypatch):
        """Install the guard for this test only; returns the list that
        records every directory read."""
        import zipimport

        from bertrand_spark.session import guard_zip_rereads

        monkeypatch.setattr(
            zipimport.zipimporter,
            "invalidate_caches",
            zipimport.zipimporter.invalidate_caches,
        )
        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        guard_zip_rereads()
        guard_zip_rereads()  # idempotent: one wrapper, not two
        return reads

    def test_no_reread_while_zip_unchanged(self, tmp_path, monkeypatch):
        import zipimport

        path = str(tmp_path / "lib.zip")
        _write_zip(path, {"zmod_a": "X = 1\n"})
        importer = zipimport.zipimporter(path)
        reads = self._guarded(monkeypatch)
        for _ in range(5):
            importer.invalidate_caches()
        assert reads == [path]  # the first call reads; no stamp before it

    def test_rewritten_zip_imports_added_module(self, tmp_path, monkeypatch):
        import importlib
        import sys

        path = str(tmp_path / "lib.zip")
        _write_zip(path, {"zmod_a": "X = 1\n"})
        monkeypatch.syspath_prepend(path)
        reads = self._guarded(monkeypatch)
        try:
            assert importlib.import_module("zmod_a").X == 1
            importlib.invalidate_caches()
            importlib.invalidate_caches()
            n = len(reads)
            _write_zip(path, {"zmod_a": "X = 1\n", "zmod_b": "Y = 2\n"})
            importlib.invalidate_caches()
            assert len(reads) == n + 1
            assert importlib.import_module("zmod_b").Y == 2
        finally:
            sys.modules.pop("zmod_a", None)
            sys.modules.pop("zmod_b", None)
            sys.path_importer_cache.pop(path, None)

    def test_worker_rereads_each_importer_at_most_once(self):
        """A ``row_udf`` kernel over 16 partitions at ``local[2]``: after
        the first task a worker runs it in, each zip importer reads its
        archive at most once more, however many tasks follow (unguarded,
        PySpark's per-task ``importlib.invalidate_caches()`` re-reads
        every importer at every task)."""
        repo = os.path.abspath(_REPO)
        script = (
            "import sys\n"
            f"sys.path.insert(0, {repo!r})\n"
            "from bertrand_spark.functions.kernel import row_udf\n"
            "from bertrand_spark.session import build_session\n"
            "spark = build_session(2, 'zip-rereads', **{\n"
            "    'spark.driver.memory': '1g', 'spark.ui.enabled': 'false'})\n"
            "def probe(_):\n"
            "    import collections, os, sys, zipimport\n"
            "    from pyspark import TaskContext\n"
            "    state = getattr(zipimport, '_probe_state', None)\n"
            "    if state is None:\n"
            "        reads, read = collections.Counter(), zipimport._read_directory\n"
            "        def counting(archive):\n"
            "            reads[archive] += 1\n"
            "            return read(archive)\n"
            "        zipimport._read_directory = counting\n"
            "        state = zipimport._probe_state = (reads, set())\n"
            "    reads, tasks = state\n"
            "    tasks.add(TaskContext.get().partitionId())\n"
            "    importers = collections.Counter(\n"
            "        f.archive for f in sys.path_importer_cache.values()\n"
            "        if isinstance(f, zipimport.zipimporter))\n"
            "    excess = max((reads[a] - importers[a] for a in reads), default=0)\n"
            "    return '%d %d %d' % (os.getpid(), len(tasks), excess)\n"
            "df = spark.range(0, 64, 1, 16).select(row_udf('string', probe)('id'))\n"
            "for r in df.collect():\n"
            "    print(r[0])\n"
            "spark.stop()\n"
        )
        rows = [tuple(map(int, ln.split())) for ln in _run_script(script)[-64:]]
        tasks = {}
        for pid, n_tasks, excess in rows:
            tasks[pid] = max(tasks.get(pid, 0), n_tasks)
            assert excess <= 0, rows
        # some worker ran enough tasks for an unguarded re-read to show
        assert max(tasks.values()) >= 3, tasks


class TestLocalFrame:
    """``session.local_frame`` builds the same DataFrame as
    ``createDataFrame`` over the same rows, through Arrow."""

    @staticmethod
    def _cases():
        import datetime
        from decimal import Decimal

        from pyspark.sql import Row
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        scalars = "i int, l bigint, d double, s string, b boolean"
        rich = (
            "dt date, ts timestamp, dec decimal(10,2), bin binary, "
            "arr array<string>, m map<string,int>, st struct<a:int,b:string>"
        )
        ts = datetime.datetime(2020, 1, 2, 3, 4, 5, 6)
        aware = datetime.datetime(2020, 1, 2, 3, 4, tzinfo=datetime.timezone.utc)
        strict = StructType(
            [StructField("id", LongType(), False), StructField("g", StringType())]
        )
        return [
            # the DDL sites: params/merges JSON strings, band geometry,
            # the λ table, the funnel
            ([("{}",)], "params string"),
            ([(5, 16, 3)], "k int, num_bands int, shingle_n int"),
            ([(0, -0.5), (1, 2.25)], "bucket int, lam double"),
            ([(1, "r", 10, 2, 0.2, 0.8)],
             "stage int, rule string, n_reaching long, n_failed long, "
             "drop_frac double, cum_keep_frac double"),
            ([(1, 2, 3.5, "a", True), (None,) * 5], scalars),
            ([(datetime.date(2020, 1, 2), ts, Decimal("1.25"), b"\x00\xff",
               ["x", None], {"k": 1}, Row(a=1, b="z")),
              (None,) * 7], rich),
            ([(datetime.date(2020, 1, 2), aware, None, bytearray(b"ab"),
               [], {}, (2, None))], rich),
            # collected rows with their schema (top-k, x29, CC labels)
            ([Row(id=3, g="x"), Row(id=4, g=None)], strict),
            # empty frames (profile_table, an unprobed IVF search)
            ([], scalars),
            ([], strict),
            # names only: types inferred from the values (dispatch)
            ([(1,), (2,)], ["value"]),
            ([(1.5,), (None,)], ["value"]),
            ([("a",)], ["v"]),
            ([(True,)], ["ok"]),
            ([(ts,)], ["value"]),
            ([(datetime.date(2020, 1, 2),)], ["value"]),
        ]

    def test_matches_row_path(self, spark):
        from bertrand_spark.session import local_frame

        for rows, schema in self._cases():
            got = local_frame(spark, rows, schema)
            want = spark.createDataFrame(rows, schema)
            assert got.schema == want.schema, (rows, schema)
            assert got.collect() == want.collect(), (rows, schema)

    def test_matches_pandas_path(self, spark):
        import pandas as pd

        from bertrand_spark.session import local_frame

        for s in (
            pd.Series([1, 2, 3]),
            pd.Series([1.5, None]),
            pd.Series(["a", None]),
            pd.Series(pd.to_datetime(["2020-01-02 03:04:05", None])),
        ):
            pdf = s.rename("value").to_frame()
            got = local_frame(spark, pdf, None)
            want = spark.createDataFrame(pdf)
            assert got.schema == want.schema, s
            # repr: NaN rows compare equal
            assert repr(got.collect()) == repr(want.collect()), s

    def test_nullability_enforced(self, spark):
        import pytest
        from pyspark.sql.types import LongType, StructField, StructType

        from bertrand_spark.session import local_frame

        schema = StructType([StructField("id", LongType(), False)])
        with pytest.raises(Exception):
            local_frame(spark, [(None,)], schema)

    def test_no_python_rdd(self, spark):
        """The row path decodes its rows in Python tasks (a PythonRDD in
        the lineage); ``local_frame``'s Arrow batches do not."""
        from bertrand_spark.session import local_frame

        rows = [(i, float(i)) for i in range(100)]
        schema = "bucket int, lam double"

        def lineage(df):
            return df._jdf.rdd().toDebugString()

        assert "PythonRDD" in lineage(spark.createDataFrame(rows, schema))
        assert "PythonRDD" not in lineage(local_frame(spark, rows, schema))

    def test_naive_timestamp_in_local_zone(self):
        """With a non-UTC ``TZ`` a naive ``datetime``, in rows or in a
        pandas frame, is a local wall-clock time on both paths (12:00 in
        New York is 17:00 UTC in January)."""
        repo = os.path.abspath(_REPO)
        script = (
            "import datetime, sys\n"
            "import pandas as pd\n"
            f"sys.path.insert(0, {repo!r})\n"
            "from bertrand_spark.session import build_session, local_frame\n"
            "spark = build_session(1, 'tz', **{\n"
            "    'spark.driver.memory': '1g', 'spark.ui.enabled': 'false'})\n"
            "t = datetime.datetime(2024, 1, 15, 12, 0)\n"
            "rows, ddl = [(t, [t])], 't timestamp, a array<timestamp>'\n"
            "pdf = pd.DataFrame({'t': pd.to_datetime([t])})\n"
            "for df in (local_frame(spark, rows, ddl),\n"
            "           spark.createDataFrame(rows, ddl),\n"
            "           local_frame(spark, rows, ['t', 'a']),\n"
            "           spark.createDataFrame(rows, ['t', 'a'])):\n"
            "    print(*df.selectExpr('string(t)', 'string(a[0])').first())\n"
            "for df in (local_frame(spark, pdf, None), spark.createDataFrame(pdf)):\n"
            "    print(df.selectExpr('string(t)').first()[0])\n"
            "spark.stop()\n"
        )
        lines = _run_script(script, env={"TZ": "America/New_York"})[-6:]
        assert lines[:4] == ["2024-01-15 17:00:00 2024-01-15 17:00:00"] * 4
        assert lines[4:] == ["2024-01-15 17:00:00"] * 2


class TestOneLocalFrame:
    def test_create_dataframe_only_in_local_frame(self):
        """No ``createDataFrame(`` call in ``bertrand_spark/`` outside
        ``session.local_frame``: every driver-side table goes through
        Arrow, none through a PythonRDD."""
        import ast

        pkg = os.path.join(_REPO, "bertrand_spark")
        found = []
        for root, _, files in os.walk(pkg):
            for f in files:
                if not f.endswith(".py"):
                    continue
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read())
                allowed = set()
                if os.path.relpath(path, pkg) == "session.py":
                    for node in ast.walk(tree):
                        if (isinstance(node, ast.FunctionDef)
                                and node.name == "local_frame"):
                            allowed |= {id(n) for n in ast.walk(node)}
                for node in ast.walk(tree):
                    if (isinstance(node, ast.Call)
                            and isinstance(node.func, ast.Attribute)
                            and node.func.attr == "createDataFrame"
                            and id(node) not in allowed):
                        found.append(
                            f"{os.path.relpath(path, _REPO)}:{node.lineno}"
                        )
        assert found == []
