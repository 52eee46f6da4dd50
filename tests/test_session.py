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
