"""Sources/sinks: the parquet resolution behind ``read_table`` and its
ns/NTZ timestamp fixes, inferred CSV/JSON, partitioned writes, IVF
persistence."""

import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bertrand_spark.sources.reader import (
    read_csv_inferred,
    read_json_inferred,
    write_partitioned,
)


class TestInferredSources:
    def test_csv_round_trip(self, spark):
        with tempfile.TemporaryDirectory() as d:
            src = spark.createDataFrame(
                [(1, 2.5, "true", "hello"), (2, 3.5, "false", "world")],
                "a long, b double, c string, d string",
            )
            src.select(
                F.col("a").cast("string"), F.col("b").cast("string"), "c", "d"
            ).write.mode("overwrite").option("header", True).csv(f"{d}/csv")
            out = read_csv_inferred(spark, f"{d}/csv")
            kinds = {f.name: f.dataType.simpleString() for f in out.schema.fields}
            assert kinds == {
                "a": "bigint", "b": "double", "c": "boolean", "d": "string"
            }
            assert out.count() == 2

    def test_json_strings_promoted(self, spark):
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                [("10", "x"), ("20", "y")], "n string, s string"
            ).write.mode("overwrite").json(f"{d}/js")
            out = read_json_inferred(spark, f"{d}/js")
            assert out.schema["n"].dataType.simpleString() == "bigint"
            assert out.schema["s"].dataType.simpleString() == "string"

    def test_xml_strings_promoted(self, spark):
        """Spark 4's built-in XML source behind the same engine
        re-classification as CSV/JSON: numeric leaves promote, nested
        structs pass through untouched (round 8)."""
        import os

        from bertrand_spark.sources.reader import read_xml_inferred

        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "recs.xml")
            with open(path, "w") as f:
                f.write(
                    "<records>"
                    "<rec><qty>10</qty><name>ax</name>"
                    "<meta><tag>u</tag></meta></rec>"
                    "<rec><qty>25</qty><name>by</name>"
                    "<meta><tag>v</tag></meta></rec>"
                    "</records>"
                )
            out = read_xml_inferred(spark, path, row_tag="rec")
            kinds = {f.name: f.dataType.simpleString() for f in out.schema.fields}
            assert kinds["qty"] == "bigint"
            assert kinds["name"] == "string"
            assert kinds["meta"].startswith("struct")
            rows = {r["name"]: r["qty"] for r in out.collect()}
            assert rows == {"ax": 10, "by": 25}

    def test_write_partitioned_prunes(self, spark):
        with tempfile.TemporaryDirectory() as d:
            df = spark.createDataFrame(
                [(i % 3, i) for i in range(30)], "p int, v int"
            )
            write_partitioned(df, f"{d}/t", partition_by=["p"])
            back = spark.read.parquet(f"{d}/t").filter(F.col("p") == 1)
            assert back.count() == 10
            plan = back._jdf.queryExecution().executedPlan().toString()
            # partition filter must reach the scan, not a post-filter
            assert "PartitionFilters: [isnotnull(p" in plan


class TestIvfPersistence:
    def test_write_read_probe(self, spark, sf_dir):
        import tempfile

        from bertrand_spark.pipeline.similarity import (
            ivf_build, ivf_read, ivf_topk, ivf_write,
        )

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        assigned, cents = ivf_build(e, num_cells=4)
        with tempfile.TemporaryDirectory() as d:
            ivf_write(assigned, cents, f"{d}/ivf")
            loaded, cents2 = ivf_read(spark, f"{d}/ivf")
            assert cents2 == cents
            q = e.limit(1).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
            )
            top = ivf_topk(loaded, cents2, q, k=3, nprobe=2)
            rows = top.collect()
            assert 0 < len(rows) <= 3
            # self-match comes back first with cosine ~1
            assert abs(rows[0]["cosine"] - 1.0) < 1e-9


class TestMoreFormats:
    def test_orc_round_trip(self, spark, sf_dir, tmp_path):
        from bertrand_spark.sources.reader import read_orc, read_table, write_partitioned

        src = read_table(spark, sf_dir, "nation")
        dest = str(tmp_path / "nation_orc")
        write_partitioned(src, dest, partition_by=["n_regionkey"], fmt="orc")
        back = read_orc(spark, dest)
        assert back.count() == src.count()
        a = {tuple(r) for r in src.select("n_nationkey", "n_name").collect()}
        b = {tuple(r) for r in back.select("n_nationkey", "n_name").collect()}
        assert a == b

    def test_text_lines_classified(self, spark, tmp_path):
        from bertrand_spark.sources.reader import read_text_lines

        p = tmp_path / "corpus.txt"
        p.write_text("hello world\n42\n3.14\n2024-01-02\ntrue\n")
        out = read_text_lines(spark, str(p), classify=True)
        tags = {r["value"]: r["tag"] for r in out.collect()}
        assert tags["42"] == "int"
        assert tags["3.14"] == "float"
        assert tags["2024-01-02"] == "datetime"
        assert tags["true"] == "bool"
        assert tags["hello world"] == "str"


class TestBucketedLayout:
    def test_bucketed_join_has_no_exchange(self, spark, sf_dir):
        """The SCALE.md co-location claim, proven on a real plan: equal
        bucketing on the join key eliminates every shuffle from the join."""
        from bertrand_spark.sources.reader import write_bucketed

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        )
        write_bucketed(li, "t_li_bucketed", ["l_orderkey"], num_buckets=8)
        write_bucketed(o, "t_o_bucketed", ["o_orderkey"], num_buckets=8)
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # forbid broadcast so the join would otherwise shuffle both sides
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = spark.table("t_li_bucketed").join(
                spark.table("t_o_bucketed"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
            assert j.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
            spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
            spark.sql("DROP TABLE IF EXISTS t_o_bucketed")


class TestBandTableBucketed:
    def test_bucketed_band_join_no_exchange_and_same_candidates(
        self, spark, sf_dir
    ):
        from bertrand_spark.pipeline.dedup import (
            candidate_pairs_from_band_table,
            min_band_matches,
            minhash_banded_vectorized,
            write_band_table,
        )
        from bertrand_spark.sources.reader import read_table, spread

        d = read_table(spark, sf_dir, "documents").limit(200)
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # at test size the planner would broadcast the band table;
            # force the sort-merge path the bucket layout exists for
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            write_band_table(
                d, "t_bands", k=770, num_bands=154, shingle_n=5, num_buckets=8
            )
            cand = candidate_pairs_from_band_table(
                spark, "t_bands", threshold=0.6
            )  # banding geometry comes from the __params companion
            plan = cand._jdf.queryExecution().executedPlan().toString()
            # both scan sides are bucket-aligned: NO exchange on the join
            # key (band/bucket); the only exchange in the plan is the
            # pair-groupBy above the join
            assert "SortMergeJoin" in plan
            assert "Bucketed: true" in plan
            for ln in plan.splitlines():
                if "Exchange" in ln:
                    assert "band" not in ln, ln
            got = {(r["id_a"], r["id_b"]) for r in cand.collect()}

            # same candidates as the inline (shuffled) band join
            kernel = minhash_banded_vectorized(770, 154, 5)
            bands = (
                spread(d)
                .select(F.col("doc_id"), kernel(F.col("text")).alias("__p"))
                .select(
                    "doc_id",
                    F.posexplode("__p.bk").alias("band", "bucket"),
                )
            )
            a = bands.withColumnRenamed("doc_id", "id_a")
            b = bands.withColumnRenamed("doc_id", "id_b")
            consensus = min_band_matches(0.6, 5, 154, 1e-4)
            want = {
                (r["id_a"], r["id_b"])
                for r in (
                    a.join(b, ["band", "bucket"])
                    .filter(F.col("id_a") < F.col("id_b"))
                    .groupBy("id_a", "id_b")
                    .agg(F.count("*").alias("m"))
                    .filter(F.col("m") >= consensus)
                ).collect()
            }
            assert got == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
            spark.sql("DROP TABLE IF EXISTS t_bands")
            spark.sql("DROP TABLE IF EXISTS t_bands__params")


def _jobs(spark) -> int:
    """Spark jobs the session has started so far."""
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


class TestOneResolver:
    """Each parquet file version is resolved once (schema, ns and NTZ
    columns); ``read_table`` and ``read_events_stream`` load from it."""

    def test_second_read_starts_no_job(self, spark, tmp_path):
        pq.write_table(pa.table({
            "id": [1, 2],
            "ts": pa.array(np.array([1, 2], dtype="datetime64[us]")),
        }), str(tmp_path / "t.parquet"))
        from bertrand_spark.sources.reader import read_table

        j0 = _jobs(spark)
        first = read_table(spark, str(tmp_path), "t")
        j1 = _jobs(spark)
        second = read_table(spark, str(tmp_path), "t")
        assert j1 - j0 >= 1 and _jobs(spark) == j1
        assert second.schema == first.schema
        assert second.collect() == first.collect()

    def test_file_rewritten_by_pyarrow(self, spark, tmp_path):
        from bertrand_spark.sources.reader import read_table

        p = str(tmp_path / "t.parquet")
        pq.write_table(pa.table({"a": [1, 2]}), p)
        assert read_table(spark, str(tmp_path), "t").columns == ["a"]
        pq.write_table(pa.table({"a": [3, 4, 5], "b": ["x", "y", "z"]}), p)
        got = read_table(spark, str(tmp_path), "t")
        assert got.columns == ["a", "b"]
        assert sorted(tuple(r) for r in got.collect()) == [
            (3, "x"), (4, "y"), (5, "z")]

    def test_directory_overwritten_by_spark(self, spark, tmp_path):
        from bertrand_spark.sources.reader import read_table

        p = str(tmp_path / "t.parquet")
        spark.range(3).write.parquet(p)
        assert read_table(spark, str(tmp_path), "t").columns == ["id"]
        spark.range(5).withColumn("b", F.col("id") * 2).write.mode(
            "overwrite").parquet(p)
        got = read_table(spark, str(tmp_path), "t")
        assert got.columns == ["id", "b"]
        assert sorted(tuple(r) for r in got.collect()) == [
            (i, 2 * i) for i in range(5)]

    def test_directory_member_rewritten(self, tmp_path):
        """Rewriting one member re-resolves the directory: its ns column,
        stored as µs before, is flagged."""
        from bertrand_spark.sources.reader import nanos_timestamp_columns

        d = tmp_path / "t.parquet"
        d.mkdir()
        for name in ("part-a.parquet", "part-b.parquet"):
            pq.write_table(pa.table({
                "ts": pa.array(np.array([1, 2], dtype="datetime64[us]"))
            }), str(d / name))
        assert nanos_timestamp_columns(str(d)) == ()
        pq.write_table(pa.table({
            "ts": pa.array(np.array([1, 2, 3], dtype="datetime64[ns]"))
        }), str(d / "part-b.parquet"))
        assert nanos_timestamp_columns(str(d)) == ("ts",)

    def test_file_uri_resolved_on_every_call(self, spark, tmp_path):
        """A path that cannot be stat'ed has no version key, so a rewrite
        between two reads is seen."""
        from bertrand_spark.sources.reader import read_table

        p = str(tmp_path / "t.parquet")
        uri = "file://" + str(tmp_path)
        pq.write_table(pa.table({"a": [1]}), p)
        assert read_table(spark, uri, "t").columns == ["a"]
        pq.write_table(pa.table({"a": [2], "b": [3]}), p)
        got = read_table(spark, uri, "t")
        assert got.columns == ["a", "b"]
        assert [tuple(r) for r in got.collect()] == [(2, 3)]

    def test_dotted_toplevel_ntz_column(self, spark, tmp_path):
        from bertrand_spark.sources.reader import read_table

        pq.write_table(pa.table({
            "a.ts": pa.array(np.array([1_000_000], dtype="datetime64[us]"))
        }), str(tmp_path / "t.parquet"))
        got = read_table(spark, str(tmp_path), "t")
        assert got.schema["a.ts"].dataType.typeName() == "timestamp"
        assert got.select(F.unix_micros("`a.ts`")).first()[0] == 1_000_000

    def test_dotted_toplevel_ns_column(self, spark, tmp_path):
        from bertrand_spark.sources.reader import (
            nanos_timestamp_columns,
            read_table,
        )

        p = str(tmp_path / "t.parquet")
        pq.write_table(pa.table({
            "a.ns": pa.array(np.array([1_000_999], dtype="datetime64[ns]"))
        }), p)
        assert nanos_timestamp_columns(p) == ("a.ns",)
        got = read_table(spark, str(tmp_path), "t")
        assert got.schema["a.ns"].dataType.typeName() == "timestamp"
        assert got.select(F.unix_micros("`a.ns`")).first()[0] == 1_000

    def test_one_inference_and_one_stager(self):
        """Lint: Spark infers a parquet schema in one place; the event
        stream has one stager and no keying of its own."""
        import bertrand_spark.sources.reader as reader
        import bertrand_spark.streaming.rollup as rollup

        srcs = [open(m.__file__).read() for m in (reader, rollup)]
        assert sum(s.count("spark.read.parquet(") for s in srcs) == 1
        for name in ("read_events_stream_split", "hashlib",
                     "max_files_per_trigger"):
            assert name not in srcs[1], name


class TestNanosDetectionShapes:
    """read_table's ns-normalization must fire ONLY for INT64
    TIMESTAMP(NANOS): pyarrow's arrow-level schema reports legacy INT96
    timestamps (Spark's default parquet output) as timestamp[ns] too,
    and flagging those applied a bogus ns->us division to an already-us
    column (bit any re-written table, e.g. scale_smoke's multiplied
    parquet)."""

    def test_int64_nanos_flagged(self, tmp_path):
        from bertrand_spark.sources.reader import nanos_timestamp_columns

        p = str(tmp_path / "ns.parquet")
        pq.write_table(
            pa.table({"ts": pa.array(np.array([1, 2], dtype="datetime64[ns]"))}),
            p,
        )
        assert nanos_timestamp_columns(p) == ("ts",)

    def test_spark_written_int96_not_flagged(self, spark, tmp_path):
        from bertrand_spark.sources.reader import nanos_timestamp_columns, read_table

        p = str(tmp_path / "t96.parquet")
        spark.range(3).select(
            F.timestamp_micros(F.col("id") * 1000000).alias("ts")
        ).write.mode("overwrite").parquet(p)
        assert nanos_timestamp_columns(p) == ()
        # and the full read path round-trips without the bogus division
        df = read_table(spark, str(tmp_path), "t96")
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        assert df.count() == 3

    def test_testdata_shapes_unchanged(self, sf_dir):
        from bertrand_spark.sources.reader import nanos_timestamp_columns

        # current-generation testdata is NTZ (handled by the cast path),
        # not INT64-nanos — detection must stay silent
        assert nanos_timestamp_columns(f"{sf_dir}/lineitem.parquet") == ()
        assert nanos_timestamp_columns(f"{sf_dir}/events.parquet") == ()

    def test_nested_ns_leaf_does_not_flag_toplevel(self, tmp_path):
        """A nested ns-timestamp leaf whose LEAF name matches a
        top-level us column must not trigger the ns->us division on the
        top-level column (parquet flattens paths; match on full path)."""
        from bertrand_spark.sources.reader import nanos_timestamp_columns

        p = str(tmp_path / "nested.parquet")
        t = pa.table({
            "a": pa.array(
                [{"ts": np.datetime64(1, "ns")}],
                type=pa.struct([("ts", pa.timestamp("ns"))]),
            ),
            "ts": pa.array(np.array([1], dtype="datetime64[us]")),
        })
        pq.write_table(t, p)
        assert nanos_timestamp_columns(p) == ()


class TestNanosMixedWriterDirectory:
    def test_union_over_fragments(self, tmp_path):
        """First fragment µs, second ns — the ns column must be flagged
        (pre-fix, only the first footer was read and the ns file's
        column silently skipped its ns→µs normalization)."""
        from bertrand_spark.sources.reader import nanos_timestamp_columns

        d = tmp_path / "mixed.parquet"
        d.mkdir()
        us = pa.table(
            {"ts": pa.array(np.array([1, 2], dtype="datetime64[us]"))}
        )
        ns = pa.table(
            {"ts": pa.array(np.array([1, 2], dtype="datetime64[ns]"))}
        )
        # fragment enumeration is name-ordered: the µs file sorts first
        pq.write_table(us, str(d / "part-a.parquet"))
        pq.write_table(ns, str(d / "part-b.parquet"))
        assert nanos_timestamp_columns(str(d)) == ("ts",)

    def test_read_table_names_column_and_files(self, spark, tmp_path):
        """Reading the same µs + ns directory through ``read_table``:
        Spark cannot scan one column as two physical types, so the load
        raises a ValueError naming the column and both files, before
        any Spark job starts (it used to fail inside ``collect()`` with
        ``PARQUET_COLUMN_DATA_TYPE_MISMATCH``)."""
        import pytest

        from bertrand_spark.sources.reader import read_table

        d = tmp_path / "mixed.parquet"
        d.mkdir()
        for name, unit in (("part-a", "us"), ("part-b", "ns")):
            pq.write_table(pa.table({
                "id": [1, 2],
                "ts": pa.array(np.array([1, 2], dtype=f"datetime64[{unit}]")),
            }), str(d / f"{name}.parquet"))
        j0 = _jobs(spark)
        with pytest.raises(ValueError) as err:
            read_table(spark, str(tmp_path), "mixed").collect()
        assert _jobs(spark) == j0
        msg = str(err.value)
        assert "'ts'" in msg and "part-a" in msg and "part-b" in msg
        assert "'id'" not in msg

    def test_uniform_us_stays_silent(self, tmp_path):
        from bertrand_spark.sources.reader import nanos_timestamp_columns

        d = tmp_path / "us.parquet"
        d.mkdir()
        t = pa.table({"ts": pa.array(np.array([1], dtype="datetime64[us]"))})
        pq.write_table(t, str(d / "part-a.parquet"))
        pq.write_table(t, str(d / "part-b.parquet"))
        assert nanos_timestamp_columns(str(d)) == ()

    def test_appended_ns_beyond_sample_width(self, tmp_path):
        """Round-6 (r5 ADVICE): a ns file appended as the LAST of 20
        fragments — beyond the old first-8 sample — must still be
        flagged, because the sampler now probes both ends of the
        fragment listing (appends typically sort last)."""
        from bertrand_spark.sources.reader import nanos_timestamp_columns

        d = tmp_path / "appended.parquet"
        d.mkdir()
        us = pa.table(
            {"ts": pa.array(np.array([1, 2], dtype="datetime64[us]"))}
        )
        ns = pa.table(
            {"ts": pa.array(np.array([1, 2], dtype="datetime64[ns]"))}
        )
        for i in range(19):
            pq.write_table(us, str(d / f"part-{i:03d}.parquet"))
        pq.write_table(ns, str(d / "part-019.parquet"))  # sorts last
        assert nanos_timestamp_columns(str(d)) == ("ts",)
