"""Round-2 batch B: map ops (L10/L11), strict twins (R9), comparison edges
(R7), runtime aliases (R5), fuzzy datetime (C25)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

import bertrand_spark as b
from bertrand_spark.convert.cast import cast_col
from bertrand_spark.operators import maps as M


def one(df):
    return df.collect()[0]


class TestFuzzyDatetime:
    def test_fuzzy_extracts_date_from_text(self, spark):
        df = spark.createDataFrame(
            [("the meeting is on January 5, 2021 ok",), ("no date here at all",)],
            "s string",
        )
        out = df.select(
            cast_col(F.col("s"), "string", "datetime", fuzzy=True,
                     errors="coerce").alias("v")
        ).collect()
        got = sorted((r["v"] for r in out), key=lambda v: (v is None, v))
        assert got[0] == dt.datetime(2021, 1, 5)
        assert got[1] is None

    def test_day_first(self, spark):
        df = spark.createDataFrame([("03/02/2021",)], "s string")
        v = one(df.select(
            cast_col(F.col("s"), "string", "datetime", day_first=True,
                     errors="coerce").alias("v")))["v"]
        assert v == dt.datetime(2021, 2, 3)


class TestMapOps:
    def test_build_get_put_remove(self, spark):
        df = spark.range(1)
        m = M.map_from_pairs(("a", 1), ("b", 2))
        row = one(df.select(
            M.map_get(m, "a").alias("ga"),
            M.map_get(m, "z", -1).alias("gz"),
            M.map_get(M.map_put(m, "c", 3), "c").alias("put"),
            M.map_get(M.map_put(m, "a", 9), "a").alias("overwrite"),
            M.map_size(M.map_remove(m, "a")).alias("after_rm"),
            M.map_contains_key(m, "b").alias("has_b"),
        ))
        assert (row["ga"], row["gz"], row["put"], row["overwrite"]) == (1, -1, 3, 9)
        assert row["after_rm"] == 1 and row["has_b"] is True

    def test_ordered_views_and_sort(self, spark):
        df = spark.range(1)
        m = M.map_from_pairs(("b", 2), ("a", 1), ("c", 3))
        row = one(df.select(
            M.map_keys_ordered(m).alias("keys"),
            M.map_values_ordered(m).alias("vals"),
            F.transform(M.map_sorted_by_key(m), lambda e: e["key"]).alias("sorted_keys"),
        ))
        assert row["keys"] == ["b", "a", "c"]  # insertion order preserved
        assert row["vals"] == [2, 1, 3]
        assert row["sorted_keys"] == ["a", "b", "c"]

    def test_merge_and_invert(self, spark):
        df = spark.range(1)
        a = M.map_from_pairs(("x", 1), ("y", 2))
        bm = M.map_from_pairs(("y", 20), ("z", 30))
        row = one(df.select(
            M.map_get(M.map_merge(a, bm), "y").alias("right_wins"),
            M.map_get(M.map_invert(a), 2).alias("inv"),
        ))
        assert row["right_wins"] == 20
        assert row["inv"] == "y"


class TestStrictTwins:
    def test_links(self):
        t = b.resolve("int64")
        strict = t.as_strict()
        assert strict is not t
        assert strict.backend == "strict" and not strict.is_nullable
        assert strict.as_nullable() is t
        assert strict.as_default() is t
        assert t.contains(strict)  # twin is inside the family
        assert b.resolve("int64[strict]") is strict

    def test_detect_nullable_flag(self, spark):
        import pyspark.sql.types as st

        schema = st.StructType([
            st.StructField("a", st.LongType(), nullable=False),
            st.StructField("b", st.LongType(), nullable=True),
        ])
        df = spark.createDataFrame([], schema)
        observed = b.detect(df)
        assert observed["a"].backend == "strict"
        assert observed["b"].backend != "strict"

    def test_leaves_exclude_twins(self):
        assert all(
            t.backend != "strict" for t in b.resolve("int").root.leaves
        )


class TestEdgesAndAliases:
    def test_comparison_edges(self):
        assert b.resolve("bool") < b.resolve("int8")
        assert b.resolve("int64") < b.resolve("float64")
        assert b.resolve("float64") < b.resolve("complex128")
        # transitive through the edge graph
        assert b.registry.edge_less(b.resolve("bool"), b.resolve("float64"))

    def test_runtime_alias(self):
        t = b.resolve("int64")
        b.registry.register_alias("my_bigint", t)
        try:
            assert b.resolve("my_bigint") is t
        finally:
            b.registry.remove_alias("my_bigint")
        with pytest.raises(Exception):
            b.resolve("my_bigint")
