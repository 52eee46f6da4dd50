"""Conversion engine: cast matrix, rounding, bounds, downcast, keyword
validation and the anonymous cast (SURVEY §2.2, §2.6, C31)."""

import datetime as dt
import decimal
import importlib
import pathlib
import pickle

import pytest
from pyspark.sql import functions as F
import pyspark.sql.types as st

import bertrand_spark as b
from bertrand_spark.convert.cast import CastError, cast, cast_col, infer_best_types
from bertrand_spark.functions.rounding import round_col, round_div, snap_round

# the packages re-export functions under the module names
cast_module = importlib.import_module("bertrand_spark.convert.cast")
detect_module = importlib.import_module("bertrand_spark.types.detect")


def rows(df, *cols):
    return [tuple(r) for r in df.select(*cols).collect()]


class TestRounding:
    @pytest.fixture(scope="class")
    def vals(self, spark):
        data = [(-2.5,), (-1.5,), (-0.5,), (0.5,), (1.5,), (2.5,), (1.4,), (-1.4,)]
        return spark.createDataFrame(data, ["x"])

    def test_all_rules(self, vals):
        got = vals.select(
            *[round_col(F.col("x"), r).alias(r) for r in sorted(
                ["floor", "ceiling", "down", "up", "half_floor",
                 "half_ceiling", "half_down", "half_up", "half_even"])]
        ).collect()
        by_x = {row_x: g for row_x, g in zip([r[0] for r in vals.collect()], got)}
        # python-reference expectations for 2.5
        r = by_x[2.5].asDict()
        assert r["floor"] == 2 and r["ceiling"] == 3
        assert r["down"] == 2 and r["up"] == 3
        assert r["half_up"] == 3 and r["half_down"] == 2
        assert r["half_even"] == 2
        assert r["half_floor"] == 2 and r["half_ceiling"] == 3
        r = by_x[-2.5].asDict()
        assert r["half_up"] == -3 and r["half_down"] == -2
        assert r["half_even"] == -2
        assert r["half_floor"] == -3 and r["half_ceiling"] == -2
        assert r["down"] == -2 and r["up"] == -3

    def test_round_div(self, spark):
        df = spark.createDataFrame([(7, 2), (-7, 2), (5, 3), (-5, 3)], ["n", "d"])
        got = df.select(
            round_div(F.col("n"), F.col("d"), "floor").alias("f"),
            round_div(F.col("n"), F.col("d"), "ceiling").alias("c"),
            round_div(F.col("n"), F.col("d"), "down").alias("t"),
            round_div(F.col("n"), F.col("d"), "half_even").alias("he"),
        ).collect()
        assert [r["f"] for r in got] == [3, -4, 1, -2]
        assert [r["c"] for r in got] == [4, -3, 2, -1]
        assert [r["t"] for r in got] == [3, -3, 1, -1]
        assert [r["he"] for r in got] == [4, -4, 2, -2]

    def test_snap_round(self, spark):
        df = spark.createDataFrame([(1.0000004,), (2.9999997,), (1.5,)], ["x"])
        got = df.select(snap_round(F.col("x"), 1e-6, errors="coerce").alias("v")).collect()
        assert got[0]["v"] == 1.0
        assert got[1]["v"] == 3.0
        assert got[2]["v"] is None  # not near-integer, no rule → coerced


class TestCastMatrix:
    def test_float_to_int(self, spark):
        df = spark.createDataFrame([(1.0,), (2.0000001,), (2.7,)], ["x"])
        out = b.cast(df, {"x": "int64"}, tol=1e-6, errors="coerce")
        assert [r["x"] for r in out.collect()] == [1, 2, None]
        out2 = b.cast(df, {"x": "int64"}, rounding="half_even", errors="coerce")
        assert [r["x"] for r in out2.collect()] == [1, 2, 3]

    def test_float_to_int_raise(self, spark):
        df = spark.createDataFrame([(2.7,)], ["x"])
        with pytest.raises(b.CastError):
            b.cast(df, {"x": "int64"}, errors="raise")

    def test_int_to_bool(self, spark):
        df = spark.createDataFrame([(0,), (1,), (2,)], ["x"])
        out = b.cast(df, {"x": "bool"}, errors="coerce")
        assert [r["x"] for r in out.collect()] == [False, True, None]

    def test_string_to_bool_tokens(self, spark):
        df = spark.createDataFrame(
            [("true",), (" YES ",), ("off",), ("0",), ("xyz",)], ["x"]
        )
        out = b.cast(df, {"x": "bool"}, errors="coerce")
        assert [r["x"] for r in out.collect()] == [True, True, False, False, None]

    def test_string_to_int_radix(self, spark):
        df = spark.createDataFrame([("ff",), ("10",)], ["x"])
        out = b.cast(df, {"x": "int64"}, base=16, errors="coerce")
        assert [r["x"] for r in out.collect()] == [255, 16]
        df2 = spark.createDataFrame([("0x1F",), ("0b1010",), ("0o777",), ("42",)], ["x"])
        out2 = b.cast(df2, {"x": "int64"}, base=0, errors="coerce")
        assert [r["x"] for r in out2.collect()] == [31, 10, 511, 42]

    def test_int_to_string_radix(self, spark):
        df = spark.createDataFrame([(255,), (-16,)], ["x"])
        out = b.cast(df, {"x": "string"}, base=16)
        assert [r["x"] for r in out.collect()] == ["ff", "-10"]

    def test_string_to_float_specials(self, spark):
        df = spark.createDataFrame([("1.5",), ("inf",), ("-inf",), ("bad",)], ["x"])
        out = b.cast(df, {"x": "float64"}, errors="coerce")
        got = [r["x"] for r in out.collect()]
        assert got[0] == 1.5 and got[1] == float("inf") and got[2] == float("-inf")
        assert got[3] is None

    def test_string_to_datetime_iso(self, spark):
        df = spark.createDataFrame(
            [("2021-03-04",), ("2021-03-04T05:06:07",), ("garbage",)], ["x"]
        )
        out = b.cast(df, {"x": "datetime"}, errors="coerce")
        got = [r["x"] for r in out.collect()]
        assert got[0] == dt.datetime(2021, 3, 4)
        assert got[1] == dt.datetime(2021, 3, 4, 5, 6, 7)
        assert got[2] is None

    def test_string_to_timedelta(self, spark):
        df = spark.createDataFrame(
            [("1:24:31.123",), ("1 day, 23 seconds",), ("1.5 hours",), ("-2 weeks",)],
            ["x"],
        )
        from bertrand_spark.functions.temporal import parse_timedelta_string
        out = df.select(parse_timedelta_string(F.col("x")).alias("ns")).collect()
        assert out[0]["ns"] == (1 * 3600 + 24 * 60 + 31) * 10**9 + 123_000_000
        assert out[1]["ns"] == (86400 + 23) * 10**9
        assert out[2]["ns"] == int(1.5 * 3600 * 10**9)
        assert out[3]["ns"] == -2 * 7 * 86400 * 10**9

    def test_int_to_datetime_epoch(self, spark):
        df = spark.createDataFrame([(0,), (86400,)], ["x"])
        out = b.cast(df, {"x": "datetime"}, unit="s", since="j2000")
        got = [r["x"] for r in out.collect()]
        assert got[0] == dt.datetime(2000, 1, 1, 12)
        assert got[1] == dt.datetime(2000, 1, 2, 12)

    def test_datetime_to_int_roundtrip(self, spark):
        df = spark.createDataFrame([(dt.datetime(2020, 5, 17, 3, 4, 5),)], ["x"])
        ns = b.cast(df, {"x": "int64"}, unit="s")
        back = b.cast(ns, {"x": "datetime"}, unit="s")
        assert back.collect()[0]["x"] == dt.datetime(2020, 5, 17, 3, 4, 5)

    def test_complex_roundtrip(self, spark):
        df = spark.createDataFrame([("1+2j",), ("-3.5j",), ("4",)], ["x"])
        out = b.cast(df, {"x": "complex"}, errors="coerce")
        got = [r["x"] for r in out.collect()]
        assert got[0] == (1.0, 2.0) and got[1] == (0.0, -3.5) and got[2] == (4.0, 0.0)
        back = b.cast(out, {"x": "string"})
        assert back.collect()[0]["x"] == "(1.0+2.0j)"

    def test_trivial_cast_noop(self, lineitem):
        out = b.cast(lineitem, {"l_orderkey": "int64"})
        assert out is lineitem


class TestDowncast:
    def test_downcast_plan(self, spark):
        df = spark.createDataFrame(
            [(1, 100, 100000, 1.5)], ["a", "b", "c", "d"]
        ).select(
            F.col("a").cast("long"), F.col("b").cast("long"),
            F.col("c").cast("long"), F.col("d").cast("double"),
        )
        plan = b.downcast_plan(df)
        assert plan["a"].simpleString() == "tinyint"
        assert plan["b"].simpleString() == "tinyint"
        assert plan["c"].simpleString() == "int"
        assert plan["d"].simpleString() == "float"

    def test_downcast_applies(self, lineitem):
        out = b.downcast(lineitem, ["l_linenumber"])
        assert dict(out.dtypes)["l_linenumber"] == "tinyint"

    def test_boundscheck(self, spark):
        df = spark.createDataFrame([(1,), (300,)], ["x"])
        with pytest.raises(ValueError):
            b.boundscheck(df, "x", "int8")
        filtered, _ = b.boundscheck(df, "x", "int8", errors="coerce")
        assert filtered.count() == 1
        _, t = b.boundscheck(df, "x", "int8", errors="ignore")
        assert t is b.resolve("int16")


class TestCastKeywords:
    """``CastArgs`` is the one validator of the cast keywords, so a
    direct call rejects what the attached verb rejects."""

    def test_negative_tol_rejected(self):
        with pytest.raises(ValueError, match="tol must be >= 0"):
            cast_col(F.col("x"), "float64", "int64", tol=-1, errors="coerce")

    def test_unknown_rounding_rejected(self, spark):
        df = spark.createDataFrame([("1",)], "s string")
        with pytest.raises(ValueError, match="rounding must be one of"):
            cast(df, {"s": "int64"}, rounding="bogus")


class TestAnonymousCast:
    def test_infer_string_columns(self, spark):
        df = spark.createDataFrame(
            [("1", "1.5", "true", "2020-01-02", "word"),
             ("2", "7", "no", "2021-03-04", "x"),
             (None, "3.25", "yes", None, "y")],
            "a string, b string, c string, d string, e string",
        )
        plan = infer_best_types(df)
        assert plan == {"a": "int64", "b": "float64", "c": "bool", "d": "datetime"}
        out = cast(df, errors="coerce")
        kinds = {f.name: f.dataType.simpleString() for f in out.schema.fields}
        assert kinds == {
            "a": "bigint", "b": "double", "c": "boolean",
            "d": "timestamp", "e": "string",
        }
        rows = out.orderBy("a").collect()
        assert rows[-1]["a"] == 2 and rows[-1]["c"] is False

    def test_noop_when_nothing_to_infer(self, spark):
        df = spark.range(3)
        assert cast(df) is df


class TestNestedStructPromotion:
    """Anonymous-cast recursion into struct string leaves (round-9
    VERDICT item 5): XML's nested all-string structs promote under the
    same one-aggregate convention as top-level columns."""

    def _frame(self, spark):
        return spark.createDataFrame(
            [
                ("1", ("7", "true", ("3.5", "2021-01-02T03:04:05", "hi"))),
                ("2", ("9", "false", ("4.25", "2022-06-07T08:09:10", "yo"))),
                ("3", (None, "true", (None, None, "x"))),
            ],
            "id string, s struct<qty:string, flag:string, "
            "inner:struct<price:string, ts:string, label:string>>",
        )

    def test_two_level_promotion(self, spark):
        import datetime

        from bertrand_spark.convert.cast import cast

        out = cast(self._frame(spark), errors="coerce")
        s = out.schema["s"].dataType
        assert s["qty"].dataType.simpleString() == "bigint"
        assert s["flag"].dataType.simpleString() == "boolean"
        inner = s["inner"].dataType
        assert inner["price"].dataType.simpleString() == "double"
        assert inner["ts"].dataType.simpleString() == "timestamp"
        assert inner["label"].dataType.simpleString() == "string"
        r = out.filter(F.col("id") == 1).collect()[0]
        assert r["s"]["qty"] == 7 and r["s"]["inner"]["price"] == 3.5
        assert r["s"]["inner"]["ts"] == datetime.datetime(2021, 1, 2, 3, 4, 5)
        # NULL leaves stay NULL, whole-NULL structs unharmed
        r3 = out.filter(F.col("id") == 3).collect()[0]
        assert r3["s"]["qty"] is None and r3["s"]["inner"]["price"] is None

    def test_mixed_leaf_stays_string(self, spark):
        from bertrand_spark.convert.cast import cast

        df = spark.createDataFrame(
            [("1", ("7",)), ("2", ("seven",))],
            "id string, s struct<qty:string>",
        )
        out = cast(df, errors="coerce")
        assert out.schema["s"].dataType["qty"].dataType.simpleString() == (
            "string"
        )

    def test_xml_end_to_end(self, spark, tmp_path):
        from bertrand_spark.sources.reader import read_xml_inferred

        xml = (
            "<root>"
            "<row><id>1</id><meta><qty>7</qty><note>a</note>"
            "<deep><score>1.5</score></deep></meta></row>"
            "<row><id>2</id><meta><qty>8</qty><note>b</note>"
            "<deep><score>2.5</score></deep></meta></row>"
            "</root>"
        )
        (tmp_path / "t.xml").write_text(xml)
        x = read_xml_inferred(spark, str(tmp_path), row_tag="row")
        meta = x.schema["meta"].dataType
        assert meta["qty"].dataType.simpleString() == "bigint"
        assert meta["note"].dataType.simpleString() == "string"
        assert meta["deep"].dataType["score"].dataType.simpleString() == (
            "double"
        )
        got = {r["id"]: r for r in x.collect()}
        assert got[1]["meta"]["qty"] == 7
        assert got[2]["meta"]["deep"]["score"] == 2.5

    def test_top_level_plan_still_runs_alongside(self, spark):
        from bertrand_spark.convert.cast import cast

        out = cast(self._frame(spark), errors="coerce")
        assert out.schema["id"].dataType.simpleString() == "bigint"


class TestNestedPromotionReviewFindings:
    """Round-9 review closures on the struct-leaf promotion."""

    def test_literal_dot_field_names(self, spark):
        """Field names containing literal dots (legal XML element
        names, ubiquitous JSON keys) must resolve as ONE field, not be
        re-split into a phantom nested path (review repro: this
        crashed with FIELD_NOT_FOUND)."""
        from bertrand_spark.convert.cast import cast

        df = spark.createDataFrame(
            [("1", ("7", "x"))], "id string, s struct<`a.b`:string, c:string>"
        )
        out = cast(df, errors="coerce")
        assert out.schema["s"].dataType["a.b"].dataType.simpleString() == (
            "bigint"
        )
        assert out.collect()[0]["s"]["a.b"] == 7

    def test_top_level_name_cannot_collide_with_leaf_key(self, spark):
        """A top-level column literally named 's.qty' and the struct
        leaf s.qty are distinct candidates (quoted display keys)."""
        from bertrand_spark.convert.cast import cast

        df = spark.createDataFrame(
            [("5", ("7",))], "`s.qty` string, s struct<qty:string>"
        )
        out = cast(df, errors="coerce")
        assert out.schema["s.qty"].dataType.simpleString() == "bigint"
        assert out.schema["s"].dataType["qty"].dataType.simpleString() == (
            "bigint"
        )
        r = out.collect()[0]
        assert r["s.qty"] == 5 and r["s"]["qty"] == 7

    def test_explicit_top_level_dotted_name_casts_the_column(self, spark):
        """The explicit ``{"s.qty": ...}`` form addresses the top-level
        column too, never the leaf `s`.`qty`."""
        from bertrand_spark.convert.cast import cast

        df = spark.createDataFrame(
            [("5", ("7",))], "`s.qty` string, s struct<qty:string>"
        )
        out = cast(df, {"s.qty": "int64"})
        assert out.schema["s.qty"].dataType.simpleString() == "bigint"
        assert out.schema["s"].dataType["qty"].dataType.simpleString() == (
            "string"
        )
        r = out.collect()[0]
        assert r["s.qty"] == 5 and r["s"]["qty"] == "7"

    def test_raise_names_the_leaf(self, spark):
        """A leaf that TAGS as a family but fails the real cast (e.g. a
        datetime-shaped string with impossible fields) raises with the
        leaf's quoted path under errors='raise'."""
        from bertrand_spark.convert.cast import CastError, cast

        df = spark.createDataFrame(
            [("1", ("7", "2021-13-45")), ("2", ("8", "2021-01-01"))],
            "id string, s struct<qty:string, d:string>",
        )
        with pytest.raises(CastError, match=r"`s`\.`d`"):
            cast(df, errors="raise")

    def test_ignore_reverts_only_the_bad_leaf(self, spark):
        from bertrand_spark.convert.cast import cast

        df = spark.createDataFrame(
            [("1", ("7", "2021-13-45")), ("2", ("8", "2021-01-01"))],
            "id string, s struct<qty:string, d:string>",
        )
        out = cast(df, errors="ignore")
        s = out.schema["s"].dataType
        assert s["qty"].dataType.simpleString() == "bigint"
        assert s["d"].dataType.simpleString() == "string"  # reverted
        vals = {r["id"]: r["s"]["d"] for r in out.collect()}
        assert vals[1] == "2021-13-45"  # id itself promoted to bigint


class TestArrayLeafPromotion:
    @pytest.fixture()
    def frame(self, spark):
        return spark.createDataFrame(
            [
                (1, ["1", "2", "3"], ["1", "x"], ("7", ["1.5", "2"]), []),
                (2, ["4", None], ["2", "y"], ("8", ["3.25"]), None),
            ],
            "id long, nums array<string>, mixed array<string>, "
            "s struct<tag: string, vals: array<string>>, "
            "empty array<string>",
        )

    def test_infer_emits_array_keys(self, frame):
        plan = infer_best_types(frame)
        assert plan["`nums`[]"] == "int64"
        assert plan["`s`.`vals`[]"] == "float64"
        assert plan["`s`.`tag`"] == "int64"
        # mixed elements (int + str) and all-empty arrays never promote
        assert "`mixed`[]" not in plan
        assert "`empty`[]" not in plan

    def test_anonymous_cast_promotes_elementwise(self, frame):
        out = cast(frame)
        schema = {f.name: f.dataType.simpleString() for f in out.schema.fields}
        assert schema["nums"] == "array<bigint>"
        assert schema["mixed"] == "array<string>"
        assert schema["empty"] == "array<string>"
        assert schema["s"] == "struct<tag:bigint,vals:array<double>>"
        rows = {r.id: r for r in out.collect()}
        assert rows[1].nums == [1, 2, 3]
        assert rows[2].nums == [4, None]  # NULL element preserved
        assert rows[1].s.vals == [1.5, 2.0]
        assert rows[1].empty == [] and rows[2].empty is None

    def test_explicit_quoted_spec_routes_arrays(self, spark):
        df = spark.createDataFrame(
            [(("1", ["2", "3"]),)], "s struct<t: string, v: array<string>>"
        )
        out = cast(df, {"`s`.`t`": "int64", "`s`.`v`[]": "float64"},
                   errors="raise")
        assert out.schema["s"].dataType.simpleString() == (
            "struct<t:bigint,v:array<double>>"
        )
        # a quoted key naming no candidate still errors
        with pytest.raises(CastError, match="no such column"):
            cast(df, {"`zzz`[]": "int64"})

    def test_element_violation_protocol(self, spark):
        df = spark.createDataFrame(
            [(["1", "2"],), (["3", "oops"],)], "a array<string>"
        )
        with pytest.raises(CastError, match="errors='raise'"):
            cast(df, {"`a`[]": "int64"}, errors="raise").collect()
        kept = cast(df, {"`a`[]": "int64"}, errors="ignore")
        assert kept.schema["a"].dataType.simpleString() == "array<string>"
        coerced = cast(df, {"`a`[]": "int64"}, errors="coerce")
        vals = sorted(r.a for r in coerced.collect())
        assert vals == [[1, 2], [3, None]]
        # a clean frame passes errors='raise'
        clean = spark.createDataFrame([(["1"],)], "a array<string>")
        assert cast(clean, {"`a`[]": "int64"}, errors="raise").schema[
            "a"
        ].dataType.simpleString() == "array<bigint>"

    def test_xml_repeated_elements_promote(self, spark, tmp_path):
        xml = (
            "<root>"
            "<row><name>a</name><qty>1</qty><qty>2</qty></row>"
            "<row><name>b</name><qty>3</qty></row>"
            "<row><name>c</name><tag>x</tag><tag>1</tag></row>"
            "</root>"
        )
        (tmp_path / "t.xml").write_text(xml)
        from bertrand_spark.sources.reader import read_xml_inferred

        out = read_xml_inferred(spark, str(tmp_path), row_tag="row")
        schema = {f.name: f.dataType.simpleString() for f in out.schema.fields}
        assert schema["qty"] == "array<bigint>"  # repeated numeric element
        assert schema["tag"] == "array<string>"  # mixed stays string
        byname = {r.name: r for r in out.collect()}
        assert byname["a"].qty == [1, 2]

    def test_backtick_toplevel_name_not_a_candidate(self, spark):
        """Round-9 ADVICE: a top-level string column whose raw name
        contains backticks could collide with a quoted nested display
        key; such names are skipped from candidacy (mirroring the
        struct-side skip) so the nested promotion wins unshadowed."""
        from pyspark.sql import types as st

        schema = st.StructType([
            st.StructField("`s`.`t`", st.StringType()),
            st.StructField(
                "s", st.StructType([st.StructField("t", st.StringType())])
            ),
        ])
        df = spark.createDataFrame([("1", ("2",))], schema)
        plan = infer_best_types(df)
        assert plan == {"`s`.`t`": "int64"}
        out = cast(df)
        assert out.schema["s"].dataType.simpleString() == "struct<t:bigint>"
        assert out.schema["`s`.`t`"].dataType.simpleString() == "string"


class TestRound10ReviewFixes:
    """Confirmed findings from the round-10 code review, each with a
    pinned regression."""

    def test_empty_frame_with_array_candidate_is_a_noop(self, spark):
        df = spark.createDataFrame([], "a array<string>, b string")
        assert infer_best_types(df) == {}
        out = cast(df)
        assert out.schema["a"].dataType.simpleString() == "array<string>"
        assert out.count() == 0


def _obj(v):
    return None if v is None else bytearray(pickle.dumps(v))


class TestOneInferencePath:
    """The anonymous cast has one path: one candidate walk, one tag census
    per candidate and one cast-and-validate loop for columns and leaves."""

    def test_plan_parity(self, spark):
        rows = [
            ("1", "1.5", "yes", "2020-01-02", "w", None,
             ("7", "x", ("3.5", "2021-01-02T03:04:05"), ["1", "2.5"]),
             ["1", "2"], _obj("a"), _obj(decimal.Decimal("1.5")),
             _obj(dt.timedelta(seconds=3))),
            ("2", "7", "no", None, "v", None,
             ("8", "y", (None, "2022-06-07"), None),
             ["3", None], _obj("b"), _obj(decimal.Decimal("2")), None),
            (None, "-3e2", "T", "2021-03-04 05:06", "1", None,
             None, [], None, None, _obj(dt.timedelta(days=1))),
        ]
        df = spark.createDataFrame(
            rows,
            "i string, f string, b string, d string, w string, n string, "
            "s struct<`a.b`:string, t:string, "
            "inner:struct<p:string, ts:string>, vals:array<string>>, "
            "nums array<string>, os binary, od binary, ot binary",
        )
        assert infer_best_types(df) == {
            "i": "int64", "f": "float64", "b": "bool", "d": "datetime",
            "`s`.`a.b`": "int64", "`s`.`inner`.`p`": "float64",
            "`s`.`inner`.`ts`": "datetime", "os": "string", "od": "decimal",
            "ot": "timedelta", "`s`.`vals`[]": "float64", "`nums`[]": "int64",
        }
        assert cast(df, errors="coerce").schema.simpleString() == (
            "struct<i:bigint,f:double,b:boolean,d:timestamp,w:string,"
            "n:string,s:struct<a.b:bigint,t:string,inner:struct<p:double,"
            "ts:timestamp>,vals:array<double>>,nums:array<bigint>,"
            "os:string,od:decimal(38,18),ot:bigint>"
        )

    def test_one_path_lint(self):
        src = pathlib.Path(cast_module.__file__).read_text()
        assert src.count("except CastError") == 1
        assert not hasattr(cast_module, "_struct_leaf_casts")
        assert not hasattr(cast_module, "_array_violation_agg")
        assert not hasattr(detect_module, "_TAG_ORDER")
