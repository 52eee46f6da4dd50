"""The Arrow row-kernel boundary (``functions/kernel.py::row_udf``): how a
per-row Python function crosses into Spark, the Column-level NULL
contract of every document extractor built on it, and the rule that
no other module hand-writes a ``pandas_udf``."""

import pathlib
import re

import pandas as pd
from pyspark.sql import functions as F

import bertrand_spark
from bertrand_spark.functions.kernel import row_udf


class TestRowUdf:
    def test_multi_column_input(self, spark):
        df = spark.createDataFrame(
            [(1, 2, "a"), (3, 4, "bb"), (5, None, None)],
            "a long, b long, s string",
        )
        k = row_udf(
            "string",
            lambda a, b, s: None if s is None else "%d:%d:%s" % (a, b, s),
        )
        got = [r[0] for r in df.select(k("a", "b", "s")).orderBy("a").collect()]
        assert got == ["1:2:a", "3:4:bb", None]

    def test_struct_field_order_follows_ddl(self, spark):
        df = spark.createDataFrame([("xy",), (None,)], "s string")
        k = row_udf(
            "struct<n: int, s: string>",
            lambda s: (None, None) if s is None else (len(s), s.upper()),
        )
        out = df.select(k("s").alias("r"))
        assert out.schema["r"].dataType.names == ["n", "s"]
        rows = {r["r"]["s"]: r["r"]["n"] for r in out.collect()}
        assert rows == {"XY": 2, None: None}

    def test_empty_partition(self, spark):
        df = spark.createDataFrame([("a",)], "s string").where("s = 'z'")
        k = row_udf("struct<n: int, s: string>", lambda s: (len(s), s))
        assert df.select(k("s")).collect() == []
        # an empty Arrow batch packs into a frame with the DDL's fields
        empty = k.func(pd.Series([], dtype=object))
        assert list(empty.columns) == ["n", "s"] and len(empty) == 0
        assert len(row_udf("string", str).func(pd.Series([], dtype=object))) == 0

    def test_large_ints_survive_a_null_row(self, spark):
        # an inferred Series would turn [2**60 + 1, None] into float64
        big = 2**60 + 1
        df = spark.createDataFrame([(1,), (None,)], "a long")
        k = row_udf("long", lambda a: None if a != a else big)
        got = sorted(df.select(k("a")).collect(), key=lambda r: r[0] is None)
        assert [r[0] for r in got] == [big, None]


_EXTRACTORS = [
    ("doctext", "extract_doc_text"),
    ("docxtext", "extract_docx_text"),
    ("docxtext", "extract_pptx_text"),
    ("docxtext", "extract_xlsx_text"),
    ("docxtext", "extract_odt_text"),
    ("epubtext", "extract_epub_text"),
    ("pdftext", "extract_pdf_text"),
    ("ppttext", "extract_ppt_text"),
    ("rtftext", "extract_rtf_text"),
    ("xlstext", "extract_xls_text"),
    ("docrouter", "extract_document_text"),
]


def test_null_payload_gives_all_null_struct(spark):
    """A NULL payload through any extractor yields a non-NULL struct
    whose fields are all NULL (not a NULL struct)."""
    import importlib

    df = spark.createDataFrame([(None,)], "payload binary")
    cols = [
        getattr(
            importlib.import_module(f"bertrand_spark.pipeline.{mod}"), name
        )(F.col("payload")).alias(name)
        for mod, name in _EXTRACTORS
    ]
    (row,) = df.select(*cols).collect()
    for _, name in _EXTRACTORS:
        assert row[name] is not None, name
        assert all(v is None for v in row[name].asDict().values()), name


_PANDAS_UDF = re.compile(r"@(F\.)?pandas_udf|pandas_udf\(")
# the sketch and numpy kernels that stay hand-written Arrow kernels
_KEPT = {"pipeline/dedup.py": 3, "pipeline/similarity.py": 5}


def test_pandas_udf_only_in_helper_and_kept_kernels():
    root = pathlib.Path(bertrand_spark.__file__).parent
    found = {}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "functions/kernel.py":
            continue
        n = len(_PANDAS_UDF.findall(path.read_text()))
        if n:
            found[rel] = n
    assert found == _KEPT


def test_udf_named_after_row_function(spark):
    def build(v):
        return v

    assert row_udf("string", build).__name__ == "build"


def test_x57_builds_and_routes_in_one_arrow_pass(spark, sf_dir):
    """x57's payload-building kernel chains with the router: one Python
    eval node in the executed plan, so each task holds one Python
    worker, not two."""
    from bertrand_spark.plans.queries import QUERIES

    df = QUERIES["x57_document_router"](spark, sf_dir)
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan

