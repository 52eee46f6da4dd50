"""Column profiling: the one-pass data-quality report.

``profile_table`` is the distributed counterpart of the reference's
``detect`` + ``typecheck`` pair at dataset granularity (bertrand
``meta.py:1700-1983`` infers; this *measures*): per column — row count,
null count, distinct count, min/max, and for numerics mean — all folded
into a SINGLE aggregate job regardless of column count (the same
one-job discipline as ``cast``'s ``errors='raise'`` validation and
``downcast_plan``).

Scale: one map-side-combinable aggregate; ``count(DISTINCT)`` columns
each add a distinct-aggregate expansion, so at 100 TB swap
``exact=False`` to HLL (``approx_count_distinct``) and the plan loses
the expand node entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as st

from ..session import local_frame

__all__ = ["profile_table"]

_NUMERIC = (
    st.ByteType, st.ShortType, st.IntegerType, st.LongType,
    st.FloatType, st.DoubleType, st.DecimalType,
)


def profile_table(
    df: DataFrame, columns: list[str] | None = None, exact: bool = True
) -> DataFrame:
    """One-aggregate profile; returns one ROW per column:
    (column, n_rows, n_nulls, n_distinct, min_str, max_str, mean).

    ``exact=False`` uses ``approx_count_distinct`` (HLL) — the 100 TB
    setting, where an exact global NDV per column is rarely worth its
    expand-node shuffle.
    """
    cols = list(columns) if columns is not None else df.columns
    if not cols:  # explicit empty selection → empty profile, no job
        return local_frame(
            df.sparkSession,
            [],
            "column string, n_rows long, n_nulls long, n_distinct long, "
            "min_str string, max_str string, mean double",
        )
    aggs = []
    for i, c in enumerate(cols):
        dt = df.schema[c].dataType
        # backtick-quote so names containing dots resolve verbatim
        col = F.col("`" + c.replace("`", "``") + "`")
        ndv = F.count_distinct(col) if exact else F.approx_count_distinct(col)
        mean = (
            F.avg(col).cast("double")
            if isinstance(dt, _NUMERIC)
            else F.lit(None).cast("double")
        )
        aggs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(col)).alias("n_nulls"),
                ndv.cast("long").alias("n_distinct"),
                F.min(col).cast("string").alias("min_str"),
                F.max(col).cast("string").alias("max_str"),
                mean.alias("mean"),
            ).alias(f"__p_{i}")  # index alias: immune to special chars
        )
    row = df.agg(*aggs)
    stacked = row.select(
        F.explode(F.array(*[row[f"__p_{i}"] for i in range(len(cols))])).alias("p")
    )
    return stacked.select("p.*")
