"""Row-stream operators: the C++ range-adaptor surface on DataFrames.

Reference: ``bertrand/iter/*.h`` (SURVEY §2.4 I1-I24) and the linked-structure
algorithms ``bertrand/structs/linked.pyi`` (§2.5 L1-L11).  The C++ generation
composes lazy adaptors (``range ->* where{} ->* slice{} ->* min{}``); the
DataFrame is our universal lazy range and Catalyst fuses the chain exactly as
template monomorphization did.

``__row_id`` discipline (SURVEY §7.1): positional semantics (zip, slice,
enumerate, first-seen dedup, rotate) need a stable ordering column.  We derive
it ONCE per source with ``row_number()`` over an explicit ordering — at scale
the window over unpartitioned data is the known serial bottleneck, so every
entry point takes ``order_by``: callers give the natural key (e.g. primary
key) and Spark computes ranks via a single range-partitioned sort, which AQE
parallelizes; ``monotonically_increasing_id`` is only for order-free tagging.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = [
    "ROW_ID", "with_row_id", "iota", "enumerate_rows", "zip_rows",
    "slice_rows", "reverse_rows", "rotate_rows", "concat_rows",
    "where_rows", "where_ternary", "repeat_rows",
    "find_first", "replace_values",
    "dedup_ordered", "union_ordered", "intersect_all_sorted",
    "except_sorted", "symmetric_difference",
    "is_disjoint", "is_subset", "is_superset",
    "all_rows", "any_rows", "count_rows", "contains_value",
    "min_rows", "max_rows", "compare_lex", "sample_rows", "split_frames",
    "sort_rows", "at_positions",
    "exhaust", "distance_rows", "swap_rows", "move_rows",
]

ROW_ID = "__row_id"


def with_row_id(df: DataFrame, order_by: Sequence[str | Column] | None = None) -> DataFrame:
    """Attach a 0-based positional id (I4 enumerate; reference
    ``iter/range.h:7622`` zip/enumerate unification).

    With ``order_by``: deterministic rank via a sort (distributed,
    range-partitioned).  Without: ``monotonically_increasing_id`` —
    partition-stable but not dense; fine for tagging, not for slicing.
    """
    if ROW_ID in df.columns:
        return df
    if order_by:
        if "idx" in df.columns:
            # preserve a pre-existing user column named 'idx'
            tmp = "__user_idx_shadow"
            shadowed = df.withColumnRenamed("idx", tmp)
            order_by = [
                tmp if (isinstance(c, str) and c == "idx") else c
                for c in order_by
            ]
            return (
                enumerate_rows(shadowed, order_by)
                .withColumnRenamed("idx", ROW_ID)
                .withColumnRenamed(tmp, "idx")
            )
        return enumerate_rows(df, order_by).withColumnRenamed("idx", ROW_ID)
    return df.withColumn(ROW_ID, F.monotonically_increasing_id())


def iota(spark: SparkSession, start: int, stop: int | None = None, step: int = 1) -> DataFrame:
    """Numeric range (I1; reference ``iter/range.h:975``) → ``spark.range``.

    Distributed generation — no driver materialization at any size.
    """
    if stop is None:
        start, stop = 0, start
    return spark.range(start, stop, step).withColumnRenamed("id", "i")


def _numeric_view(df: DataFrame, first: Column):
    """A numeric, order-preserving view of the first order key, or None
    when the type has no cheap numeric order embedding (strings)."""
    import pyspark.sql.types as st

    dtype = df.select(first.alias("__k")).schema["__k"].dataType
    if isinstance(dtype, (st.NumericType, st.BooleanType)):
        return first.cast("double")
    if isinstance(dtype, st.TimestampType):
        return first.cast("double")  # epoch seconds, order-preserving
    if isinstance(dtype, st.DateType):
        return F.datediff(first, F.lit("1970-01-01")).cast("double")
    return None


def _string_boundaries(df: DataFrame, first: Column, n_parts: int) -> list:
    """Deterministic bucket boundaries for a non-numeric key: a
    value-hash-filtered sample (pure function of the DATA — no RNG, no
    partitioning dependence), sorted UNDER SPARK'S OWN COLLATION, split
    into quantiles.  Boundary quality affects only load balance — never
    correctness."""
    sample = (
        df.select(first.alias("__k"))
        .filter(
            first.isNotNull()
            & (F.pmod(F.xxhash64(first.cast("string")), F.lit(199)) == 0)
        )
        .limit(n_parts * 64)
        .orderBy("__k")  # Spark collation, ≤ n_parts*64 rows
        .collect()
    )
    keys = [r["__k"] for r in sample]
    if len(keys) < 2 * n_parts:
        return []
    step = len(keys) / n_parts
    bounds = []
    for i in range(1, n_parts):
        v = keys[int(i * step)]
        if not bounds or v > bounds[-1]:
            bounds.append(v)
    return bounds


def enumerate_rows(df: DataFrame, order_by: Sequence[str | Column]) -> DataFrame:
    """(index, row) pairs (I4): dense 0-based ``idx`` column.

    Scale-safe AND deterministic zipWithIndex.  A global
    ``Window.orderBy`` funnels every row through ONE task; the classic
    fix — ``repartitionByRange`` + per-partition ranks + an offset join —
    is subtly WRONG on DataFrames: the counts job and the result job are
    separate query executions, each re-plans the exchange with a fresh
    RDD id, and ``RangePartitioner`` seeds its reservoir sample with that
    id — so the two jobs see DIFFERENT partitionings and the offsets
    corrupt (observed: 6M rows → 5.79M distinct idx).  Physical
    partitioning is never stable across jobs; only row VALUES are.

    So every step here is a pure function of the data:

    1. bucket boundaries for the first order key — a deterministic
       value-hash sample, collected once, embedded as LITERALS;
    2. ``__bucket`` = CASE-chain over those literals (pure projection);
    3. local rank: ``row_number`` over ``partitionBy(__bucket)
       .orderBy(order_by)`` — one shuffle, one task PER BUCKET, parallel;
    4. bucket counts (tiny agg, deterministic) → cumulative offsets
       embedded as a literal map; ``idx = offset[__bucket] + local − 1``.

    Ties on the first key all land in one bucket, preserving global
    order.  Degenerate/tiny inputs (no boundaries) collapse to a single
    bucket — the plain global window, correct at that size.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    first = cols[0]

    num = _numeric_view(df, first)
    if num is not None:
        row = df.agg(
            F.min(num).alias("mn"), F.max(num).alias("mx")
        ).first()
        mn, mx = row["mn"], row["mx"]
        if mn is None or mx is None or mn == mx:
            bucket = F.lit(0)
        else:
            # uniform numeric buckets: one codegen-friendly expression,
            # value skew costs balance, never correctness
            bucket = F.when(num.isNull(), F.lit(-1)).otherwise(
                F.width_bucket(
                    num, F.lit(float(mn)), F.lit(float(mx)), F.lit(n_parts)
                )
            )
    else:
        bounds = _string_boundaries(df, first, n_parts)
        if bounds:
            # bucket = count of boundaries strictly below the key; the
            # boundary array is tiny, the HOF runs once per row
            barr = F.array(*[F.lit(b) for b in bounds])
            bucket = F.when(first.isNull(), F.lit(-1)).otherwise(
                F.size(F.filter(barr, lambda b: b < first))
            )
        else:
            bucket = F.lit(0)

    tagged = df.withColumn("__bucket", bucket)
    w = Window.partitionBy("__bucket").orderBy(*cols)
    tagged = tagged.withColumn("__local", F.row_number().over(w))
    counts = {
        r["__bucket"]: r["__n"]
        for r in tagged.groupBy("__bucket").agg(F.count("*").alias("__n")).collect()
    }
    off, acc = {}, 0
    for b in sorted(counts):
        off[b] = acc
        acc += counts[b]
    if len(off) > 1:
        omap = F.create_map(
            *[F.lit(x) for b in off for x in (b, off[b])]
        )
        idx = F.element_at(omap, F.col("__bucket")) + F.col("__local") - 1
    else:
        idx = F.col("__local") - 1
    return tagged.withColumn("idx", idx.cast("long")).drop("__bucket", "__local")


def zip_rows(a: DataFrame, b: DataFrame, order_a: Sequence[str], order_b: Sequence[str]) -> DataFrame:
    """Positional zip of two frames (I4; ``range.h:7640-7655``): equi-join on
    computed position.  Truncates to the shorter input (zip semantics).

    Scale note: two sorts + one shuffle join on the position key; this is the
    honest distributed cost of positional alignment — there is no cheaper
    general zip on unaligned distributed data.
    """
    ai = enumerate_rows(a, order_a).withColumnRenamed("idx", "__zip_idx")
    bi = enumerate_rows(b, order_b).withColumnRenamed("idx", "__zip_idx")
    return ai.join(bi, "__zip_idx", "inner").drop("__zip_idx")


def slice_rows(
    df: DataFrame,
    start: int | None,
    stop: int | None,
    step: int = 1,
    order_by: Sequence[str] = (),
) -> DataFrame:
    """Python slicing incl. negatives (I7; reference ``iter/slice.h:763-830``
    ``normalize``).  Fast paths: pure ``limit`` when start=0, step=1, stop>=0.
    """
    if step == 0:
        raise ValueError("slice step cannot be zero")
    if step > 0 and (start or 0) == 0 and stop is not None and stop >= 0 and step == 1 and not order_by:
        return df.limit(stop)
    n = None
    if (start is not None and start < 0) or (stop is not None and stop < 0) or step < 0:
        n = df.count()  # negatives need the length, as in the reference

    def norm(v, default):
        if v is None:
            return default
        return v + n if v < 0 else v

    if step > 0:
        s = norm(start, 0)
        e = norm(stop, n if n is not None else (1 << 62))
        idx = enumerate_rows(df, list(order_by) or df.columns)
        out = idx.filter((F.col("idx") >= s) & (F.col("idx") < e))
        if step != 1:
            out = out.filter((F.col("idx") - s) % step == 0)
        return out.drop("idx")
    # negative step: reversed view of the [e+1, s] window
    s = norm(start, n - 1)
    e = norm(stop, -1)
    idx = enumerate_rows(df, list(order_by) or df.columns)
    out = idx.filter((F.col("idx") <= s) & (F.col("idx") > e))
    out = out.filter((s - F.col("idx")) % (-step) == 0)
    return out.orderBy(F.col("idx").desc()).drop("idx")


def reverse_rows(df: DataFrame, order_by: Sequence[str]) -> DataFrame:
    """Reversed view (I19): orderBy desc on the ordering key."""
    return df.orderBy(*[F.col(c).desc() for c in order_by])


def rotate_rows(df: DataFrame, k: int, order_by: Sequence[str]) -> DataFrame:
    """Rotate by k (L2): re-key positions modulo n — one window + one sort."""
    n = df.count()
    if n == 0:
        return df
    k = k % n
    idx = enumerate_rows(df, list(order_by))
    return (
        idx.withColumn("idx", (F.col("idx") + F.lit(k)) % F.lit(n))
        .orderBy("idx")
        .drop("idx")
    )


def concat_rows(*dfs: DataFrame) -> DataFrame:
    """Concatenate frames (I8): ``unionByName`` chain — no shuffle."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=False)
    return out


def where_rows(df: DataFrame, pred: Column) -> DataFrame:
    """Unary where (I5; ``iter/where.h:2013``): filter — pushdown-friendly."""
    return df.filter(pred)


def where_ternary(mask: Column, a: Column, b: Column) -> Column:
    """Ternary where (I6): vectorized if/else."""
    return F.when(mask, a).otherwise(b)


def repeat_rows(df: DataFrame, n: int) -> DataFrame:
    """Repeat the frame n times (I12): crossJoin with ``spark.range(n)`` —
    distributed row multiplication, no driver loop."""
    spark = df.sparkSession
    reps = spark.range(n).select(F.col("id").alias("__rep"))
    return df.crossJoin(reps).drop("__rep")


def find_first(df: DataFrame, pred: Column, order_by: Sequence[str]) -> int | None:
    """Index of first match (I10; ``iter/find.h:411``): min(position) over
    matching rows — one filtered aggregation, no full sort."""
    idx = enumerate_rows(df, list(order_by))
    row = idx.filter(pred).agg(F.min("idx").alias("i")).collect()[0]
    return row["i"]


def replace_values(df: DataFrame, column: str, mapping: dict) -> DataFrame:
    """Replace matching elements (I11; ``iter/replace.h:236``): a literal-map
    CASE WHEN projection (equivalent of ``df.replace`` but codegen-fused)."""
    c = F.col(column)
    expr: Column | None = None
    for k, v in mapping.items():
        cond = c.isNull() if k is None else (c == F.lit(k))
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    return df.withColumn(column, expr.otherwise(c))


# --- linked-set algebra on rows (L5-L7) ------------------------------------
def dedup_ordered(df: DataFrame, cols: Sequence[str], order_by: Sequence[str]) -> DataFrame:
    """First-seen-order dedup (L5, LinkedSet): ``min(row_id)`` per key then
    sort by first appearance — exactly the reference's insertion-order set."""
    idx = enumerate_rows(df, list(order_by))
    firsts = idx.groupBy(*cols).agg(F.min("idx").alias("__first_seen"))
    return firsts.orderBy("__first_seen").drop("__first_seen")


def union_ordered(a: DataFrame, b: DataFrame, cols: Sequence[str], order_a: Sequence[str], order_b: Sequence[str]) -> DataFrame:
    """Set union preserving first-seen order across both inputs (L6)."""
    both = concat_rows(a.select(*cols), b.select(*cols))
    return dedup_ordered(both, cols, list(cols))


def intersect_all_sorted(a: DataFrame, b: DataFrame) -> DataFrame:
    """INTERSECT (L6): distinct semantics, shuffle on the full row key."""
    return a.intersect(b)


def except_sorted(a: DataFrame, b: DataFrame) -> DataFrame:
    """EXCEPT (L6): set semantics — any key present in ``b`` is removed
    entirely, regardless of multiplicity in ``a``."""
    return a.distinct().subtract(b.distinct())


def symmetric_difference(a: DataFrame, b: DataFrame) -> DataFrame:
    """Symmetric difference (L6): union of both one-sided excepts."""
    return a.distinct().subtract(b.distinct()).unionByName(
        b.distinct().subtract(a.distinct())
    )


def is_disjoint(a: DataFrame, b: DataFrame) -> bool:
    """L7: no common rows — semi-join emptiness, stops at first match."""
    return a.intersect(b).isEmpty()


def is_subset(a: DataFrame, b: DataFrame) -> bool:
    return a.distinct().subtract(b.distinct()).isEmpty()


def is_superset(a: DataFrame, b: DataFrame) -> bool:
    return is_subset(b, a)


# --- reductions (I13-I17, L3) ----------------------------------------------
def all_rows(df: DataFrame, pred: Column) -> bool:
    """Conjunction (I13): ``bool_and`` aggregate — map-side combinable."""
    return bool(df.agg(F.bool_and(pred).alias("v")).collect()[0]["v"])


def any_rows(df: DataFrame, pred: Column) -> bool:
    return bool(df.agg(F.bool_or(pred).alias("v")).collect()[0]["v"])


def count_rows(df: DataFrame, pred: Column | None = None) -> int:
    """Count occurrences / truthy (I16)."""
    if pred is None:
        return df.count()
    return df.agg(F.count(F.when(pred, 1)).alias("v")).collect()[0]["v"]


def contains_value(df: DataFrame, column: str, value) -> bool:
    """Membership (I15): filter + isEmpty — short-circuits per partition."""
    return not df.filter(F.col(column) == F.lit(value)).isEmpty()


def min_rows(df: DataFrame, col: str, by: Column | None = None):
    """Extrema with optional key (I17): ``min`` / ``min_by``."""
    expr = F.min(col) if by is None else F.min_by(col, by)
    v = df.agg(expr.alias("v")).collect()[0]["v"]
    if v is None and df.isEmpty():
        raise ValueError("min of an empty range")  # reference range.h:3566
    return v


def max_rows(df: DataFrame, col: str, by: Column | None = None):
    expr = F.max(col) if by is None else F.max_by(col, by)
    v = df.agg(expr.alias("v")).collect()[0]["v"]
    if v is None and df.isEmpty():
        raise ValueError("max of an empty range")
    return v


def compare_lex(a: DataFrame, b: DataFrame, order_a: Sequence[str], order_b: Sequence[str], col: str) -> int:
    """Lexicographic comparison (I14): zip + first *positional* difference."""
    ai = enumerate_rows(a.select(*order_a, F.col(col).alias("__l")), order_a)
    bi = enumerate_rows(b.select(*order_b, F.col(col).alias("__r")), order_b)
    z = ai.select("idx", "__l").join(bi.select("idx", "__r"), "idx", "inner")
    first_diff = (
        z.filter(F.col("__l") != F.col("__r"))
        .orderBy("idx")
        .select(
            F.when(F.col("__l") < F.col("__r"), F.lit(-1)).otherwise(F.lit(1)).alias("c")
        )
        .limit(1)
        .collect()
    )
    if first_diff:
        return first_diff[0]["c"]
    na, nb = a.count(), b.count()
    return (na > nb) - (na < nb)


def exhaust(df: DataFrame) -> int:
    """Terminal drain (I18; reference ``iter/range.h`` exhaust): execute
    every column of every row and report the row count — ONE job, no
    driver materialization.  A full-width ``xxhash64`` consumes each cell
    (defeating column pruning) and a ``bit_xor`` aggregate forces its
    evaluation (overflow-free, so ANSI mode cannot abort the drain).

    Deliberately Observation-free: pyspark 4.1's classic session creates
    its (non-serializable) ``ObservationManager`` lazily on the first
    ``Observation`` use, after which java-serializing anything that
    captures the session — e.g. a Spark ML model whose training summary
    pins it — fails with ``NotSerializableException: ObservationManager``.
    A drain must not poison session state for later jobs.
    """
    from pyspark.sql.types import MapType

    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        # xxhash64 rejects MapType (unordered); hash its entry list
        cols.append(F.map_entries(c) if isinstance(f.dataType, MapType) else c)
    if not cols:
        return df.count()
    row = (
        df.select(F.xxhash64(*cols).alias("__h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(__h)").alias("__drain"),
        )
        .collect()[0]
    )
    return int(row["n"])


def distance_rows(
    df: DataFrame, pred_a: Column, pred_b: Column, order_by: Sequence[str]
) -> int | None:
    """Positional distance between the first match of two predicates
    (L9; reference ``linked/algorithms/distance.h``): idx(b) − idx(a),
    one enumerate + one filtered aggregate."""
    idx = enumerate_rows(df, list(order_by))
    row = idx.select(
        F.min(F.when(pred_a, F.col("idx"))).alias("ia"),
        F.min(F.when(pred_b, F.col("idx"))).alias("ib"),
    ).collect()[0]
    if row["ia"] is None or row["ib"] is None:
        return None
    return int(row["ib"] - row["ia"])


def swap_rows(df: DataFrame, i: int, j: int, order_by: Sequence[str]) -> DataFrame:
    """Swap the rows at positions i and j (L9 ``swap``): re-key the two
    positions and re-sort — a projection + sort, no shuffle beyond it."""
    idx = enumerate_rows(df, list(order_by))
    remap = (
        F.when(F.col("idx") == i, F.lit(j))
        .when(F.col("idx") == j, F.lit(i))
        .otherwise(F.col("idx"))
    )
    return idx.withColumn("idx", remap).orderBy("idx").drop("idx")


def move_rows(
    df: DataFrame, from_idx: int, to_idx: int, order_by: Sequence[str]
) -> DataFrame:
    """Move the row at ``from_idx`` to ``to_idx``, shifting the block
    between them (L9 ``move``)."""
    idx = enumerate_rows(df, list(order_by))
    if from_idx == to_idx:
        return idx.drop("idx")
    if from_idx < to_idx:
        shifted = F.when(
            F.col("idx").between(from_idx + 1, to_idx), F.col("idx") - 1
        )
    else:
        shifted = F.when(
            F.col("idx").between(to_idx, from_idx - 1), F.col("idx") + 1
        )
    remap = (
        F.when(F.col("idx") == from_idx, F.lit(to_idx))
        .otherwise(F.coalesce(shifted, F.col("idx")))
    )
    return idx.withColumn("idx", remap).orderBy("idx").drop("idx")


def sample_rows(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """I24 sample adaptor (stub in the reference, ``iter/sample.h:11-18``)."""
    return df.sample(fraction=fraction, seed=seed)


def split_frames(df: DataFrame, weights: Sequence[float], seed: int = 42) -> list[DataFrame]:
    """I23 split adaptor (stub in the reference)."""
    return df.randomSplit(list(weights), seed=seed)


def sort_rows(df: DataFrame, key: Column | str, reverse: bool = False, stable_by: Sequence[str] = ()) -> DataFrame:
    """Stable sort with key (L1; kernel ``structs/linked/algorithms/sort.h``):
    secondary ordering columns give merge-sort stability."""
    k = F.col(key) if isinstance(key, str) else key
    primary = k.desc() if reverse else k.asc()
    secondary = [F.col(c).asc() for c in stable_by]
    return df.orderBy(primary, *secondary)


def at_positions(df: DataFrame, positions: Sequence[int], order_by: Sequence[str]) -> DataFrame:
    """Fancy row indexing (I20; ``range.h:7056``): broadcast-join positions."""
    idx = enumerate_rows(df, list(order_by))
    spark = df.sparkSession
    pos = local_frame(spark, [(p,) for p in positions], ["idx"])
    return idx.join(F.broadcast(pos), "idx", "inner").orderBy("idx").drop("idx")
