"""Multiple dispatch on inferred column types (reference §2.3 D1-D9).

Reference: ``@dispatch`` at ``bertrand/decorators/dispatch.py:53-137``;
overload table + topological specificity sort ``dispatch.py:371-447,856-1022``;
``HomogenousDispatch`` ``dispatch.py:1873``; ``CompositeDispatch``
``dispatch.py:2000-2200``; transform/aggregate/filter protocol
``dispatch.py:554-585``.

Spark-first translation: dispatch *resolution* happens on the driver from
``df.schema`` (O(1)); only the **composite** path (mixed/string-payload
columns) touches data, and it does so with a single ``type_tag`` projection
followed by per-tag branch expressions fused into one ``CASE WHEN``
projection — no N-scan union, no shuffle (the "tag-branch fusion" SURVEY §4
calls out as our plan-builder's job).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from ..types.core import AnyType, ScalarType, UnionType
from ..types.detect import type_tag_column
from ..types.resolve import resolve

__all__ = ["dispatch", "DispatchFunc", "composite_apply"]


@dataclass
class _Overload:
    signature: tuple[AnyType, ...]
    fn: Callable
    # native expression builders are preferred over UDF-backed ones
    # (reference sorts overloads most-specific-first; we add the
    # native-beats-UDF tiebreak from SURVEY §4.2)
    is_native: bool = True


def _specificity(sig: tuple[AnyType, ...]) -> tuple:
    """Most-specific-first sort key: deeper in the lattice = more specific
    (reference topological sort, ``dispatch.py:856``)."""
    def depth(t: AnyType) -> int:
        if isinstance(t, UnionType):
            return min((depth(m) for m in t), default=0)
        d = 0
        cur = getattr(t, "parent", None)
        while cur is not None:
            d += 1
            cur = cur.parent
        return d + (0 if getattr(t, "is_abstract", False) else 1)

    return tuple(-depth(t) for t in sig)


class DispatchFunc:
    """A function dispatched on the inferred types of its column arguments."""

    def __init__(self, name: str, arg_names: tuple[str, ...]):
        self.name = name
        self.arg_names = arg_names
        self._table: list[_Overload] = []
        self._cache: dict[tuple, Callable] = {}  # LRU-ish (dispatch.py:100-106)
        self._fallback: Callable | None = None

    def overload(self, *specs: Any, native: bool = True):
        sig = tuple(resolve(s) for s in specs)
        if len(sig) != len(self.arg_names):
            raise TypeError(
                f"{self.name}: overload arity {len(sig)} != {len(self.arg_names)}"
            )

        def deco(fn: Callable) -> Callable:
            self._table.append(_Overload(sig, fn, native))
            self._table.sort(key=lambda o: (_specificity(o.signature), not o.is_native))
            self._cache.clear()
            return fn

        return deco

    def fallback(self, fn: Callable) -> Callable:
        self._fallback = fn
        return fn

    def _lookup(self, types: tuple[AnyType, ...]) -> Callable:
        key = tuple(id(t) for t in types)
        hit = self._cache.get(key)
        if hit is not None:
            return hit
        for ov in self._table:
            if all(_matches(s, t) for s, t in zip(ov.signature, types)):
                if len(self._cache) >= 128:  # reference cache_size=128
                    self._cache.pop(next(iter(self._cache)))
                self._cache[key] = ov.fn
                return ov.fn
        if self._fallback is not None:
            return self._fallback
        from ..errors import shorten_list

        raise TypeError(
            f"{self.name}: no overload matches argument types {types}; "
            f"registered signatures: "
            f"{shorten_list([ov.signature for ov in self._table])}"
        )

    @staticmethod
    def normalize(data: Any) -> tuple[DataFrame, tuple[str, ...]]:
        """Vector→frame call normalization (D2; reference
        ``dispatch.py:554`` normalizes bare Series/arrays into frames).

        Lists, tuples, pandas Series, and numpy arrays become a
        single-column DataFrame named ``value``; DataFrames pass through.
        """
        if isinstance(data, DataFrame):
            return data, ()
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("no active SparkSession for normalization")
        try:
            import pandas as _pd

            if isinstance(data, _pd.Series):
                pdf = data.rename("value").to_frame()
                return local_frame(spark, pdf, None), ("value",)
        except ImportError:
            pass
        if hasattr(data, "tolist"):
            data = data.tolist()
        if isinstance(data, (list, tuple)):
            return (
                local_frame(spark, [(v,) for v in data], ["value"]),
                ("value",),
            )
        raise TypeError(f"cannot normalize {type(data).__name__} into a DataFrame")

    def __call__(self, df: DataFrame | Any, *cols: str, **kwargs: Any):
        """Resolve from ``df.schema`` (homogeneous path — O(1) resolution).

        Non-DataFrame first arguments are normalized (D2): a bare vector
        dispatches on its single ``value`` column.
        """
        if not isinstance(df, DataFrame):
            df, default_cols = self.normalize(df)
            if not cols:
                cols = default_cols
        schema = {f.name: resolve(f.dataType) for f in df.schema.fields}
        types = tuple(schema[c] for c in cols)
        fn = self._lookup(types)
        return fn(df, *cols, **kwargs)

    def pipe(self, df: DataFrame, *cols: str, **kwargs: Any) -> DataFrame:
        """Transform/aggregate/filtration return protocol (D6; reference
        ``dispatch.py:554-585``).

        The reference classifies a dispatched implementation's return by
        shape — index-aligned Series → *transform* (substituted in place),
        reduced value → *aggregation*, index subset → *filtration*.  The
        Spark-shaped analogue classifies driver-side, with no action:

        * ``Column`` of BooleanType → filtration: ``df.filter(col)``;
        * any other ``Column``   → transform: substituted for ``cols[0]``;
        * ``DataFrame``          → aggregation/restructure: returned as-is;
        * anything else          → scalar aggregate, wrapped in a 1-row DF.

        Column dtype comes from ``df.select(expr).schema`` — plan analysis
        only, nothing executes.
        """
        import pyspark.sql.types as st

        if not isinstance(df, DataFrame):
            df, default_cols = self.normalize(df)
            if not cols:
                cols = default_cols
        result = self(df, *cols, **kwargs)
        if isinstance(result, DataFrame):
            return result
        if isinstance(result, Column):
            dtype = df.select(result).schema[0].dataType
            if isinstance(dtype, st.BooleanType):
                return df.filter(result)
            if not cols:
                raise ValueError(
                    f"{self.name}.pipe: a transform result needs a target "
                    "column — pass the column name"
                )
            return df.withColumn(cols[0], result)
        spark = df.sparkSession
        return local_frame(spark, [(result,)], [self.name])


def _matches(declared: AnyType, observed: AnyType) -> bool:
    if isinstance(declared, UnionType):
        return any(_matches(m, observed) for m in declared)
    if isinstance(declared, ScalarType) and isinstance(observed, ScalarType):
        return declared.contains(observed) or declared is observed
    return declared == observed


def dispatch(*arg_names: str):
    """Decorator: create a :class:`DispatchFunc` whose first registered body
    is the fallback (reference ``@dispatch``, ``dispatch.py:53``)."""

    def deco(fn: Callable) -> DispatchFunc:
        d = DispatchFunc(fn.__name__, arg_names)
        d.fallback(fn)
        return d

    return deco


def composite_apply(
    df: DataFrame,
    column: str,
    branches: dict[str, Callable[[Column], Column]],
    tag_col: Column | None = None,
    otherwise: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """CompositeDispatch as one fused projection (reference
    ``dispatch.py:2000-2200``; fusion per SURVEY §4 item 1).

    ``branches`` maps observed-type tag → expression builder.  Instead of the
    reference's group-by-type → per-group run → concat (which would be N
    filtered scans + union in Spark), we emit a single ``CASE WHEN tag ...``
    projection — one scan, zero shuffle, codegen-fused.  Semantics are
    identical because the reference concatenates per-group results back in
    original row order (``_merge_series``, ``dispatch.py:2186``) and a
    projection trivially preserves row identity.
    """
    src = F.col(column)
    tag = tag_col if tag_col is not None else type_tag_column(src)
    expr: Column | None = None
    for t, builder in branches.items():
        cond = tag == F.lit(t)
        val = builder(src)
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    if expr is None:
        raise ValueError("composite_apply requires at least one branch")
    if otherwise is not None:
        expr = expr.otherwise(otherwise(src))
    return df.withColumn(column, expr)
