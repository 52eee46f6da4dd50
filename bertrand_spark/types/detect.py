"""``detect()`` / ``typecheck()`` — type inference and schema validation.

Reference: ``detect`` at ``bertrand/types/base/meta.py:1697`` (scalar path
:1897, dtype path :1912, elementwise path :1946), ``typecheck`` at
``meta.py:4056``.

Spark mapping (SURVEY.md §2.1 R2-R4):

* typed DataFrame → read ``df.schema`` — **metadata only, no job**, the O(1)
  contract the reference documents (``meta.py:1811-1814``).  This holds at
  100 TB because no data is scanned.
* string columns needing elementwise inference → a single distributed
  classification pass built from native ``CASE WHEN rlike(...)`` expressions
  (no Python UDF), producing a ``type_tag`` column; the per-row "RLE type
  index" of the reference (``meta.py:1984-2020``) is replaced by the tag
  column itself (Parquet RLE-encodes it for free).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .core import AnyType, ScalarType, StructuredType, UnionType, registry
from .resolve import resolve

__all__ = ["detect", "typecheck", "type_tag_column", "detect_elementwise"]

# classification regexes for string-payload inference (reference
# `_detect_elementwise` meta.py:1946; our version is one distributed pass)
_INT_RE = r"^\s*[+-]?\d+\s*$"
_FLOAT_RE = r"^\s*[+-]?((\d+\.\d*|\.\d+)([eE][+-]?\d+)?|\d+[eE][+-]?\d+)\s*$"
_BOOL_RE = r"(?i)^\s*(true|false|t|f|yes|no|y|n|on|off)\s*$"
_ISO_DT_RE = (
    r"^\s*\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?([+-]\d{2}:?\d{2}|Z)?)?\s*$"
)

_BOOL_STRINGS = ("true", "false", "t", "f", "yes", "no", "y", "n", "on", "off")


def type_tag_column(col: Column, na_strings: set[str] | None = None) -> Column:
    """Native CASE WHEN classifier: string value → observed-type tag.

    The regexes define the semantics; each is guarded by a strictly
    weaker native prefilter so non-matching rows never enter the Java
    regex engine (the dominant per-row cost on mixed-payload columns):

    * bool — the regex is exactly a case-insensitive trimmed set match,
      so it IS an ``isin`` on ``lower(trim(s))``: no regex at all;
    * int/float — every regex match parses as a double, so
      ``try_cast(double) IS NOT NULL`` gates both regexes; letters and
      date strings fail the cast in a few character reads.  Why the
      claim holds: the anchored patterns admit exactly
      ``[+-]? digits [.digits] [eE[+-]digits]`` with at most ONE
      exponent group (``^...$`` anchoring means stacked-exponent shapes
      like ``1e5e5`` match neither the regex nor the cast — they
      classify ``str``; pinned by a unit test), and Java's double
      parser accepts every such shape, with out-of-range exponents
      overflowing to ±Infinity / underflowing to 0.0 — both non-null.
      The gate also passes some NON-matches (``inf``, ``infinity``
      parse as double but classify ``str``; ``nan`` is caught earlier
      by the NA set) — safe, since the gate only needs to be weaker
      than the regexes, never stricter;
    * datetime — every ISO match has ``-`` as the 5th character of the
      trimmed string; numeric and word payloads skip the regex.
    """
    nas = sorted(na_strings or registry.na_strings)
    low = F.lower(F.trim(col))
    numeric_ok = col.try_cast("double").isNotNull()
    iso_ok = F.substring(F.trim(col), 5, 1) == "-"
    return (
        F.when(col.isNull() | low.isin(nas), F.lit("missing"))
        .when(low.isin(*_BOOL_STRINGS), F.lit("bool"))
        .when(numeric_ok & col.rlike(_INT_RE), F.lit("int"))
        .when(numeric_ok & col.rlike(_FLOAT_RE), F.lit("float"))
        .when(iso_ok & col.rlike(_ISO_DT_RE), F.lit("datetime"))
        .otherwise(F.lit("str"))
    )


# the tag vocabulary: every tag a tagger can emit → the type it names.
# ``type_tag_column`` emits the first six; ``python_type_tag`` (pickled
# object columns) also emits decimal, complex, timedelta and ``object``,
# which names no type.
TAG_TO_TYPE = {
    "missing": "missing",
    "bool": "bool",
    "int": "int64",
    "float": "float64",
    "decimal": "decimal",
    "complex": "complex",
    "datetime": "datetime",
    "timedelta": "timedelta",
    "str": "string",
}


def python_type_tag(value: Any) -> str:
    """Tag of one Python value (an unpickled object-column element)."""
    if isinstance(value, bool):  # before int: bool subclasses int
        return "bool"
    if isinstance(value, int):
        return "int"
    if isinstance(value, float):
        return "float"
    if isinstance(value, complex):
        return "complex"
    if isinstance(value, _decimal.Decimal):
        return "decimal"
    if isinstance(value, _dt.datetime):
        return "datetime"
    if isinstance(value, _dt.timedelta):
        return "timedelta"
    if isinstance(value, str):
        return "str"
    return "object"


def tag_census(col: Column, array: bool = False, tagger=type_tag_column) -> Column:
    """One set-valued aggregate: every distinct tag ``tagger`` gives the
    values of ``col`` (``array<string>``: of its elements), as an array.

    The array case collects each row's sorted distinct element tags, so
    its state is bounded by the subsets of the tag vocabulary; NULL and
    empty arrays contribute no tag.  A census over zero rows is empty.
    """
    if array:
        # one-parameter lambda: F.transform binds a second one to the index
        per_row = F.array_sort(F.array_distinct(F.transform(col, lambda x: tagger(x))))
        return F.flatten(F.collect_set(per_row))
    return F.collect_set(tagger(col))


def detect_elementwise(df: DataFrame, column: str) -> UnionType:
    """Distributed elementwise inference of a string column.

    One aggregation job: tag each row natively, take the distinct tag set
    with first-seen row order (min row id per tag) to reproduce the
    reference's first-observed union ordering (``meta.py:1946-1983``).
    """
    tagged = df.select(
        type_tag_column(F.col(column)).alias("__tag"),
        F.monotonically_increasing_id().alias("__rid"),
    )
    rows = (
        tagged.groupBy("__tag")
        .agg(F.min("__rid").alias("first_seen"))
        .orderBy("first_seen")
        .collect()
    )
    types = [
        resolve(TAG_TO_TYPE[r["__tag"]]) for r in rows if r["__tag"] != "missing"
    ]
    if not types:
        types = [resolve("missing")]
    return UnionType(types)


def detect(data: Any, drop_na: bool = True) -> AnyType:
    """Infer the type of a scalar / sequence / Column-schema / DataFrame.

    DataFrame path is **O(1)** — reads ``df.schema`` only (reference
    contract ``meta.py:1803-1821``).
    """
    if isinstance(data, DataFrame):
        def field_type(f):
            t = registry.from_spark(f.dataType)
            # nullable=False schema fields → strict twin (R9)
            if not f.nullable and hasattr(t, "as_strict"):
                return t.as_strict()
            return t

        return StructuredType(
            {f.name: field_type(f) for f in data.schema.fields}
        )
    if data is None:
        return resolve("missing")
    # python scalar
    if isinstance(data, (bool, int, float, complex, str, bytes)) or not hasattr(
        data, "__iter__"
    ):
        hit = registry.from_scalar_class(type(data))
        if hit is not None:
            return hit.from_scalar(data)  # R11 per-type refinement hook
        return registry.aliases["object"].with_params(type(data))
    # iterable of scalars → elementwise union in first-seen order
    types: list[AnyType] = []
    saw_na = False
    for item in data:
        if item is None:
            saw_na = True
            continue
        t = detect(item)
        if not any(t is u for u in types):
            types.append(t)
    if saw_na and not drop_na:
        types.append(resolve("missing"))
    if not types:
        return resolve("missing")
    if len(types) == 1:
        return types[0]
    return UnionType(types)


def typecheck(data: Any, spec: Any) -> bool:
    """``issubclass(detect(data), resolve(spec))`` (reference
    ``README.rst:118-127``, ``meta.py:4056``).  Metadata-only on DataFrames."""
    target = resolve(spec)
    observed = detect(data)
    if isinstance(target, StructuredType):
        if not isinstance(observed, StructuredType):
            return False
        return all(
            name in observed.keys() and _check_one(observed[name], t)
            for name, t in target.items()
        )
    return _check_one(observed, target)


def _check_one(observed: AnyType, target: AnyType) -> bool:
    if isinstance(observed, UnionType):
        return all(_check_one(t, target) for t in observed)
    if isinstance(target, (UnionType,)):
        return any(_check_one(observed, t) for t in target)
    if isinstance(target, ScalarType) and isinstance(observed, ScalarType):
        return target.contains(observed) or observed is target
    return target == observed or (
        hasattr(target, "contains") and target.contains(observed)
    )
