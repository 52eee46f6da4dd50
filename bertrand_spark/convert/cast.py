"""``cast()`` — the universal conversion engine (reference flagship verb).

Reference: decorator stack ``bertrand/convert/base.py:146-201`` (attachable →
columnwise → extension_func → catch_errors → dispatch); conversion matrix
bool/int/float/complex/decimal/datetime/timedelta/string/object ×9 documented
at ``convert/base.py:27-48``; per-pair implementations under
``bertrand/convert/{integer,float,complex,decimal,boolean,datetime,timedelta,
string,object}.py``; argument surface ``convert/arguments.py:82-1464``.

Spark-first translation (SURVEY.md §3.1): the whole pipeline is **plan
construction on the driver** — validate kwargs → resolve types → look up the
(src-family, dst-family) overload → emit a native ``Column`` expression →
``withColumn``.  No UDF appears anywhere in the matrix below; every rule is
whole-stage-codegen-able, so a cast over 100 TB is one narrow projection with
zero shuffle.  Two aggregates are the only actions, each one job over all
columns: ``errors='raise'`` (and ``'ignore'``, to pick the casts it
reverts) adds one validation aggregate (count of new NULLs), which
Catalyst evaluates with pushed-down predicates; the anonymous cast
(``spec=None``) first runs one inference aggregate (a set of type tags per
candidate column, struct leaf or array).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
import pyspark.sql.types as st

from ..functions.rounding import RULES, round_col, round_div, snap_round
from ..functions.strings import (
    FALSE_TOKENS,
    TRUE_TOKENS,
    base_to_int,
    boolean_match,
    int_to_base,
    parse_complex,
)
from ..functions.temporal import (
    AS_NS,
    convert_unit,
    fuzzy_parse_datetime,
    interval_to_ns,
    ns_per_unit,
    ns_to_interval,
    ns_to_timestamp,
    parse_timedelta_string,
    td_ns_to_string,
    timestamp_to_ns,
)
from ..types.core import AnyType, DecoratedType, ScalarType, StructuredType, UnionType
from ..types.detect import TAG_TO_TYPE, python_type_tag, tag_census, type_tag_column
from ..types.resolve import resolve

__all__ = ["cast", "cast_col", "CastError", "cast_overload", "CastArgs"]


class CastError(ValueError):
    """Raised when errors='raise' and a conversion produced violations."""


@dataclass
class CastArgs:
    """Validated keyword surface (reference ``convert/arguments.py``)."""

    tol: float = 1e-6                  # arguments.py:226
    rounding: str | None = None        # arguments.py:342 (10 rules)
    unit: str = "ns"                   # arguments.py:448
    step_size: int = 1                 # arguments.py:554
    since: str | int = "utc"           # arguments.py:603 (epoch)
    tz: str | None = None              # arguments.py:760
    day_first: bool = False            # arguments.py:858
    year_first: bool = False           # arguments.py:920
    fuzzy: bool = False                # datetime.pyx:292 dateutil fuzzy=True
    as_hours: bool = False             # arguments.py:972
    true: tuple = TRUE_TOKENS          # arguments.py:1012
    false: tuple = FALSE_TOKENS        # arguments.py:1159
    ignore_case: bool = True           # arguments.py:1219
    format: str | None = None          # arguments.py:1263
    base: int = 10                     # arguments.py:1324
    call: Callable | None = None       # arguments.py:1423
    downcast: bool = False             # arguments.py:1439
    as_interval: bool = False          # C13: emit DayTimeIntervalType
    #   instead of the ns-LongType currency on timedelta targets
    errors: str = "raise"              # arguments.py:1455

    def __post_init__(self) -> None:
        if self.errors not in ("raise", "ignore", "coerce"):
            raise ValueError(f"errors must be raise|ignore|coerce, got {self.errors!r}")
        if float(self.tol) < 0:
            raise ValueError(f"tol must be >= 0, got {self.tol!r}")
        self.tol = float(self.tol)
        if self.rounding is not None and self.rounding not in RULES:
            raise ValueError(
                f"rounding must be one of {sorted(RULES)}, got {self.rounding!r}"
            )
        if self.unit not in AS_NS and self.unit not in ("M", "Y"):
            raise ValueError(f"unrecognized unit {self.unit!r}")
        if not 0 <= self.base <= 36 or self.base == 1:
            raise ValueError(f"base must be 0 or 2..36, got {self.base}")
        if self.tz == "local":
            # T8: "local" resolves to the session timezone (reference
            # tz resolution, convert/arguments.py:760 — system tz there;
            # the session tz IS the engine's local clock)
            from pyspark.sql import SparkSession

            s = SparkSession.getActiveSession()
            if s is not None:
                self.tz = s.conf.get("spark.sql.session.timeZone")
            else:
                import datetime as _dtm

                self.tz = str(_dtm.datetime.now().astimezone().tzinfo)


# family key of a type for matrix lookup
def _family(t: AnyType) -> str:
    if isinstance(t, DecoratedType):
        return _family(t.wrapped)
    if isinstance(t, UnionType):
        raise ValueError("cannot cast to a union target; pick one member")
    if isinstance(t, StructuredType):
        return "struct"
    assert isinstance(t, ScalarType)
    root = t.root.name
    if root in ("signed", "unsigned"):
        return "int"
    if root in ("datetime_ntz", "date"):
        return "datetime"
    if root == "binary":
        # BinaryType is the carrier for pickled Python objects — the
        # reference's dtype=object (SURVEY §2.2 C27); raw non-pickled
        # binary fails unpickling and nulls under errors='coerce'
        return "object"
    return root


# (src_family, dst_family) → fn(col, src, dst, args) -> Column
_MATRIX: dict[tuple[str, str], Callable[..., Column]] = {}
# user overloads take priority (reference @cast.overload, dispatch.py:371)
_USER: dict[tuple[str, str], Callable[..., Column]] = {}


def cast_overload(src: str, dst: str):
    """Register a user conversion (reference ``@cast.overload``,
    ``README.rst:332-344``)."""
    def deco(fn: Callable[..., Column]):
        _USER[(src, dst)] = fn
        return fn
    return deco


def _rule(src: str, dst: str):
    def deco(fn):
        _MATRIX[(src, dst)] = fn
        return fn
    return deco


def _spark_cast(col: Column, dst: ScalarType, coerce: bool) -> Column:
    sp = dst.spark_type
    return col.try_cast(sp) if coerce else col.cast(sp)


def _int_bounds_ok(col: Column, dst: ScalarType) -> Column:
    if dst.max == float("inf"):
        return F.lit(True)
    return col.between(F.lit(int(dst.min)), F.lit(int(dst.max)))


# --- numeric sources -------------------------------------------------------
@_rule("bool", "bool")
@_rule("int", "int")
@_rule("float", "float")
@_rule("string", "string")
def _identityish(col, src, dst, a: CastArgs):
    return _spark_cast(col, dst, a.errors == "coerce")


@_rule("int", "bool")
def _int_to_bool(col, src, dst, a: CastArgs):
    # reference convert/integer.py:28 — only 0/1 valid
    ok = col.between(0, 1)
    out = col.cast("boolean")
    return F.when(ok, out).otherwise(F.lit(None).cast("boolean"))


@_rule("bool", "int")
@_rule("bool", "float")
@_rule("bool", "decimal")
def _bool_to_num(col, src, dst, a: CastArgs):
    return _spark_cast(col, dst, a.errors == "coerce")


@_rule("int", "float")
def _int_to_float(col, src, dst, a: CastArgs):
    # reference convert/integer.py:85 — detect precision loss by back-cast
    out = _spark_cast(col, dst, False)
    if a.errors == "coerce":
        return F.when(out.cast("long") == col, out).otherwise(
            F.lit(None).cast(dst.spark_type)
        )
    return out


@_rule("float", "int")
def _float_to_int(col, src, dst, a: CastArgs):
    # reference convert/float.py:40 — snap_round + bounds
    snapped = snap_round(col, a.tol, a.rounding, errors=a.errors)
    ok = _int_bounds_ok(snapped, dst)
    if a.rounding is None:
        ok = ok & (snapped == F.floor(snapped))
    out = snapped.cast(dst.spark_type)
    return F.when(ok, out).otherwise(F.lit(None).cast(dst.spark_type))


@_rule("float", "bool")
def _float_to_bool(col, src, dst, a: CastArgs):
    snapped = snap_round(col, a.tol, a.rounding, errors=a.errors)
    ok = snapped.isin(0.0, 1.0)
    return F.when(ok, snapped.cast("boolean")).otherwise(F.lit(None).cast("boolean"))


@_rule("int", "decimal")
@_rule("float", "decimal")
def _num_to_decimal(col, src, dst, a: CastArgs):
    sp = dst.spark_type if isinstance(dst.spark_type, st.DecimalType) else st.DecimalType(38, 18)
    return col.try_cast(sp) if a.errors == "coerce" else col.cast(sp)


@_rule("decimal", "int")
def _dec_to_int(col, src, dst, a: CastArgs):
    snapped = snap_round(col.cast("decimal(38,18)"), a.tol, a.rounding, errors=a.errors)
    ok = _int_bounds_ok(snapped, dst)
    return F.when(ok, snapped.cast(dst.spark_type)).otherwise(
        F.lit(None).cast(dst.spark_type)
    )


@_rule("decimal", "float")
@_rule("decimal", "decimal")
@_rule("decimal", "bool")
def _dec_to_num(col, src, dst, a: CastArgs):
    if _family(dst) == "bool":
        ok = col.isin(0, 1)
        return F.when(ok, col.cast("boolean")).otherwise(F.lit(None).cast("boolean"))
    return _spark_cast(col, dst, a.errors == "coerce")


# --- complex (struct{re,im}) ----------------------------------------------
@_rule("int", "complex")
@_rule("float", "complex")
@_rule("decimal", "complex")
def _num_to_complex(col, src, dst, a: CastArgs):
    # reference convert/integer.py:120
    return F.struct(col.cast("double").alias("re"), F.lit(0.0).alias("im"))


@_rule("complex", "float")
@_rule("complex", "int")
@_rule("complex", "decimal")
@_rule("complex", "bool")
def _complex_to_num(col, src, dst, a: CastArgs):
    # reference convert/complex.py:13-126 — discard imag within tol
    ok = F.abs(col["im"]) <= F.lit(a.tol)
    re = F.when(ok, col["re"]).otherwise(F.lit(None))
    inner_args = CastArgs(**{**a.__dict__, "errors": "coerce"})
    fam = _family(dst)
    inner = _MATRIX[("float", fam)](re, src, dst, inner_args)
    return inner


@_rule("complex", "complex")
def _complex_identity(col, src, dst, a: CastArgs):
    return col


# --- datetime / timedelta --------------------------------------------------
def _epoch_base_ts(a: CastArgs) -> Column:
    """The `since` epoch as a TimestampType instant (UTC)."""
    return ns_to_timestamp(F.lit(0).cast("long"), a.since, None)


@_rule("int", "datetime")
def _int_to_datetime(col, src, dst, a: CastArgs):
    # reference convert/integer.py:161-312: count of `unit` since `since`.
    # M/Y are calendar-exact via timestampadd (ref unit.pyx:231-430 does
    # real calendar math, not mean-length constants).
    if a.unit in ("M", "Y"):
        months = (
            col.cast("long") * F.lit((12 if a.unit == "Y" else 1) * a.step_size)
        ).cast("int")
        out = F.timestamp_add("MONTH", months, _epoch_base_ts(a))
        return F.from_utc_timestamp(out, a.tz) if a.tz else out
    ns = col.cast("long") * F.lit(AS_NS[a.unit]) * F.lit(a.step_size)
    return ns_to_timestamp(ns, a.since, a.tz)


@_rule("datetime", "int")
def _datetime_to_int(col, src, dst, a: CastArgs):
    # reference convert/datetime.py:67-121: ns since epoch → unit
    if a.unit in ("M", "Y"):
        ts = col.cast("timestamp")
        if a.tz:
            ts = F.to_utc_timestamp(ts, a.tz)
        months = F.months_between(ts, _epoch_base_ts(a))
        per = (12 if a.unit == "Y" else 1) * a.step_size
        return round_col(months / F.lit(per), a.rounding or "down").cast("long")
    ns = timestamp_to_ns(col.cast("timestamp"), a.since, a.tz)
    div = AS_NS[a.unit] * a.step_size
    if div == 1:
        return ns
    return round_div(ns, F.lit(div), a.rounding or "down").cast("long")


@_rule("int", "timedelta")
def _int_to_timedelta(col, src, dst, a: CastArgs):
    # ns LongType internal currency (SURVEY §7.4); M/Y use epoch-free
    # calendar means (ref unit.pyx:231-430 round_months_to_ns)
    return convert_unit(col.cast("long") * F.lit(a.step_size), a.unit, "ns")


@_rule("timedelta", "int")
def _timedelta_to_int(col, src, dst, a: CastArgs):
    out = convert_unit(col.cast("long"), "ns", a.unit, a.rounding or "down")
    if a.step_size != 1:
        out = round_div(out, F.lit(a.step_size), a.rounding or "down")
    return out.cast("long")


@_rule("timedelta", "timedelta")
def _td_identity(col, src, dst, a: CastArgs):
    return col.cast("long")


@_rule("datetime", "timedelta")
def _dt_to_td(col, src, dst, a: CastArgs):
    # ref convert/datetime.py:465 — offset from `since` as a duration
    return timestamp_to_ns(col.cast("timestamp"), a.since, a.tz)


@_rule("timedelta", "datetime")
def _td_to_dt(col, src, dst, a: CastArgs):
    # ref convert/timedelta.py:300 — duration anchored at `since`
    return ns_to_timestamp(col.cast("long"), a.since, a.tz)


@_rule("float", "datetime")
@_rule("decimal", "datetime")
def _float_to_datetime(col, src, dst, a: CastArgs):
    # ref convert/float.py:214 / decimal.py:172 — fractional unit counts
    if a.unit in ("M", "Y"):
        months = F.round(
            col.cast("double") * F.lit(float((12 if a.unit == "Y" else 1) * a.step_size))
        ).cast("int")
        out = F.timestamp_add("MONTH", months, _epoch_base_ts(a))
        return F.from_utc_timestamp(out, a.tz) if a.tz else out
    ns = F.round(col.cast("double") * F.lit(float(AS_NS[a.unit] * a.step_size))).cast("long")
    return ns_to_timestamp(ns, a.since, a.tz)


@_rule("float", "timedelta")
@_rule("decimal", "timedelta")
def _float_to_timedelta(col, src, dst, a: CastArgs):
    # ref convert/float.py:260 / decimal.py:208
    per = float(ns_per_unit(a.unit) * a.step_size)
    return F.round(col.cast("double") * F.lit(per)).cast("long")


@_rule("bool", "datetime")
def _bool_to_datetime(col, src, dst, a: CastArgs):
    # ref convert/boolean.py:23 — True/False → 1/0 units since epoch
    return _int_to_datetime(col.cast("int"), src, dst, a)


@_rule("bool", "timedelta")
def _bool_to_timedelta(col, src, dst, a: CastArgs):
    # ref convert/boolean.py:35
    return _int_to_timedelta(col.cast("int"), src, dst, a)


@_rule("datetime", "bool")
def _dt_to_bool(col, src, dst, a: CastArgs):
    # ref convert/datetime.py:30 — via unit count, only 0/1 valid
    i = _datetime_to_int(col, src, dst, a)
    return F.when(i.between(0, 1), i.cast("boolean")).otherwise(
        F.lit(None).cast("boolean")
    )


@_rule("timedelta", "bool")
def _td_to_bool(col, src, dst, a: CastArgs):
    i = _timedelta_to_int(col, src, dst, a)
    return F.when(i.between(0, 1), i.cast("boolean")).otherwise(
        F.lit(None).cast("boolean")
    )


@_rule("datetime", "datetime")
def _dt_to_dt(col, src, dst, a: CastArgs):
    out = col.cast(dst.spark_type) if dst.spark_type else col
    if a.tz:
        out = F.from_utc_timestamp(out, a.tz)
    return out


@_rule("datetime", "string")
def _dt_to_str(col, src, dst, a: CastArgs):
    if a.format:
        return F.date_format(col, a.format)
    return col.cast("string")


@_rule("datetime", "float")
@_rule("datetime", "decimal")
def _dt_to_float(col, src, dst, a: CastArgs):
    ns = timestamp_to_ns(col.cast("timestamp"), a.since, a.tz)
    per = float(ns_per_unit(a.unit) * a.step_size)
    return (ns.cast("double") / F.lit(per)).cast(dst.spark_type)


@_rule("timedelta", "float")
@_rule("timedelta", "decimal")
def _td_to_float(col, src, dst, a: CastArgs):
    # ref convert/timedelta.py:140
    per = float(ns_per_unit(a.unit) * a.step_size)
    return (col.cast("double") / F.lit(per)).cast(dst.spark_type)


@_rule("datetime", "complex")
@_rule("timedelta", "complex")
def _temporal_to_complex(col, src, dst, a: CastArgs):
    # ref convert/datetime.py:183 — unit count as the real part
    fam = _family(src)
    re = (_dt_to_float if fam == "datetime" else _td_to_float)(
        col, src, resolve("float64"), a
    )
    return F.struct(re.cast("double").alias("re"), F.lit(0.0).alias("im"))


# --- string sources (the parsing layer) ------------------------------------
@_rule("string", "bool")
def _str_to_bool(col, src, dst, a: CastArgs):
    # reference convert/string.py:26 + util/string.pyx:7
    return boolean_match(col, a.true, a.false, a.ignore_case)


@_rule("string", "int")
def _str_to_int(col, src, dst, a: CastArgs):
    out = base_to_int(col, a.base)
    ok = _int_bounds_ok(out, dst)
    return F.when(ok, out.cast(dst.spark_type)).otherwise(
        F.lit(None).cast(dst.spark_type)
    )


@_rule("string", "float")
def _str_to_float(col, src, dst, a: CastArgs):
    low = F.lower(F.trim(col))
    special = (
        F.when(low.isin("inf", "+inf", "infinity", "+infinity"), F.lit(float("inf")))
        .when(low.isin("-inf", "-infinity"), F.lit(float("-inf")))
        .when(low == "nan", F.lit(float("nan")))
    )
    return F.coalesce(special.cast(dst.spark_type), col.try_cast(dst.spark_type))


@_rule("string", "decimal")
def _str_to_decimal(col, src, dst, a: CastArgs):
    sp = dst.spark_type if isinstance(dst.spark_type, st.DecimalType) else st.DecimalType(38, 18)
    return F.trim(col).try_cast(sp)


@_rule("string", "complex")
def _str_to_complex(col, src, dst, a: CastArgs):
    return parse_complex(col)


@_rule("string", "datetime")
def _str_to_datetime(col, src, dst, a: CastArgs):
    # reference convert/string.py:137-308: format → strptime; else ISO fast
    # path; day_first/year_first reorder ambiguous numeric dates
    # (datetime.pyx:292 parserinfo); fuzzy falls back to a dateutil kernel.
    s = F.trim(col)
    if a.format:
        out = F.try_to_timestamp(s, F.lit(a.format))
    else:
        # day_first/year_first: native try_to_timestamp over the candidate
        # orderings (all codegen'd; first match wins), then the ISO fast
        # path (datetime.pyx:241 — the native cast handles ISO-8601)
        if a.day_first and a.year_first:
            bases = ["yyyy/d/M", "yyyy-d-M", "yyyy.d.M", "yyyy d M"]
        elif a.day_first:
            bases = ["d/M/yyyy", "d-M-yyyy", "d.M.yyyy"]
        elif a.year_first:
            bases = ["yyyy/M/d", "yyyy.M.d"]  # yyyy-M-d is the ISO fast path
        else:
            bases = []
        fmts = [b + t for b in bases for t in (" HH:mm:ss", " HH:mm", "")]
        exprs = [F.try_to_timestamp(s, F.lit(f)) for f in fmts]
        out = F.coalesce(*exprs, s.try_cast("timestamp")) if exprs else s.try_cast("timestamp")
    if a.fuzzy:
        # dateutil fuzzy=True semantics (datetime.pyx:292): Arrow-batched
        # kernel, only consulted where the native paths returned NULL
        out = F.coalesce(out, fuzzy_parse_datetime(s, a.day_first, a.year_first))
    if a.tz:
        out = F.from_utc_timestamp(out, a.tz)
    return out


@_rule("string", "timedelta")
def _str_to_timedelta(col, src, dst, a: CastArgs):
    return parse_timedelta_string(col, a.as_hours)


# --- to-string (formatting) ------------------------------------------------
@_rule("int", "string")
def _int_to_str(col, src, dst, a: CastArgs):
    # reference convert/integer.py:437 (radix) + base.py:433-452 (format)
    if a.base != 10 and a.base != 0:
        return int_to_base(col, a.base)
    if a.format:
        return F.format_string(a.format, col)
    return col.cast("string")


@_rule("float", "string")
@_rule("decimal", "string")
def _num_to_str(col, src, dst, a: CastArgs):
    if a.format:
        return F.format_string(a.format, col)
    return col.cast("string")


@_rule("bool", "string")
def _bool_to_str(col, src, dst, a: CastArgs):
    return col.cast("string")


@_rule("complex", "string")
def _complex_to_str(col, src, dst, a: CastArgs):
    sign = F.when(col["im"] >= 0, F.lit("+")).otherwise(F.lit("-"))
    return F.concat(
        F.lit("("), col["re"].cast("string"), sign,
        F.abs(col["im"]).cast("string"), F.lit("j)"),
    )


@_rule("timedelta", "string")
def _td_to_str(col, src, dst, a: CastArgs):
    return td_ns_to_string(col.cast("long"))


# --- anonymous cast (C31) ---------------------------------------------------
def _quoted_key(name: str, parts: tuple) -> str:
    key = "`" + name + "`"
    if parts:
        key += "." + ".".join(f"`{p}`" for p in parts)
    return key


def _walk(top: str, parts: tuple, dtype: st.DataType):
    """(key, (top, parts, kind)) for every candidate at or under one field;
    see ``_candidates``."""
    if isinstance(dtype, st.StructType):
        for f in dtype.fields:
            if "`" not in f.name:  # unquotable in withField
                yield from _walk(top, parts + (f.name,), f.dataType)
    elif isinstance(dtype, st.ArrayType) and isinstance(dtype.elementType, st.StringType):
        yield _quoted_key(top, parts) + "[]", (top, parts, "array")
    elif isinstance(dtype, st.StringType):
        yield (_quoted_key(top, parts) if parts else top), (top, parts, "scalar")
    elif isinstance(dtype, st.BinaryType) and not parts:
        yield top, (top, parts, "object")


def _candidates(df: DataFrame, cols: list[str] | None = None) -> dict:
    """The anonymous cast's candidates: ``{key: (top, parts, kind)}``.

    ``kind`` is ``scalar`` (a string), ``array`` (an ``array<string>``,
    promoted element-wise: XML's *repeated* elements) or ``object`` (a
    pickled binary column).  Top-level strings and objects are keyed by
    their raw name with ``parts == ()``.  Struct leaves (XML's nested
    all-string elements) are keyed by their fully backtick-quoted dotted
    path and arrays by that path plus ``[]``, so no key collides with a
    raw top-level name.  ``parts`` is the field-name path as a tuple,
    never re-split, so field names holding literal dots (legal in XML,
    common as JSON keys) resolve.  Names holding a backtick are skipped at
    every level; arrays of structs stay as they are (promoting inside them
    would need transform-over-struct rebuilds with no reference
    precedent).
    """
    return {
        key: path
        for f in df.schema.fields
        if "`" not in f.name and (cols is None or f.name in cols)
        for key, path in _walk(f.name, (), f.dataType)
    }


def _field_expr(top: str, parts: tuple) -> Column:
    # quoted: a top-level ``s.qty`` must not resolve to the leaf `s`.`qty`
    col = F.col(_quoted_key(top, ()))
    for part in parts:
        col = col.getField(part)
    return col


def _object_tag(col: Column) -> Column:
    from .objects import apply_with_errors

    return apply_with_errors(col, python_type_tag, "coerce", "string", unpickle=True)


def infer_best_types(df: DataFrame, cols: list[str] | None = None) -> dict[str, str]:
    """Dominant parseable type per candidate — ONE aggregate job over all
    candidates (reference anonymous cast, ``convert/base.py:156-163``:
    ``cast(df)`` detects then converts).

    Candidates (``_candidates``) are top-level string and pickled-object
    columns, string leaves of struct columns (keyed by their quoted path)
    and ``array<string>`` columns and leaves (keyed with a ``[]`` suffix).
    The job holds one set-valued census per candidate
    (``types.detect.tag_census``): the distinct type tags of its values,
    or of every element across every row of an array.  A candidate is
    promoted only when EVERY non-missing value tags as one family:
    all-bool → bool, all-int → int64, int/float mix → float64,
    all-ISO-datetime → datetime; object columns also reach decimal,
    complex, timedelta and (all-``str``) string.  Anything else stays put.
    """
    paths = _candidates(df, cols)
    if not paths:
        return {}
    row = df.select(*[
        tag_census(
            _field_expr(top, parts),
            array=kind == "array",
            tagger=_object_tag if kind == "object" else type_tag_column,
        ).alias(key)
        for key, (top, parts, kind) in paths.items()
    ]).collect()[0]

    plan: dict[str, str] = {}
    for key, (_, _, kind) in paths.items():
        tags = set(row[key]) - {"missing"}
        if tags == {"int", "float"}:
            tags = {"float"}  # an int/float mix widens to float64
        # `str` names a type only for a pickled-object column
        if len(tags) == 1 and (tags != {"str"} or kind == "object"):
            target = TAG_TO_TYPE.get(tags.pop())
            if target is not None:
                plan[key] = target
    return plan


def _struct_rebuild_columns(casts: dict) -> dict:
    """Fold ``{key: (top, parts, expr)}`` into one expression per top-level
    column: leaf casts chain ``withField`` over backtick-quoted literal
    field names (NULL structs stay NULL); ``parts == ()`` replaces the
    column outright."""
    per_top: dict[str, Column] = {}
    for top, parts, expr in casts.values():
        if not parts:
            per_top[top] = expr
            continue
        field = ".".join(f"`{p}`" for p in parts)
        per_top[top] = per_top.get(top, _field_expr(top, ())).withField(field, expr)
    return per_top


# --- public API ------------------------------------------------------------
def cast_col(
    col: Column,
    src: Any,
    dst: Any,
    **kwargs: Any,
) -> Column:
    """Column-level cast: emit the conversion expression for (src→dst)."""
    a = CastArgs(**kwargs)
    s, d = resolve(src), resolve(dst)
    key = (_family(s), _family(d))
    fn = _USER.get(key) or _MATRIX.get(key)
    if fn is None:
        raise CastError(f"no conversion registered for {key[0]} → {key[1]}")
    out = fn(col, s, d, a)
    if a.as_interval and key[1] == "timedelta":
        out = ns_to_interval(out)  # C13: typed interval at the boundary
    return out


def _violation_agg(
    key: str, before: Column, after: Column | Callable, elementwise: bool
) -> Column:
    """New-NULL count of one planned cast: a non-null value whose cast is
    NULL.  ``elementwise``: ``after`` is the per-element cast of an array
    promotion and each such element counts (NULL arrays count 0)."""
    if elementwise:
        bad = F.filter(before, lambda x: x.isNotNull() & after(x).isNull())
        return F.sum(F.coalesce(F.size(bad), F.lit(0))).alias(key)
    return F.count(F.when(before.isNotNull() & after.isNull(), 1)).alias(key)


def _violation_counts(
    df: DataFrame, validations: list[tuple[str, Column]]
) -> dict[str, int]:
    """ONE aggregate job counting new NULLs across ALL cast columns (same
    single-pass pattern as downcast_plan, convert/downcast.py:79-93) — a
    50-column cast costs one scan, not 50."""
    if not validations:
        return {}
    row = df.select(*[agg for _, agg in validations]).collect()[0]
    return {name: row[name] for name, _ in validations if row[name]}


def _validate(df: DataFrame, validations: list[tuple[str, Column]]) -> None:
    """errors='raise': raise when any column produced violations."""
    bad = _violation_counts(df, validations)
    if bad:
        detail = ", ".join(f"{k}: {v}" for k, v in bad.items())
        raise CastError(
            f"cast produced invalid value(s) ({detail}) with errors='raise'; "
            f"use errors='coerce' to null them or errors='ignore' to keep "
            f"the input"
        )


def cast(
    df: DataFrame,
    spec: Any = None,
    cols: str | list[str] | None = None,
    **kwargs: Any,
) -> DataFrame:
    """DataFrame-level cast (reference ``convert/base.py:146-201``).

    ``spec`` may be a single type specifier (applied to ``cols`` or every
    column it can apply to), a mapping ``{column: spec}`` — the
    ``columnwise`` broadcast of the reference (``convert/base.py:55-99``) —
    or ``None`` for the anonymous cast (C31, ``base.py:156-163``): infer
    the best type of every string/object column and convert to it.
    """
    a = CastArgs(**kwargs)
    observed = {f.name: resolve(f.dataType) for f in df.schema.fields}

    if spec is None:
        spec = infer_best_types(
            df, [cols] if isinstance(cols, str) else cols
        )
        if not spec:
            return df

    paths: dict = {}
    if isinstance(spec, Mapping):
        # a mapping addresses struct leaves and array elements by the
        # candidate keys ``infer_best_types`` emits.  Candidates are looked
        # up before raw names, so a (contrived) top-level column literally
        # named ``\`s\`.\`t\``` can never shadow a leaf; such names are
        # not candidates either, so the quoted key is unambiguous.
        paths = _candidates(df)
        plan = {k: resolve(v) for k, v in spec.items()}
    else:
        target = resolve(spec)
        if isinstance(target, StructuredType):
            plan = dict(target.items())
        else:
            names = [cols] if isinstance(cols, str) else (cols or list(observed))
            plan = {n: target for n in names}

    # reference 'ignore' semantics (convert/base.py catch_errors): a
    # failing conversion keeps the INPUT column (or leaf) unchanged.
    # Build the expression in coerce mode so the job can't crash, then
    # one validation aggregate decides which casts to revert.
    build_kwargs = {**kwargs, "errors": "coerce"} if a.errors == "ignore" else kwargs
    casts: dict[str, tuple] = {}
    validations: list[tuple[str, Column]] = []
    for key, dst in plan.items():
        top, parts, kind = paths.get(key, (key, (), "scalar"))
        if top not in observed:
            raise CastError(f"no such column: {key!r}")
        elementwise = kind == "array"
        # leaves and array elements are strings; a column has its own type
        src = resolve("string") if parts or elementwise else observed[top]
        if isinstance(dst, DecoratedType):
            dst = dst.wrapped  # decorator unwrap (convert/base.py:183-198)
        # trivial-cast short-circuit (reference base.py:304-306)
        if isinstance(dst, ScalarType) and isinstance(src, ScalarType) and (
            src is dst or src.unparametrized is dst.unparametrized
        ) and not a.downcast:
            continue
        before = _field_expr(top, parts)
        # C13: a real DayTimeIntervalType column enters the matrix as ns
        # (a bare CAST(interval AS BIGINT) would truncate to whole
        # seconds inside the timedelta rules)
        in_col = before
        if isinstance(df.schema[top].dataType, st.DayTimeIntervalType):
            in_col = interval_to_ns(before)

        def cast_one(x: Column) -> Column:
            return cast_col(x, src, dst, **build_kwargs)

        try:
            expr = F.transform(in_col, cast_one) if elementwise else cast_one(in_col)
        except CastError:
            if a.errors == "ignore":
                continue
            raise
        casts[key] = (top, parts, expr)
        if a.errors in ("raise", "ignore"):
            validations.append((key, _violation_agg(
                key, before, cast_one if elementwise else expr, elementwise
            )))

    if a.errors == "raise":
        _validate(df, validations)
    elif a.errors == "ignore":
        for key in _violation_counts(df, validations):
            del casts[key]  # keep the input column or leaf

    result = df.withColumns(_struct_rebuild_columns(casts)) if casts else df
    if a.downcast:
        from .downcast import downcast as _dc
        result = _dc(result, list(plan.keys()))
    return result
