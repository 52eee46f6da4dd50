"""Object escape hatch (C27/E1): any Python object as a column.

Reference: ``bertrand/convert/object.py:17-212`` (object→bool/int/float/
complex/decimal/datetime/timedelta/string via dunder hooks or a user
``call``), ``convert/base.py:455-488`` (``generic_to_object``/
``safe_apply``) and ``bertrand/util/vector.pyx:45-128``
(``apply_with_errors`` — elementwise apply under raise/ignore/coerce).

Spark-first translation: an *object column* is pickled Python stored as
BinaryType.  The kernels are Arrow-batched ``pandas_udf``s — the batch
crosses the JVM↔Python boundary once per ~10k rows via Arrow; the per-
element Python call inside the batch is inherent to "arbitrary Python
object" semantics (the reference loops in Cython for the same reason).

One deliberate deviation: the reference *drops* rows that error under
``errors='coerce'`` (vector.pyx:78); a distributed column can't cheaply
drop single rows, so we emit NULL — consistent with every other coerce
rule in this engine's matrix.  Chain ``.dropna()`` for reference parity.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.kernel import row_udf
from .cast import CastArgs, _rule, cast_col

__all__ = ["apply_with_errors", "pickle_column", "unpickle_to"]

_FATAL = (KeyboardInterrupt, MemoryError, SystemError, SystemExit)


def apply_with_errors(
    col: Column,
    call: Callable,
    errors: str = "raise",
    return_type: str = "binary",
    unpickle: bool = False,
    pickle_result: bool = False,
) -> Column:
    """Elementwise apply with raise/ignore/coerce (ref vector.pyx:45).

    ``errors='raise'``/``'ignore'`` propagate the exception (failing the
    job — the reference propagates up the stack identically);
    ``'coerce'`` nulls the offending element.
    """
    if errors not in ("raise", "ignore", "coerce"):
        raise ValueError(f"errors must be raise|ignore|coerce, got {errors!r}")

    def apply_one(v: Any) -> Any:
        if v is None:
            return None
        try:
            x = pickle.loads(bytes(v)) if unpickle else v
            r = call(x)
            return pickle.dumps(r) if pickle_result else r
        except _FATAL:
            raise
        except Exception:
            if errors == "coerce":
                return None
            raise

    return row_udf(return_type, apply_one)(col)


def pickle_column(col: Column, errors: str = "raise") -> Column:
    """any → object (ref base.py:455 generic_to_object): pickle to binary."""
    return apply_with_errors(col, lambda v: v, errors, "binary", pickle_result=True)


def unpickle_to(
    col: Column, call: Callable | None, errors: str, return_type: str
) -> Column:
    """object → scalar via dunder/user call (ref object.py:17-212)."""
    return apply_with_errors(
        col, call or (lambda v: v), errors, return_type, unpickle=True
    )


# --- matrix registration ----------------------------------------------------
# object → X: unpickle, apply the dunder (or user `call`), land in the
# python-scalar family, then reuse the native matrix for the final repr.
def _obj_rule(dst_family: str, dunder: Callable, return_type: str):
    @_rule("object", dst_family)
    def rule(col, src, dst, a: CastArgs):
        out = unpickle_to(col, a.call or dunder, a.errors, return_type)
        if a.errors == "ignore":
            # reference: ignore propagates errors but keeps input on failure
            # at series level; column-level we keep element pass-through
            pass
        return out.cast(dst.spark_type) if dst.spark_type is not None else out
    return rule


_obj_rule("bool", bool, "boolean")
_obj_rule("int", int, "long")
_obj_rule("float", float, "double")
_obj_rule("string", str, "string")


@_rule("object", "decimal")
def _obj_to_decimal(col, src, dst, a: CastArgs):
    import pyspark.sql.types as st
    s = unpickle_to(col, a.call or str, a.errors, "string")
    sp = dst.spark_type if isinstance(dst.spark_type, st.DecimalType) else st.DecimalType(38, 18)
    return s.cast(sp)


@_rule("object", "complex")
def _obj_to_complex(col, src, dst, a: CastArgs):
    def to_pair(v: Any):
        c = complex(v)
        return [c.real, c.imag]
    arr = unpickle_to(col, a.call or to_pair, a.errors, "array<double>")
    return F.struct(
        F.element_at(arr, 1).alias("re"), F.element_at(arr, 2).alias("im")
    )


@_rule("object", "datetime")
def _obj_to_datetime(col, src, dst, a: CastArgs):
    def to_ns(v: Any) -> int:
        return int(pd.Timestamp(v).value)  # ns since unix epoch
    ns = unpickle_to(col, a.call or to_ns, a.errors, "long")
    from ..functions.temporal import ns_to_timestamp
    return ns_to_timestamp(ns, "unix", a.tz)


@_rule("object", "timedelta")
def _obj_to_timedelta(col, src, dst, a: CastArgs):
    def to_ns(v: Any) -> int:
        return int(pd.Timedelta(v).value)
    return unpickle_to(col, a.call or to_ns, a.errors, "long")


# X → object: evaluate natively, then pickle the Python-side scalar.
@_rule("bool", "object")
@_rule("int", "object")
@_rule("float", "object")
@_rule("decimal", "object")
@_rule("string", "object")
@_rule("datetime", "object")
@_rule("timedelta", "object")
@_rule("object", "object")
def _any_to_object(col, src, dst, a: CastArgs):
    from .cast import _family
    if src is not None and _family(src) == "object":
        return col  # already pickled binary
    fam_call = a.call
    if fam_call is None:
        return pickle_column(col, a.errors)
    return apply_with_errors(col, fam_call, a.errors, "binary", pickle_result=True)


@_rule("complex", "object")
def _complex_to_object(col, src, dst, a: CastArgs):
    # struct columns arrive in a pandas_udf as a DataFrame, not a Series —
    # flatten to array<double> first, rebuild the complex Python-side
    arr = F.array(col["re"], col["im"])
    call = a.call or (lambda v: complex(float(v[0]), float(v[1])))
    return apply_with_errors(arr, call, a.errors, "binary", pickle_result=True)
