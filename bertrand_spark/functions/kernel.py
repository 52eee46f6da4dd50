"""The engine's one Arrow row-kernel boundary (ref ``util/vector.pyx:45``,
``apply_with_errors``: every elementwise Python call goes through one
kernel).

:func:`row_udf` turns a plain per-row Python function into a scalar
``pandas_udf``.  Arrow carries each batch across the JVM↔Python boundary
once; inside the batch the row function is called once per row, on the
zipped values of the input columns.  The row function owns its own
contracts (NULL handling, never-raise, raise/coerce): the boundary adds
none and removes none.

Result packing follows the DDL.  A ``struct<…>`` return type gets a
``pd.DataFrame`` whose columns are the struct's field names, taken from
the DDL itself, so a row function returns plain tuples in field order; a
row of all-``None`` fields comes out as a non-NULL struct whose fields
are all NULL.  Any other return type gets an object-dtype ``pd.Series``
(Python ints past 2**53 reach Arrow exact), except ``timestamp``, whose
dtype pandas infers: Spark reads naive datetimes as session-local
wall-clock times only from a datetime64 Series.
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DataType, StructType, TimestampType

__all__ = ["row_udf"]


def row_udf(ddl: str, fn: Callable[..., Any]):
    """Scalar ``pandas_udf`` of return type ``ddl`` applying ``fn`` to
    each row of its input columns (``fn(*row)`` per row, in order).

    The DDL is parsed once on the driver; the UDF is declared with the
    parsed type, so Spark does not parse it again."""
    rtype = DataType.fromDDL(ddl)
    names = rtype.names if isinstance(rtype, StructType) else None
    dtype = None if isinstance(rtype, TimestampType) else object

    def kernel(*cols: pd.Series) -> pd.DataFrame:
        return _apply(fn, names, dtype, cols)

    # plans and the UI show the row function's name, not "kernel"
    kernel.__name__ = fn.__name__
    return pandas_udf(kernel, rtype)


def _apply(fn, names, dtype, cols):
    """One batch through ``fn``, packed for ``row_udf``'s return type.

    Module-level, so a pickled kernel refers to it by name: unpickling
    any kernel imports ``bertrand_spark`` in the Python worker, which
    installs the worker's one-time set-up (see ``bertrand_spark.session``)."""
    rows = [fn(*row) for row in zip(*cols)]
    if names is None:
        return pd.Series(rows, dtype=dtype)
    return pd.DataFrame(rows, columns=names)
