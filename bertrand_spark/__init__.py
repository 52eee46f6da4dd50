"""bertrand_spark — a PySpark-native re-expression of eerkela/bertrand.

Four public verbs (reference README.rst:48-67):

* :func:`resolve` — parse any type specifier into a type object
* :func:`detect` — infer the type/schema of data (O(1) on typed DataFrames)
* :func:`typecheck` — hierarchical schema validation
* :func:`cast` — the universal conversion engine (native Column expressions)

plus the dispatch/extension machinery (``@dispatch``, ``@cast_overload``),
the range-adaptor operator surface (:mod:`bertrand_spark.operators`), and the
large-scale pipeline extensions (:mod:`bertrand_spark.pipeline`: dedup,
similarity search, text analysis, multimodal columns).
"""

import sys as _sys

if "pyspark.worker" in _sys.modules:
    # a Python worker re-reads pyspark.zip's directory at every task
    # unless guarded (see bertrand_spark.session)
    from .session import guard_zip_rereads

    guard_zip_rereads()

from .types.core import (
    DecoratedType,
    ScalarType,
    StructuredType,
    TypeRegistry,
    UnionType,
    registry,
)
from .types.resolve import resolve
from .types.detect import detect, detect_elementwise, typecheck, type_tag_column
from .convert import CastArgs, CastError, cast, cast_col, cast_overload
from .convert.downcast import boundscheck, downcast, downcast_plan
from .api import attach, audit_scale, detach
from .decorators import attachable, extension_func

__version__ = "0.1.0"

__all__ = [
    "ScalarType", "DecoratedType", "UnionType", "StructuredType",
    "TypeRegistry", "registry",
    "resolve", "detect", "detect_elementwise", "typecheck", "type_tag_column",
    "cast", "cast_col", "cast_overload", "CastArgs", "CastError",
    "boundscheck", "downcast", "downcast_plan",
    "attach", "audit_scale", "detach", "attachable", "extension_func",
]
