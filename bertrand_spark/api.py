"""User-facing API assembly: the reference's decorator stack, Spark-side.

Reference: ``bertrand/convert/base.py:146-201`` stacks
``@attachable → @extension_func → cast``; importing pdcast and calling
``pdcast.attach()`` gives ``pd.Series.cast`` etc.  Here the same stack
lands the verbs on ``pyspark.sql.DataFrame``:

>>> import bertrand_spark as bs
>>> bs.attach()
>>> df.cast("int64", cols=["l_quantity"])      # attached verb
>>> df.bertrand.typecheck({"l_quantity": "float64"})
>>> bs.cast_.tol = 1e-9                        # thread-local default
>>> bs.detach()                                # restore DataFrame
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from .convert.cast import CastArgs, cast as _cast_impl
from .convert.downcast import downcast as _downcast_impl
from .types.detect import detect as _detect_impl, typecheck as _typecheck_impl
from .decorators import attachable, extension_func

__all__ = ["cast_", "typecheck_", "detect_", "downcast_", "attach", "detach"]


# --- managed-kwarg wrapper over cast (ref base.py:146: @extension_func) -----
@extension_func
def _cast_ext(df: DataFrame, spec: Any = None, cols: Any = None, **kwargs: Any):
    # drop Nones so CastArgs defaults apply
    kwargs = {k: v for k, v in kwargs.items() if v is not None}
    return _cast_impl(df, spec, cols=cols, **kwargs)


# managed kwargs: ``CastArgs`` owns each check, so the attached verb and a
# direct ``cast()`` accept and reject the same values
def _checked(name: str):
    return lambda val: getattr(CastArgs(**{name: val}), name)


for _name, _default in (
    ("tol", 1e-6), ("rounding", None), ("unit", "ns"), ("errors", "raise")
):
    _cast_ext.argument(default=_default, name=_name)(_checked(_name))

cast_ = _cast_ext

# --- attachables (ref base.py:146: @attachable) -----------------------------
typecheck_ = attachable(_typecheck_impl)
detect_ = attachable(_detect_impl)
downcast_ = attachable(_downcast_impl)
_cast_attach = attachable(
    lambda df, spec=None, cols=None, **kw: cast_(df, spec, cols=cols, **kw)
)


def attach(namespace: str | None = None) -> None:
    """Attach the four verbs to ``pyspark.sql.DataFrame``
    (reference ``pdcast.attach()``; attachable.py:175).

    With ``namespace``, verbs land under ``df.<namespace>.<verb>``;
    without, directly as ``df.cast`` / ``df.typecheck`` / ``df.detect_type``
    / ``df.downcast`` (`detect` renamed to avoid any future collision).
    Both forms also install the ``df.bertrand`` namespace.
    """
    _cast_attach.attach_to(DataFrame, name="cast", namespace=namespace)
    typecheck_.attach_to(DataFrame, name="typecheck", namespace=namespace)
    detect_.attach_to(DataFrame, name="detect_type", namespace=namespace)
    downcast_.attach_to(DataFrame, name="downcast", namespace=namespace)
    if namespace != "bertrand":
        _cast_attach.attach_to(DataFrame, name="cast", namespace="bertrand")
        typecheck_.attach_to(DataFrame, name="typecheck", namespace="bertrand")
        detect_.attach_to(DataFrame, name="detect_type", namespace="bertrand")
        downcast_.attach_to(DataFrame, name="downcast", namespace="bertrand")


def detach() -> None:
    """Restore ``DataFrame`` to its pre-attach state."""
    for a in (_cast_attach, typecheck_, detect_, downcast_):
        a.detach()


def audit_scale(df: DataFrame, name: str = "<df>") -> list:
    """Audit a DataFrame's physical plan for 100 TB anti-patterns — the
    same checks CI runs over every declared query (``tools/plan_audit``:
    nested-loop joins, single-partition funnels feeding sorts/windows,
    unpruned scans, shuffle-heavy plans), exposed as a user API so a
    pipeline author can gate their own composition before submitting it
    to a cluster::

        flags = bs.audit_scale(my_pipeline_df)
        assert not flags, flags

    Returns a list of human-readable flag strings (empty = clean).
    """
    from .plans.audit import audit_broadcast_hints, audit_plan

    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    return audit_plan(name, plan) + audit_broadcast_hints(name, qe.analyzed())
