"""Explain a declared query: formatted physical plan + scale audit.

Usage::

    python tools/explain.py q40              # formatted plan + audit flags
    python tools/explain.py x02 --simple     # one-line operator tree
    python tools/explain.py q40 --sf 0.1     # plan at another scale factor

The inspection loop SCALE.md prescribes ("explain, then iterate until
it's the plan you'd want") packaged so it is one command per query.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from bertrand_spark.plans.audit import audit_plan  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    simple = "--simple" in sys.argv
    sf = "0.01"
    if "--sf" in sys.argv:
        sf = sys.argv[sys.argv.index("--sf") + 1]
    if not args:
        print(__doc__)
        return 2

    from bertrand_spark.session import build_session

    spark = build_session(8, "explain")

    from bertrand_spark.plans.queries import QUERIES

    sf_dir = f"/root/testdata/sf{sf}"
    matched = False
    for name, fn in QUERIES.items():
        if not any(p in name for p in args):
            continue
        matched = True
        print(f"=== {name} (sf={sf}) ===")
        df = fn(spark, sf_dir)
        df.explain("simple" if simple else "formatted")
        plan = df._jdf.queryExecution().executedPlan().toString()
        flags = audit_plan(name, plan)
        if flags:
            for f in flags:
                print(f"AUDIT FLAG: {f}")
        else:
            print("audit: clean")
    if not matched:
        print(f"no query matches {args}; see __spark_entry__.queries()")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
