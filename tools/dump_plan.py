"""Dump .explain("formatted") for declared queries to files.

Usage::

    python tools/dump_plan.py OUTDIR SUFFIX name [name ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each matching query, built at
sf0.01 with the bench's session shape (AQE on, shuffle partitions =
4x cores).  Run from the repo whose plan you want (the script resolves
the package relative to its own location, so a worktree copy dumps the
worktree's plans).
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> int:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)

    from bertrand_spark.session import build_session

    spark = build_session(os.environ.get("SPARK_GRAFT_CPUS", "8"), "dump_plan")

    from bertrand_spark.plans.queries import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for want in names:
        matches = [n for n in QUERIES if want in n]
        if not matches:
            print(f"no query matches {want!r}", file=sys.stderr)
            return 1
        for name in matches:
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
