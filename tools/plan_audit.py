"""Plan-quality audit: read every query's physical plan and flag
scale anti-patterns.

Checks per query:
* column pruning  — scans reading more columns than the query needs
* filter pushdown — PushedFilters present when the query filters a scan
* single-partition exchanges (SinglePartition) outside tiny aggregates
* broadcast vs sort-merge joins (and nested-loop joins, the red flag)
* CollectLimit / global sorts feeding wide plans

Usage: python tools/plan_audit.py [name_substring ...]
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
from bertrand_spark.plans.audit import (  # noqa: E402,F401 — CLI + CI import surface
    audit_broadcast_hints,
    audit_plan,
)


def main() -> int:
    patterns = sys.argv[1:]
    from bertrand_spark.session import build_session

    spark = build_session(8, "plan_audit")

    from bertrand_spark.plans.queries import QUERIES

    sf_dir = "/root/testdata/sf0.01"
    n_clean = 0
    for name, fn in QUERIES.items():
        if patterns and not any(p in name for p in patterns):
            continue
        try:
            df = fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            hint_flags = audit_broadcast_hints(name, qe.analyzed())
        except Exception as exc:
            print(f"ERROR {name}: {exc}")
            continue
        flags = audit_plan(name, plan) + hint_flags
        if flags:
            print(f"FLAG {name}:")
            for f in flags:
                print(f"   - {f}")
        else:
            n_clean += 1
    print(f"\n{n_clean} clean plans")
    return 0


if __name__ == "__main__":
    sys.exit(main())
