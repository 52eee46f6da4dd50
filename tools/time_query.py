"""Time individual declared queries with the bench's exact methodology.

Usage::

    python tools/time_query.py x02 x45            # min-of-3 each, noop sink
    python tools/time_query.py x18 --runs 5       # more samples
    python tools/time_query.py x02 --sf 0.1       # scale dir (default 0.1)
    python tools/time_query.py x02 --explain out/ # also dump formatted plans

Mirrors bench.py: local[$SPARK_GRAFT_CPUS] (default 32 here — this is the
optimization loop, not the driver contract), same session confs, untimed
sf0.001 warmup of the exact plan shape, noop sink so the computation is
timed and not the collect, host probe recorded so a degraded window is
visible, per-query job descriptions so the UI is readable (guide §1.4/1.5).
"""

from __future__ import annotations

import os
import sys
import time

# module level, not inside main(): under postponed annotations pandas_udf
# resolves the ``pd.Series`` hints against this module's globals
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    sf = "0.1"
    explain_dir = None
    argv = sys.argv[1:]
    if "--runs" in argv:
        runs = int(argv[argv.index("--runs") + 1])
        args.remove(str(runs))
    if "--sf" in argv:
        sf = argv[argv.index("--sf") + 1]
        args.remove(sf)
    if "--explain" in argv:
        explain_dir = argv[argv.index("--explain") + 1]
        args.remove(explain_dir)
    if not args:
        print(__doc__)
        return 2

    from pyspark.sql import functions as F

    from bertrand_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(cpus, "time_query")

    from bertrand_spark.plans.queries import QUERIES

    sf_dir = f"/root/testdata/sf{sf}"
    warm_dir = "/root/testdata/sf0.001"

    # same warmups as bench.py
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    from pyspark.sql.functions import pandas_udf as _pudf

    @_pudf("long")
    def _warm(s: pd.Series) -> pd.Series:
        import numpy as _np  # noqa: F401

        return s

    spark.range(0, 10000, 1, int(cpus)).select(_warm("id")).count()

    def host_probe() -> float:
        pr = spark.range(0, 6_000_000, 1, int(cpus)).select(
            (F.col("id") * 3 % 7).alias("v")
        )
        pr.select(F.sum("v")).collect()
        best = None
        for _ in range(2):
            t0 = time.time()
            pr.select(F.sum("v")).collect()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    print(f"host_probe before: {host_probe()} (healthy ~0.2)")

    names = [n for n in QUERIES if any(p in n for p in args)]
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"warmup {name}")
        try:
            for _ in range(2):
                fn(spark, warm_dir).write.mode("overwrite").format("noop").save()
                spark.catalog.clearCache()
        except Exception as exc:
            print(f"{name}: warmup error {exc}")
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            try:
                txt = fn(spark, sf_dir)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
                    fh.write(txt)
            except Exception as exc:
                print(f"{name}: explain error {exc}")
        samples = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"timed {name} run {i}")
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            samples.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        print(f"{name}: min={min(samples)} samples={samples}")
    print(f"host_probe after: {host_probe()}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
