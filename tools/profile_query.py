"""Per-job / per-stage decomposition of one declared query.

Usage::

    python tools/profile_query.py x02 [--sf 0.1] [--runs 2]

Runs the query with the bench's session shape (warmup at sf0.001 first),
then prints every Spark job and stage the timed run submitted — name,
wall ms, task count — pulled from the driver status API.  This answers
"where do the seconds go" (guide §1.1: find the slowest stage) when the
whole corpus is megabytes and per-query time is job-count constants.
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = "0.1"
    runs = 1
    argv = sys.argv[1:]
    if "--sf" in argv:
        sf = argv[argv.index("--sf") + 1]
        names.remove(sf)
    if "--runs" in argv:
        runs = int(argv[argv.index("--runs") + 1])
        names.remove(str(runs))

    from bertrand_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # the job/stage listing below reads the UI REST API: keep every job
    spark = build_session(
        cpus,
        "profile_query",
        **{"spark.ui.retainedJobs": "10000", "spark.ui.retainedStages": "10000"},
    )

    from bertrand_spark.plans.queries import QUERIES

    sf_dir = f"/root/testdata/sf{sf}"
    warm_dir = "/root/testdata/sf0.001"
    sc = spark.sparkContext

    for name in names:
        full = next((k for k in QUERIES if k.startswith(name)), None)
        if full is None:
            print(f"?? no query matches {name!r}")
            continue
        fn = QUERIES[full]

        # warmup: exact plan shape at sf0.001, untimed
        fn(spark, warm_dir).write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()

        best = None
        for r in range(runs):
            jid0 = sc._jsc.sc().dagScheduler().nextJobId()
            if hasattr(jid0, "get"):
                jid0 = jid0.get()
            t0 = time.monotonic()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.monotonic() - t0
            spark.catalog.clearCache()
            if best is None or dt < best[0]:
                best = (dt, jid0)
        dt, jid0 = best

        # pull job/stage data from the status API
        import json
        import urllib.request

        ui = sc.uiWebUrl
        app_id = sc.applicationId
        jobs = json.loads(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app_id}/jobs"
            ).read()
        )
        stages = json.loads(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
            ).read()
        )
        st_by_id = {s["stageId"]: s for s in stages}

        from datetime import datetime

        def _ms(a, b):
            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            ta = datetime.strptime(a, fmt)
            tb = datetime.strptime(b, fmt)
            return (tb - ta).total_seconds() * 1000

        print(f"\n=== {full}  total {dt:.3f}s  (best of {runs}) ===")
        sel = sorted(
            (j for j in jobs if j["jobId"] >= jid0), key=lambda j: j["jobId"]
        )
        prev_end = None
        for j in sel:
            jms = _ms(j["submissionTime"], j["completionTime"])
            gap = ""
            if prev_end is not None:
                g = _ms(prev_end, j["submissionTime"])
                if g > 20:
                    gap = f"   [+{g:.0f}ms driver gap]"
            prev_end = j["completionTime"]
            desc = (j.get("description") or j["name"])[:90]
            print(f"  job {j['jobId']:>4}  {jms:7.0f}ms  {desc}{gap}")
            for sid in sorted(j["stageIds"]):
                s = st_by_id.get(sid)
                if s is None:
                    continue
                sms = (
                    _ms(s["firstTaskLaunchedTime"], s["completionTime"])
                    if "firstTaskLaunchedTime" in s and s.get("completionTime")
                    else -1
                )
                nm = s["name"].split("\n")[0][:70]
                print(
                    f"        stage {sid:>4}  {sms:6.0f}ms  "
                    f"{s['numCompleteTasks']:>3} tasks  {nm}"
                )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
