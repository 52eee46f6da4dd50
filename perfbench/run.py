"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload typecast --seed 42 --seconds 5 --trace 0

One process, one closed-loop client.  An op is one declared query, run as
``QUERIES[name](spark, inputs).write.format("noop").mode("overwrite").save()``
and timed from the call to the return of ``save()``.  A run generates the
workload's inputs from ``--seed``, sets the session up several times,
runs one cold pass over the ops, then timed passes for at least
``--seconds`` seconds (and at least two passes and 18 op samples), then
checks every op once against its DuckDB oracle, untimed.  With
``--trace 1`` it traces the timed passes layer by layer (see
``trace.py``), runs one untraced pass among them for the tracing
overhead, and reports per-layer metrics instead of end-to-end ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  The line before
it is the full record: every metric's median, quartiles and sample count,
the host probes, per-op timings and the harness's own timings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END: dict[str, str] = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s",
    "op_tail_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "ok_frac": "ratio",
}
SETUPS = 3  # session set-ups per run; setup_s is their median
MIN_PASSES = 2
# op samples per run: with 18 the tail percentile (10 samples beyond) is
# at least p44, not a draw among the few fastest ops
MIN_SAMPLES = 18
VALIDATE_THREADS = 3


def _warm_identity(s: pd.Series) -> pd.Series:
    """Warm-up pandas UDF body: spins up the Python worker pool."""
    return s


class Bench:
    """One run: a session over one workload's generated inputs."""

    def __init__(self, workload: str, ops: tuple[str, ...], inputs: str, work: str,
                 trace: bool):
        self.workload, self.ops, self.inputs, self.work = workload, ops, inputs, work
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.event_dir = os.path.join(work, "events")

    # -- session ----------------------------------------------------------
    def _build(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work, "tmp")
        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", "2g")
            .config("spark.local.dir", os.path.join(self.work, "local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        )
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", f"file://{self.event_dir}")
                 .config("spark.eventLog.compress", "false"))
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        from bertrand_spark.session import tune_session

        tune_session(spark)
        return spark

    def _warm(self) -> None:
        from pyspark.sql import functions as F

        self.spark.range(1000).select((F.col("id") * 2).alias("v")).count()
        self.spark.range(0, 10000, 1, self.cores).select(self._py_udf("id")).count()

    def setup(self, times: int = SETUPS) -> list[tuple[float, float]]:
        """Build the session and warm it ``times`` times; keep the last.
        Returns ``(build_s, warm_s)`` per set-up."""
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import LongType

        out = []
        for _ in range(times):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self._build()
            t1 = time.perf_counter()
            # a UDF binds to the context it first ran in, so make it anew
            self._py_udf = pandas_udf(_warm_identity, LongType())
            self._warm()
            out.append((t1 - t0, time.perf_counter() - t1))
        return out

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits at end of its stdin
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def probes(self) -> dict[str, float]:
        """bench.py's two host probes: a JVM range-sum and a pandas-UDF round trip."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        self.spark.range(0, 1_000_000, 1, self.cores).select(
            F.sum(F.col("id") * 3 % 7)).collect()
        t1 = time.perf_counter()
        self.spark.range(0, 100_000, 1, self.cores).select(
            F.sum(self._py_udf("id"))).collect()
        return {"jvm_s": t1 - t0, "py_s": time.perf_counter() - t1}

    # -- ops --------------------------------------------------------------
    def _clear_cache(self) -> tuple[int, float]:
        """Unpersist everything; return the persistent RDDs and cached MB
        that were left registered."""
        jsc = self.spark.sparkContext._jsc
        rdds = jsc.getPersistentRDDs()
        leaked = len(rdds)
        cached_mb = 0.0
        if leaked:
            cached_mb = sum(i.memSize() + i.diskSize()
                            for i in jsc.sc().getRDDStorageInfo()) / 2**20
            for rdd in list(rdds.values()):
                rdd.unpersist(False)
        self.spark.catalog.clearCache()
        return leaked, cached_mb

    def _fail(self, name: str, phase: str, why: str) -> None:
        self.failures.append({"op": name, "phase": phase, "why": why[-2000:]})

    def run_op(self, name: str, op_run: str | None = None):
        """One op; returns ``(build_s, exec_s, leaked_rdds, cached_mb)`` or
        ``None`` when it raised."""
        from bertrand_spark.plans.queries import QUERIES

        from perfbench.trace import EXEC, PLANS

        tracer = self.tracer if op_run is not None else None
        self.attempted += 1
        try:
            if tracer:
                tracer.op_run = op_run
                tracer.set_label(PLANS)
            t0 = time.perf_counter()
            df = QUERIES[name](self.spark, self.inputs)
            t1 = time.perf_counter()
            if tracer:
                tracer.set_label(EXEC)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception:
            self._fail(name, op_run or "untraced", traceback.format_exc())
            return None
        finally:
            if tracer:
                tracer.set_label(None)
                tracer.op_run = None
        leaked, cached_mb = self._clear_cache()
        return t1 - t0, t2 - t1, leaked, cached_mb

    def run_pass(self, pass_id: str | None = None) -> dict:
        """Every op once.  ``pass_id`` traces the pass under that id."""
        start, t0 = time.time(), time.perf_counter()
        ops = {}
        for name in self.ops:
            r = self.run_op(name, f"{pass_id}:{name}" if pass_id is not None else None)
            if r is not None:
                ops[name] = r
        return {"wall": time.perf_counter() - t0, "window": (start, time.time()), "ops": ops}

    def timed_passes(self, seconds: float, pass_prefix: str | None = None,
                     start: int = 0) -> list[dict]:
        """Passes until ``seconds`` have gone, at least ``MIN_PASSES`` of
        them (counting ``start`` passes already run) and ``MIN_SAMPLES`` op
        samples.  ``pass_prefix`` traces them as ``<prefix><n>``."""
        passes: list[dict] = []
        t0 = time.perf_counter()
        while (start + len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds
               or (start + len(passes)) * len(self.ops) < MIN_SAMPLES):
            n = start + len(passes)
            passes.append(self.run_pass(None if pass_prefix is None else f"{pass_prefix}{n}"))
        return passes

    def validate(self) -> dict[str, float]:
        """Check every op once against its DuckDB oracle over the same
        inputs, comparing with ``tools/check_correctness.py``'s canonical
        form.  Untimed: the Spark side runs ``VALIDATE_THREADS`` ops at a
        time to keep runs short.  Returns the harness's own timings."""
        from concurrent.futures import ThreadPoolExecutor

        import duckdb

        from bertrand_spark.plans.queries import ORACLES, QUERIES
        from tools.check_correctness import TABLES

        def collect(name):
            return QUERIES[name](self.spark, self.inputs).toPandas()

        t0 = time.perf_counter()
        with ThreadPoolExecutor(VALIDATE_THREADS) as pool:
            futures = {name: pool.submit(collect, name) for name in self.ops}
            actual = {}
            for name, fut in futures.items():
                self.attempted += 1
                try:
                    actual[name] = fut.result()
                except Exception:
                    self._fail(name, "validate", traceback.format_exc())
        self._clear_cache()
        t1 = time.perf_counter()
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.inputs, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name, df in actual.items():
            why = compare(df, con.execute(ORACLES[name]).fetchdf())
            if why is not None:
                self._fail(name, "validate", why)
        con.close()
        return {"validate_spark_s": t1 - t0, "oracle_s": time.perf_counter() - t1}


def compare(actual, expected) -> str | None:
    """``None`` when ``actual`` matches ``expected`` under the canonical
    form of ``tools/check_correctness.py``, else why not."""
    from tools.check_correctness import _norm

    if len(actual) != len(expected):
        return f"rows {len(actual)} vs oracle {len(expected)}"
    a, e = _norm(actual), _norm(expected)
    if list(a.columns) != list(e.columns):
        return f"columns {list(a.columns)} vs {list(e.columns)}"
    try:
        pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=False, rtol=1e-6)
    except AssertionError as ex:
        return f"value mismatch: {str(ex)[:500]}"
    return None


def _op_samples(passes: list[dict]) -> list[float]:
    return [b + e for p in passes for b, e, _, _ in p["ops"].values()]


def end_to_end(bench: Bench, setups, cold: dict, passes: list[dict], cpu_s: float,
               peak_rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics (median values) and their summaries."""
    from perfbench.measure import summary, tail

    samples = _op_samples(passes)
    tail_value, tail_pct, tail_n = tail(samples)
    s = {
        "setup_s": summary([b + w for b, w in setups]),
        "cold_pass_s": summary([cold["wall"]]),
        "pass_s": summary([p["wall"] for p in passes]),
        "op_p50_s": summary(samples),
        "op_tail_s": {"value": tail_value, "percentile": tail_pct, "n": tail_n},
        "cpu_s": summary([cpu_s / len(passes)]),
        "peak_rss_mb": summary([peak_rss_mb]),
        "ok_frac": summary([1 - len(bench.failures) / bench.attempted]),
    }
    values = {k: (v["value"] if k == "op_tail_s" else v["median"]) for k, v in s.items()}
    return values, s


def traced_metrics(bench: Bench, passes: list[dict]) -> list[dict]:
    """Per traced pass, every per-layer metric that one pass yields.  Stops
    the session first, which flushes the event log."""
    from perfbench import trace as T

    app_id = bench.spark.sparkContext.applicationId
    bench.spark.stop()
    bench.spark = None
    groups = T.fold_event_log(T.read_event_log(bench.event_dir, app_id))
    spans = T.layer_totals(bench.tracer.spans)
    per_pass = []
    for i, p in enumerate(passes):
        pid = f"t{i}"
        m = T.pass_metrics(groups, pid, p["window"], bench.cores)
        for layer in T.LAYERS:
            acc = spans.get(pid, {}).get(layer, {"calls": 0, "self_s": 0.0})
            m[f"{layer}.calls"], m[f"{layer}.self_s"] = acc["calls"], acc["self_s"]
        ops = p["ops"].values()
        m["plans.build_s"] = sum(b for b, _, _, _ in ops)
        m["spark.exec.wall_s"] = sum(e for _, e, _, _ in ops)
        m["spark.cache.leaked_rdds"] = sum(k for _, _, k, _ in ops)
        m["spark.cache.peak_mb"] = max((c for _, _, _, c in ops), default=0.0)
        m["trace.pass_s"] = p["wall"]
        per_pass.append(m)
    return per_pass


def per_layer(bench: Bench, setups, untraced: dict, passes: list[dict]) -> tuple[dict, dict]:
    """The per-layer metrics: medians over the traced passes."""
    per_pass = traced_metrics(bench, passes)
    values = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    values["session.build_s"] = statistics.median(b for b, _ in setups)
    values["session.warm_s"] = statistics.median(w for _, w in setups)
    values["trace.untraced_pass_s"] = untraced["wall"]
    values["trace.overhead_s"] = values["trace.pass_s"] - untraced["wall"]
    per_op = {name: {"build_s": r[0], "exec_s": r[1], "leaked_rdds": r[2]}
              for name, r in passes[-1]["ops"].items()}
    return values, {"per_op_last_traced_pass": per_op}


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    from perfbench import datagen
    from perfbench.measure import RssSampler, host_steal_s, tree_cpu_s
    from perfbench.workloads import WORKLOADS

    ops = WORKLOADS[workload]["ops"]
    work = os.path.join(ROOT, ".perfbench", f"run-{workload}-{seed}-{os.getpid()}")
    harness: dict[str, float] = {}
    bench = None
    try:
        t0 = time.perf_counter()
        inputs = datagen.make_inputs(seed, os.path.join(work, "inputs"))
        harness["inputs_s"] = time.perf_counter() - t0
        os.makedirs(os.path.join(work, "tmp"))
        bench = Bench(workload, ops, inputs, work, trace)
        setups = bench.setup()
        cold = bench.run_pass()
        probes = {f"before_{k}": v for k, v in bench.probes().items()}
        steal0 = host_steal_s()
        if trace:
            from perfbench.trace import Tracer

            # one untraced pass between two traced ones gives the overhead
            bench.tracer = Tracer(bench.spark)
            bench.tracer.install()
            try:
                passes = [bench.run_pass("t0")]
                bench.tracer.uninstall()
                untraced = bench.run_pass()
                bench.tracer.install()
                passes += bench.timed_passes(seconds - passes[0]["wall"], "t", start=1)
            finally:
                bench.tracer.uninstall()
        else:
            with RssSampler(os.getpid()) as rss:
                cpu0 = tree_cpu_s(os.getpid())
                passes = bench.timed_passes(seconds)
                cpu1 = tree_cpu_s(os.getpid())
        probes["steal_s"] = host_steal_s() - steal0  # during the measured passes
        t0 = time.perf_counter()
        harness.update(bench.validate())
        harness["validate_s"] = time.perf_counter() - t0
        probes.update({f"after_{k}": v for k, v in bench.probes().items()})
        if trace:
            values, extra = per_layer(bench, setups, untraced, passes)
            summaries = {}
            os.makedirs(os.path.join(ROOT, ".perfbench", "out"), exist_ok=True)
            bench.tracer.write(os.path.join(
                ROOT, ".perfbench", "out", f"spans-{workload}-seed{seed}.jsonl"))
        else:
            values, summaries = end_to_end(bench, setups, cold, passes, cpu1 - cpu0,
                                           rss.peak_mb)
            extra = {}
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)

    from perfbench.trace import PER_LAYER_METRICS

    units = PER_LAYER_METRICS if trace else END_TO_END
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    per_op = {
        name: statistics.median(p["ops"][name][0] + p["ops"][name][1]
                                for p in passes if name in p["ops"])
        for name in ops if any(name in p["ops"] for p in passes)
    }
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "cores": bench.cores, "passes": len(passes), "summaries": summaries,
        "setups": setups, "cold_op_s": {n: r[0] + r[1] for n, r in cold["ops"].items()},
        "op_median_s": per_op, "probes": probes, "harness": harness,
        "failures": bench.failures, **extra,
    }
    return result, record


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the Python workers import the engine too, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import bertrand_spark.plans.queries  # noqa: F401  -- fail fast without the engine
    import tools.check_correctness  # noqa: F401

    result, record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(os.path.join(ROOT, ".perfbench", "out"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(ROOT, ".perfbench", "out", name), "w") as f:
        json.dump({"result": result, "record": record}, f, indent=1, default=str)
    for k, m in result["metrics"].items():
        s = record["summaries"].get(k, {})
        spread = (f"  (q1 {s['q1']:.4g}, q3 {s['q3']:.4g}, n={s['n']})" if "q1" in s
                  else f"  (p{s['percentile']}, n={s['n']})" if "percentile" in s else "")
        print(f"{args.workload:<11} {k:<34} {m['value']:>12.6g} {m['unit']}{spread}")
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
