"""Per-layer tracing: spans around calls into the engine's layers, and a
fold of Spark's own event log by the job group each span sets.

``Tracer.install`` replaces every public module-level function of each
layer's modules with a ``_Traced`` wrapper, in its own module and under
every other name that ``bertrand_spark`` modules bound it to (the names
``plans.queries`` imports directly included).  A wrapper records a span
(layer, function, start, end, parent span, op-run id) and, when it enters
another layer, sets the Spark job group to ``pb|<op-run>|<layer>`` so that
eager jobs the call starts are charged to that layer.  Spans are kept in
memory; ``uninstall`` restores the original functions.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

LAYERS: dict[str, tuple[str, ...]] = {
    "sources": ("sources.reader", "sources.layout", "sources.warc"),
    "types": ("types.core", "types.detect", "types.resolve"),
    "convert": ("convert.cast", "convert.decorators", "convert.dispatch",
                "convert.downcast", "convert.objects"),
    "functions": ("functions.profile", "functions.regex", "functions.rounding",
                  "functions.strings", "functions.temporal"),
    "operators": ("operators.joins", "operators.maps", "operators.rows"),
    "pipeline.dedup": ("pipeline.dedup",),
    "pipeline.graph": ("pipeline.graph",),
    "pipeline.similarity": ("pipeline.similarity",),
    "pipeline.curation": ("pipeline.curation",),
    "pipeline.text": ("pipeline.text",),
    "pipeline.extract": ("pipeline.docrouter", "pipeline.doctext", "pipeline.docxtext",
                         "pipeline.epubtext", "pipeline.htmltext", "pipeline.pdftext",
                         "pipeline.ppttext", "pipeline.rtftext", "pipeline.xlstext"),
}
PLANS, EXEC = "plans", "spark.exec"  # job-group labels the op loop sets itself
GROUP_PREFIX = "pb"

SPARK_METRICS: dict[str, str] = {
    "spark.exec.jobs": "count", "spark.exec.stages": "count", "spark.exec.tasks": "count",
    "spark.exec.failed_tasks": "count", "spark.exec.task_s": "s", "spark.exec.cpu_s": "s",
    "spark.exec.gc_s": "s", "spark.exec.busy_frac": "ratio", "spark.exec.task_skew": "ratio",
    "spark.exec.driver_gap_s": "s",
    "spark.input.mb": "MB", "spark.input.rows": "count",
    "spark.shuffle.write_mb": "MB", "spark.shuffle.read_mb": "MB",
    "spark.shuffle.records": "count", "spark.spill_mb": "MB",
    "spark.python.start_s": "s", "spark.python.init_s": "s", "spark.python.run_s": "s",
    "spark.python.to_mb": "MB", "spark.python.from_mb": "MB",
}
# every metric a traced run reports, with its unit
PER_LAYER_METRICS: dict[str, str] = {
    **{f"{layer}.{m}": u for layer in LAYERS
       for m, u in (("calls", "count"), ("self_s", "s"), ("jobs", "count"), ("task_s", "s"))},
    "plans.build_s": "s", "spark.exec.wall_s": "s",
    **SPARK_METRICS,
    "spark.cache.leaked_rdds": "count", "spark.cache.peak_mb": "MB",
    "session.build_s": "s", "session.warm_s": "s",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s",
}
# count metrics that must repeat exactly between traced runs of one seed
COUNT_METRICS = tuple(k for k, u in PER_LAYER_METRICS.items() if u == "count")

_PY_METRICS = {  # Python-worker SQL metric -> (metric, scale to s / MB)
    "time to start Python workers": ("spark.python.start_s", 1e-3),
    "time to initialize Python workers": ("spark.python.init_s", 1e-3),
    "time to run Python workers": ("spark.python.run_s", 1e-3),
    "data sent to Python workers": ("spark.python.to_mb", 2**-20),
    "data returned from Python workers": ("spark.python.from_mb", 2**-20),
}


class _Traced:
    """Callable stand-in for one layer function.  Pickles as a lookup of
    the module attribute, so UDF closures that capture it unpickle to the
    original, untraced function in the Python workers."""

    def __init__(self, fn, module, attr: str, layer: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self._fn, self._module, self._attr = fn, module, attr
        self._layer, self._tracer = layer, tracer

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._layer, self._attr, self._fn, args, kwargs)

    def __reduce__(self):
        return getattr, (self._module, self._attr)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple] = []  # (op_run, layer, name, id, parent, start, end)
        self.op_run: str | None = None
        self._label: str | None = None
        self._stack: list[int] = []
        self._thread = threading.get_ident()
        self._patched: list[tuple] = []

    # -- job groups -------------------------------------------------------
    def set_label(self, label: str | None) -> None:
        """Charge the jobs started from now on to ``label`` of the current op run."""
        if label is None:
            self.sc._jsc.clearJobGroup()
        else:
            gid = f"{GROUP_PREFIX}|{self.op_run}|{label}"
            self.sc.setJobGroup(gid, gid)
        self._label = label

    # -- wrapping ---------------------------------------------------------
    def install(self) -> None:
        import importlib

        originals: dict[int, _Traced] = {}
        for layer, mods in LAYERS.items():
            for short in mods:
                mod = importlib.import_module(f"bertrand_spark.{short}")
                for attr, fn in list(vars(mod).items()):
                    if (attr.startswith("_") or not callable(fn) or isinstance(fn, type)
                            or getattr(fn, "__module__", None) != mod.__name__
                            or not hasattr(fn, "__code__")):
                        continue
                    originals[id(fn)] = _Traced(fn, mod, attr, layer, self)
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith("bertrand_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                wrapper = originals.get(id(val))
                if wrapper is not None and wrapper._fn is val:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def call(self, layer, name, fn, args, kwargs):
        if self.op_run is None or threading.get_ident() != self._thread:
            return fn(*args, **kwargs)
        prev = self._label
        if layer != prev:
            self.set_label(layer)
        sid = len(self.spans) + len(self._stack)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((self.op_run, layer, name, sid, parent, t0, t1))
            if layer != prev:
                self.set_label(prev)

    def write(self, path: str) -> None:
        keys = ("op_run", "layer", "name", "id", "parent", "start", "end")
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(dict(zip(keys, span))) + "\n")


def layer_totals(spans: list[tuple]) -> dict[str, dict[str, dict[str, float]]]:
    """Per pass (the op-run prefix before ``:``), per layer: call count and
    self time, where self time is a span's duration minus its children's."""
    child_s: dict[int, float] = defaultdict(float)
    for _, _, _, _, parent, t0, t1 in spans:
        if parent is not None:
            child_s[parent] += t1 - t0
    out: dict = defaultdict(lambda: defaultdict(lambda: {"calls": 0, "self_s": 0.0}))
    for op_run, layer, _, sid, _, t0, t1 in spans:
        acc = out[op_run.split(":", 1)[0]][layer]
        acc["calls"] += 1
        acc["self_s"] += (t1 - t0) - child_s[sid]
    return out


# -- event log ------------------------------------------------------------

def read_event_log(log_dir: str, app_id: str):
    """Events of one application from an uncompressed (rolling or single
    file) Spark event log."""
    paths = sorted(glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not paths:
        paths = [os.path.join(log_dir, app_id)]
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _new_acc() -> dict:
    acc = {k: 0.0 for k in SPARK_METRICS}
    acc["stage_tasks"] = defaultdict(list)  # stage -> task durations (s)
    acc["intervals"] = []  # job (submit, complete) in epoch seconds
    return acc


def fold_event_log(events) -> dict[str, dict]:
    """Fold events by job group: for each group id, its jobs, stages,
    tasks and their summed task metrics (see ``SPARK_METRICS``)."""
    job_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    job_submit: dict[int, float] = {}
    groups: dict[str, dict] = defaultdict(_new_acc)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = gid
            job_submit[e["Job ID"]] = e["Submission Time"] / 1000
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, gid)
            if gid is not None:
                groups[gid]["spark.exec.jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            gid = job_group.get(e["Job ID"])
            if gid is not None:
                groups[gid]["intervals"].append(
                    (job_submit[e["Job ID"]], e["Completion Time"] / 1000))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            gid = stage_group.get(info["Stage ID"])
            if gid is None:
                continue
            groups[gid]["spark.exec.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(e["Stage ID"])
            if gid is None:
                continue
            acc = groups[gid]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            acc["spark.exec.tasks"] += 1
            acc["spark.exec.failed_tasks"] += bool(info.get("Failed"))
            acc["spark.exec.task_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["spark.exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["spark.exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            inp = m.get("Input Metrics", {})
            acc["spark.input.mb"] += inp.get("Bytes Read", 0) / 2**20
            acc["spark.input.rows"] += inp.get("Records Read", 0)
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            acc["spark.shuffle.read_mb"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)) / 2**20
            acc["spark.shuffle.write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            acc["spark.shuffle.records"] += sw.get("Shuffle Records Written", 0)
            acc["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            for a in info.get("Accumulables", []):  # per-task SQL metric updates
                metric = _PY_METRICS.get(a.get("Name"))
                if metric is not None:
                    acc[metric[0]] += float(a.get("Update") or 0) * metric[1]
            acc["stage_tasks"][e["Stage ID"]].append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3)
    return dict(groups)


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def pass_metrics(groups: dict[str, dict], pass_id: str, window: tuple[float, float],
                 cores: int) -> dict[str, float]:
    """Spark metrics of one traced pass: every group of the pass summed,
    plus per-layer jobs and task time."""
    out = {k: 0.0 for k in SPARK_METRICS}
    out.update({f"{layer}.{m}": 0.0 for layer in LAYERS for m in ("jobs", "task_s")})
    intervals, skews = [], []
    for gid, acc in groups.items():
        parts = gid.split("|", 2)  # groups the engine sets itself do not match
        if len(parts) != 3 or parts[0] != GROUP_PREFIX or parts[1].split(":")[0] != pass_id:
            continue
        label = parts[2]
        for k in SPARK_METRICS:
            out[k] += acc[k]
        if label in LAYERS:
            out[f"{label}.jobs"] += acc["spark.exec.jobs"]
            out[f"{label}.task_s"] += acc["spark.exec.task_s"]
        intervals += acc["intervals"]
        for durs in acc["stage_tasks"].values():
            if len(durs) >= 2 and sum(durs) > 0:
                skews.append(max(durs) / (sum(durs) / len(durs)))
    wall = window[1] - window[0]
    out["spark.exec.busy_frac"] = out["spark.exec.task_s"] / (cores * wall)
    out["spark.exec.task_skew"] = statistics.median(skews) if skews else 1.0
    out["spark.exec.driver_gap_s"] = wall - _union_s(intervals, *window)
    return out
