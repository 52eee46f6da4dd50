import json
import math
import os
import re
import statistics

import pytest

from perfbench import measure, run, trace
from perfbench.workloads import WORKLOADS

NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.mark.parametrize("n", [11, 12, 20, 21, 30, 57, 100, 1000])
def test_tail_leaves_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    value, pct, count = measure.tail(values)
    assert count == n
    assert sum(v > value for v in values) >= measure.MIN_BEYOND
    # the next whole percentile would leave fewer than ten beyond
    rank = math.ceil((pct + 1) * n / 100)
    assert n - rank < measure.MIN_BEYOND


def test_tail_needs_more_than_ten_samples():
    assert measure.tail([1.0] * 10) is None
    assert measure.tail([3.0, 1.0] + [2.0] * 9) == (1.0, 9, 11)


def test_summary_quartiles():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    s = measure.summary(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert s == {"median": 3.0, "q1": q1, "q3": q3, "n": 5}


def test_process_tree_cpu_and_rss():
    pids = measure.process_tree(os.getpid())
    assert pids[0] == os.getpid()
    assert measure.tree_cpu_s(os.getpid()) > 0
    assert measure.tree_rss_mb(pids) > 1
    assert measure.host_steal_s() >= 0


def test_metric_names_and_benchmark_json_agree():
    names = list(run.END_TO_END) + list(trace.PER_LAYER_METRICS)
    assert all(NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == trace.PER_LAYER_METRICS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(NAME.fullmatch(w["name"]) for w in spec["workloads"])
