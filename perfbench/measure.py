"""Summary statistics and process-tree CPU/RSS readings from ``/proc``."""

from __future__ import annotations

import math
import os
import statistics
import threading

MIN_BEYOND = 10  # samples a reported tail percentile must leave above it

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def summary(values: list[float]) -> dict:
    """Median, first and third quartile, and sample count."""
    vals = sorted(values)
    if len(vals) == 1:
        q1 = q3 = vals[0]
    else:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    return {"median": statistics.median(vals), "q1": q1, "q3": q3, "n": len(vals)}


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, int, int] | None:
    """The highest whole percentile that leaves at least ``min_beyond``
    samples above it, as ``(value, percentile, samples)``.

    The value is the nearest-rank order statistic of that percentile.
    Returns ``None`` when there are too few samples for any percentile.
    """
    n = len(values)
    if n <= min_beyond:
        return None
    pct = 100 * (n - min_beyond) // n
    rank = max(1, math.ceil(pct * n / 100))
    return sorted(values)[rank - 1], pct, n


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    return data[data.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the tree.  Children that ended and
    were reaped inside the tree are counted through their parent's
    ``cutime``/``cstime``; live ones through their own counters."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over CPUs
    since boot: a slow host phase shows here, not in the program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[21])
    return total * _PAGE / 2**20


class RssSampler:
    """Samples the summed RSS of a process tree on a thread until stopped;
    ``peak_mb`` is the highest sum seen."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        ticks = 0
        while True:
            if ticks % 5 == 0:  # the tree changes slowly; relist twice a second
                pids = process_tree(self.root)
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pids))
            ticks += 1
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
