"""Summaries of timing samples, host counters and process-tree memory."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

TAIL_MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile (nearest rank) that has at least ten
    samples beyond it.

    Returns ``(value, percentile, samples_beyond)``. With fewer than twenty
    samples no percentile at or above the median has ten beyond it; the tail
    is then the median (percentile 50) and ``samples_beyond`` says how thin
    it is. Percentile 50 is always reported as :func:`median`, so the tail
    never reads below the median."""
    s = sorted(xs)
    n = len(s)
    for q in range(99, 50, -1):
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return float(s[rank - 1]), q, n - rank
    return median(s), 50, n - max(1, math.ceil(n / 2))


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        for c in _children(stack.pop()):
            out.append(c)
            stack.append(c)
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants, in MiB."""
    return sum(_rss_kib(p) for p in [root, *descendants(root)]) / 1024.0


class RssSampler:
    """Samples the process tree's resident memory on a background thread
    (``psutil`` is not available); ``peak_mb`` is the largest sum seen. The
    driver Python, the JVM it launches and the JVM's Python workers are all
    descendants of this process."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostCounters:
    """Steal share of CPU time and 1-minute load over an interval."""

    def __init__(self):
        self._t0 = _cpu_times()

    def steal_pct(self) -> float:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self._t0, t1)]
        total = sum(d)
        steal = d[7] if len(d) > 7 else 0
        return 100.0 * steal / total if total > 0 else 0.0

    @staticmethod
    def load1() -> float:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])


def now() -> float:
    return time.perf_counter()
