"""Spans around each call into a layer, and the Spark counters under them.

A span records its name, start, end, parent and the operation it belongs
to. Spans live in memory and are written out when the run ends. While a
span is open, jobs started from its thread run under the span's own Spark
job group, so the status store can say which jobs, stages and tasks each
span caused; micro-batch jobs run on the stream's own thread, so a span
opened with ``by_time=True`` claims every job submitted while it was open.

Self time is a span's duration minus the part of it that its child spans
cover (:func:`self_times`).
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SPARK_COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.output_bytes",
    "spark.driver_only_s",
)


@dataclass
class Span:
    sid: int
    name: str
    op: str | None
    parent: int | None
    start: float
    end: float | None = None
    by_time: bool = False
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """sid -> the span's duration minus the union of its children's
    intervals (children running in parallel are not double-counted)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.sid: s.duration
        - _covered(
            [(c.start, c.end or c.start) for c in kids.get(s.sid, [])],
            s.start,
            s.end or s.start,
        )
        for s in spans
    }


class Tracer:
    """Records spans; a disabled tracer records nothing and sets no job
    group, so the untraced run pays only a context-manager call."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{span.sid}", span.name, False)

    @contextmanager
    def suspended(self):
        """No spans from this thread inside the block: the traced run
        interleaves untraced operations to measure the tracing overhead."""
        prev = getattr(self._local, "off", False)
        self._local.off = True
        try:
            yield
        finally:
            self._local.off = prev

    @contextmanager
    def span(self, name: str, op: str | None = None, by_time: bool = False):
        if not self.enabled or getattr(self._local, "off", False):
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            sid=next(self._ids),
            name=name,
            op=op if op is not None else (parent.op if parent else None),
            parent=parent.sid if parent else None,
            start=time.time(),
            by_time=by_time,
        )
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # -- Spark status store ------------------------------------------------

    def collect_spark_counters(self) -> None:
        """Fill ``span.counters`` for every span from the status store:
        jobs of the span's own group and its descendants' groups (or, for a
        ``by_time`` span, every job submitted while it was open)."""
        if not self.enabled or self.sc is None or not self.spans:
            return
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        jobs = _job_table(store)
        py_bytes = _python_bytes_by_job(self.spark)
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)

        def subtree(s: Span) -> list[Span]:
            out, stack = [], [s]
            while stack:
                x = stack.pop()
                out.append(x)
                stack.extend(kids.get(x.sid, []))
            return out

        stage_cache: dict[int, dict] = {}
        for s in self.spans:
            end = s.end or s.start
            if s.by_time:
                ids = {j for j, (t0, _, _) in jobs.items() if s.start <= t0 <= end}
            else:
                ids = set()
                for x in subtree(s):
                    ids.update(tracker.getJobIdsForGroup(f"pb-{x.sid}"))
                ids &= set(jobs)
            c = dict.fromkeys(SPARK_COUNTERS, 0.0)
            stages: set[int] = set()
            for j in ids:
                stages.update(jobs[j][2])
            for st in stages:
                if st not in stage_cache:
                    stage_cache[st] = _stage_counters(store, st)
                for k, v in stage_cache[st].items():
                    c[k] += v
            c["spark.jobs"] = float(len(ids))
            c["spark.stages"] = float(len(stages))
            c["spark.driver_only_s"] = s.duration - _covered(
                [(jobs[j][0], jobs[j][1]) for j in ids], s.start, end
            )
            c["python.bytes_to_worker"] = float(
                sum(py_bytes.get(j, (0.0, 0.0))[0] for j in ids)
            )
            c["python.bytes_from_worker"] = float(
                sum(py_bytes.get(j, (0.0, 0.0))[1] for j in ids)
            )
            s.counters = c

    def write(self, path: str, extra: dict | None = None) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["duration_s"] = s.duration
                row["self_s"] = selfs[s.sid]
                f.write(json.dumps(row) + "\n")
            if extra is not None:
                f.write(json.dumps({"summary": extra}) + "\n")


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _job_table(store) -> dict[int, tuple[float, float, list[int]]]:
    """job id -> (submitted, completed, stage ids), epoch seconds."""
    out = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        jd = it.next()
        t0 = _opt_ms(jd.submissionTime())
        if t0 is None:
            continue
        t1 = _opt_ms(jd.completionTime()) or t0
        sit = jd.stageIds().iterator()
        stages = []
        while sit.hasNext():
            stages.append(int(sit.next()))
        out[int(jd.jobId())] = (t0, t1, stages)
    return out


def _stage_counters(store, stage_id: int) -> dict:
    try:
        sd = store.lastStageAttempt(stage_id)
    except Exception:  # noqa: BLE001 - a skipped stage has no attempt
        return {}
    return {
        "spark.tasks": float(sd.numCompleteTasks()),
        "spark.executor_run_s": sd.executorRunTime() / 1000.0,
        "spark.executor_cpu_s": sd.executorCpuTime() / 1e9,
        "spark.shuffle_read_bytes": float(sd.shuffleReadBytes()),
        "spark.shuffle_write_bytes": float(sd.shuffleWriteBytes()),
        "spark.spill_bytes": float(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
        "spark.output_bytes": float(sd.outputBytes()),
    }


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TOTAL_RE = re.compile(r"^\s*([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b", re.MULTILINE)


def parse_size_metric(text: str) -> float:
    """Total bytes from a formatted SQL size metric: either ``"1.5 KiB"`` or
    the per-task form ``"total (min, med, max ...)\\n1.5 KiB (...)"``."""
    m = _TOTAL_RE.search(text)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def _python_bytes_by_job(spark) -> dict[int, tuple[float, float]]:
    """job id -> (bytes sent to, bytes returned from Python workers), from
    the SQL status store's Python-eval node metrics. Spark attaches them to
    the SQL execution, so an execution's bytes go to its first job."""
    sq = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, tuple[float, float]] = {}
    execs = sq.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        vals = sq.executionMetrics(e.executionId())
        sent = recv = 0.0
        mit = e.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            name = m.name()
            if name not in ("data sent to Python workers", "data returned from Python workers"):
                continue
            v = vals.get(m.accumulatorId())
            if v.isEmpty():
                continue
            b = parse_size_metric(str(v.get()))
            if name.startswith("data sent"):
                sent += b
            else:
                recv += b
        if not sent and not recv:
            continue
        job_ids = sorted(int(j) for j in _scala_map_keys(e.jobs()))
        if job_ids:
            a, b = out.get(job_ids[0], (0.0, 0.0))
            out[job_ids[0]] = (a + sent, b + recv)
    return out


def _scala_map_keys(m) -> list:
    keys, it = [], m.keysIterator()
    while it.hasNext():
        keys.append(it.next())
    return keys
