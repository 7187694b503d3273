"""Shared pieces of the benchmark: spans, percentiles, memory and host probes.

Nothing here imports pyspark at module level or the package under test.
"""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field

import numpy as np

# Percentiles the tail may land on. The tail is the highest of these with
# at least TAIL_MIN_BEYOND samples above it, so runs whose sample counts
# differ a little still report the same percentile.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def tail(
    values: list[float], min_n: int | None = None
) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest ladder percentile with at least
    TAIL_MIN_BEYOND samples beyond it; (None, None) if there are too few.
    `min_n`, the sample count every run is guaranteed, picks the
    percentile instead of len(values), so it is the same in every run."""
    n = len(values) if min_n is None else min(min_n, len(values))
    best = None
    for p in TAIL_LADDER:
        if n * (1.0 - p / 100.0) >= TAIL_MIN_BEYOND:
            best = p
    if best is None:
        return None, None
    return best, float(np.percentile(values, best))


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str | None


@dataclass
class Tracer:
    """In-memory spans, recorded only when enabled. `span` is a context
    manager; nesting sets the parent. Spans that belong to one consume
    cycle or one query carry the same trace id."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, trace_id: str | None = None,
             start: float | None = None):
        """Context manager for one span; `start` backdates it to an
        earlier perf_counter reading."""
        return _SpanCtx(self, name, trace_id, start)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a finished span under the currently open one."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            tid = self.spans[parent].trace_id if parent is not None else None
            self.spans.append(Span(name, start, end, parent, tid))

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def as_records(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "trace_id": s.trace_id}
            for s in self.spans
        ]


def self_times(spans: list[dict], keep=lambda span: True) -> dict[str, float]:
    """Per span name, over the spans `keep` accepts: summed duration minus
    the part of each span's interval that its direct children cover.
    `spans` are Tracer.as_records() dicts; a parent is a list index."""
    cover = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            cover[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for s, c in zip(spans, cover):
        if keep(s):
            out[s["name"]] = out.get(s["name"], 0.0) + max(
                s["end"] - s["start"] - c, 0.0)
    return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, trace_id: str | None,
                 start: float | None):
        self.tracer = tracer
        self.name = name
        self.trace_id = trace_id
        self.start = start
        self.index: int | None = None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            if self.trace_id is None and parent is not None:
                self.trace_id = t.spans[parent].trace_id
            self.index = len(t.spans)
            start = time.perf_counter() if self.start is None else self.start
            t.spans.append(Span(self.name, start, 0.0, parent, self.trace_id))
            t._stack.append(self.index)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if self.index is not None:
            t.spans[self.index].end = time.perf_counter()
            t._stack.pop()
        return False


def wrap_method(tracer: Tracer, obj, method: str, span_name: str) -> None:
    """Time every call to `obj.method` from outside by shadowing it with a
    span-recording wrapper on the instance."""
    inner = getattr(obj, method)

    def timed(*args, **kwargs):
        with tracer.span(span_name):
            return inner(*args, **kwargs)

    setattr(obj, method, timed)


class SparkJobs:
    """Job, stage and task counts from Spark's status tracker."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()

    def ids(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup())

    def totals(self, after: set[int]) -> dict[str, int]:
        jobs = sorted(self.ids() - after)
        tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {"spark.jobs": len(jobs), "spark.tasks": tasks,
                "spark.failed_tasks": failed}


# ------------------------------------------------------------- processes


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def _proc_name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    """Peak RSS of this Python process plus its JVM descendant(s)."""
    me = os.getpid()
    jvms = [p for p in descendants(me) if _proc_name(p) == "java"]
    return vm_hwm_mb(me) + sum(vm_hwm_mb(p) for p in jvms)


# ------------------------------------------------------------------ host


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_probe_s() -> float:
    """Fixed pure-Python loop, the same probe bench.py records."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i
    return time.perf_counter() - t0


def git_commit(root: str) -> str | None:
    """Commit of the checkout, when it is a git repository."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip()


def host_info(root: str, seed: int) -> dict:
    import pyspark

    return {
        "seed": seed,
        "git_commit": git_commit(root),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpu_probe_s": cpu_probe_s(),
        "loadavg_before": list(os.getloadavg()),
        "cpu_ticks_before": cpu_ticks(),
        "pyspark": pyspark.__version__,
        "cwd": os.getcwd(),
    }
