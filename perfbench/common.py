"""Measurement helpers shared by the workloads: spans, engine counters,
host conditions, memory, and percentiles.

Tracing lives entirely in the benchmark: spans wrap the benchmark's own
calls into the program's public functions. With tracing off ``span``
returns one shared no-op context, so the untraced run pays a single
attribute lookup per call site.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder. Spans of one pass or request share a
    ``trace_id``; each thread keeps its own parent stack, so concurrent
    clients nest correctly."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._null = contextlib.nullcontext()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def trace(self, trace_id: str):
        """Root context: spans opened inside belong to ``trace_id``."""
        self._local.trace_id = trace_id
        try:
            yield
        finally:
            self._local.trace_id = None

    def span(self, name: str):
        if not self.enabled:
            return self._null
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        stack = self._stack()
        sp = Span(
            name=name,
            trace_id=getattr(self._local, "trace_id", None) or "setup",
            span_id=next(self._ids),
            parent=stack[-1].span_id if stack else None,
            start=time.perf_counter(),
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    @staticmethod
    def self_times(spans: list[Span]) -> dict[str, float]:
        """Self time per span name, summed over ``spans``: each span's
        duration minus the part its children cover."""
        child_time: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in spans:
            own = (s.end - s.start) - child_time.get(s.span_id, 0.0)
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def span_cost_s(n: int = 20000) -> float:
    """Cost of one enabled span on this host, for the overhead estimate."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


class EngineCounters:
    """Jobs, stages and tasks run between two snapshots, read from
    ``SparkContext.statusTracker()``.

    Jobs and stages are the difference of the highest ids, because the
    tracker's job list is capped by ``spark.ui.retainedJobs``. Tasks are
    summed over the stage ids in range that the tracker still holds."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def snapshot(self) -> tuple[int, int]:
        jobs = self.tracker.getJobIdsForGroup(None)
        if not jobs:
            return (-1, -1)
        top = max(jobs)
        info = self.tracker.getJobInfo(top)
        stages = list(info.stageIds) if info else []
        return (top, max(stages) if stages else -1)

    def delta(self, before: tuple[int, int], after: tuple[int, int]) -> dict[str, int]:
        tasks = 0
        for sid in range(before[1] + 1, after[1] + 1):
            info = self.tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
        return {"jobs": after[0] - before[0], "stages": after[1] - before[1], "tasks": tasks}

    def group(self, group: str) -> dict[str, int]:
        """Counters of the jobs tagged with one job group (one request)."""
        jobs = stages = tasks = 0
        for jid in self.tracker.getJobIdsForGroup(group):
            jobs += 1
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


def java_pids() -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == "java":
                    pids.append(int(p))
        except OSError:
            continue
    return pids


def load_avg() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


def run_conditions() -> dict:
    """Host state at the start of a run: a contended run shows in the
    data instead of being dropped by hand."""
    return {
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "load_avg_start": load_avg(),
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "jvms_alive_at_start": len(java_pids()),
    }


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (``q`` in [0, 100])."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                files += 1
                size += os.path.getsize(p)
    return files, size


def changed_files(path: str, since: float) -> tuple[int, int]:
    """(files, bytes) under ``path`` created or rewritten after ``since``
    (a ``time.time()`` stamp)."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            if st.st_mtime >= since:
                files += 1
                size += st.st_size
    return files, size
