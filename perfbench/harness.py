"""Measurement plumbing shared by every workload: spans, Spark job counters,
process-tree memory, closed-loop timing and summary statistics.

Nothing here imports pyspark at module level, so the self-tests can use
it without a JVM.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager, nullcontext


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A span is (name, start, end, parent span index, run id); spans of one
    operation share the run id.  Disabled tracers record nothing and hand
    out a shared no-op context, so the untraced run pays one attribute load
    per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id = 0
        self._stack: list[int] = []
        self._noop = nullcontext()

    def span(self, name: str):
        return self._span(name) if self.enabled else self._noop

    @contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def next_run(self):
        """Spans opened from now on belong to the next operation."""
        self.run_id += 1

    def durations(self, name: str, since: int = 0) -> list[float]:
        """Durations of the closed spans called `name`, from span `since` on."""
        return [s["end"] - s["start"] for s in self.spans[since:]
                if s["name"] == name and s["end"] is not None]


def median(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (numpy's default definition)."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def timed(fn, *args, **kwargs):
    """(result, seconds) of one call, timed with perf_counter."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def median_time(fn, reps: int) -> float:
    return median([timed(fn)[1] for _ in range(reps)])


class OpLog:
    """Closed-loop operation record: one client, the next operation starts
    only after the previous one returned.  A wrong answer or an exception
    counts as failed, never aborts the loop."""

    def __init__(self):
        self.lat: list[float] = []
        self.rows = 0
        self.attempted = 0
        self.failed = 0
        self.wall = 0.0
        self.errors: list[str] = []

    def record(self, seconds: float, rows: int, ok: bool, why: str = "",
               warmup: bool = False):
        """One operation; a warm-up is checked and counted but its time is
        left out of the latency and throughput figures."""
        self.attempted += 1
        if not warmup:
            self.lat.append(seconds)
            self.rows += rows
        if not ok:
            self.failed += 1
            self.errors.append(why)

    def record_check(self, why):
        """A check that is not an operation (the run's deep output check)
        still counts as one attempt; None means there was nothing to check."""
        if why is None:
            return
        self.attempted += 1
        if why:
            self.failed += 1
            self.errors.append(why)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # ppid is the 2nd field after the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of `root` and all its descendants (Python driver, the
    JVM it launched, and the JVM's Python workers)."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the process tree's resident set; peak in MB."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2 ** 20


class SparkCounters:
    """Jobs, stages, tasks and failed tasks of the work run under one job
    group, read from Spark's public status tracker."""

    def __init__(self, sc):
        self.sc = sc
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    @contextmanager
    def group(self):
        gid = f"perfbench-{uuid.uuid4().hex}"
        self.sc.setJobGroup(gid, "perfbench")
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._collect(gid)

    def _collect(self, gid: str):
        st = self.sc.statusTracker()
        for job in st.getJobIdsForGroup(gid):
            info = st.getJobInfo(job)
            if info is None:
                continue
            self.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                self.stages += 1
                self.tasks += stage.numTasks
                self.failed_tasks += stage.numFailedTasks
