"""Spans, Spark job counts and summary statistics for the benchmark.

Spans are recorded in the benchmark's own code around each call into a
layer of the engine: name, start, end, parent span and op id. They are kept
in memory and written out when the run ends. Job and task counts come from
Spark's status store (the one behind ``SparkContext.statusTracker()``)
under a per-call job group.
"""

from __future__ import annotations

import itertools
import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


# job group ids: unique per process, so two tracers on one SparkContext
# never read each other's jobs
_GROUPS = itertools.count()


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = math.nan
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every method is a
    no-op, so the untraced run pays neither span bookkeeping nor job-count
    reads."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._unread: list[tuple[Span, str]] = []  # spans whose job counts are due

    @contextmanager
    def span(self, name: str, op: str = "", count_jobs: bool = False):
        """Time the block as a child of the enclosing span. With
        ``count_jobs`` the block runs under its own job group, and
        ``read_counts`` later records on the span the jobs, tasks and
        failed tasks it launched; such spans must not nest."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, op, parent.id if parent else None, 0.0)
        group = f"perfbench-{next(_GROUPS)}" if count_jobs else None
        if group:
            self.sc.setJobGroup(group, f"{s.op} {name}")
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group:
                # untag first, so no later job lands in this span's group
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._unread.append((s, group))
            self.spans.append(s)

    def add(self, name: str, op: str, start: float, end: float, group: str | None = None):
        """Record a span measured elsewhere (a streaming query's run, whose
        jobs carry the query's run id as their group)."""
        if self.enabled:
            parent = self._stack[-1].id if self._stack else None
            s = Span(next(self._ids), name, op, parent, start, end)
            self.spans.append(s)
            if group:
                self._unread.append((s, group))

    def read_counts(self) -> None:
        """Record the job counts of the spans closed since the last call.
        Call it after each op, outside the op's timing: the status store
        keeps only the last 1000 jobs."""
        for s, group in self._unread:
            s.jobs, s.tasks, s.failed_tasks = job_counts(self.sc, group)
        self._unread.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, ())
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks run, failed tasks) of one job group. Read soon after
    the call: the status store keeps only the last 1000 jobs.

    Tasks are summed per job, not per stage: a job's task counts hold only
    the tasks that ran for it, while a stage an earlier job computed (an
    AQE map-stage job, a pinned input) is listed again in the later job as
    a skipped stage, whose stage record then no longer holds the tasks
    that ran."""
    jsc = sc._jsc.sc()
    # the status store is fed by the listener bus; drain it so the counts
    # include every event the call posted
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = tasks = failed = 0
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        data = store.job(job_id)
        jobs += 1
        tasks += data.numCompletedTasks()
        failed += data.numFailedTasks()
    return jobs, tasks, failed


def cpu_times() -> tuple[int, int] | None:
    """(steal, total) jiffies of all CPUs from /proc/stat, or None where
    the host does not expose them."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_pct(before, after) -> float:
    if before is None or after is None or after[1] <= before[1]:
        return 0.0
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def percentile(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """The q-quantile (0 < q < 1, nearest rank) of ``values``, or None
    unless at least ``min_beyond`` samples lie beyond it."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
