"""What every workload shares: the run context, the outcome it returns, and
the timed loop's bookkeeping."""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench.trace import Span, Tracer, self_times


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str  # working directory of this run, inside the checkout
    cpus: int


@dataclass
class Outcome:
    warmup_s: float = 0.0
    samples: list[tuple[str, float]] = field(default_factory=list)  # (op, latency s)
    ops: int = 0  # units of throughput: queries, searches or filings
    wall_s: float = 0.0  # timed wall time, output checks excluded
    check_s: float = 0.0  # input generation and output checks, left out of every time
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    first_span: int = 0  # spans before this index belong to setup


class Clock:
    """Wall clock that leaves out the benchmark's own input generation and
    output checks, so set-up time and throughput are the engine's alone."""

    def __init__(self):
        self.start = time.perf_counter()
        self.excluded = 0.0

    def elapsed(self) -> float:
        return time.perf_counter() - self.start - self.excluded

    def excluding(self, fn, *args):
        """``fn(*args)``, its time left out of ``elapsed``."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.excluded += time.perf_counter() - t0

    def check(self, fn, *args) -> bool:
        return bool(self.excluding(fn, *args))


def report_failure(op: str) -> None:
    print(f"perfbench: op {op} failed:\n{traceback.format_exc()}", file=sys.stderr)


def layer_means(spans: list[Span], prefix_of) -> dict[str, dict[str, float]]:
    """Per-layer means over ops: self time, jobs and tasks of the spans
    ``prefix_of(span)`` maps to a layer name (None skips the span)."""
    selfs = self_times(spans)
    acc: dict[str, list[Span]] = {}
    for s in spans:
        layer = prefix_of(s)
        if layer is not None:
            acc.setdefault(layer, []).append(s)
    out = {}
    for layer, ss in acc.items():
        out[layer] = {
            "s": sum(selfs[s.id] for s in ss) / len(ss),
            "jobs": sum(s.jobs for s in ss) / len(ss),
            "tasks": sum(s.tasks for s in ss) / len(ss),
        }
    return out
