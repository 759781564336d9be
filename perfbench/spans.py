"""Clocks and spans for the benchmark.

``Clock`` reads wall time plus the CPU time of the two processes that live
for a whole run: this Python driver (``time.process_time``) and the Spark
JVM (its own ``utime + stime`` from ``/proc/<pid>/stat``). Both are
monotonic counters of one long-lived process each, so a difference of two
readings can never go negative; Python workers the JVM forks are not
counted.

``Tracer`` records spans (name, start, end, parent, job id, CPU) in memory
around the engine calls the benchmark makes; ``self_times`` turns them into
the per-layer table: a span's self time is its duration minus the part of
it its child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, List, Optional

_TICKS = os.sysconf("SC_CLK_TCK")


def process_cpu_s(pid: int) -> float:
    """utime + stime of one process (not its children), in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICKS


class Clock:
    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def now(self):
        """(wall seconds, driver + JVM CPU seconds)."""
        return (time.perf_counter(),
                time.process_time() + process_cpu_s(self.jvm_pid))


@dataclass
class Span:
    name: str
    job: int
    parent: Optional[int]
    start: float
    end: float
    cpu: float


class Tracer:
    def __init__(self, clock: Clock):
        self.clock = clock
        self.spans: List[Span] = []
        self._open: List[int] = []
        self.job = 0

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        w0, c0 = self.clock.now()
        idx = len(self.spans)
        self.spans.append(Span(name, self.job, parent, w0, w0, 0.0))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            w1, c1 = self.clock.now()
            self.spans[idx].end = w1
            self.spans[idx].cpu = c1 - c0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: List[Span]) -> Dict[int, Dict[str, float]]:
    """{job: {span name: self wall seconds}} (children are nested inside
    their parent, so the covered part is the sum of their durations)."""
    child_wall: Dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_wall[s.parent] = child_wall.get(s.parent, 0.0) + (s.end - s.start)
    out: Dict[int, Dict[str, float]] = {}
    for i, s in enumerate(spans):
        job = out.setdefault(s.job, {})
        job[s.name] = job.get(s.name, 0.0) + (s.end - s.start) - child_wall.get(i, 0.0)
    return out


def span_cpu(spans: List[Span]) -> Dict[int, Dict[str, float]]:
    """{job: {span name: CPU seconds}} (inclusive of children)."""
    out: Dict[int, Dict[str, float]] = {}
    for s in spans:
        job = out.setdefault(s.job, {})
        job[s.name] = job.get(s.name, 0.0) + s.cpu
    return out
