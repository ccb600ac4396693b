"""Spans around the benchmark's calls into each program layer.

A span records (name, start, end, parent, op id) and any counts the
caller takes at that boundary.  Spans stay in memory
and are written as one JSON file when the run ends.  With tracing on,
each span also sets its own Spark job group, so the status REST API can
attribute jobs, stages and executor counters to it; with tracing off a
span only records its clock times.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "bench:"  # job groups of the benchmark's spans


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)  # counts taken at the boundary

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, op, parent.id if parent else None, time.time())
        if self.enabled:
            s.group = f"{GROUP_PREFIX}{s.id}:{name}"
            self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self.enabled:
                if parent is not None and parent.group:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span wall minus the union of its children's intervals."""
        return span.wall - covered(span.start, span.end,
                                   [(c.start, c.end) for c in self.children(span)])

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) | {"self_s": self.self_time(s)} for s in self.spans],
                       **extra}, fh, indent=1)


def covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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
