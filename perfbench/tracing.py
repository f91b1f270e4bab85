"""Spans around the benchmark's calls into each layer, and the numbers
derived from them.

A span records name, start, end, its parent span and the id of the pass
it belongs to. Spans stay in memory and are written out when the run
ends. When a span opens, the Spark job description is set to
"<pass id>/<span name>", so the event log attributes every Spark job to
the call that caused it. A disabled tracer records nothing and sets no
description, which is the untraced configuration.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span in Tracer.spans
    pass_id: str
    cpu_s: float = 0.0  # process-tree CPU consumed inside the span
    read_mb: float = 0.0  # bytes the JVM read inside the span

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, spark_context=None, counters=None):
        """`counters()` returns (CPU seconds, MB read), sampled at each
        span's start and end."""
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark_context
        self._counters = counters

    def _describe(self, idx: int | None) -> None:
        if self._sc is not None:
            s = self.spans[idx] if idx is not None else None
            self._sc.setJobDescription(f"{s.pass_id}/{s.name}" if s else None)

    @contextmanager
    def span(self, name: str, pass_id: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        c0 = self._counters() if self._counters else (0.0, 0.0)
        t0 = time.perf_counter()
        self.spans.append(Span(name, t0, t0, parent, pass_id))
        self._stack.append(idx)
        self._describe(idx)
        try:
            yield
        finally:
            self._stack.pop()
            s = self.spans[idx]
            s.end = time.perf_counter()
            if self._counters:
                c1 = self._counters()
                s.cpu_s, s.read_mb = c1[0] - c0[0], c1[1] - c0[1]
            self._describe(parent)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out.append(s.wall_s - covered)
    return out


def ledger_gap_frac(spans: list[Span], root: int) -> float:
    """1 - (sum of the root's direct child spans) / (root wall): the share
    of a pass's wall that no layer span accounts for."""
    top = sum(s.wall_s for s in spans if s.parent == root)
    return 1.0 - top / spans[root].wall_s
