"""Spans, self time and percentiles for the benchmark.

Spans are kept in memory: name, start, end, the span that caused it
(``parent``) and the operation they belong to (``op``, shared by all
spans of one query or pipeline). A disabled tracer records nothing.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = math.nan
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(len(self.spans), name, parent, op, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.duration for s in self.spans if s.name == name)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def percentile(samples: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(samples: list[float], candidates=(50.0, 90.0, 99.0, 99.9)) -> tuple[float, float] | None:
    """The highest candidate percentile with at least ten samples beyond
    it, as ``(pct, value)``; None when even the median lacks ten."""
    n = len(samples)
    best = None
    for pct in sorted(candidates):
        if round(n * (100.0 - pct) / 100.0, 9) >= 10:
            best = (pct, percentile(samples, pct))
    return best


def median(samples: list[float]) -> float:
    return percentile(samples, 50.0)


def geomean(samples: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in samples) / len(samples))
