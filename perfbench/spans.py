"""Spans, self times and percentiles: the benchmark's pure arithmetic.

Spans are kept in memory and written out when the run ends. A span's
self time is its duration minus the part of its interval that its child
spans cover (children may overlap; their union is subtracted once).
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span, in the order given."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(kids.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Collects spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if not trace and parent is not None:
            trace = self.spans[parent].trace
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, trace, attrs))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (e.g. from engine progress)."""
        trace = self.spans[parent].trace if parent is not None else ""
        self.spans.append(Span(name, start, end, parent, trace, attrs))

    def dump(self) -> list[dict]:
        return [
            {**asdict(s), "self": t} for s, t in zip(self.spans, self_times(self.spans))
        ]


def percentile(sorted_values: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    if not sorted_values:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(sorted_values)))
    return sorted_values[rank - 1]


def tail_percentile(values: list[float], cap: float = 100.0) -> tuple[float, float, int]:
    """The highest percentile, at most ``cap``, that has at least ten
    samples beyond it; returns ``(percentile, value, sample count)``.
    With too few samples for any tail, the median is returned."""
    s = sorted(values)
    n = len(s)
    for p in TAIL_PERCENTILES:
        if p <= cap and n * (100.0 - p) / 100.0 >= MIN_BEYOND:
            return p, percentile(s, p), n
    return 50.0, percentile(s, 50.0), n


def backlog_max(renamed: list[float], processed: list[float]) -> int:
    """Most files renamed in but not yet processed at any instant."""
    events = sorted([(t, 1) for t in renamed] + [(t, -1) for t in processed])
    cur = best = 0
    for _, step in events:
        cur += step
        best = max(best, cur)
    return best
