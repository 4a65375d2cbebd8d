"""In-memory spans, and the rule that picks the reported tail percentile.

A span is recorded around each call the benchmark makes into a layer of
the engine (and around the calls the benchmark wraps inside the engine
in a traced run). Spans of one operation share its `op` id. A layer's
self time is its span's duration minus its children's durations: spans
nest on one thread's stack, so children never overlap. Nothing is
written until the run ends.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Percentiles the tail helper may pick from, highest last.
TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile with at least MIN_BEYOND samples
    above it, or None when even the median has fewer."""
    best = None
    for p in TAIL_CANDIDATES:
        if round(n * (100.0 - p), 6) >= 100 * MIN_BEYOND:  # rounded: 100 * 0.1 is not 10.0
            best = p
    return best


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: int
    start: float
    end: float = 0.0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the sum of its children's durations."""
    out = {s.id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.end - s.start
    return out


@dataclass
class Tracer:
    """Span recorder. Disabled, `span` costs one branch and records
    nothing, so the untraced run pays no bookkeeping."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    op: int = -1
    overhead_s: float = 0.0  # time spent in the tracer's own bookkeeping
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name, self.op, t_in)
        self.spans.append(s)
        self._stack.append(s.id)
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield
        finally:
            s.end = t_out = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t_out

    def layer_summary(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total and mean self time (s)."""
        selfs = self_times(self.spans)
        agg: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            agg[s.name].append(selfs[s.id])
        return {
            name: {"calls": len(v), "self_s": sum(v), "self_s_mean": sum(v) / len(v)}
            for name, v in sorted(agg.items())
        }
