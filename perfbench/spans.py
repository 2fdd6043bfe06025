"""Spans and summary statistics for the benchmark.

A span records a name, a start, an end, the span that caused it and
the iteration it belongs to; spans stay in memory until the run ends.
Spans opened on a thread with no open span of its own (the fan-out
workers of ``run_local``) hang under the tracer's current root span.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent_id: int | None
    iteration: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration = 0
        self.root: Span | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        s = Span(
            next(self._ids),
            name,
            parent.span_id if parent else None,
            self.iteration,
            time.perf_counter(),
            attrs=dict(attrs),
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def iteration_root(self, name: str, iteration: int) -> Iterator[Span | None]:
        """Open the root span of one iteration; spans from other
        threads attach to it while it is open."""
        self.iteration = iteration
        with self.span(name) as root:
            self.root = root
            try:
                yield root
            finally:
                self.root = None

    def wrap(self, name: str, fn: Callable) -> Callable:
        """``fn`` with every call inside a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover
    (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above
    it: returns (value, percentile, sample count). With fewer than
    ``2 * beyond + 1`` samples it keeps ``(n - 1) // 2`` beyond, so a
    small set reports a value at or above its median."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    k = min(beyond, (n - 1) // 2)
    ordered = sorted(samples)
    return ordered[n - 1 - k], 100.0 * (n - k) / n, n


def median(samples: list[float]) -> float:
    return statistics.median(samples)
