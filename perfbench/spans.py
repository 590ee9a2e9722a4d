"""In-memory spans and the interval arithmetic behind self time.

A span is a named wall-clock interval with a parent. Times are epoch
seconds (``time.time()`` base, advanced with ``perf_counter``), so they can
be joined with Spark's event log, which stamps jobs in epoch milliseconds.
Spans stay in memory; ``Spans.dump`` writes them once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Spans:
    """Span recorder. ``span()`` nests: a span opened inside another one
    becomes its child. Not thread-safe; the benchmark is one client thread."""

    def __init__(self) -> None:
        self._wall0 = time.time()
        self._perf0 = time.perf_counter()
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def now(self) -> float:
        return self._wall0 + (time.perf_counter() - self._perf0)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.now(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.now()
            self._stack.pop()

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **(extra or {})}, f, indent=1)


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to [lo, hi]."""
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


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)
