"""In-memory spans around the benchmark's calls into each engine layer.

A span is (id, name, start, end, parent, run_id) with times from
``time.perf_counter``.  Spans stay in memory until the run ends, then
``write`` dumps them as JSON lines.  A span's self time is its duration
minus the part of its interval that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = s.duration - covered(children.get(s.id, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


class Tracer:
    """Records spans when enabled; a disabled tracer only yields."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _add(self, name: str, start: float, end: float, parent: int | None) -> Span:
        span = Span(len(self.spans), name, start, end, parent, self.run_id)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = self._add(name, time.perf_counter(), 0.0, parent)
        self._stack.append(span.id)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = time.perf_counter()

    def children_from_walls(self, parent: Span | None, name: str, walls_s: list[float]) -> None:
        """Synthesize back-to-back child spans of the given durations that
        end where ``parent`` ends (the superstep loop is the tail of every
        iterative call; only its per-superstep wall times are reported)."""
        if parent is None:
            return
        t = parent.end - sum(walls_s)
        for w in walls_s:
            self._add(name, t, t + w, parent.id)
            t += w

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
