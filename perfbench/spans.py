"""In-memory spans around the benchmark's own calls into each layer.

A span records its name, start, end, parent span and the id of the
iteration it belongs to.  Spans stay in memory and are written out once,
when the run ends.  A layer's self time is its span's duration minus the
part of that interval its child spans cover.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    iteration: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    iteration: int | None = None
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.perf_counter(), 0.0, parent, self.iteration)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def dump(self) -> list[dict]:
        return [{"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "iteration": s.iteration}
                for s in self.spans]


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name, in seconds."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = s.duration - _covered(children.get(s.sid, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out
