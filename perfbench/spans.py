"""Spans kept in memory for the traced passes: pass -> op -> phase
(build / plan / exec, or drain / collect) -> micro-batch -> stage.

Micro-batch and stage spans are reconstructed afterwards from Spark's
own timestamps (streaming progress, status store) and attached under
the innermost span of their op whose interval holds their start.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: Phases of one op: build -> (plan) -> exec for jobs and queries,
#: drain -> collect for streams.
PHASES = ("build", "plan", "exec", "drain", "collect")


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name, start, end, parent, op, **attrs) -> Span:
        span = Span(len(self.spans), name, start, end, parent, op, attrs)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Record a span around the block when tracing; time it always
        (the yielded dict receives ``wall_s``)."""
        timing: dict = {}
        parent = self._stack[-1] if self._stack else None
        start = time.time()
        if self.enabled:
            sid = self.add(name, start, start, parent, op, **attrs).id
            self._stack.append(sid)
        try:
            yield timing
        finally:
            end = time.time()
            timing["wall_s"] = end - start
            if self.enabled:
                self._stack.pop()
                self.spans[sid].end = end

    def attach(self, name: str, start: float, end: float, op: str, **attrs) -> None:
        """Attach an engine-reported span under the innermost phase or
        micro-batch span of ``op`` whose interval contains ``start``."""
        phases = [
            s for s in self.spans
            if s.op == op and s.name in (*PHASES, "batch") and s.start <= start <= s.end
        ]
        parent = phases[-1].id if phases else None
        self.add(name, start, end, parent, op, **attrs)

    def self_time(self, root: int) -> dict[str, float]:
        """Seconds per span name, over ``root`` and its descendants, not
        covered by each span's children (children may overlap each
        other: their union is subtracted)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        todo = [self.spans[root]]
        while todo:
            s = todo.pop()
            children = sorted(kids.get(s.id, ()), key=lambda c: c.start)
            todo.extend(children)
            covered, cursor = 0.0, s.start
            for c in children:
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] = out.get(s.name, 0.0) + max(0.0, s.end - s.start - covered)
        return out

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]

