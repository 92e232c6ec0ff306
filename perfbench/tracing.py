"""In-memory spans for the traced run.

A span is (name, start, end, parent, run id).  Spans stay in memory and
are written once, when the run ends.

Self time of a span is its duration minus the summed durations of its
children.  A child is either a call nested inside the parent in time,
or, for a lazily evaluated layer, the separately executed plan prefix
that the parent layer builds on (``run_cells`` is the join plus the
fused kernel, so the join prefix is the child of ``run_cells``).  Both
kinds subtract the same way.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Record a span around the block, as a child of the innermost
        open span.  Yields the span id."""
        parent = self._open[-1] if self._open else None
        span_id = len(self.spans)
        span = Span(span_id, name, time.perf_counter(), 0.0, parent,
                    self.run_id)
        self.spans.append(span)
        self._open.append(span_id)
        try:
            yield span_id
        finally:
            self._open.pop()
            span.end = time.perf_counter()

    def record(self, name: str, start: float, end: float,
               parent: int | None) -> int:
        """Add a finished span (for a plan prefix run elsewhere)."""
        span_id = len(self.spans)
        self.spans.append(Span(span_id, name, start, end, parent,
                               self.run_id))
        return span_id

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        child_total = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_total[s.parent] += s.duration
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.duration \
                - child_total[s.span_id]
        return out

    def durations(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.duration
        return out
