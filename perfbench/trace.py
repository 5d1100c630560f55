"""In-memory spans for the traced run.

A span has a name, start and end (epoch seconds), a parent and the run
id; spans are written out as JSON lines when the run ends. A layer's
self time is its span's duration minus the part of that interval its
child spans cover.
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
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _new(self, name: str, start: float, end: float, parent: int | None,
             attrs: dict) -> Span:
        span = Span(len(self.spans), name, start, end, parent, self.run_id, attrs)
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        span = self._new(name, time.time(), 0.0, parent, attrs)
        self._stack.append(span)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = time.time()

    def child(self, parent: Span, name: str, start: float, end: float,
              **attrs) -> Span:
        """A span recorded after the fact (e.g. a finished SQL execution)."""
        return self._new(name, start, end, parent.id, attrs)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        covered, cursor = 0.0, span.start
        for c in sorted(self.children(span), key=lambda s: s.start):
            lo, hi = max(c.start, cursor), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span.seconds - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = self.self_seconds(s)
                fh.write(json.dumps(row) + "\n")
