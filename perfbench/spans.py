"""In-memory spans for the traced run.

A span records name, start, end (epoch seconds), parent and run id, plus
free-form attributes. Spans stay in memory and are written out once, at
the end. A layer span also sets the Spark job description to its name,
so the event log attributes the jobs it submits to that layer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, spark_context):
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1].name if self._stack else None)

    def self_times(self) -> dict[str, float]:
        """name → summed self time: each span's duration minus the part
        of its interval its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] = out.get(s.name, 0.0) + s.duration - covered
        return out

    def dump(self, path) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
