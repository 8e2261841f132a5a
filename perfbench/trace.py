"""Spans recorded around the benchmark's calls into each engine layer.

A span has a name, start, end, parent span and op id; spans opened with
``counters=True`` also carry deltas of the engine counters (``Probe``)
over their interval. Spans stay in memory until ``write``. A disabled
tracer records nothing and costs one branch per call.
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
    start: float
    end: float
    parent: int | None
    op: int | None
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, probe=None):
        self.enabled = enabled
        self.probe = probe
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, counters: bool = False):
        if not self.enabled:
            yield None
            return
        before = self.probe.read() if counters else None
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        sp = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, op)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            if counters:
                sp.counters = self.probe.delta(before, self.probe.read())

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
