"""In-memory spans recorded by the benchmark around each call into a layer.

A span has a name (the layer), start, end, parent span and the id of the
operation (request) it belongs to. Spans are kept in memory and written out
once, when the run ends. A disabled tracer records nothing and costs one
attribute check per call.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.request = "setup"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.perf_counter(), 0.0, parent, self.request)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer name: each span's duration minus the part of
        its interval covered by its child spans (children never overlap,
        the benchmark is single-threaded)."""
        child_time: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += max(0.0, (sp.end - sp.start) - child_time[sp.id])
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")
