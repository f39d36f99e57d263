"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end, parent span and request id. Spans stay in
memory and are written out as JSON when the run ends. A layer's self time
is its span minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, *,
            parent: int | None = None, request: int | None = None,
            **attrs) -> int | None:
        """Record a finished span; returns its id (None when disabled)."""
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start,
                           "end": end, "parent": parent,
                           "request": request, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, *, request: int | None = None, **attrs):
        """Time the body as one span; spans opened inside become its
        children. Yields the span's attribute dict, so the body can
        attach results to it."""
        if not self.enabled:
            yield attrs
            return
        sid = self.add(name, time.perf_counter(), 0.0, request=request,
                       **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def named(self, name: str, **match) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and all(s.get(k) == v for k, v in match.items())]

    def durations(self, name: str, **match) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name, **match)]

    def self_time(self, span: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == span["id"])
        covered, hi = 0.0, span["start"]
        for a, b in kids:
            a, b = max(a, hi), min(b, span["end"])
            if b > a:
                covered += b - a
                hi = b
        return span["end"] - span["start"] - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
