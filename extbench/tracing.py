"""Spans recorded by the benchmark around its calls into each layer.

A span has a name (the module and function called), start and end in
seconds since the tracer was made, and the index of its parent span.
Spans stay in memory; the run writes them out when it ends. A disabled
tracer records nothing, so timed runs carry no tracing.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def median_s(self, name: str) -> float:
        """Median duration of the spans called ``name`` (0 if none)."""
        d = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return statistics.median(d) if d else 0.0
