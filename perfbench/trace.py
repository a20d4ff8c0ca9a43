"""In-memory spans recorded by the benchmark around its calls into each layer.

A span is (id, name, parent, run, start, end). Spans nest by call structure
in the single driver thread; a span's self time is its duration minus the
part of that interval its direct children cover. Spans are written out only
when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def children(self, span_id: Optional[int]) -> List[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the direct children's intervals."""
        covered, cursor = 0.0, span["start"]
        for c in sorted(self.children(span["id"]), key=lambda s: s["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return (span["end"] - span["start"]) - covered

    def total(self, name: str) -> float:
        """Summed duration of every span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def find(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def self_times(self) -> Dict[str, float]:
        """Self time summed per span name."""
        out: Dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + self.self_time(s)
        return out
