"""In-memory spans recorded around the benchmark's calls into program layers.

A span has a name, start and end (seconds on the ``perf_counter`` clock), the
id of the span that caused it, and the run id shared by every span of one
job.  Spans stay in memory and are written out once, when the run ends.

:class:`NullTracer` is what untraced runs use: the same interface, no
recording, so the timed code path is identical apart from the bookkeeping.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = "setup"

    @contextmanager
    def span(self, name: str, **attrs):
        record = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(record)
        self._stack.append(record["id"])
        try:
            yield record
        finally:
            self._stack.pop()
            record["end"] = time.perf_counter()

    def durations(self, name: str, run_prefix: str = "") -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["run_id"].startswith(run_prefix)
        ]

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part of its interval covered by its
        direct children (children are sequential here, but overlapping
        intervals are merged so the result never goes negative)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        rows = [
            {**s, "duration_s": s["end"] - s["start"], "self_s": selfs[s["id"]]}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)


class NullTracer:
    enabled = False
    run_id = "setup"

    @contextmanager
    def span(self, name: str, **attrs):
        yield None
