"""In-memory span recorder for traced runs.

Spans are opened by the benchmark's own code around its calls into the
package's public functions; nothing inside the package is instrumented.
Each span has a name, start, end, parent span and a trace id shared by the
spans of one query, one trigger or one micro-batch. Spans stay in memory
and are written once, when the run ends."""

from __future__ import annotations

import contextlib
import itertools
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "trace": trace_id, "name": name, **attrs}
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def add(self, name: str, trace_id: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (e.g. from a progress record)."""
        self.spans.append(
            {"id": next(self._ids), "parent": None, "trace": trace_id,
             "name": name, "start": start, "end": end, **attrs}
        )

    def by_trace(self, name: str) -> dict[str, float]:
        """Total milliseconds of the ``name`` spans of each trace id."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["name"] == name:
                out[s["trace"]] = out.get(s["trace"], 0.0) + (s["end"] - s["start"]) * 1000.0
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name]

    def self_ms(self, name: str) -> list[float]:
        """Duration of each ``name`` span minus the time its children cover."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + (s["end"] - s["start"])
        return [
            ((s["end"] - s["start"]) - kids.get(s["id"], 0.0)) * 1000.0
            for s in self.spans
            if s["name"] == name
        ]
