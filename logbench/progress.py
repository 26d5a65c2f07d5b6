"""Reading ``StreamingQueryProgress`` records of a running query.

Progress is polled from ``recentProgress`` (no listener, no extra job in the
stream) and kept per batch id, so nothing is lost when Spark trims its own
list."""

from __future__ import annotations

import ast
import json
import time
from datetime import datetime, timezone


class ProgressLog:
    def __init__(self, query) -> None:
        self.query = query
        self.batches: dict[int, dict] = {}

    def poll(self) -> None:
        for p in self.query.recentProgress or []:
            if p.batchId not in self.batches:
                self.batches[p.batchId] = json.loads(p.json)

    def rows(self) -> int:
        return sum(p["numInputRows"] for p in self.batches.values())

    def nonempty(self) -> list[dict]:
        return [self.batches[b] for b in sorted(self.batches) if self.batches[b]["numInputRows"] > 0]

    def wait(self, done, timeout: float, interval: float = 0.2) -> bool:
        """Poll until ``done(self)`` holds or ``timeout`` seconds pass; a
        failed query raises its exception here."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            self.poll()
            if done(self):
                return True
            if not self.query.isActive:
                exc = self.query.exception()
                if exc is not None:
                    raise RuntimeError(f"stream failed: {exc}")
                return False
            time.sleep(interval)
        self.poll()
        return done(self)


def started_at(p: dict) -> float:
    """Trigger start as unix seconds (progress timestamps are UTC ISO)."""
    ts = p["timestamp"].rstrip("Z")
    return datetime.fromisoformat(ts).replace(tzinfo=timezone.utc).timestamp()


def committed_at(p: dict) -> float:
    """Unix seconds at which the micro-batch finished (start + trigger time)."""
    return started_at(p) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def end_offset(p: dict) -> dict[int, int]:
    """``sources[0].endOffset`` as {shard: seq}; Python data sources report
    it as the string form of a dict."""
    raw = p["sources"][0]["endOffset"]
    if isinstance(raw, str):
        try:
            raw = json.loads(raw)
        except ValueError:
            raw = ast.literal_eval(raw)
    return {int(k): int(v) for k, v in (raw or {}).items()}
