"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run id), recorded by the benchmark
around each call it makes into a layer.  Spans stay in memory and are
written as JSON once, when the run ends.  A disabled tracer records
nothing, so untraced runs pay one attribute test per call.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "run_id": self.run_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: each span's duration minus the part of
        its interval that its child spans cover (children never overlap:
        one client, one call at a time)."""
        child_s = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child_s[i]
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([dict(s, start=s["start"] - t0, end=s["end"] - t0)
                       for s in self.spans], f)
