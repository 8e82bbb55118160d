"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run_id); spans stay in memory and are
written as JSON lines once the run ends. Spark evaluates lazily, so each
layer's span wraps an action that runs the pipeline cut after that layer;
a layer's self time is its cut's span minus the span of the cut one stage
earlier (see ``self_time``)."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = "trace"):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"name": name, "start": start,
                               "end": time.perf_counter(),
                               "parent": parent, "run_id": self.run_id})

    def median(self, name: str) -> float:
        """Median duration of the spans called ``name`` (0.0 if none)."""
        d = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return statistics.median(d) if d else 0.0

    def self_time(self, name: str, earlier: str | None) -> float:
        """Median span of cut ``name`` minus that of the cut one stage
        earlier (the cut's own time when it has no predecessor)."""
        return self.median(name) - (self.median(earlier) if earlier else 0.0)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
