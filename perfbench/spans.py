"""In-memory spans, written out once when the run ends.

A span has a name, a start and an end (``perf_counter`` seconds), the id
of the span that caused it, and the id of the query it belongs to. Self
time is a span's duration minus the time its children cover; children of
one span run one after another, so their durations simply add up.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": None if parent is None else parent["id"],
            "trace": parent["trace"] if parent is not None else len(self.spans),
            **attrs,
        }
        self.spans.append(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()

    def self_times_ms(self) -> dict[str, float]:
        """Median self time per span name, in milliseconds."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        by_name: dict[str, list[float]] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            by_name.setdefault(s["name"], []).append(own * 1e3)
        return {n: statistics.median(v) for n, v in by_name.items()}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
