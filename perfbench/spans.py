"""In-memory span recorder for the traced benchmark run.

A span is recorded around each call into a layer's public functions:
name, start, end, parent span, workload and seed.  Spans stay in memory
and are written out once, when the run ends.  A layer's self time is
its span's duration minus the time its child spans cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, workload: str, seed: int, enabled: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None,
               "workload": self.workload, "seed": self.seed}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (calls, total seconds, self seconds)."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            row = out.setdefault(s["name"], [0, 0.0, 0.0])
            row[0] += 1
            row[1] += dur
            row[2] += dur - child_s[s["id"]]
        return {k: tuple(v) for k, v in out.items()}

    def write(self, path) -> None:
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "seed": self.seed,
                       "clock": "perf_counter", "spans": self.spans}, fh)
