"""In-memory spans around the benchmark's calls into each layer."""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, run_id: str, job_group=None):
        """``job_group(name)`` (optional) is called on entering a span and
        with ``None`` on leaving, so Spark jobs carry the span's name."""
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._job_group = job_group

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._job_group:
            self._job_group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._job_group:
                self._job_group(self.spans[self._stack[-1]]["name"]
                                if self._stack else None)

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Summed duration of ``name``'s spans minus their children's."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == s["id"])
            total += (s["end"] - s["start"]) - kids
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
