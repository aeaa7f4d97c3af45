"""In-memory spans recorded around the benchmark's calls into the
package's public functions. Spans carry name, start, end, parent and
the id of the top-level span they belong to; they are written out once,
when the run ends. With tracing off, `span` costs one branch."""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "root": self.spans[parent]["root"] if parent is not None else sid,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total seconds and self seconds (the
        span's duration minus the time its child spans cover)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child[s["id"]]
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "self_times": self.self_times(), **(extra or {})},
                fh,
                indent=1,
            )
