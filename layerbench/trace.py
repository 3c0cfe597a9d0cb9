"""In-memory span recorder.

A span has a name, a start, an end, a parent and the run id every span of
the run shares. Spans stay in memory while the run measures and are written
once, when it ends. Spark jobs join the tree as spans built from their
reported intervals (``add``), converted onto this process's clock.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager

from .sparkstats import union_ms


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # wall clock minus monotonic clock, to place Spark's epoch-ms stamps
        self._epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start_epoch_ms: float, end_epoch_ms: float,
            parent: int | None, **attrs) -> None:
        """A span from another clock (Spark's epoch milliseconds)."""
        if not self.enabled:
            return
        self.spans.append({
            "id": len(self.spans), "name": name, "run": self.run_id, "parent": parent,
            "start": start_epoch_ms / 1e3 - self._epoch_offset,
            "end": end_epoch_ms / 1e3 - self._epoch_offset, "attrs": attrs,
        })

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                       for c in kids.get(s["id"], ())]
            covered = union_ms([(a, b) for a, b in clipped if b > a])
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        spans = [{**s, "self": selfs[s["id"]]} for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": spans, **extra}, fh, indent=1, default=str)
