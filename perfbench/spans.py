"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, run id).  Spans are kept in memory
and written as JSON once the run ends; nothing is recorded when the
tracer is disabled, so untraced runs pay only a context-manager call.

Self time of a span is its duration minus the union of its children's
intervals, so the self times of all spans in a tree add up to the root
span's duration: the root's own self time is the part of the run no
layer accounts for (reported as the remainder).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the body; yields the span id (or None
        when disabled) so later-known children can be attached."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": parent, "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Attach a span measured elsewhere (a Spark stage), clipped to
        its parent's interval."""
        if not self.enabled or parent is None:
            return
        p = self.spans[parent]
        start = max(start, p["start"])
        end = min(end, p["end"] if p["end"] is not None else end)
        if end <= start:
            return
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "run_id": self.run_id,
                           **attrs})

    def self_ms(self) -> dict[str, float]:
        """Self time per span name, in ms, summed over spans of a name."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                if cur_end is None or c["start"] > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c["start"], c["end"]
                else:
                    cur_end = max(cur_end, c["end"])
            if cur_end is not None:
                covered += cur_end - cur_start
            own = (s["end"] - s["start"] - covered) * 1000.0
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)
