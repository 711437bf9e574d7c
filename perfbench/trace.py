"""In-memory spans and counts, written out when the run ends.

A span has a name ``<layer>.<what>``, a start and an end
(``time.perf_counter`` seconds), and the id of the span open when it
began.  A layer's self time is the duration of its spans minus the part
covered by their child spans.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def wrap(self, name: str, fn):
        """fn with every call recorded as a span called ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def self_times(self, under: int | None = None) -> dict[str, float]:
        """Self seconds per layer (name prefix), over all spans or over
        the subtree of span ``under``."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        keep = None
        if under is not None:
            keep = {under}
            for s in self.spans:  # parents precede children
                if s["parent"] in keep:
                    keep.add(s["id"])
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None or (keep is not None and s["id"] not in keep):
                continue
            layer = s["name"].split(".", 1)[0]
            out[layer] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(out)

    def coverage(self, root: int) -> float:
        """Share of span ``root``'s wall covered by its direct children."""
        r = self.spans[root]
        wall = r["end"] - r["start"]
        covered = sum(s["end"] - s["start"] for s in self.spans
                      if s["parent"] == root and s["end"] is not None)
        return covered / wall if wall > 0 else 0.0

    def dump(self) -> dict:
        return {"spans": self.spans, "counts": dict(self.counts)}
