"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, trace id). Spans are recorded by the
benchmark's own code around each call into a layer's public function;
nothing inside the program is instrumented. They stay in memory and are
written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

from collections import defaultdict


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._trace_id = 0

    def new_trace(self) -> int:
        """Start a new trace id: one per measured operation."""
        self._trace_id += 1
        return self._trace_id

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self._trace_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time": self_times(self.spans)}, f, indent=1)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: total duration, self time (duration minus the part
    of its interval that child spans cover) and call count."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [(max(lo, s["start"]), min(hi, s["end"])) for lo, hi in children.get(s["id"], [])]
        own = dur - _covered([k for k in kids if k[1] > k[0]])
        row = out.setdefault(s["name"], {"total_s": 0.0, "self_s": 0.0, "calls": 0})
        row["total_s"] += dur
        row["self_s"] += own
        row["calls"] += 1
    return out
