"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent, run_id) with epoch-second times.
Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
               "parent_idx": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def with_self_time(spans: list[dict]) -> list[dict]:
    """Copy of ``spans`` with ``self_s``: duration minus the union of the
    intervals its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent_idx") is not None:
            children.setdefault(s["parent_idx"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if cur_hi is None or lo > cur_hi:
                covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
        out.append({**s, "self_s": (s["end"] - s["start"]) - covered})
    return out


def write(path: str, spans: list[dict], extra: dict) -> None:
    with open(path, "w") as f:
        json.dump({"spans": with_self_time(spans), **extra}, f, indent=1)
