"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end, parent and job id. Spans stay in memory and
are written out once, when the run ends. With tracing off, ``span`` records
nothing, so the untraced run pays only a context-manager call per layer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if job is None and parent is not None:
            job = self.spans[parent]["job"]
        rec = {"id": sid, "name": name, "parent": parent, "job": job,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover. Children of
    one parent run one after another, so their durations add."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


def check_tree(spans: list[dict]) -> list[str]:
    """Problems with the span tree: unknown or later parents, unclosed
    spans, children outside their parent, negative self time."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            bad.append(f"span {s['id']} {s['name']} not closed")
            continue
        p = s["parent"]
        if p is None:
            continue
        if p not in by_id or p >= s["id"]:
            bad.append(f"span {s['id']} {s['name']} has unknown parent {p}")
        elif not (by_id[p]["start"] <= s["start"] and s["end"] <= by_id[p]["end"]):
            bad.append(f"span {s['id']} {s['name']} outside its parent")
        elif s["job"] != by_id[p]["job"]:
            bad.append(f"span {s['id']} {s['name']} changes job id")
    if not bad:
        bad += [f"span {i} negative self time {v}"
                for i, v in self_times(spans).items() if v < 0]
    return bad
