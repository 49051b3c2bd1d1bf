"""In-memory spans for traced runs, and self-time accounting.

A span has a name, start, end (``time.perf_counter`` seconds), a parent
span id and the run id shared by every span of one run. Spans are only
appended to a list while the run goes on; the list is written out with
the run's result at the end, so tracing does no I/O inside a pass.

Self time is a span's duration minus the time its direct children cover.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        record = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(record)
        self._stack.append(record["id"])
        try:
            yield record
        finally:
            self._stack.pop()
            record["end"] = time.perf_counter()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time covered by its direct children."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in spans}


def layer_self_times(spans: list[dict], root_id: int) -> dict[str, float]:
    """Self time summed per span name over the subtree under ``root_id``
    (the root's own self time is included under its name)."""
    children: dict[int | None, list[dict]] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = defaultdict(float)
    todo = [by_id[root_id]]
    while todo:
        s = todo.pop()
        out[s["name"]] += selfs[s["id"]]
        todo.extend(children[s["id"]])
    return dict(out)
