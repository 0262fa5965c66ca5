"""Spans recorded from the benchmark's side of each layer boundary.

A span is (name, start, end, parent) plus attributes; every span of a run
shares one trace id. Spans stay in memory and are written once, when the
run ends. The program is never edited: public methods are wrapped on the
instance (``Tracer.wrap``) and the fetch stage is observed by wrapping the
function that ``fetcher.make_fetch_map`` returns (``traced_fetch_maps``),
which writes one record per task into a directory.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool = False):
        self.trace_id = uuid.uuid4().hex
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, obj, method: str, name: str) -> None:
        """Record a span around every call of ``obj.<method>`` while enabled."""
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, wrapped)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs):
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": parent,
             "start": start, "end": end, **attrs}
        )

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the part of
        its interval that its children cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in self.children(s["id"])
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            dur = s["end"] - s["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + dur - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, f)


def _record_tasks(fn, out_dir: str):
    """Wrap a mapInPandas function: one JSON record per task (stage,
    partition, attempt, start, end, rows) written to *out_dir*."""

    def wrapped(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        start, rows = time.time(), 0
        for pdf in fn(batches):
            rows += len(pdf)
            yield pdf
        rec = {
            "stage": ctx.stageId(),
            "partition": ctx.partitionId(),
            "attempt": ctx.attemptNumber(),
            "start": start,
            "end": time.time(),
            "rows": rows,
        }
        name = f"task-{rec['stage']}-{rec['partition']}-{rec['attempt']}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(rec, f)

    return wrapped


@contextlib.contextmanager
def traced_fetch_maps(out_dir: str):
    """While active, every fetch stage the engine plans records its tasks."""
    from deepcrawl4ai_spark.frontier import fetcher

    original = fetcher.make_fetch_map

    def make_fetch_map(transport=None):
        return _record_tasks(original(transport), out_dir)

    fetcher.make_fetch_map = make_fetch_map
    try:
        yield
    finally:
        fetcher.make_fetch_map = original


def read_task_records(out_dir: str) -> list[dict]:
    recs = []
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name)) as f:
            recs.append(json.load(f))
    return recs
