"""Tracing for the benchmark: spans around the benchmark's own calls
into each engine layer, Spark engine counters from the public status
REST API, and file-system write accounting.

Spans live in memory and are written out once at the end.  A span has
a name, start, end, parent span and the id of the operation it belongs
to; all spans of one operation share that id.  With tracing off every
method is a cheap no-op, so untraced runs time the same code.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent in tracing-only work (scans, REST)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def op(self, op_id: str):
        """Mark the spans opened in this thread as one operation."""
        prev = getattr(self._local, "op", None)
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            rec = {
                "id": sid,
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "op": getattr(self._local, "op", None),
            }
            rec.update(attrs)
            with self._lock:
                self.spans.append(rec)

    def durations(self, name: str) -> list[float]:
        with self._lock:
            return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class SparkCounters:
    """Per-operation engine counters read from Spark's status REST API
    (``/api/v1``) after the run: jobs, executed stages, tasks, and the
    input / output / shuffle-write bytes and input records of those
    stages.  Operations are selected by job group or description."""

    def __init__(self, spark):
        url = spark.sparkContext.uiWebUrl
        port = url.rsplit(":", 1)[1].strip("/")
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{spark.sparkContext.applicationId}"
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def load(self) -> None:
        self.jobs = self._get("/jobs")
        self.stages = {}
        for s in self._get("/stages"):
            if s.get("status") == "COMPLETE":
                agg = self.stages.setdefault(
                    s["stageId"],
                    {"tasks": 0, "in": 0, "out": 0, "shw": 0, "in_rec": 0},
                )
                agg["tasks"] += s.get("numCompleteTasks", 0)
                agg["in"] += s.get("inputBytes", 0)
                agg["out"] += s.get("outputBytes", 0)
                agg["shw"] += s.get("shuffleWriteBytes", 0)
                agg["in_rec"] += s.get("inputRecords", 0)

    def totals(self, select) -> dict:
        """Sum counters over the jobs for which ``select(job)`` holds."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "in": 0, "out": 0, "shw": 0, "in_rec": 0}
        for j in self.jobs:
            if not select(j):
                continue
            out["jobs"] += 1
            for sid in j.get("stageIds", []):
                st = self.stages.get(sid)
                if st is None:  # skipped: its output was reused
                    continue
                out["stages"] += 1
                for k in ("tasks", "in", "out", "shw", "in_rec"):
                    out[k] += st[k]
        return out


def scan_files(root: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of every regular file below root."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed by a concurrent publish
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def written_between(before: dict, after: dict, prefix: str = "") -> tuple[int, int]:
    """(files, bytes) present in ``after`` that are new or changed since
    ``before``, restricted to paths starting with ``prefix``."""
    files = size = 0
    for p, meta in after.items():
        if p.startswith(prefix) and before.get(p) != meta:
            files += 1
            size += meta[0]
    return files, size
