"""Spans recorded around calls into the program's layers, and Spark's own
stage metrics read from its REST API.

Spans are kept in memory and written once, at the end of a traced run.
A span's self time is its duration minus the part of its interval that
its child spans cover.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Collects spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        rec = {
            "name": name,
            "layer": layer,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        """Record a span whose interval was measured elsewhere (for
        example a streaming progress event)."""
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": name, "layer": layer, "parent": parent,
                "start": start, "end": end, **attrs,
            })
        return sid

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's
        intervals, clipped to the span."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, edge = 0.0, lo
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                a, b = max(c["start"], edge), min(c["end"], hi)
                if b > a:
                    covered += b - a
                    edge = b
            out[s["id"]] = (hi - lo) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")


STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "numFailedTasks",
)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def stage_metrics_by_group(spark) -> dict[str, dict]:
    """Job group -> summed stage metrics of its completed stages, read
    from the driver's REST API (the UI must be on). Call once at the end
    of a run; waits until the listener has caught up with every job."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + 30
    while True:
        jobs = _get(f"{base}/jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.2)
    stages = {
        (s["stageId"], s["attemptId"]): s
        for s in _get(f"{base}/stages")
        if s["status"] in ("COMPLETE", "FAILED")
    }
    by_stage: dict[int, list[dict]] = {}
    for (sid, _att), s in stages.items():
        by_stage.setdefault(sid, []).append(s)
    out: dict[str, dict] = {}
    for j in jobs:
        group = j.get("jobGroup") or ""
        agg = out.setdefault(group, {k: 0 for k in STAGE_FIELDS} | {"stages": 0})
        for sid in j["stageIds"]:
            for s in by_stage.pop(sid, ()):  # a stage counts once
                agg["stages"] += 1
                for k in STAGE_FIELDS:
                    agg[k] += s.get(k, 0)
    return out
