"""In-memory spans around calls into the program's layers.

Spans are recorded from the benchmark's own files only — the program is
not instrumented. Each span carries (name, start, end, parent, op id);
spans are kept in memory and written out when the run ends. In the
untraced run the tracer is disabled and ``span`` costs one attribute
check, so end-to-end figures are not disturbed.

Spark work is attributed to spans through job groups: entering a span
tags the calling thread's Spark jobs with the span id, and at the end of
the run one pass over the monitoring REST API maps every job's stages to
the span that launched it. Streaming micro-batches run under their
query's run id instead, which the stream span records.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager

# Per-stage REST fields summed into a span's Spark counters.
_STAGE_FIELDS = {
    "numTasks": "tasks",
    "executorRunTime": "executor_run_ms",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "outputRecords": "output_records",
}


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "op", "attrs", "spark")

    def __init__(self, sid: str, name: str, parent: str | None, op: str | None, attrs: dict):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.op = op
        self.attrs = attrs
        self.start = time.perf_counter()
        self.end = self.start
        self.spark: dict = {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    def to_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "parent": self.parent, "op": self.op,
            "start": self.start, "end": self.end, "attrs": self.attrs, "spark": self.spark,
        }


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval its children cover
    (overlapping children are counted once)."""
    cover = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                cover += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        cover += cur_hi - cur_lo
    return span.duration - cover


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spark = None  # set once the session exists

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(f"s{next(self._ids)}", name, parent.sid if parent else None,
                  op if op is not None else (parent.op if parent else None), attrs)
        stack.append(sp)
        with self._lock:
            self.spans.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(sp.sid, name)
        self.overhead_s += time.perf_counter() - t0
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            t1 = time.perf_counter()
            stack.pop()
            if sc is not None:
                if stack:
                    sc.setJobGroup(stack[-1].sid, stack[-1].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t1

    def children(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def attach_spark_metrics(self) -> None:
        """Fetch every job and stage once and sum stage counters into the
        span whose job group (or recorded stream run id) launched them."""
        if not self.spans or self.spark is None:
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs = _get_json(f"{base}/jobs")
        stages = _get_json(f"{base}/stages")
        by_stage: dict[int, dict] = {}
        for st in stages:
            acc = by_stage.setdefault(st["stageId"], {})
            for field, key in _STAGE_FIELDS.items():
                acc[key] = acc.get(key, 0) + int(st.get(field, 0) or 0)
        by_group: dict[str, Span] = {s.sid: s for s in self.spans}
        for s in self.spans:
            if "run_id" in s.attrs:
                by_group[s.attrs["run_id"]] = s
        for job in jobs:
            sp = by_group.get(job.get("jobGroup") or "")
            if sp is None:
                continue
            sp.spark["jobs"] = sp.spark.get("jobs", 0) + 1
            for sid in job.get("stageIds", []):
                if sid not in by_stage:
                    continue  # skipped stage (shuffle reuse)
                sp.spark["stages"] = sp.spark.get("stages", 0) + 1
                for k, v in by_stage[sid].items():
                    sp.spark[k] = sp.spark.get(k, 0) + v
        self.overhead_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.to_dict() for s in self.spans], f)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)
