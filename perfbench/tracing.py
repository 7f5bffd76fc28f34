"""Outside-in tracing for the CDC benchmark.

Spans are recorded around calls into the engine's layers by wrapping their
public functions from here; nothing inside the package is instrumented.
Each span carries (id, name, start, end, parent, run id, thread).  Spans
stay in memory and are written once, when the run ends.  While a span is
open it also names the Spark jobs it submits (``setJobDescription``), so
the Spark event log can be attributed to spans afterwards.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from statistics import median

#: (class import path, method, span name) — the layer boundaries traced.
LAYER_CALLS = [
    ("debezium_connector_db2_spark.sources.binlog.BinlogSource",
     "max_lsn", "binlog.max_lsn"),
    ("debezium_connector_db2_spark.sources.binlog.BinlogSource",
     "read_range", "binlog.read_range"),
    ("debezium_connector_db2_spark.sources.binlog.BinlogSource",
     "min_lsn_after", "binlog.min_lsn_after"),
    ("debezium_connector_db2_spark.lake.LakeTable",
     "merge_changes", "lake.merge_changes"),
    ("debezium_connector_db2_spark.lake.LakeTable",
     "compact", "lake.compact"),
    ("debezium_connector_db2_spark.lake.LakeTable",
     "manifest", "lake.manifest"),
    ("debezium_connector_db2_spark.streaming.engine.CdcEngine",
     "run_available", "engine.run_available"),
    ("debezium_connector_db2_spark.streaming.engine.CdcEngine",
     "apply_batch", "engine.apply_batch"),
    ("debezium_connector_db2_spark.streaming.engine.CdcEngine",
     "snapshot_load", "engine.snapshot_load"),
    ("debezium_connector_db2_spark.streaming.checkpoint.Checkpoint",
     "read", "checkpoint.read"),
    ("debezium_connector_db2_spark.streaming.checkpoint.Checkpoint",
     "write", "checkpoint.write"),
]


#: spans that never submit a Spark job: no job description is set for
#: them, which keeps their own cost to two clock reads
NO_JOBS = {"lake.manifest", "checkpoint.read", "checkpoint.write"}


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "thread", "result")

    def __init__(self, sid, name, start, parent, thread):
        self.id, self.name, self.start = sid, name, start
        self.end, self.parent, self.thread = None, parent, thread
        self.result = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op.

    Only spans opened while ``recording`` is on are kept, so warm-up and
    set-up stay out of the per-layer numbers.
    """

    def __init__(self, enabled: bool, run_id: str, spark=None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = spark.sparkContext if (enabled and spark is not None) else None
        self.recording = False
        #: wall-clock (epoch s) intervals during which spans were recorded
        self.windows: list[tuple[float, float]] = []
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[type, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def record(self):
        """Keep the spans opened inside this block."""
        t0 = time.time()
        self.recording = True
        try:
            yield
        finally:
            self.recording = False
            self.windows.append((t0, time.time()))

    @contextmanager
    def span(self, name: str):
        """Time a block as a span (a no-op unless enabled and recording)."""
        if not (self.enabled and self.recording):
            yield None
            return
        stack = self._stack()
        parent = stack[-1].id if stack else None
        with self._lock:
            s = Span(len(self.spans), name, time.perf_counter(), parent,
                     threading.get_ident())
            self.spans.append(s)
        stack.append(s)
        prev = None
        tag_jobs = self.sc is not None and name not in NO_JOBS
        if tag_jobs:
            prev = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(f"span:{s.id}:{name}")
        try:
            yield s
        finally:
            if tag_jobs:
                self.sc.setJobDescription(prev)
            stack.pop()
            s.end = time.perf_counter()

    def install(self) -> None:
        """Wrap every layer call in ``LAYER_CALLS`` with a span."""
        if not self.enabled:
            return
        import importlib

        for path, meth, name in LAYER_CALLS:
            mod, cls_name = path.rsplit(".", 1)
            cls = getattr(importlib.import_module(mod), cls_name)
            orig = cls.__dict__[meth]
            setattr(cls, meth, self._wrapped(orig, name))
            self._patched.append((cls, meth, orig))

    def _wrapped(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def call(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if s is not None and name in RESULT_KEPT:
                    s.result = RESULT_KEPT[name](out)
                return out

        return call

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._patched):
            setattr(cls, meth, orig)
        self._patched.clear()

    # -- analysis -----------------------------------------------------------

    def finished(self) -> list[Span]:
        return [s for s in self.spans if s.end is not None]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.finished():
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.finished():
            covered, hi = 0.0, s.start
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, end = max(c.start, hi), min(c.end, s.end)
                if end > lo:
                    covered += end - lo
                    hi = end
            out[s.id] = s.dur - covered
        return out

    def write(self, path: str) -> None:
        """Write every span as one JSON line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.finished():
                f.write(json.dumps({
                    "run_id": self.run_id, "id": s.id, "name": s.name,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    "thread": s.thread}) + "\n")


#: span name -> how much of the call's return value to keep on the span
RESULT_KEPT = {
    "binlog.max_lsn": lambda v: v,
    "lake.compact": lambda v: v,
    "checkpoint.read": lambda off: off.commit_lsn,
}


def _sum(spans, name):
    return sum(s.dur for s in spans if s.name == name)


def _count(spans, name):
    return sum(1 for s in spans if s.name == name)


def span_metrics(tr: Tracer) -> dict[str, float]:
    """Per-layer metrics from the recorded spans, times in seconds."""
    spans = tr.finished()
    selft = tr.self_times()
    batches = [s for s in spans if s.name == "engine.apply_batch"]
    # backlog at each probe: probed max LSN minus the checkpoint position
    # this thread read just before it (run_available reads, then probes)
    backlog, last_ckpt = 0, {}
    for s in sorted(spans, key=lambda s: s.start):
        if s.name == "checkpoint.read":
            last_ckpt[s.thread] = s.result
        elif s.name == "binlog.max_lsn" and s.result is not None:
            base = last_ckpt.get(s.thread)
            if base is not None:
                backlog = max(backlog, s.result - base)
    out = {
        "trace.drain_s": _sum(spans, "bench.drain"),
        "binlog.max_lsn_calls": _count(spans, "binlog.max_lsn"),
        "binlog.max_lsn_s": _sum(spans, "binlog.max_lsn"),
        "binlog.read_range_calls": _count(spans, "binlog.read_range"),
        "binlog.read_range_s": _sum(spans, "binlog.read_range"),
        "binlog.min_lsn_after_calls": _count(spans, "binlog.min_lsn_after"),
        "lake.merge_calls": _count(spans, "lake.merge_changes"),
        "lake.merge_s": _sum(spans, "lake.merge_changes"),
        "lake.compact_calls": _count(spans, "lake.compact"),
        "lake.compact_s": _sum(spans, "lake.compact"),
        "lake.compacted_buckets": sum(
            s.result or 0 for s in spans if s.name == "lake.compact"),
        "lake.manifest_reads": _count(spans, "lake.manifest"),
        "lake.manifest_read_s": _sum(spans, "lake.manifest"),
        "engine.batches": len(batches),
        "engine.self_s": sum(selft[s.id] for s in batches),
        "engine.loop_self_s": sum(
            selft[s.id] for s in spans if s.name == "engine.run_available"),
        "engine.backlog_max_lsns": backlog,
        "checkpoint.reads": _count(spans, "checkpoint.read"),
        "checkpoint.write_s": _sum(spans, "checkpoint.write"),
    }
    if batches:
        out["engine.batch_p50_s"] = median(s.dur for s in batches)
        out["engine.batch_max_s"] = max(s.dur for s in batches)
    return out


def coverage(tr: Tracer, root: str) -> float:
    """Share of the ``root`` spans' wall time covered by their children."""
    selft = tr.self_times()
    roots = [s for s in tr.finished() if s.name == root]
    total = sum(s.dur for s in roots)
    return 1.0 - sum(selft[s.id] for s in roots) / total if total else 0.0


def spark_metrics(event_log_dir: str, tr: Tracer) -> dict[str, float]:
    """Job, task, shuffle, input and GC totals of the jobs submitted while
    spans were recorded, parsed from the Spark event log.  A job is
    attributed to the span named in its description (jobs the streaming
    frontend submits from its own thread carry none), which also gives
    ``lake.merge_jobs`` and ``engine.jobs_per_batch``."""
    by_id = {s.id: s for s in tr.finished()}
    job_span: dict[int, int | None] = {}
    stage_job: dict[int, int] = {}
    tasks = failed = 0
    shuffle_b = input_b = gc_ms = 0
    logs = sorted(os.path.join(d, f) for d, _, fs in os.walk(event_log_dir)
                  for f in fs if not f.startswith((".", "appstatus")))
    for fn in logs:
        with open(fn) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    t = ev.get("Submission Time", 0) / 1e3
                    if desc.startswith("span:"):
                        sid = int(desc.split(":", 2)[1])
                    elif any(a <= t <= b for a, b in tr.windows):
                        sid = None
                    else:
                        continue
                    job_span[ev["Job ID"]] = sid
                    for st in ev.get("Stage IDs", []):
                        stage_job[st] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Stage ID") not in stage_job:
                        continue
                    tasks += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        failed += 1
                    tm = ev.get("Task Metrics") or {}
                    gc_ms += tm.get("JVM GC Time", 0)
                    shuffle_b += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    input_b += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)

    def under(sid, name):
        while sid is not None and sid in by_id:
            if by_id[sid].name == name:
                return True
            sid = by_id[sid].parent
        return False

    n_batches = sum(1 for s in by_id.values() if s.name == "engine.apply_batch")
    batch_jobs = sum(1 for sid in job_span.values()
                     if under(sid, "engine.apply_batch"))
    return {
        "spark.jobs": len(job_span),
        "spark.tasks": tasks,
        "spark.shuffle_write_mb": shuffle_b / 1e6,
        "spark.input_mb": input_b / 1e6,
        "spark.gc_s": gc_ms / 1e3,
        "spark.failed_tasks": failed,
        "lake.merge_jobs": sum(1 for sid in job_span.values()
                               if under(sid, "lake.merge_changes")),
        "engine.jobs_per_batch": batch_jobs / n_batches if n_batches else 0.0,
    }
