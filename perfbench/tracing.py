"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

The tracer wraps the public functions of each measured layer from outside
the package: every call opens a span (name, start, end, parent span, the
file name shared by one file's spans) and tags the Spark jobs it submits
with a job group private to that span, set as a thread-local property so
concurrent files never share one. After a pass the Spark monitoring REST
API gives each job's stages (executor CPU, shuffle write, output bytes and
records) and the JVM's GC time; every job is charged to the innermost
span that submitted it and rolled up to the span's ancestors.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from collections import defaultdict

from gen import CURATION_QUERIES


# span name -> quantities reported per call (``s``: wall seconds, ``jobs``:
# Spark jobs, ``exec_cpu_s``: executor CPU seconds, ``shuffle_write_mb`` /
# ``output_mb``: MB written to shuffle / to files)
LAYERS: dict[str, tuple[str, ...]] = {
    **{f"plans.pipeline.{st}": ("s", "jobs", "exec_cpu_s")
       for st in ["read_data", "validate_data", "write_data", "audit_data"]},
    "plans.pipeline.publish_data": ("s", "jobs", "exec_cpu_s", "shuffle_write_mb"),
    **{f"plans.pipeline.{st}": ("s", "jobs")
       for st in ["check_if_processed", "archive_file", "cleanup_dlq_records"]},
    "plans.pipeline.PipelineRunner.run": ("s", "jobs"),
    "plans.pipeline.Processor.process_file": ("s",),
    "sources.read_source": ("s", "jobs"),
    "operators.validate.validate": ("s",),
    "operators.hashing.with_row_hash": ("s",),
    "operators.dlq.build_dlq": ("s",),
    "operators.dlq.cleanup_dlq": ("s",),
    "operators.audit.check_grain": ("s", "jobs"),
    "operators.audit.check_audits": ("s", "jobs"),
    "operators.publish.publish_counts": ("s", "jobs"),
    "operators.publish.is_file_loaded": ("s", "jobs"),
    "plans.merge_backend.merge": ("s", "jobs", "shuffle_write_mb", "output_mb"),
    "plans.warehouse.merge_overwrite": ("s", "jobs", "output_mb"),
    "plans.warehouse.append": ("s", "jobs"),
    "plans.runlog.flush": ("s", "jobs"),
    "plans.runlog.next_log_id": ("s", "jobs"),
    "fs.FS.copy": ("s",),
    **{f"suite.{q}": ("s", "jobs", "exec_cpu_s", "shuffle_write_mb") for q in CURATION_QUERIES},
    "operators.dedup.edit_distance_pairs": ("s", "jobs"),
    "operators.similarity.knn_join_lsh": ("s", "jobs"),
    "operators.text.text_signals": ("s", "jobs"),
    "operators.sketches.HLLIndex.absorb": ("s", "jobs"),
    "functions.tokenizers.fit_unigram_pieces": ("s", "jobs"),
}
# derived metrics: name -> unit
DERIVED = {
    "plans.pipeline.jobs_per_file": "count",
    "plans.warehouse.mutate.wait_s": "s",
    "plans.warehouse.rewrite_rows_per_changed_row": "count",
    "spark.jvm_gc_s": "s",
    "trace.pass_s": "s",
    "trace.self_s": "s",
}
_UNITS = {"s": "s", "jobs": "count", "exec_cpu_s": "s", "shuffle_write_mb": "MB", "output_mb": "MB"}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name the traced run prints, with its unit."""
    out = {f"{name}.{q}": _UNITS[q] for name, qs in LAYERS.items() for q in qs}
    out.update(DERIVED)
    return out


class Span:
    __slots__ = ("id", "name", "key", "parent", "start", "end", "thread", "row_count")

    def __init__(self, sid, name, key, parent):
        self.id, self.name, self.key, self.parent = sid, name, key, parent
        self.start = self.end = 0.0
        self.thread = threading.current_thread().name
        self.row_count = None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.waits: list[float] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, key: str | None = None) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            span = Span(len(self.spans), name, key or (parent.key if parent else None),
                        parent.id if parent else None)
            self.spans.append(span)
        stack.append(span)
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{span.id}")
        span.start = time.perf_counter()
        with self._lock:
            self.self_s += span.start - t0
        return span

    def close(self, span: Span) -> None:
        span.end = t0 = time.perf_counter()
        stack = self._stack()
        stack.pop()
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{stack[-1].id}" if stack else None)
        with self._lock:
            self.self_s += time.perf_counter() - t0

    def call(self, name: str, fn, *args, key: str | None = None, **kwargs):
        span = self.open(name, key)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    # -- installing wrappers -----------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _wrap(self, owner, attr: str, name: str, key_of=None) -> None:
        tracer = self

        def make(orig):
            def wrapper(*args, **kwargs):
                key = key_of(*args, **kwargs) if key_of else None
                return tracer.call(name, orig, *args, key=key, **kwargs)
            wrapper.__wrapped__ = orig
            return wrapper
        self._patch(owner, attr, make)

    def install(self) -> None:
        from etl_file_loader_spark import fs
        from etl_file_loader_spark.functions import tokenizers
        from etl_file_loader_spark.operators import (
            audit, dedup, dlq, publish, similarity, sketches, text, validate,
        )
        from etl_file_loader_spark.plans import merge_backend, pipeline, runlog, warehouse

        w = self._wrap
        w(pipeline.PipelineRunner, "run", "plans.pipeline.PipelineRunner.run",
          key_of=lambda self: self.filename)
        w(pipeline.Processor, "process_file", "plans.pipeline.Processor.process_file",
          key_of=lambda self, path, log_id=None: fs.basename(path))
        # plans/pipeline.py binds these two by name at import time
        w(pipeline, "read_source", "sources.read_source")
        w(pipeline, "with_row_hash", "operators.hashing.with_row_hash")
        w(pipeline, "next_log_id", "plans.runlog.next_log_id")
        w(runlog, "next_log_id", "plans.runlog.next_log_id")
        w(validate, "validate", "operators.validate.validate")
        w(dlq, "build_dlq", "operators.dlq.build_dlq")
        w(dlq, "cleanup_dlq", "operators.dlq.cleanup_dlq")
        w(audit, "check_grain", "operators.audit.check_grain")
        w(audit, "check_audits", "operators.audit.check_audits")
        w(publish, "publish_counts", "operators.publish.publish_counts")
        w(publish, "is_file_loaded", "operators.publish.is_file_loaded")
        w(merge_backend.SparkRewriteMergeBackend, "merge", "plans.merge_backend.merge")
        w(warehouse.Warehouse, "merge_overwrite", "plans.warehouse.merge_overwrite")
        w(warehouse.Warehouse, "append", "plans.warehouse.append")
        w(runlog.RunLog, "flush", "plans.runlog.flush")
        w(fs.FS, "copy", "fs.FS.copy")
        w(dedup, "edit_distance_pairs", "operators.dedup.edit_distance_pairs")
        w(similarity, "knn_join_lsh", "operators.similarity.knn_join_lsh")
        w(text, "text_signals", "operators.text.text_signals")
        w(sketches.HLLIndex, "absorb", "operators.sketches.HLLIndex.absorb")
        w(tokenizers, "fit_unigram_pieces", "functions.tokenizers.fit_unigram_pieces")

        tracer = self

        class _StageSpan:
            """One RunLog stage as a span, so its jobs carry the stage."""

            def __init__(self, inner, name):
                self.inner, self.name = inner, name

            def __enter__(self):
                self.span = tracer.open(self.name)
                return self.inner.__enter__()

            def __exit__(self, *exc):
                try:
                    return self.inner.__exit__(*exc)
                finally:
                    self.span.row_count = self.inner.row_count
                    tracer.close(self.span)

        self._patch(runlog.RunLog, "stage", lambda orig: (
            lambda log, name: _StageSpan(orig(log, name), f"plans.pipeline.{name}")))

        class _TimedLock:
            """Warehouse.mutate's lock, timing how long acquiring it waits."""

            def __init__(self, lock):
                self.lock = lock

            def __enter__(self):
                t0 = time.perf_counter()
                self.lock.acquire()
                with tracer._lock:
                    tracer.waits.append(time.perf_counter() - t0)
                return self

            def __exit__(self, *exc):
                self.lock.release()
                return False

        self._patch(warehouse.Warehouse, "mutate", lambda orig: (
            lambda wh, table: _TimedLock(orig(wh, table))))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- Spark-side attribution ----------------------------------------------
    def _rest(self, path: str):
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    def gc_seconds(self) -> float:
        return sum(e.get("totalGCTime", 0) for e in self._rest("/executors")) / 1000.0

    def jobs_by_group(self) -> dict[str, dict]:
        """Job group -> summed job count and stage metrics, read once the
        listener has caught up with every job this process submitted."""
        deadline = time.monotonic() + 60
        last = -1
        while True:
            jobs = self._rest("/jobs")
            busy = any(j["status"] == "RUNNING" for j in jobs)
            if (not busy and len(jobs) == last) or time.monotonic() > deadline:
                break
            last = len(jobs)
            time.sleep(0.5)
        stages = {}
        for s in self._rest("/stages"):
            stages[s["stageId"]] = s  # latest attempt wins
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for j in jobs:
            g = out[j.get("jobGroup") or ""]
            g["jobs"] += 1
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None or s["status"] != "COMPLETE":
                    continue
                g["exec_cpu_s"] += s["executorCpuTime"] / 1e9
                g["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
                g["output_mb"] += s["outputBytes"] / 1e6
                g["output_records"] += s["outputRecords"]
        return out

    def layer_metrics(self, passes: int, pass_s: list[float], gc_s: float) -> dict[str, float]:
        groups = self.jobs_by_group()
        incl = {sp.id: dict(groups.get(f"pb{sp.id}", {})) for sp in self.spans}
        for sp in reversed(self.spans):  # children were opened after parents
            if sp.parent is not None:
                for k, v in incl[sp.id].items():
                    incl[sp.parent][k] = incl[sp.parent].get(k, 0.0) + v
        agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            a = agg[sp.name]
            a["calls"] += 1
            a["s"] += sp.end - sp.start
            for k, v in incl[sp.id].items():
                a[k] += v
        out = {}
        for name, qs in LAYERS.items():
            a = agg.get(name, {})
            calls = a.get("calls", 0)
            for q in qs:
                out[f"{name}.{q}"] = a.get(q, 0.0) / calls if calls else 0.0
        runs = agg.get("plans.pipeline.PipelineRunner.run", {})
        out["plans.pipeline.jobs_per_file"] = (
            runs.get("jobs", 0.0) / runs["calls"] if runs.get("calls") else 0.0)
        out["plans.warehouse.mutate.wait_s"] = (
            sum(self.waits) / len(self.waits) if self.waits else 0.0)
        # rows the merges wrote per row the loads inserted or updated
        merged = {sp.parent for sp in self.spans if sp.name == "plans.merge_backend.merge"}
        changed = sum(sp.row_count or 0 for sp in self.spans if sp.id in merged)
        written = agg.get("plans.merge_backend.merge", {}).get("output_records", 0.0)
        out["plans.warehouse.rewrite_rows_per_changed_row"] = written / changed if changed else 0.0
        out["spark.jvm_gc_s"] = gc_s / passes
        out["trace.pass_s"] = sorted(pass_s)[len(pass_s) // 2]
        out["trace.self_s"] = self.self_s / passes
        self._groups = groups
        return out

    def dump(self, path: str) -> None:
        doc = {
            "spans": [{"id": s.id, "name": s.name, "key": s.key, "parent": s.parent,
                       "start": s.start, "end": s.end, "thread": s.thread,
                       "row_count": s.row_count} for s in self.spans],
            "jobs_by_group": {g: dict(v) for g, v in getattr(self, "_groups", {}).items()},
            "lock_waits_s": self.waits,
        }
        with open(path, "w") as f:
            json.dump(doc, f)
