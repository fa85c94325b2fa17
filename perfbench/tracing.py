"""Tracing for the benchmark's traced runs: timing spans around the
program's public functions, and a stdlib parser for Spark's event log.

Spans are recorded only from the benchmark's own files. ``Tracer.wrap``
replaces a module-level function with a timing wrapper in every loaded
module that holds it, and ``Tracer.restore`` puts the originals back. While
a span is open, the Spark local property ``perfbench.span`` names it, so the
event log attributes each job to the innermost span that submitted it.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import threading
import time
import types
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """Keeps spans in memory: ``(id, parent, thread, name, start, end)``.
    A span's self time is its duration minus the time its children cover."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[tuple[int, int | None, int, str, float, float]] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []
        self.counts: dict[str, int] = defaultdict(int)

    def _stack(self) -> list[tuple[int, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, module_name: str, attr: str, span_name: str) -> None:
        """Wrap ``module_name.attr`` everywhere it is bound at module level."""
        original = getattr(sys.modules[module_name], attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if mod is not None and getattr(mod, attr, None) is original:
                setattr(mod, attr, traced)
                self._patched.append((mod, attr, original))

    def wrap_method(self, cls, attr: str, name_of) -> None:
        """Wrap a method; ``name_of(self, *args)`` gives the span name, or
        None to call through untraced."""
        original = getattr(cls, attr)

        @functools.wraps(original)
        def traced(obj, *args, **kwargs):
            name = name_of(obj, *args, **kwargs)
            if name is None:
                return original(obj, *args, **kwargs)
            with self.span(name):
                return original(obj, *args, **kwargs)

        setattr(cls, attr, traced)
        self._patched.append((cls, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def self_times(self, names_from: float = 0.0) -> dict[str, float]:
        """Self seconds per span name, over spans that started after
        ``names_from``."""
        children: dict[int, float] = defaultdict(float)
        for _sid, parent, _t, _n, start, end in self.spans:
            if parent is not None:
                children[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for sid, _p, _t, name, start, end in self.spans:
            if start >= names_from:
                out[name] += max(0.0, (end - start) - children[sid])
        return dict(out)

    def totals(self, names_from: float = 0.0) -> dict[str, tuple[int, float]]:
        """(calls, total seconds) per span name."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for _sid, _p, _t, name, start, end in self.spans:
            if start >= names_from:
                out[name][0] += 1
                out[name][1] += end - start
        return {k: (v[0], v[1]) for k, v in out.items()}


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        tr = self.tracer
        with tr._lock:
            self.sid = tr._next
            tr._next += 1
        stack = tr._stack()
        self.parent = stack[-1][0] if stack else None
        stack.append((self.sid, self.name))
        if tr.sc is not None:
            tr.sc.setLocalProperty(SPAN_PROPERTY, self.name)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        end = time.time()
        tr = self.tracer
        stack = tr._stack()
        stack.pop()
        if tr.sc is not None:
            tr.sc.setLocalProperty(SPAN_PROPERTY, stack[-1][1] if stack else None)
        with tr._lock:
            tr.spans.append(
                (self.sid, self.parent, threading.get_ident(), self.name, self.start, end)
            )
        return False


def install(b, pkg: str) -> Tracer:
    """Wrap the public functions of each measured layer in timing spans."""
    import importlib

    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    tr = Tracer(b.spark.sparkContext)
    for mod, fn, span in [
        ("sources.tables", "reviews_from_events", "tables.reviews"),
        ("plans.top_products", "top_products", "top_products.build"),
        ("plans.top_products", "publish_top_products", "top_products.publish"),
        ("plans.recommendations", "user_recommendations", "recommendations.build"),
        ("plans.recommendations", "publish_user_recommendations", "recommendations.publish"),
        ("sources.warehouse", "read_parquet_retry", "model_pin"),
        ("streaming.pipeline", "enrich_with_recommendations", "pipeline.enrich"),
    ]:
        importlib.import_module(f"{pkg}.{mod}")
        tr.wrap(f"{pkg}.{mod}", fn, span)
    for short in ("graph", "dedup", "similarity", "importance", "bpe", "sketches"):
        mod = importlib.import_module(f"{pkg}.operators.{short}")
        for name, obj in list(vars(mod).items()):
            if (not name.startswith("_") and isinstance(obj, types.FunctionType)
                    and obj.__module__ == mod.__name__):
                tr.wrap(mod.__name__, name, f"{short}.{name}")

    ratings = b.path("ratings")
    output = b.path("output")

    def writer_span(_w, path, *a, **k):
        if str(path).startswith(ratings):
            return "ratings_sink"
        if str(path).startswith(output):
            return "pipeline.output_sink"
        return None

    tr.wrap_method(DataFrameWriter, "parquet", writer_span)

    # count the reads read_parquet_retry makes: more than one per call is
    # a retry
    original_read = DataFrameReader.parquet

    @functools.wraps(original_read)
    def counted_read(reader, *a, **k):
        stack = tr._stack()
        if stack and stack[-1][1] == "model_pin":
            with tr._lock:
                tr.counts["model_pin.reads"] += 1
        return original_read(reader, *a, **k)

    DataFrameReader.parquet = counted_read
    tr._patched.append((DataFrameReader, "parquet", original_read))
    return tr


class JobStats:
    """Per-job counters from an event log."""

    __slots__ = ("job_id", "group", "batch_id", "span", "submitted", "stages",
                 "tasks", "shuffle_read", "shuffle_write", "records_read")

    def __init__(self, job_id, props, submitted):
        self.job_id = job_id
        self.group = props.get("spark.jobGroup.id")
        self.batch_id = props.get("streaming.sql.batchId")
        self.span = props.get(SPAN_PROPERTY)
        self.submitted = submitted
        self.stages = 0
        self.tasks = 0
        self.shuffle_read = 0
        self.shuffle_write = 0
        self.records_read = 0


def _log_order(path: str) -> tuple:
    m = re.match(r"events_(\d+)_", os.path.basename(path))
    return os.path.dirname(path), int(m.group(1)) if m else 0, path


def parse_event_log(log_dir: str) -> list[JobStats]:
    """Jobs with their completed stages, tasks, shuffle bytes and input
    records, from every event log file in ``log_dir`` (uncompressed JSON
    lines). Skipped stages (reused shuffles) are not counted."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes a directory per application, rolled into numbered
    # ``events_<n>_<app>`` files beside an empty ``appstatus`` marker and
    # hidden checksum files
    paths = sorted(
        (os.path.join(d, f) for d, _s, fs in os.walk(log_dir) for f in fs
         if not f.startswith((".", "appstatus"))),
        key=_log_order,
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = JobStats(ev["Job ID"], ev.get("Properties") or {},
                                   ev.get("Submission Time", 0) / 1000.0)
                    jobs[job.job_id] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job.job_id
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = jobs.get(stage_job.get(info["Stage ID"]))
                    if job is not None:
                        job.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    metrics = ev.get("Task Metrics")
                    if job is None or not metrics:
                        continue
                    job.tasks += 1
                    sr = metrics.get("Shuffle Read Metrics", {})
                    job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    job.shuffle_write += metrics.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job.records_read += metrics.get("Input Metrics", {}).get(
                        "Records Read", 0
                    )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def summarize(jobs: list[JobStats]) -> dict[str, int]:
    return {
        "jobs": len(jobs),
        "stages": sum(j.stages for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "shuffle_bytes": sum(j.shuffle_read + j.shuffle_write for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write for j in jobs),
        "records_read": sum(j.records_read for j in jobs),
    }
