"""Benchmark-side spans and the Spark event-log parser that rolls task
metrics up per span.

A :class:`Tracer` records one span per call the benchmark makes into a
layer (name, start, end, parent) and, while the span is open, sets the
Spark job group to the span's id, so every job the call launches carries
the span id in its properties.  :func:`event_log` writes Spark's own event
log meanwhile, :func:`read_log` reads it back and :func:`rollup` sums jobs,
tasks and task metrics per span.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

#: Task-metric sums kept per span, by the name used in the metrics.
TASK_FIELDS = ("tasks", "failed_tasks", "input_records", "input_bytes",
               "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
               "executor_run_s", "executor_cpu_s")


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; with ``sc`` set, each open span is the job
    group of the jobs its call launches."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent and parent.id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.id, s.name)

    def dump(self) -> list[dict]:
        return [vars(s).copy() for s in self.spans]


_ACTIONS = {
    "pyspark.sql.classic.dataframe:DataFrame": (
        "count", "collect", "toPandas", "toArrow", "toLocalIterator", "take", "head",
        "first", "show", "isEmpty", "foreach", "foreachPartition", "checkpoint",
        "localCheckpoint"),
    "pyspark.sql.readwriter:DataFrameReader": (
        "load", "csv", "json", "parquet", "orc", "text", "table"),
    "pyspark.sql.readwriter:DataFrameWriter": (
        "save", "saveAsTable", "insertInto", "csv", "json", "parquet", "orc", "text"),
}
_SKIP = (os.path.dirname(os.path.abspath(__file__)),)


def _caller(root: str) -> str:
    """``file:line (function)`` of the innermost calling frame outside
    pyspark, this directory and the Python installation, relative to
    ``root``: the program line that made the call."""
    import pyspark

    skip = _SKIP + (os.path.dirname(pyspark.__file__), os.path.dirname(os.__file__))
    f = sys._getframe(2)
    while f is not None and f.f_code.co_filename.startswith(skip):
        f = f.f_back
    if f is None:
        return "?"
    return (f"{os.path.relpath(f.f_code.co_filename, root)}:{f.f_lineno} "
            f"({f.f_code.co_name})")


@contextlib.contextmanager
def python_call_sites(sc, root: str):
    """Give each job a DataFrame read, write or action launches the Python
    call site of that call, as PySpark already does for RDD actions; the
    event log then names the program line that caused every job.  The
    outermost call wins; the methods are restored on exit."""
    import importlib

    from pyspark.traceback_utils import SCCallSiteSync

    depth = [0]
    saved = []

    def wrap(cls, name):
        orig = cls.__dict__.get(name, getattr(cls, name))

        @functools.wraps(orig)
        def call(*args, **kwargs):
            if depth[0] == 0:
                sc._jsc.setCallSite(f"{name} at {_caller(root)}")
            # nested: PySpark's own RDD call-site setter keeps this one
            depth[0] += 1
            SCCallSiteSync._spark_stack_depth += 1
            try:
                return orig(*args, **kwargs)
            finally:
                SCCallSiteSync._spark_stack_depth -= 1
                depth[0] -= 1
                if depth[0] == 0:
                    sc._jsc.setCallSite(None)
        saved.append((cls, name, cls.__dict__.get(name)))
        setattr(cls, name, call)

    for path, names in _ACTIONS.items():
        mod, cls_name = path.split(":")
        cls = getattr(importlib.import_module(mod), cls_name)
        for name in names:
            if hasattr(cls, name):
                wrap(cls, name)
    try:
        yield
    finally:
        for cls, name, orig in reversed(saved):
            if orig is None:
                delattr(cls, name)
            else:
                setattr(cls, name, orig)


@contextlib.contextmanager
def event_log(sc, log_dir: str):
    """Spark's own event logger (what ``spark.eventLog.enabled=true``
    starts with the session, here uncompressed and unrolled) attached to
    a running session, so traced and untraced repetitions share one warm
    session.  On exit the listener bus is drained and the log closed."""
    os.makedirs(log_dir, exist_ok=True)
    ctx, jvm = sc._jsc.sc(), sc._jvm
    conf = ctx.conf().clone().set("spark.eventLog.compress", "false") \
        .set("spark.eventLog.rolling.enabled", "false")
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        ctx.applicationId(), getattr(getattr(jvm.scala, "None$"), "MODULE$"),
        jvm.java.net.URI(f"file:{os.path.abspath(log_dir)}"), conf,
        ctx.hadoopConfiguration())
    listener.start()
    ctx.addSparkListener(listener)
    try:
        yield
    finally:
        ctx.listenerBus().waitUntilEmpty()
        ctx.removeSparkListener(listener)
        listener.stop()


@dataclass
class Job:
    id: int
    group: str | None
    call_site: str
    start: float
    end: float = 0.0
    metrics: Counter = field(default_factory=Counter)


def log_files(log_dir: str) -> list[str]:
    """The event-log files :func:`event_log` wrote under ``log_dir``."""
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def _task_metrics(ev: dict) -> Counter:
    m = ev.get("Task Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    info = ev.get("Task Info") or {}
    return Counter({
        "tasks": 1,
        "failed_tasks": int(bool(info.get("Failed")) or bool(info.get("Killed"))),
        "input_records": inp.get("Records Read", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "output_bytes": out.get("Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
    })


def read_log(paths: list[str]) -> list[Job]:
    """Jobs of an event log, each with the task metrics of the stages it
    submitted.  A task is charged to the job that submitted its stage."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    stages = ev.get("Stage Infos") or [{}]
                    site = props.get("callSite.short") or stages[-1].get("Stage Name", "")
                    jobs[jid] = Job(jid, props.get("spark.jobGroup.id"), site,
                                    ev["Submission Time"] / 1e3)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is not None:
                        jobs[jid].metrics.update(_task_metrics(ev))
    return sorted(jobs.values(), key=lambda j: j.id)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part of it that child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - _union(_clipped(children[s["id"]], s["start"], s["end"]))
            for s in spans}


def subtree(spans: list[dict], root_id: str) -> list[str]:
    """Ids of ``root_id`` and every span below it."""
    ids = [root_id]
    for s in spans:  # spans are recorded parent first
        if s["parent"] in ids:
            ids.append(s["id"])
    return ids


def rollup(spans: list[dict], jobs: list[Job]) -> dict[str, dict]:
    """Per span: wall time, jobs, job counts per call site, the time inside
    the span no job was running (driver time), and the summed task metrics
    of its own jobs.  Jobs with no span id land under ``"(none)"`` so the
    per-span job counts always add up to the log's."""
    own = defaultdict(list)
    ids = {s["id"] for s in spans}
    for j in jobs:
        own[j.group if j.group in ids else "(none)"].append(j)
    out = {}
    for s in spans + [{"id": "(none)", "name": "(none)", "parent": None,
                       "start": 0.0, "end": 0.0}]:
        js = own[s["id"]]
        metrics = sum((j.metrics for j in js), Counter())
        busy = _union(_clipped([(j.start, j.end) for j in js], s["start"], s["end"]))
        out[s["id"]] = {
            "name": s["name"], "parent": s["parent"],
            "wall_s": s["end"] - s["start"], "driver_s": (s["end"] - s["start"]) - busy,
            "jobs": len(js),
            "call_sites": dict(Counter(j.call_site for j in js)),
            **{k: metrics.get(k, 0) for k in TASK_FIELDS},
        }
    return out
