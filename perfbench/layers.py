"""Per-layer metrics of a traced run.

The benchmark's spans (one root span per repetition, one child span per
call into a layer) are rolled up with Spark's task metrics by
:func:`spans.rollup` and named after the program's layers:

- ``import`` / ``transform`` / ``export``: the ``niamoto_spark.cli``
  subcommands, i.e. ``pipeline.run_import`` (+ ``sources``, ``hierarchy``),
  ``pipeline.run_transform`` (+ ``operators.loaders``, ``widgets``,
  ``refshapes``) and ``pipeline.run_export`` (``exporters``);
- ``<query>.build`` / ``<query>.execute`` and their ``catalog`` totals:
  ``niamoto_spark.queries`` over ``operators``.

Every traced run reports every metric; a layer its workload does not run
reads 0.
"""

from __future__ import annotations

import os
import statistics
from collections import Counter

import spans as sp
from workloads import HEADLINE

PIPELINE = {
    "import": ("wall_s", "jobs", "tasks", "input_records", "input_bytes",
               "output_bytes", "executor_run_s", "executor_cpu_s", "failed_tasks"),
    "transform": ("wall_s", "jobs", "tasks", "input_records", "shuffle_read_bytes",
                  "shuffle_write_bytes", "executor_run_s", "executor_cpu_s",
                  "failed_tasks"),
    "export": ("wall_s", "jobs", "driver_s", "failed_tasks"),
}
CATALOG = ("input_records", "executor_run_s", "executor_cpu_s", "failed_tasks")
#: call site of the ``df.count()`` that ``cmd_transform`` prints: it
#: re-executes each group plan after the group table was written
RECOUNT_SITE = "count at niamoto_spark/cli.py:"


def by_rep(spans: list[dict], jobs) -> list[dict]:
    """Per repetition (root span): its child spans' rollups summed by span
    name, with job counts per call site under ``site:<call site>``."""
    roll = sp.rollup(spans, jobs)
    reps = []
    for root in (s for s in spans if s["parent"] is None):
        named: dict[str, Counter] = {}
        for s in spans:
            if s["parent"] == root["id"]:
                r = roll[s["id"]]
                acc = named.setdefault(s["name"], Counter())
                acc.update({k: v for k, v in r.items() if isinstance(v, (int, float))})
                acc.update({f"site:{c}": n for c, n in r["call_sites"].items()})
        reps.append(named)
    return reps


def rep_metrics(named: dict, source_rows: int, export_dir: str | None) -> dict:
    m = {}
    for layer, fields in PIPELINE.items():
        for f in fields:
            m[f"{layer}.{f}"] = named.get(layer, {}).get(f, 0)
    t = named.get("transform", Counter())
    m["transform.scan_amplification"] = t["input_records"] / source_rows if source_rows else 0
    m["transform.recount_jobs"] = sum(n for k, n in t.items()
                                      if k.startswith("site:" + RECOUNT_SITE))
    files = [os.path.join(d, f) for d, _, fs in os.walk(export_dir) for f in fs] \
        if export_dir else []
    m["export.files_written"] = len(files)
    m["export.bytes_written"] = sum(os.path.getsize(p) for p in files)
    cat = Counter()
    for q in HEADLINE:
        b, e = named.get(f"{q}.build", Counter()), named.get(f"{q}.execute", Counter())
        m[f"{q}.build_s"] = b["wall_s"]
        m[f"{q}.execute_s"] = e["wall_s"]
        m[f"{q}.jobs"] = b["jobs"] + e["jobs"]
        cat["build_jobs"] += b["jobs"]
        for part in (b, e):
            cat["shuffle_bytes"] += part["shuffle_read_bytes"] + part["shuffle_write_bytes"]
            for f in CATALOG:
                cat[f] += part[f]
    for k in ("build_jobs", "shuffle_bytes", *CATALOG):
        m[f"catalog.{k}"] = cat[k]
    return m


def metrics(wl, spans: list[dict], jobs) -> dict:
    """Each per-layer metric's median over the traced repetitions."""
    reps = [rep_metrics(named, getattr(wl, "source_rows", 0), getattr(wl, "out", None))
            for named in by_rep(spans, jobs)]
    return {k: statistics.median(r[k] for r in reps) for k in reps[0]}


def call_sites(spans: list[dict], jobs) -> dict:
    """Job counts per layer and call site over all traced repetitions."""
    out: dict[str, Counter] = {}
    for named in by_rep(spans, jobs):
        for layer, acc in named.items():
            out.setdefault(layer, Counter()).update(
                {k[5:]: n for k, n in acc.items() if k.startswith("site:")})
    return {layer: dict(c) for layer, c in out.items()}


def unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "bytes"
    if last == "scan_amplification":
        return "ratio"
    return "count"
