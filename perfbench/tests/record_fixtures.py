"""Record the self-tests' fixtures from one traced ``pipeline_small``
repetition (``examples/config``):

    python3 perfbench/tests/record_fixtures.py

writes ``fixtures/eventlog.jsonl.gz`` (the event log, cut to the fields
``spans.read_log`` reads), ``fixtures/spans.json`` and the export tree
``fixtures/export_small/``.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")
KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time", "Job Result"),
    "SparkListenerTaskEnd": ("Stage ID", "Task Info", "Task Metrics"),
}


def trim(ev: dict) -> dict:
    out = {"Event": ev["Event"], **{k: ev[k] for k in KEEP[ev["Event"]] if k in ev}}
    if ev["Event"] == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        out["Properties"] = {k: props[k] for k in ("spark.jobGroup.id", "callSite.short")
                             if k in props}
        out["Stage Infos"] = [{"Stage Name": s["Stage Name"]} for s in ev["Stage Infos"]]
    if ev["Event"] == "SparkListenerTaskEnd":
        out["Task Info"] = {k: ev["Task Info"][k] for k in ("Failed", "Killed")}
    return out


def main() -> None:
    sys.path.insert(0, run.REPO)
    run.host_settings()
    tmp = tempfile.mkdtemp(dir=run.WORK)
    try:
        wl = workloads.WORKLOADS["pipeline_small"](tmp, 0)
        wl.prepare(tmp)
        sc = run.start_session().sparkContext
        checks = workloads.Checks()
        wl.rep(spans.Tracer(), checks)  # cold
        tracer = spans.Tracer(sc)
        log_dir = os.path.join(tmp, "eventlog")
        with spans.event_log(sc, log_dir), spans.python_call_sites(sc, run.REPO):
            wl.rep(tracer, checks)
        assert not checks.failures, checks.failures
        os.makedirs(FIXTURES, exist_ok=True)
        with gzip.open(os.path.join(FIXTURES, "eventlog.jsonl.gz"), "wt") as out:
            for path in spans.log_files(log_dir):
                with open(path) as f:
                    for line in f:
                        ev = json.loads(line)
                        if ev["Event"] in KEEP:
                            out.write(json.dumps(trim(ev)) + "\n")
        with open(os.path.join(FIXTURES, "spans.json"), "w") as f:
            json.dump(tracer.dump(), f, indent=1)
        dest = os.path.join(FIXTURES, "export_small")
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(wl.out, dest)
    finally:
        run.shutdown_jvm()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
