"""Span roll-up on a recorded event log (see record_fixtures.py)."""

from __future__ import annotations

import gzip
import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import spans  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    log = tmp_path_factory.mktemp("eventlog") / "events_1_local"
    with gzip.open(os.path.join(FIXTURES, "eventlog.jsonl.gz"), "rb") as src, \
            open(log, "wb") as dst:
        shutil.copyfileobj(src, dst)
    with open(os.path.join(FIXTURES, "spans.json")) as f:
        recorded_spans = json.load(f)
    events = [json.loads(line)["Event"] for line in open(log)]
    return recorded_spans, spans.read_log([str(log)]), events


def test_per_span_job_counts_add_up_to_the_log(recorded):
    recorded_spans, jobs, events = recorded
    roll = spans.rollup(recorded_spans, jobs)
    assert len(jobs) == events.count("SparkListenerJobStart") > 0
    assert sum(r["jobs"] for r in roll.values()) == len(jobs)
    assert roll["(none)"]["jobs"] == 0, "every job carries its span's job group"
    assert sum(r["tasks"] for r in roll.values()) == events.count("SparkListenerTaskEnd")


def test_self_times_add_up_to_the_root_span(recorded):
    recorded_spans, _, _ = recorded
    selfs = spans.self_times(recorded_spans)
    (root,) = [s for s in recorded_spans if s["parent"] is None]
    total = sum(selfs[i] for i in spans.subtree(recorded_spans, root["id"]))
    assert total == pytest.approx(root["end"] - root["start"], abs=1e-9)
    assert all(v >= 0 for v in selfs.values())


def test_layers_named_and_recount_found(recorded):
    recorded_spans, jobs, _ = recorded
    m = layers.metrics(object(), recorded_spans, jobs)
    assert m["import.jobs"] > 0 and m["transform.jobs"] > 0 and m["export.jobs"] > 0
    assert m["transform.recount_jobs"] > 0
    assert m["q01_pricing_summary.jobs"] == 0  # a layer the workload does not run
    assert m["import.jobs"] + m["transform.jobs"] + m["export.jobs"] == len(jobs)


def test_self_time_subtracts_overlapping_children_once():
    s = [{"id": "r", "name": "r", "parent": None, "start": 0.0, "end": 10.0},
         {"id": "a", "name": "a", "parent": "r", "start": 1.0, "end": 4.0},
         {"id": "b", "name": "b", "parent": "r", "start": 3.0, "end": 5.0},
         {"id": "c", "name": "c", "parent": "a", "start": 2.0, "end": 3.0}]
    selfs = spans.self_times(s)
    assert selfs == {"r": 6.0, "a": 2.0, "b": 2.0, "c": 1.0}


def test_driver_time_is_span_time_without_jobs():
    s = [{"id": "e", "name": "export", "parent": None, "start": 0.0, "end": 10.0}]
    jobs = [spans.Job(0, "e", "x", 1.0, 3.0), spans.Job(1, "e", "x", 2.0, 4.0),
            spans.Job(2, None, "y", 5.0, 6.0)]
    r = spans.rollup(s, jobs)
    assert r["e"]["driver_s"] == 7.0 and r["e"]["jobs"] == 2
    assert r["(none)"]["jobs"] == 1
