"""Planted faults in outputs are reported as failures, not as numbers."""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

EXPORT = os.path.join(HERE, "fixtures", "export_small")
PRINTED = {"transform": json.dumps({"plots": 5, "taxons": inputs.TAXON_ROWS})}


@pytest.fixture()
def small(tmp_path):
    """pipeline_small checked against a copy of its recorded export tree."""
    wl = workloads.WORKLOADS["pipeline_small"](str(tmp_path), 0)
    wl.prepare(str(tmp_path))
    out = tmp_path / "out"
    shutil.copytree(EXPORT, out)
    return wl, out


def check(wl, out) -> workloads.Checks:
    checks = workloads.Checks()
    wl.check({"printed": PRINTED, "out": str(out)}, checks)
    return checks


def test_recorded_export_passes(small):
    wl, out = small
    checks = check(wl, out)
    assert checks.attempted == 3 and checks.failures == []


@pytest.mark.parametrize("widget,key,delta", [("um_counter", "um", 1),
                                              ("dbh_summary", "max", 0.1)])
def test_planted_fault_in_an_export_file_fails(small, widget, key, delta):
    wl, out = small
    path = out / "plots" / "detail" / "3.json"
    doc = json.loads(path.read_text())
    doc[widget][key] += delta
    path.write_text(json.dumps(doc))
    checks = check(wl, out)
    assert [f.split(":")[0] for f in checks.failures] == ["export digest", "export values"]
    result = run.result_line(checks.attempted, len(checks.failures), {})
    assert result["correct"] is False and result["failed"] == 2


def test_dropped_widget_fails(small):
    wl, out = small
    path = out / "plots" / "detail" / "1.json"
    doc = json.loads(path.read_text())
    del doc["top_families"]
    path.write_text(json.dumps(doc))
    assert any("missing widgets" in f for f in check(wl, out).failures)


def test_wrong_group_rows_fail(small):
    wl, out = small
    checks = workloads.Checks()
    wl.check({"printed": {"transform": '{"plots": 5, "taxons": 42}'}, "out": str(out)},
             checks)
    assert [f.split(":")[0] for f in checks.failures] == ["group rows"]


@pytest.fixture(scope="module")
def oracles(tmp_path_factory):
    data = inputs.CATALOG_DATA
    return data, workloads.oracle_results(data, str(tmp_path_factory.mktemp("oracles")))


def test_query_row_matches_its_oracle_until_a_fault_is_planted(oracles):
    import duckdb

    from niamoto_spark.queries import build_oracles

    data, oracle = oracles
    con = duckdb.connect()
    for t in ("supplier", "nation", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    res = con.execute(build_oracles()["q12_bridge_revenue"])
    cols, rows = [d[0] for d in res.description], res.fetchall()
    q = "q12_bridge_revenue"
    assert workloads.check_query(q, cols, rows, oracle[q]) == ""
    bad = [tuple(r) for r in rows]
    bad[0] = (bad[0][0], bad[0][1] + 0.01)
    assert "first diffs" in workloads.check_query(q, cols, bad, oracle[q])
    assert "rows vs" in workloads.check_query(q, cols, rows[1:], oracle[q])


def test_rows_only_query_below_its_planted_pairs_fails():
    q = "q38_minhash_candidates"
    assert workloads.check_query(q, ["a"], [(1,)] * 200, None) == ""
    assert "planted" in workloads.check_query(q, ["a"], [(1,)] * 10, None)


def test_unpinned_digest_is_held_to_the_first_repetition(small):
    wl, out = small
    wl.pinned = None
    assert check(wl, out).attempted == 2  # nothing to compare with yet
    (out / "plots" / "detail" / "2.json").write_text("{}")
    checks = check(wl, out)
    assert checks.attempted == 3 and checks.failures[0].startswith("export digest")


def test_generated_inputs_repeat_by_seed(tmp_path):
    a = inputs.ensure_pipeline_project(str(tmp_path / "a"), 7, 500, 10)
    b = inputs.ensure_pipeline_project(str(tmp_path / "b"), 7, 500, 10)
    c = inputs.pipeline_project(str(tmp_path / "c"), 8, 500, 10)
    read = lambda d: open(os.path.join(d, "occurrences.csv")).read()  # noqa: E731
    assert read(a) == read(b) != read(c)
    exp = workloads.expected_plots(a)
    assert len(exp) == 10 and sum(e["occurrences_count"] for e in exp.values()) == 500
