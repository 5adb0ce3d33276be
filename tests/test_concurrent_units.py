"""Each pipeline phase runs its independent units concurrently on the one
session: import entities, transform groups and export targets.

These tests check the contract that makes that safe to observe: every
job stays in its caller's job group, results and warnings come back in
config order whatever order the units finish in, a unit that reads
another waits for it, and a failure surfaces as the first failing unit's
exception in config order after every unit has finished.
"""

import json
import os
import threading
import time
import warnings

import pytest
import yaml
from pyspark.errors import AnalysisException

from niamoto_spark.catalog import EntityRegistry
from niamoto_spark.cli import main
from niamoto_spark.pipeline import Pipeline

HERE = os.path.dirname(os.path.abspath(__file__))
CONFIG = os.path.join(os.path.dirname(HERE), "examples", "config")


def _load(name):
    with open(os.path.join(CONFIG, name)) as f:
        return yaml.safe_load(f)


# ---------------------------------------------------------------------------
# the helper on its own
# ---------------------------------------------------------------------------

def test_results_come_back_in_input_order(spark, tmp_path):
    pipe = Pipeline(spark, warehouse=str(tmp_path))
    n = 3 * spark.sparkContext.defaultParallelism
    threads = set()

    def unit(i):
        threads.add(threading.get_ident())
        time.sleep(0.01 * (n - i))     # later units finish first
        return i * i

    assert pipe._concurrently(list(range(n)), unit) == \
        [i * i for i in range(n)]
    assert threading.get_ident() not in threads
    assert pipe._concurrently([], unit) == []


def test_a_unit_starts_after_the_units_it_needs(spark, tmp_path):
    pipe = Pipeline(spark, warehouse=str(tmp_path))
    log = []

    def unit(u):
        log.append(("start", u))
        time.sleep(0.2 if u == "a" else 0.0)
        return u

    out = pipe._concurrently(
        ["a", "b", "c"], unit, needs=lambda i: [0] if i == 2 else [],
        done=lambda i, r: log.append(("done", r)))
    assert out == ["a", "b", "c"]
    assert log.index(("done", "a")) < log.index(("start", "c"))


def test_first_error_in_input_order_after_every_unit(spark, tmp_path):
    pipe = Pipeline(spark, warehouse=str(tmp_path))
    ran = []

    def unit(u):
        if u == "slow_bad":
            time.sleep(0.3)
            raise ValueError("first")
        if u == "fast_bad":
            raise KeyError("second")
        ran.append(u)
        return u

    with pytest.raises(ValueError, match="first"):
        pipe._concurrently(
            ["slow_bad", "fast_bad", "reads_slow_bad", "independent"],
            unit, needs=lambda i: [0] if i == 2 else [])
    # a unit whose input failed never starts; the others all run
    assert ran == ["independent"]


def test_units_keep_the_callers_job_group_and_tags(spark, tmp_path):
    pipe = Pipeline(spark, warehouse=str(tmp_path))
    sc = spark.sparkContext
    sc.setJobGroup("units-group", "units")
    spark.addTag("units-tag")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            seen = pipe._concurrently([0, 1], lambda _: (
                sc.getLocalProperty("spark.jobGroup.id"),
                "units-tag" in spark.getTags()))
    finally:
        spark.removeTag("units-tag")
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == [("units-group", True)] * 2


# ---------------------------------------------------------------------------
# the three phases on examples/config
# ---------------------------------------------------------------------------

def _marker_job(spark, group):
    """Id of one job run in ``group``; job ids grow with submission."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    spark.range(1).collect()
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_every_phase_job_stays_in_the_callers_job_group(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    phases = {
        "import": lambda: pipe.run_import(_load("import.yml"),
                                          base_dir=CONFIG),
        "transform": lambda: pipe.run_transform(_load("transform.yml")),
        "export": lambda: pipe.run_export(_load("export.yml"),
                                          out_dir=str(tmp_path / "out")),
    }
    groups = {p: f"phase-{p}-{id(pipe)}" for p in phases}
    try:
        first = _marker_job(spark, f"before-{id(pipe)}") + 1
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            for p, call in phases.items():
                sc.setJobGroup(groups[p], p)
                call()
        last = _marker_job(spark, f"after-{id(pipe)}") - 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not [w for w in caught
                if "Tags will not be inherited" in str(w.message)]
    jobs = {p: set(tracker.getJobIdsForGroup(g)) for p, g in groups.items()}
    assert all(jobs.values()), jobs
    assert set().union(*jobs.values()) == set(range(first, last + 1))
    assert max(jobs["import"]) < min(jobs["transform"])
    assert max(jobs["transform"]) < min(jobs["export"])


@pytest.fixture(scope="module")
def project(tmp_path_factory):
    """examples/config imported through the CLI, with a transform.yml of
    two groups that each hold a bad widget; the slower group comes
    first in config order."""
    cfg_dir = tmp_path_factory.mktemp("concurrent") / "config"
    cfg_dir.mkdir()
    for name in ("import.yml", "occurrences.csv", "plots.csv",
                 "provinces.gpkg"):
        os.symlink(os.path.join(CONFIG, name), cfg_dir / name)
    plots, taxons = _load("transform.yml")
    taxons["widgets_data"]["bad_taxon"] = {
        "plugin": "statistical_summary",
        "params": {"source": "occurrences", "field": "no_such_taxon_col"}}
    plots["widgets_data"]["bad_plot"] = {
        "plugin": "binary_counter",
        "params": {"source": "occurrences", "field": "no_such_plot_col"}}
    assert (taxons["group_by"], plots["group_by"]) == ("taxons", "plots")
    cfg = [taxons, plots]
    with open(cfg_dir / "transform.yml", "w") as f:
        yaml.safe_dump(cfg, f)
    wh = str(cfg_dir.parent / "wh")
    assert main(["import", "--config", str(cfg_dir), "--warehouse", wh]) == 0
    return cfg_dir, wh, cfg


def test_warnings_are_reported_in_config_order(spark, project, capsys):
    cfg_dir, wh, cfg = project
    registry = EntityRegistry.open(os.path.join(wh, "registry.json"))
    for _ in range(3):
        pipe = Pipeline(spark, warehouse=wh, registry=registry)
        out = pipe.run_transform(cfg)
        assert list(out) == ["taxons", "plots"]
        assert [w.split(" ")[1] for w in pipe.warnings] == \
            ["taxons.bad_taxon", "plots.bad_plot"]
    capsys.readouterr()
    for _ in range(2):
        assert main(["transform", "--config", str(cfg_dir),
                     "--warehouse", wh]) == 0
        stdout, stderr = capsys.readouterr()
        counts = json.loads(stdout.strip().splitlines()[-1])
        assert list(counts.items()) == [("taxons", 43), ("plots", 5)]
        lines = [ln for ln in stderr.splitlines()
                 if ln.startswith("warning: widget ")]
        assert [ln.split(" ")[2] for ln in lines] == \
            ["taxons.bad_taxon", "plots.bad_plot"]


def test_failing_groups_raise_the_first_in_config_order(spark, project):
    _, wh, cfg = project
    registry = EntityRegistry.open(os.path.join(wh, "registry.json"))
    slow_bad = dict(cfg[1], sources=[
        # schema inference runs jobs before the missing table is read
        {"name": "csv", "data": "occurrences.csv", "grouping": "plots",
         "relation": {"plugin": "direct_reference", "key": "plot_name",
                      "ref_key": "locality"}},
        {"name": "gone", "data": "no_such_table.parquet",
         "grouping": "plots",
         "relation": {"plugin": "direct_reference", "key": "plot_name",
                      "ref_key": "locality"}}])
    fast_bad = dict(cfg[0], group_by="no_such_entity")
    pipe = Pipeline(spark, warehouse=wh, registry=registry)
    with pytest.raises(AnalysisException, match="no_such_table"):
        pipe.run_transform([slow_bad, fast_bad], base_dir=CONFIG)


def test_failed_import_raises_and_writes_no_registry(spark, tmp_path):
    cfg = _load("import.yml")
    cfg["entities"]["spatial"]["broken"] = {
        "connector": {"type": "file", "format": "xyz", "path": "plots.csv"}}
    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="unsupported import format 'xyz'"):
        pipe.run_import(cfg, base_dir=CONFIG)
    assert not os.path.exists(tmp_path / "wh" / "registry.json")
