"""Fused per-entity aggregate widgets.

statistical_summary, binned_distribution, categorical_distribution,
binary_counter and field_aggregator are computed as expressions of one
``groupBy(gid).agg(...)`` per source (``refshapes.kernel``).  These tests
check each widget's JSON against values computed here in plain Python
with the reference plugins' semantics, the JVM rounding against
CPython's ``round(x, 2)``, the plan shape of the ``examples/config``
plots group, and that a bad widget is reported without sinking its
group.
"""

import json
import math
import os
import random
import statistics

import pandas as pd
import pyarrow as pa
import pytest
import yaml
from pyspark.sql import functions as F

from niamoto_spark.cli import main
from niamoto_spark.functions import py_round2
from niamoto_spark.pipeline import Pipeline

HERE = os.path.dirname(os.path.abspath(__file__))
CONFIG = os.path.join(os.path.dirname(HERE), "examples", "config")


# ---------------------------------------------------------------------------
# py_round2 == CPython round(x, 2)
# ---------------------------------------------------------------------------

def _round_cases() -> list[float]:
    vals = [0.0, -0.0, math.nan, math.inf, -math.inf, 5e-324, -5e-324,
            2.2250738585072014e-308, 1e300, -1e300, 1.095, 0.015, 2.675]
    # every midpoint (k + 0.5) / 100 and both of its float neighbours
    for k in range(-20000, 20000):
        m = (k + 0.5) / 100
        vals += [m, math.nextafter(m, math.inf), math.nextafter(m, -math.inf)]
    rng = random.Random(11)
    vals += [rng.choice((-1, 1)) * 10 ** rng.uniform(-8, 8)
             for _ in range(30000)]
    return vals


def test_py_round2_matches_cpython_round(spark):
    vals = _round_cases()
    assert len(vals) >= 100_000
    df = spark.createDataFrame(pa.table({"x": pa.array(vals, pa.float64())}))
    got = [r[0] for r in df.select(py_round2(F.col("x"))).collect()]
    bad = []
    for v, g in zip(vals, got):
        want = round(v, 2)
        same = math.isnan(g) if math.isnan(want) else (
            g == want and math.copysign(1, g) == math.copysign(1, want))
        if not same:
            bad.append((v, want, g))
    assert not bad, bad[:5]
    assert df.select(py_round2(F.lit(None).cast("double"))).first()[0] \
        is None


# ---------------------------------------------------------------------------
# fused widget JSON vs plain-Python reference semantics
# ---------------------------------------------------------------------------

OCC = pd.DataFrame({
    "id": range(1, 11),
    "plot_name": ["P1"] * 6 + ["P2"] * 4,
    "dbh": [10.0, 20.0, 30.0, 40.0, 1.095, 12.5, 15.0, 25.0, None, 8.0],
    "cat_int": [1, 2, 2, 3, 3, 3, 1, 1, 2, 9],
    "cat_str": ["a", "b", "b", "a", "z", "q", "a", "a", "b", "b"],
    "flag": [1, 0, 1, 1, None, 0, 0, 0, 1, 2],
})
# P3 has no occurrences: a zero-occurrence entity
PLOTS = pd.DataFrame({"id_plot": [1, 2, 3], "plot": ["One", "Two", "Three"],
                      "locality": ["P1", "P2", "P3"],
                      "elevation": [120.0, 455.5, 30.25]})

BINS = [0, 10, 20, 50]
WIDGETS = {
    "stats": {"plugin": "statistical_summary", "params": {
        "source": "occurrences", "field": "dbh",
        "stats": ["min", "max", "median", "std", "count"],
        "units": "cm", "max_value": 30}},
    "stats_default": {"plugin": "statistical_summary", "params": {
        "source": "occurrences", "field": "dbh"}},
    "bins": {"plugin": "binned_distribution", "params": {
        "source": "occurrences", "field": "dbh", "bins": BINS,
        "labels": ["small", "mid", "big"], "include_percentages": True}},
    "cat_int": {"plugin": "categorical_distribution", "params": {
        "source": "occurrences", "field": "cat_int",
        "categories": [1, 2, 3, 4], "include_percentages": True}},
    "cat_str": {"plugin": "categorical_distribution", "params": {
        "source": "occurrences", "field": "cat_str",
        "categories": ["a", "b", "z"], "labels": ["A", "B", "Z"],
        "include_percentages": True}},
    "flags": {"plugin": "binary_counter", "params": {
        "source": "occurrences", "field": "flag", "true_label": "yes",
        "false_label": "no", "include_percentages": True}},
    "info": {"plugin": "field_aggregator", "params": {"fields": [
        {"source": "plots", "field": "plot", "target": "name"},
        {"source": "occurrences", "field": "id", "target": "n",
         "transformation": "count"},
        {"source": "occurrences", "field": "dbh", "target": "mean_dbh",
         "transformation": "mean", "units": "cm"},
        {"source": "plots", "field": "elevation", "target": "elevation",
         "transformation": "max"},
    ]}},
}


def _pcts(counts, zero):
    total = sum(counts)
    if total == 0:
        return [zero] * len(counts)
    return [round(c * 100.0 / total, 2) for c in counts]


def _expected(plot) -> dict:
    occ = OCC[OCC.plot_name == plot.locality]
    dbh = [float(x) for x in occ.dbh.dropna()]
    out = {}
    if len(occ):
        hi = round(max(dbh), 2)
        out["stats"] = {
            "min": round(min(dbh), 2), "max": hi,
            "median": round(statistics.median(dbh), 2),
            "std": round(statistics.stdev(dbh), 2),
            "count": float(len(dbh)), "units": "cm",
            "max_value": hi if hi > 30 else 30}
        out["stats_default"] = {
            "min": round(min(dbh), 2),
            "mean": round(sum(dbh) / len(dbh), 2),
            "max": hi, "units": "", "max_value": 100}
        # np.histogram bins: half-open, the last one closed
        last = len(BINS) - 2
        counts = [sum(1 for x in dbh
                      if lo <= x and (x < up or (i == last and x == up)))
                  for i, (lo, up) in enumerate(zip(BINS, BINS[1:]))]
        out["bins"] = {"bins": [float(b) for b in BINS], "counts": counts,
                       "labels": ["small", "mid", "big"],
                       "percentages": _pcts(counts, 0)}
        counts = [int((occ.cat_int == c).sum()) for c in (1, 2, 3, 4)]
        out["cat_int"] = {"categories": [1, 2, 3, 4], "counts": counts,
                          "labels": ["1", "2", "3", "4"],
                          "percentages": _pcts(counts, 0.0)}
        counts = [int((occ.cat_str == c).sum()) for c in ("a", "b", "z")]
        out["cat_str"] = {"categories": ["a", "b", "z"], "counts": counts,
                          "labels": ["A", "B", "Z"],
                          "percentages": _pcts(counts, 0.0)}
        t, f = int((occ.flag == 1).sum()), int((occ.flag == 0).sum())
        yes, no = _pcts([t, f], 0.0)
        out["flags"] = {"yes": t, "no": f, "yes_percent": yes,
                        "no_percent": no}
        mean_dbh = round(sum(dbh) / len(dbh), 2)
    else:
        # the reference plugins' results on an empty frame
        out["stats"] = {"min": None, "max": None, "median": None,
                        "std": None, "count": None, "units": "cm",
                        "max_value": 30}
        out["stats_default"] = {"min": None, "mean": None, "max": None,
                                "units": "", "max_value": 100}
        out["bins"] = {"bins": [float(b) for b in BINS], "counts": [0] * 3,
                       "labels": ["small", "mid", "big"],
                       "percentages": [0] * 3}
        out["cat_int"] = {"categories": [1, 2, 3, 4], "counts": [0] * 4,
                          "labels": ["1", "2", "3", "4"],
                          "percentages": [0.0] * 4}
        out["cat_str"] = {"categories": ["a", "b", "z"], "counts": [0] * 3,
                          "labels": ["A", "B", "Z"],
                          "percentages": [0.0] * 3}
        out["flags"] = {"yes": 0, "no": 0, "yes_percent": 0.0,
                        "no_percent": 0.0}
        mean_dbh = None
    out["info"] = {"name": {"value": plot.plot},
                   "n": {"value": len(occ)},
                   "mean_dbh": {"value": mean_dbh, "units": "cm"},
                   "elevation": {"value": float(plot.elevation)}}
    return out


def _typed(v):
    """JSON value with its python types, so 3 and 3.0 differ."""
    if isinstance(v, dict):
        return {k: _typed(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_typed(x) for x in v]
    return (type(v).__name__, v)


@pytest.fixture(scope="module")
def project(tmp_path_factory, spark):
    base = tmp_path_factory.mktemp("fused")
    OCC.to_csv(base / "occurrences.csv", index=False)
    PLOTS.to_csv(base / "plots.csv", index=False)
    pipe = Pipeline(spark, warehouse=str(base / "wh"))
    pipe.run_import({"version": "1.0", "entities": {
        "datasets": {"occurrences": {
            "connector": {"type": "file", "format": "csv",
                          "path": "occurrences.csv"},
            "schema": {"id_field": "id"}}},
        "references": {"plots": {
            "connector": {"type": "file", "format": "csv",
                          "path": "plots.csv"},
            "schema": {"id_field": "id_plot"}}},
    }}, base_dir=str(base))
    return pipe


def _cfg(widgets):
    return [{"group_by": "plots",
             "sources": [{"name": "occurrences", "data": "occurrences",
                          "grouping": "plots",
                          "relation": {"plugin": "direct_reference",
                                       "key": "plot_name",
                                       "ref_key": "locality"}}],
             "widgets_data": widgets}]


def _docs(df, gid="id_plot"):
    return {r[gid]: {k: json.loads(v) for k, v in r.asDict().items()
                     if k != gid} for r in df.collect()}


def test_fused_widgets_match_reference_semantics(project):
    out = project.run_transform(_cfg(WIDGETS))["plots"]
    assert not project.warnings
    assert out.columns == ["id_plot", *WIDGETS]
    docs = _docs(out)
    for plot in PLOTS.itertuples(index=False):
        want = _expected(plot)
        for name in WIDGETS:
            assert _typed(docs[plot.id_plot][name]) == _typed(want[name]), \
                (plot.locality, name)


def test_only_ids_and_incremental_keep_other_entities(project, spark):
    cfg = _cfg(WIDGETS)
    full = _docs(project.run_transform(cfg)["plots"])
    part = project.run_transform(cfg, mode="incremental", only_ids=[2, 3])
    assert _docs(part["plots"]) == {2: full[2], 3: full[3]}
    table = spark.read.parquet(project.group_table("plots"))
    assert _docs(table) == full


def test_bad_widget_is_a_warning_not_a_failed_group(project):
    before = len(project.warnings)
    widgets = {"good": WIDGETS["stats_default"],
               "bad": {"plugin": "statistical_summary", "params": {
                   "source": "occurrences", "field": "no_such_column"}},
               "flags": WIDGETS["flags"]}
    out = project.run_transform(_cfg(widgets))["plots"]
    assert out.columns == ["id_plot", "good", "flags"]
    new = project.warnings[before:]
    assert len(new) == 1 and "plots.bad" in new[0]


# ---------------------------------------------------------------------------
# examples/config: plan shape and CLI warnings
# ---------------------------------------------------------------------------

def test_plots_group_plan_is_fused(spark, tmp_path):
    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    with open(os.path.join(CONFIG, "import.yml")) as f:
        pipe.run_import(yaml.safe_load(f), base_dir=CONFIG)
    with open(os.path.join(CONFIG, "transform.yml")) as f:
        cfg = yaml.safe_load(f)
    plots = pipe.run_transform(cfg, group_by="plots")["plots"]
    plan = plots._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "Scan ExistingRDD"):
        assert node not in plan, node
    assert plan.count("FileScan parquet") <= 8
    assert plan.count("Exchange") <= 11


def test_cli_prints_widget_warnings_and_keeps_other_widgets(
        spark, tmp_path, capsys):
    cfg_dir = tmp_path / "config"
    cfg_dir.mkdir()
    for name in ("import.yml", "occurrences.csv", "plots.csv",
                 "provinces.gpkg"):
        os.symlink(os.path.join(CONFIG, name), cfg_dir / name)
    widgets = {
        "dbh_summary": {"plugin": "statistical_summary", "params": {
            "source": "occurrences", "field": "dbh"}},
        "broken": {"plugin": "binned_distribution", "params": {
            "source": "occurrences", "field": "no_such_column",
            "bins": [0, 10, 100]}},
        "um_counter": {"plugin": "binary_counter", "params": {
            "source": "occurrences", "field": "in_um"}},
    }
    with open(cfg_dir / "transform.yml", "w") as f:
        yaml.safe_dump([{
            "group_by": "plots",
            "sources": [{"name": "occurrences", "data": "occurrences",
                         "grouping": "plots",
                         "relation": {"plugin": "direct_reference",
                                      "key": "plot_name",
                                      "ref_key": "locality"}}],
            "widgets_data": widgets}], f)
    wh = str(tmp_path / "wh")
    assert main(["import", "--config", str(cfg_dir), "--warehouse", wh]) == 0
    capsys.readouterr()
    assert main(["transform", "--config", str(cfg_dir),
                 "--warehouse", wh]) == 0
    out, err = capsys.readouterr()
    assert json.loads(out.strip().splitlines()[-1]) == {"plots": 5}
    assert "warning: widget plots.broken (binned_distribution)" in err
    assert "no_such_column" in err
    table = spark.read.parquet(os.path.join(wh, "plots_results.parquet"))
    assert table.columns == ["id_plot", "dbh_summary", "um_counter"]
    assert table.where(F.col("dbh_summary").isNull()
                       | F.col("um_counter").isNull()).count() == 0
