"""Pinned per-entity ``transform_chain`` JSON on a small fixture project.

``tests/data/chain_outputs.json`` holds, for every chain widget below,
each plot's parsed chain envelope.  Plot 3 has no occurrences, so its
value is the empty-entity envelope (or null).  Values compare
type-exactly: ``0`` and ``0.0`` are different answers.

Regenerate deliberately with ``python -m tests.test_chain_outputs``.
"""

import json
import os

import pandas as pd
import pytest

from niamoto_spark.pipeline import Pipeline

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED = os.path.join(HERE, "data", "chain_outputs.json")

# P1 is observed every month, P2 in months 2-7 only (absent months take
# the int [0] * 12 fill), P3 never.
_P1 = [(m, int(m in (3, 4, 5, 9, 10) or (m == 6 and k == 0)),
        int(m in (6, 7) and k == 1)) for m in range(1, 13) for k in (0, 1)]
_P2 = [(m, int(m in (2, 3, 6)), int(m == 4 or (m == 5 and k == 0)))
       for m in range(2, 8) for k in (0, 1, 2)]
OCCURRENCES = pd.DataFrame(
    [{"plot_name": p, "month": m, "flower": fl, "fruit": fr}
     for p, rows in (("P1", _P1), ("P2", _P2)) for m, fl, fr in rows])
OCCURRENCES.insert(0, "id", range(1, len(OCCURRENCES) + 1))
OCCURRENCES["family"] = [("Myrtaceae", "Araucariaceae", "Sapotaceae")[i % 3]
                         for i in range(len(OCCURRENCES))]
OCCURRENCES["dbh"] = [10.0 + (i * 7) % 23 for i in range(len(OCCURRENCES))]

PLOTS = pd.DataFrame({"id_plot": [1, 2, 3], "locality": ["P1", "P2", "P3"]})

TS = {"plugin": "time_series_analysis", "output_key": "raw",
      "params": {"source": "occurrences",
                 "fields": {"flower": "flower", "fruit": "fruit"},
                 "time_field": "month",
                 "labels": ["J", "F", "M", "A", "M", "J",
                            "J", "A", "S", "O", "N", "D"]}}


def _cc(key: str, **params) -> dict:
    return {"plugin": "custom_calculator", "output_key": key,
            "params": params}


CHAINS = {
    "phenology": [
        TS,
        _cc("peaks", operation="peak_detection",
            time_series="@raw.month_data", threshold=30),
        _cc("periods", operation="active_periods",
            time_series="@raw.month_data", labels="@raw.labels"),
        _cc("merged", operation="custom_formula",
            formula="{'raw': raw, 'peaks': peaks, 'periods': periods}",
            variables={"raw": "@raw", "peaks": "@peaks",
                       "periods": "@periods"}),
    ],
    "evenness": [
        TS,
        _cc("ent", operation="shannon_entropy",
            probabilities="@raw.month_data.flower"),
        _cc("even", operation="pielou_evenness",
            shannon_entropy="@ent.value", max_bins=12),
    ],
    "arrays": [
        TS,
        _cc("h1", operation="sum_array_slice",
            array="@raw.month_data.fruit", start_index=0, end_index=6),
        _cc("norm", operation="normalize_array",
            input="@raw.month_data.flower", method="percentage"),
    ],
    "dbh": [
        {"plugin": "statistical_summary", "output_key": "stats",
         "params": {"source": "occurrences", "field": "dbh"}},
        {"plugin": "direct_attribute", "output_key": "mean_only",
         "params": {"source": "@stats", "field": "mean", "precision": 1}},
    ],
    "families": [
        {"plugin": "top_ranking", "output_key": "top",
         "params": {"source": "occurrences", "field": "family",
                    "count": 2}},
    ],
}


def fixture_project(spark, base: str) -> Pipeline:
    """Import the fixture occurrences and plots into ``base``."""
    OCCURRENCES.to_csv(os.path.join(base, "occurrences.csv"), index=False)
    PLOTS.to_csv(os.path.join(base, "plots.csv"), index=False)
    pipe = Pipeline(spark, warehouse=os.path.join(base, "warehouse"))
    pipe.run_import({"version": "1.0", "entities": {
        "datasets": {"occurrences": {
            "connector": {"type": "file", "format": "csv",
                          "path": "occurrences.csv"},
            "schema": {"id_field": "id"}}},
        "references": {"plots": {
            "connector": {"type": "file", "format": "csv",
                          "path": "plots.csv"},
            "schema": {"id_field": "id_plot"}}},
    }}, base_dir=base)
    return pipe


def chain_group(chains: dict) -> list:
    """A plots group config with one transform_chain widget per chain."""
    return [{
        "group_by": "plots",
        "sources": [{
            "name": "occurrences", "data": "occurrences",
            "grouping": "plots",
            "relation": {"plugin": "direct_reference",
                         "key": "plot_name", "ref_key": "locality"}}],
        "widgets_data": {
            name: {"plugin": "transform_chain", "params": {"steps": steps}}
            for name, steps in chains.items()},
    }]


def chain_outputs(pipe: Pipeline, chains: dict) -> dict:
    """{widget: {plot id: parsed chain JSON or None}}."""
    out = pipe.run_transform(chain_group(chains))["plots"].collect()
    return {name: {str(r["id_plot"]): (json.loads(r[name])
                                       if r[name] is not None else None)
                   for r in out}
            for name in chains}


def typed(doc) -> str:
    """Canonical text of a parsed JSON value: equal iff the values are
    equal with the same JSON types (``0`` differs from ``0.0``)."""
    return json.dumps(doc, sort_keys=True, ensure_ascii=False)


@pytest.fixture(scope="module")
def project(spark, tmp_path_factory):
    return fixture_project(spark, str(tmp_path_factory.mktemp("chains")))


def test_chain_outputs_match_pinned(project):
    got = chain_outputs(project, CHAINS)
    assert not project.warnings
    with open(PINNED) as f:
        pinned = json.load(f)
    assert sorted(got) == sorted(pinned)
    for name in CHAINS:
        for plot in ("1", "2", "3"):
            assert typed(got[name][plot]) == typed(pinned[name][plot]), \
                (name, plot)


def test_custom_formula_resolves_subpath_refs(project):
    """``@raw.month_data`` names the ts doc's month_data, for entities
    with data as for the empty-entity envelope."""
    got = chain_outputs(project, {"months": [
        TS, _cc("merged", operation="custom_formula",
                formula="{'months': md}",
                variables={"md": "@raw.month_data"})]})["months"]
    for plot in ("1", "2", "3"):
        doc = got[plot]
        want = typed(doc["raw"]["month_data"])
        assert typed(doc["merged"]["value"]["months"]) == want, plot
        assert typed(doc["merged"]["variables"]["md"]) == want, plot


def test_labels_ref_reads_the_ts_doc(project):
    """``@raw.labels`` reads the ts step's output doc, so a ts step that
    omits ``labels`` lends the period labels its default month names."""
    ts = {**TS, "params": {k: v for k, v in TS["params"].items()
                           if k != "labels"}}
    got = chain_outputs(project, {"periods": [
        ts, _cc("periods", operation="active_periods",
                time_series="@raw.month_data", labels="@raw.labels")]})
    doc = got["periods"]["1"]
    labels = doc["raw"]["labels"]
    assert labels[2] == "Mar"
    periods = doc["periods"]["value"]["flower"]["periods"]
    assert periods
    for p in periods:
        assert (p["start_label"], p["end_label"]) == \
            (labels[p["start"]], labels[p["end"]])


def test_one_python_stage_per_calculating_chain(project):
    """A chain plans one mapInPandas for all of its custom_calculator
    steps, and none when it has no such step."""
    def plan(chains):
        out = project.run_transform(chain_group(chains))["plots"]
        return out._jdf.queryExecution().executedPlan().toString()

    assert "MapInPandas" not in plan(
        {k: CHAINS[k] for k in ("dbh", "families")})
    assert plan({"phenology": CHAINS["phenology"]}) \
        .count("MapInPandas ") == 1


if __name__ == "__main__":
    import tempfile

    from niamoto_spark.session import get_spark

    with tempfile.TemporaryDirectory() as tmp:
        result = chain_outputs(
            fixture_project(get_spark("chain_outputs", master="local[2]"),
                            tmp), CHAINS)
    with open(PINNED, "w") as f:       # one line per plot
        f.write("{\n" + ",\n".join(
            f" {json.dumps(name)}: {{\n" + ",\n".join(
                f"  {json.dumps(plot)}: {json.dumps(doc, ensure_ascii=False)}"
                for plot, doc in sorted(plots.items())) + "\n }"
            for name, plots in result.items()) + "\n}\n")
