"""Pinned per-entity JSON of the aggregate widgets ``top_ranking``,
``time_series_analysis``, ``direct_attribute``, ``boolean_comparison``
and ``scatter_analysis``, top-level and as ``transform_chain`` steps.

Two groups run on the :func:`tests.test_chain_outputs.fixture_project`
project:

- ``plots`` over the fixture's occurrences (plot 3 has none);
- ``sites`` over :data:`SITE_OBS`, whose rows hold the edge cases:
  ties and NULL items, a float key joined to a hierarchy table, months
  0, 13 and NULL, a 1/32 share on the 0.005 rounding boundary, NULL
  booleans, NULL coordinates.  Site S2 has rows but no valid month, no
  non-NULL item and no complete (x, y) pair; S3 has no rows.

``tests/data/widget_outputs.json`` holds each widget's parsed doc per
entity; values compare type-exactly (``0`` differs from ``0.0``).
Regenerate deliberately with ``python -m tests.test_widget_outputs``.
"""

import json
import os

import pandas as pd
import pytest

from tests.test_chain_outputs import fixture_project, typed

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED = os.path.join(HERE, "data", "widget_outputs.json")

SITES = pd.DataFrame({
    "id_site": [1, 2, 3, 4],
    "site": ["S1", "S2", "S3", "S4"],
    "name": ["Alpha", "Beta", "Gamma", "Delta"],
    "area": [1.5, 2.345, 120.25, 7.0],
    "height": [65, 120, 30, 80],
})

FAMILIES = pd.DataFrame({
    "id": [1, 2, 3, 4],
    "name": ["Myrtaceae", "Araucariaceae", "Sapotaceae", "Unused"],
})
# family 9 has no hierarchy row: its key is shown as is
_FAMILY_IDS = {"Myrt": 1, "Arau": 2, "Sapo": 3, "Cuno": 9}
# cycled over S1's 45 rows: Myrt and Arau tie at 13, Sapo and Cuno at 6,
# 7 rows have no family
_CYCLE = ["Myrt", "Arau", None, "Sapo", "Arau", "Myrt", "Cuno"]


def _s1() -> list[dict]:
    # month 5: 32 rows, 1 flowering (3.125 %) and 3 fruiting (9.375 %);
    # month 6: 4 rows, none (0.0 %); month 7: one NULL flower and one
    # NULL fruit; months 0, 13 and NULL are outside the year
    rows = [(5, int(k == 0), int(k < 3)) for k in range(32)]
    rows += [(6, 0, 0)] * 4
    rows += [(7, 1, 1), (7, 0, 1), (7, None, 0), (7, 0, None)]
    rows += [(0, 1, 1), (0, 1, 0), (13, 1, 1), (None, 1, 1), (None, 0, 1)]
    out = []
    for i, (month, flower, fruit) in enumerate(rows):
        fam = _CYCLE[i % len(_CYCLE)]
        out.append({
            "site": "S1", "month": month, "flower": flower, "fruit": fruit,
            "family": fam, "family_id": _FAMILY_IDS.get(fam),
            "x": None if i % 5 == 4 else float(i),
            "y": None if i % 7 == 6 else i * 0.5,
            "alive": (True, False, None)[i % 3], "dense": i % 2,
            "stems": 50 + i})
    return out


def _s2() -> list[dict]:
    return [{"site": "S2", "month": m, "flower": 1, "fruit": 0,
             "family": None, "family_id": None,
             "x": x, "y": y, "alive": None, "dense": d, "stems": 10 + i}
            for i, (m, x, y, d) in enumerate([
                (0, 1.0, None, 0), (13, None, 2.0, 1), (None, 3.0, None, 0),
                (0, None, 4.0, 1), (None, 5.0, None, 1)])]


def _s4() -> list[dict]:
    return [{"site": "S4", "month": 12, "flower": fl, "fruit": 0,
             "family": "Sapo", "family_id": 3, "x": x, "y": y,
             "alive": True, "dense": 1, "stems": 200}
            for fl, x, y in ((1, 2.5, 1.0), (0, 2.5, 0.5), (0, 1.0, 3.0))]


SITE_OBS = pd.DataFrame(_s1() + _s2() + _s4())
SITE_OBS.insert(0, "id", range(1, len(SITE_OBS) + 1))

_OBS = {"source": "obs"}
_HIER = {**_OBS, "field": "family_id", "hierarchy_table": "families",
         "hierarchy_columns": {"id": "id", "name": "name"}, "count": 3}
_TS = {**_OBS, "fields": {"flower": "flower", "fruit": "fruit"},
       "time_field": "month"}

SITE_WIDGETS = {
    "top2": ("top_ranking", {**_OBS, "field": "family", "count": 2}),
    "top3": ("top_ranking", {**_OBS, "field": "family", "count": 3}),
    "top_all": ("top_ranking", {**_OBS, "field": "family"}),
    "top_hier": ("top_ranking", _HIER),
    "ts": ("time_series_analysis", _TS),
    "ts_labels": ("time_series_analysis", {
        **_TS, "fields": {"fl": "flower"},
        "labels": ["J", "F", "M", "A", "M", "J",
                   "J", "A", "S", "O", "N", "D"]}),
    "da_int": ("direct_attribute", {**_OBS, "field": "stems",
                                    "units": "stems"}),
    "da_int_clip": ("direct_attribute", {**_OBS, "field": "stems",
                                         "max_value": 60, "precision": 1}),
    "da_float": ("direct_attribute", {**_OBS, "field": "x",
                                      "precision": 2}),
    "da_float_raw": ("direct_attribute", {**_OBS, "field": "y"}),
    "da_str": ("direct_attribute", {**_OBS, "field": "family"}),
    "da_site_str": ("direct_attribute", {"source": "sites",
                                         "field": "name"}),
    "da_site_float": ("direct_attribute", {
        "source": "sites", "field": "area", "max_value": 100,
        "precision": 1, "units": "ha", "format": "number"}),
    "da_site_float_raw": ("direct_attribute", {"source": "sites",
                                               "field": "area"}),
    "da_site_int": ("direct_attribute", {"source": "sites",
                                         "field": "height",
                                         "max_value": 100, "units": "m"}),
    "bools_list": ("boolean_comparison", {**_OBS,
                                          "fields": ["dense", "alive"]}),
    "bools_dict": ("boolean_comparison", {**_OBS, "fields": {
        "Zeta": "alive", "Alive": "alive", "Dense": "dense"}}),
    "scatter": ("scatter_analysis", {**_OBS, "x_field": "x",
                                     "y_field": "y"}),
}

PLOT_WIDGETS = {
    "top": ("top_ranking", {"source": "occurrences", "field": "family",
                            "count": 2}),
    "ts": ("time_series_analysis", {
        "source": "occurrences", "time_field": "month",
        "fields": {"flower": "flower", "fruit": "fruit"}}),
    "da_dbh": ("direct_attribute", {"source": "occurrences",
                                    "field": "dbh", "max_value": 20}),
    "da_month": ("direct_attribute", {"source": "occurrences",
                                      "field": "month"}),
    "da_locality": ("direct_attribute", {"source": "plots",
                                         "field": "locality"}),
    "bools": ("boolean_comparison", {"source": "occurrences",
                                     "fields": ["fruit", "flower"]}),
    "scatter": ("scatter_analysis", {"source": "occurrences",
                                     "x_field": "month", "y_field": "dbh"}),
}


def _chain(widgets: dict) -> dict:
    """One transform_chain with every widget as a step."""
    return {"plugin": "transform_chain", "params": {"steps": [
        {"plugin": plugin, "output_key": key, "params": params}
        for key, (plugin, params) in widgets.items()]}}


def _group(group_by: str, source: dict, widgets: dict,
           chain_keys: list[str]) -> dict:
    data = {k: {"plugin": p, "params": params}
            for k, (p, params) in widgets.items()}
    data["chain"] = _chain({k: widgets[k] for k in chain_keys})
    return {"group_by": group_by, "sources": [source],
            "widgets_data": data}


GROUPS = [
    _group("sites", {"name": "obs", "data": "site_obs", "grouping": "sites",
                     "relation": {"plugin": "direct_reference",
                                  "key": "site", "ref_key": "site"}},
           SITE_WIDGETS, ["top_hier", "ts", "da_int_clip", "da_site_int",
                          "bools_dict", "scatter"]),
    _group("plots", {"name": "occurrences", "data": "occurrences",
                     "grouping": "plots",
                     "relation": {"plugin": "direct_reference",
                                  "key": "plot_name",
                                  "ref_key": "locality"}},
           PLOT_WIDGETS, ["top", "ts", "da_locality", "bools", "scatter"]),
]
GIDS = {"sites": "id_site", "plots": "id_plot"}


def widget_project(spark, base: str):
    """The chain fixture project plus the sites, their observations and
    the family hierarchy."""
    pipe = fixture_project(spark, base)
    for name, frame in (("sites", SITES), ("site_obs", SITE_OBS),
                        ("families", FAMILIES)):
        frame.to_csv(os.path.join(base, f"{name}.csv"), index=False)

    def entity(name, id_field):
        return {"connector": {"type": "file", "format": "csv",
                              "path": f"{name}.csv"},
                "schema": {"id_field": id_field}}

    pipe.run_import({"version": "1.0", "entities": {
        "datasets": {"site_obs": entity("site_obs", "id")},
        "references": {"sites": entity("sites", "id_site"),
                       "families": entity("families", "id")},
    }}, base_dir=base)
    return pipe


def widget_outputs(pipe) -> dict:
    """{group: {widget: {entity id: parsed JSON or None}}}."""
    out = {}
    for cfg in GROUPS:
        group, gid = cfg["group_by"], GIDS[cfg["group_by"]]
        rows = pipe.run_transform([cfg])[group].collect()
        out[group] = {
            name: {str(r[gid]): (json.loads(r[name])
                                 if r[name] is not None else None)
                   for r in rows}
            for name in cfg["widgets_data"]}
    return out


@pytest.fixture(scope="module")
def outputs(spark, tmp_path_factory):
    pipe = widget_project(spark, str(tmp_path_factory.mktemp("widgets")))
    got = widget_outputs(pipe)
    return got, list(pipe.warnings)


def test_no_widget_fails(outputs):
    _, warnings = outputs
    assert warnings == []


@pytest.mark.parametrize("group", [g["group_by"] for g in GROUPS])
def test_widget_outputs_match_pinned(outputs, group):
    got, _ = outputs
    with open(PINNED) as f:
        pinned = json.load(f)[group]
    assert sorted(got[group]) == sorted(pinned)
    for name, docs in pinned.items():
        assert sorted(got[group][name]) == sorted(docs), name
        for entity, doc in docs.items():
            assert typed(got[group][name][entity]) == typed(doc), \
                (name, entity)


if __name__ == "__main__":
    import tempfile

    from niamoto_spark.session import get_spark

    with tempfile.TemporaryDirectory() as tmp:
        pipe = widget_project(get_spark("widget_outputs",
                                        master="local[2]"), tmp)
        result = widget_outputs(pipe)
        assert not pipe.warnings, pipe.warnings
    with open(PINNED, "w") as f:       # one line per entity
        f.write("{\n" + ",\n".join(
            f" {json.dumps(group)}: {{\n" + ",\n".join(
                f"  {json.dumps(name)}: {{\n" + ",\n".join(
                    f"   {json.dumps(e)}: "
                    f"{json.dumps(doc, ensure_ascii=False)}"
                    for e, doc in sorted(docs.items())) + "\n  }"
                for name, docs in widgets.items()) + "\n }"
            for group, widgets in result.items()) + "\n}\n")
