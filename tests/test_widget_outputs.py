"""Pinned per-entity JSON of the aggregate widgets ``top_ranking``,
``time_series_analysis``, ``direct_attribute``, ``boolean_comparison``
and ``scatter_analysis``, of the eight ``class_object_*`` widgets, of
``multi_column_extractor`` and of ``geospatial_extractor``, top-level and
as ``transform_chain`` steps.

Three groups run on the :func:`tests.test_chain_outputs.fixture_project`
project:

- ``plots`` over the fixture's occurrences (plot 3 has none);
- ``sites`` over :data:`SITE_OBS`, whose rows hold the edge cases:
  ties and NULL items, a float key joined to a hierarchy table, months
  0, 13 and NULL, a 1/32 share on the 0.005 rounding boundary, NULL
  booleans, NULL coordinates.  Site S2 has rows but no valid month, no
  non-NULL item and no complete (x, y) pair; S3 has no rows;
- ``stations`` over the EAV stats :data:`STATION_STATS`, the one-row
  counts :data:`STATION_COUNTS` and the points :data:`STATION_POINTS`.
  The stats hold duplicate (class_object, class_name) rows, a NULL
  class_value, ``-1`` sizes and values, class names ``"1"`` and
  ``"1.0"`` that meet on one numeric axis, integral and fractional
  axes and zero totals.  ST3 has stats rows for another class_object
  only and a point row without a point; ST4 has no rows anywhere; ST5
  has all-zero stats and counts.

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


def _group(group_by: str, sources: list[dict], widgets: dict,
           chain_keys: list[str]) -> dict:
    data = {k: {"plugin": p, "params": params}
            for k, (p, params) in widgets.items()}
    data["chain"] = _chain({k: widgets[k] for k in chain_keys})
    return {"group_by": group_by, "sources": sources,
            "widgets_data": data}


def _stats(station: str, rows: list) -> list[dict]:
    return [{"station": station, "class_object": co, "class_name": cn,
             "class_value": v} for co, cn, v in rows]


# file order matters: an unsorted series follows it
STATION_STATS = pd.DataFrame(_stats("ST1", [
    ("dbh", "20", 2.0), ("dbh", "10", 1.5), ("dbh", "-1", 9.0),
    ("dbh", "1.0", 2.0), ("dbh", "30", -1.0), ("dbh", "20", 0.25),
    ("dbh", "1", 1.0), ("dbh", "40", None), ("dbh", "30", 0.5),
    ("cover", "forest", 40.0), ("cover", "out", 20.0),
    ("cover", "forest", 10.0), ("cover", "mangrove", 5.0),
    ("elev_min", "m", 100.0), ("elev_max", "m", None),
    ("tot", "1", 4.0), ("tot", "1.0", 4.0), ("tot", "2", 0.0),
    ("tot", "3", 8.0),
    ("sub", "1", 2.0), ("sub", "2", 0.0), ("sub", "3", 2.0),
    ("sub", "4", 1.0), ("sub", "1.0", 0.5),
    ("s1", "0.5", 0.25), ("s1", "1.5", 0.5), ("s2", "0.5", 0.125),
]) + _stats("ST2", [
    ("dbh", "10", 4.0), ("dbh", "12.5", 1.0), ("cover", "out", 3.0),
    ("elev_min", "m", 5.0), ("elev_max", "m", 50.5), ("tot", "2.5", 2.0),
]) + _stats("ST3", [
    ("misc", "x", 1.0), ("misc", "y", 2.0),
]) + _stats("ST5", [
    ("dbh", "10", 0.0), ("cover", "forest", 0.0), ("tot", "1", 0.0),
    ("sub", "1", 0.0), ("s1", "1", 0.0),
]))

# one row per station: multi_column_extractor reads the first row
STATION_COUNTS = pd.DataFrame({"station": ["ST1", "ST2", "ST5"],
                               "a": [3, 7, 0], "b": [5, None, 0],
                               "c": [6, 2, 0]})
STATION_COUNTS["b"] = STATION_COUNTS["b"].astype("Int64")

_PTS = ["POINT (166.5 -22.1)", "POINT (166.9 -22.3)",
        "POINT (166.5 -22.1)", None, "POINT (165.0 -21.5)", None]
STATION_POINTS = pd.DataFrame({
    "station": ["ST1", "ST1", "ST1", "ST1", "ST2", "ST3"],
    "geo_pt": _PTS, "geometry": _PTS,
    "species": ["a", "b", "c", "d", "e", "f"],
    "height": [10, 12, 15, 3, 7, 1]})

STATIONS = pd.DataFrame({"id_station": [1, 2, 3, 4, 5],
                         "code": ["ST1", "ST2", "ST3", "ST4", "ST5"]})

_ST = {"source": "stats"}
_SERIES = "class_object_series_extractor"
STATION_WIDGETS = {
    "series": (_SERIES, {
        **_ST, "class_object": "dbh",
        "size_field": {"input": "class_name", "output": "sizes",
                       "numeric": True, "sort": True},
        "value_field": {"input": "class_value", "output": "values",
                        "numeric": True}}),
    "series_order": (_SERIES, {**_ST, "class_object": "dbh",
                               "size_field": {"numeric": True}}),
    "series_str": (_SERIES, {**_ST, "class_object": "dbh",
                             "size_field": {"output": "names",
                                            "sort": True}}),
    "fields": ("class_object_field_aggregator", {**_ST, "fields": [
        {"source": "stats", "class_object": "dbh", "target": "dbh_total",
         "units": "cm"},
        {"source": "stats", "class_object": ["elev_min", "elev_max"],
         "target": "elevation", "format": "range"},
        {"source": "stats", "class_object": "misc", "target": "misc"}]}),
    "categories": ("class_object_categories_extractor", {
        **_ST, "class_object": "cover",
        "categories_order": ["out", "mangrove", "forest", "none"]}),
    "binary": ("class_object_binary_aggregator", {**_ST, "groups": [
        {"label": "cover", "field": "cover", "classes": ["forest", "open"],
         "class_mapping": {"forest": "forest", "mangrove": "forest",
                           "out": "open"}},
        {"label": "subs", "field": "sub", "classes": ["1", "2", "1.0"]}]}),
    "mapper": ("class_object_categories_mapper", {**_ST, "categories": {
        "structure": {"class_object": "dbh",
                      "mapping": {"small": "10", "mid": "20", "one": "1"}},
        "land": {"class_object": "cover",
                 "mapping": {"f": "forest", "o": "out"}}}}),
    "ratio": ("class_object_series_ratio_aggregator", {
        **_ST, "distributions": {
            "share": {"total": "tot", "subset": "sub"},
            "rest": {"total": "tot", "subset": "sub",
                     "complement_mode": "difference"},
            "fine": {"total": "s1", "subset": "s2"}}}),
    "matrix": ("class_object_series_matrix_extractor", {
        **_ST, "axis": {"field": "class_name"},
        "series": [
            {"name": "s1_pct", "class_object": "s1", "scale": 100},
            {"name": "s2_rest", "class_object": "s2", "scale": 100,
             "complement": True}]}),
    "by_axis": ("class_object_series_by_axis_extractor", {
        **_ST, "axis": {"output_field": "levels"},
        "types": {"Subset": "sub", "Total": "tot"}}),
    "columns": ("multi_column_extractor", {
        "source": "counts", "columns": ["a", "b", "ab", "ab2", "missing"],
        "derived_columns": [{"name": "ab", "formula": "a + b"},
                            {"name": "ab2", "formula": "ab * 2 - c / 4"}],
        "include_percentages": True, "create_named_fields": True,
        "field_names": ["fa", "fb"]}),
    "columns_labels": ("multi_column_extractor", {
        "source": "counts", "columns": ["c", "a"], "labels": ["C", "A"]}),
    "geo": ("geospatial_extractor", {"source": "points",
                                     "field": "geo_pt"}),
    "geo_grouped": ("geospatial_extractor", {
        "source": "points", "field": "geometry",
        "group_by_coordinates": True, "properties": ["species", "nope"]}),
    "geo_grouped_empty": ("geospatial_extractor", {
        "source": "points", "field": "geo_pt",
        "group_by_coordinates": True}),
}


def _by_station(name: str, data: str, plugin: str, **relation) -> dict:
    return {"name": name, "data": data, "grouping": "stations",
            "relation": {"plugin": plugin, "key": "station", **relation}}


GROUPS = [
    _group("sites", [{"name": "obs", "data": "site_obs", "grouping": "sites",
                      "relation": {"plugin": "direct_reference",
                                   "key": "site", "ref_key": "site"}}],
           SITE_WIDGETS, ["top_hier", "ts", "da_int_clip", "da_site_int",
                          "bools_dict", "scatter"]),
    _group("plots", [{"name": "occurrences", "data": "occurrences",
                      "grouping": "plots",
                      "relation": {"plugin": "direct_reference",
                                   "key": "plot_name",
                                   "ref_key": "locality"}}],
           PLOT_WIDGETS, ["top", "ts", "da_locality", "bools", "scatter"]),
    # CSV sources: their file order is the reference's row order
    _group("stations", [
        _by_station("stats", "station_stats.csv", "stats_loader",
                    match_field="station", ref_field="code"),
        _by_station("counts", "station_counts.csv", "direct_reference",
                    ref_key="code"),
        _by_station("points", "station_points.csv", "direct_reference",
                    ref_key="code")],
        STATION_WIDGETS, list(STATION_WIDGETS)),
]
GIDS = {"sites": "id_site", "plots": "id_plot", "stations": "id_station"}


def widget_project(spark, base: str):
    """The chain fixture project plus the sites, their observations and
    the family hierarchy, and the stations with their stats, counts and
    points files."""
    pipe = fixture_project(spark, base)
    for name, frame in (("sites", SITES), ("site_obs", SITE_OBS),
                        ("families", FAMILIES), ("stations", STATIONS),
                        ("station_stats", STATION_STATS),
                        ("station_counts", STATION_COUNTS),
                        ("station_points", STATION_POINTS)):
        frame.to_csv(os.path.join(base, f"{name}.csv"), index=False)

    def entity(name, id_field):
        return {"connector": {"type": "file", "format": "csv",
                              "path": f"{name}.csv"},
                "schema": {"id_field": id_field}}

    pipe.run_import({"version": "1.0", "entities": {
        "datasets": {"site_obs": entity("site_obs", "id")},
        "references": {"sites": entity("sites", "id_site"),
                       "families": entity("families", "id"),
                       "stations": entity("stations", "id_station")},
    }}, base_dir=base)
    return pipe


def widget_outputs(pipe, base: str) -> dict:
    """{group: {widget: {entity id: parsed JSON or None}}}; file sources
    are read from ``base``."""
    out = {}
    for cfg in GROUPS:
        group, gid = cfg["group_by"], GIDS[cfg["group_by"]]
        rows = pipe.run_transform([cfg], base_dir=base)[group].collect()
        out[group] = {
            name: {str(r[gid]): (json.loads(r[name])
                                 if r[name] is not None else None)
                   for r in rows}
            for name in cfg["widgets_data"]}
    return out


@pytest.fixture(scope="module")
def outputs(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("widgets"))
    pipe = widget_project(spark, base)
    got = widget_outputs(pipe, base)
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
        result = widget_outputs(pipe, tmp)
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
