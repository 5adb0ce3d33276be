"""The transform run with the reference's relation and widget params.

- ``join_table`` with the reference's ``join_table:`` + ``keys:``
  (reference loaders/join_table.py:123-176) over a many-to-many bridge.
- Each ``class_object_*`` widget with the reference's params, through
  ``run_transform`` on one EAV stats fixture.  The expected docs are
  worked out by hand from :data:`STATS`.
- The same widgets as ``transform_chain`` steps: the chain envelope holds
  the top-level doc under the step's ``output_key``.
"""

import json

import pandas as pd
import pytest

from niamoto_spark.pipeline import Pipeline

PLOTS = pd.DataFrame({
    "id_plot": [1, 2, 3],
    "locality": ["P1", "P2", "P3"],
    "location": ["POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))",
                 "POLYGON ((2 2, 2 3, 3 3, 2 2))", None],
})

# id_plot here collides with the group id: the loader keeps it aside
OCCURRENCES = pd.DataFrame({
    "id": [1, 2, 3, 4, 5, 6],
    "id_plot": [9, 9, 9, 9, 9, 9],
    "dbh": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0],
})

# many-to-many: occurrence 1 sits in plots 1 and 2, plot 1 holds 1-3,
# plot 2 holds 1, 4 and 5; occurrence 6 links to a plot that does not
# exist; plot 3 has no link
LINKS = pd.DataFrame({
    "link_occ": [1, 2, 3, 1, 4, 5, 6],
    "link_plot": [1, 1, 1, 2, 2, 2, 7],
})

_P1 = [
    ("dbh", "10", 5.0), ("dbh", "20", 3.0), ("dbh", "20", 4.0),
    ("dbh", "30", 1.0),
    ("cover", "forest", 70.0), ("cover", "out", 30.0),
    ("elev_min", "m", 100.0), ("elev_max", "m", 400.0),
    ("sub", "1", 2.0), ("sub", "2", 1.0),
    ("tot", "1", 4.0), ("tot", "2", 4.0), ("tot", "3", 0.0),
    ("s1", "100", 0.25), ("s1", "200", 0.5),
    ("s2", "100", 0.125), ("s2", "200", 0.375),
]
_P2 = [
    ("dbh", "10", 2.0), ("dbh", "20", 1.0), ("dbh", "30", 6.0),
    ("cover", "forest", 10.0),
    ("elev_min", "m", 5.0), ("elev_max", "m", 50.5),
    ("sub", "1", 3.0), ("tot", "1", 6.0),
    ("s1", "100", 1.0), ("s2", "100", 0.5),
]
# one row per plot, with a point
COUNTS = pd.DataFrame({"plot_id": ["P1", "P2"], "a": [3, 0], "b": [5, 0],
                       "geo_pt": ["POINT (166.5 -22.1)",
                                  "POINT (165.0 -21.5)"]})

# P3 has no stats rows
STATS = pd.DataFrame(
    [{"plot_id": p, "class_object": co, "class_name": cn, "class_value": v}
     for p, rows in (("P1", _P1), ("P2", _P2)) for co, cn, v in rows])

SRC = {"source": "plot_stats"}

# (plugin, reference params, {id_plot: expected doc})
CLASS_OBJECTS = {
    # duplicate (class_object, class_name) rows are summed
    # (class_objects/utils.py:14); numeric + sorted axis
    # (series_extractor.py:120-205); a data-less entity gets empty lists
    "series": ("class_object_series_extractor", {
        **SRC, "class_object": "dbh",
        "size_field": {"input": "class_name", "output": "sizes",
                       "numeric": True, "sort": True},
        "value_field": {"input": "class_value", "output": "values",
                        "numeric": True}}, {
        1: {"sizes": [10, 20, 30], "values": [5.0, 7.0, 1.0]},
        2: {"sizes": [10, 20, 30], "values": [2.0, 1.0, 6.0]},
        3: {"sizes": [], "values": []}}),
    # float(sum) per class_object; range format takes [min, max] class
    # objects (field_aggregator.py _get_field_value)
    "fields": ("class_object_field_aggregator", {
        **SRC, "fields": [
            {"source": "plot_stats", "class_object": "dbh",
             "target": "dbh_total", "units": "cm"},
            {"source": "plot_stats",
             "class_object": ["elev_min", "elev_max"],
             "target": "elevation", "format": "range", "units": "m"}]}, {
        1: {"dbh_total": {"value": 13.0, "units": "cm"},
            "elevation": {"min": 100.0, "max": 400.0, "units": "m"}},
        2: {"dbh_total": {"value": 9.0, "units": "cm"},
            "elevation": {"min": 5.0, "max": 50.5, "units": "m"}},
        3: {"dbh_total": {"value": None, "units": "cm"},
            "elevation": {"min": None, "max": None, "units": "m"}}}),
    # declared order, zero for a category absent from the data; an
    # entity with no rows raises reference-side (categories_extractor.py:
    # 85-130), so it has no widget
    "categories": ("class_object_categories_extractor", {
        **SRC, "class_object": "cover",
        "categories_order": ["out", "mangrove", "forest"]}, {
        1: {"tops": ["out", "mangrove", "forest"],
            "counts": [30.0, 0.0, 70.0]},
        2: {"tops": ["out", "mangrove", "forest"],
            "counts": [0.0, 0.0, 10.0]},
        3: None}),
    # raw summed values per mapped class, not normalised
    # (binary_aggregator.py:60-140); a class with no rows reads 0.0
    "binary": ("class_object_binary_aggregator", {
        **SRC, "groups": [{
            "label": "cover", "field": "cover",
            "classes": ["forest", "non_forest"],
            "class_mapping": {"forest": "forest", "out": "non_forest"}}]}, {
        1: {"cover": {"forest": 70.0, "non_forest": 30.0}},
        2: {"cover": {"forest": 10.0, "non_forest": 0.0}},
        3: None}),
    # {out_group: {label: value of the mapped class_name}}
    # (categories_mapper.py:94)
    "mapper": ("class_object_categories_mapper", {
        **SRC, "categories": {"structure": {
            "class_object": "dbh",
            "mapping": {"small": "10", "mid": "20", "large": "30"}}}}, {
        1: {"structure": {"small": 5.0, "mid": 7.0, "large": 1.0}},
        2: {"structure": {"small": 2.0, "mid": 1.0, "large": 6.0}},
        3: None}),
    # ratio mode: max(0, 1 - subset/total), 1.0 where total is 0;
    # difference mode: total - subset (series_ratio_aggregator.py:
    # 150-225); a missing subset row counts 0
    "ratio": ("class_object_series_ratio_aggregator", {
        **SRC, "distributions": {
            "share": {"total": "tot", "subset": "sub"},
            "rest": {"total": "tot", "subset": "sub",
                     "complement_mode": "difference"}}}, {
        1: {"share": {"classes": [1, 2, 3], "subset": [2.0, 1.0, 0.0],
                      "complement": [0.5, 0.75, 1.0]},
            "rest": {"classes": [1, 2, 3], "subset": [2.0, 1.0, 0.0],
                     "complement": [2.0, 3.0, 0.0]}},
        2: {"share": {"classes": [1], "subset": [3.0],
                      "complement": [0.5]},
            "rest": {"classes": [1], "subset": [3.0],
                     "complement": [3.0]}},
        3: None}),
    # scaled series; complement = 100 - scaled value
    # (series_matrix_extractor.py)
    "matrix": ("class_object_series_matrix_extractor", {
        **SRC, "axis": {"field": "class_name", "numeric": True,
                        "sort": True},
        "series": [
            {"name": "s1_pct", "class_object": "s1", "scale": 100},
            {"name": "s2_rest", "class_object": "s2", "scale": 100,
             "complement": True}]}, {
        1: {"class_name": [100, 200],
            "series": {"s1_pct": [25.0, 50.0], "s2_rest": [87.5, 62.5]}},
        2: {"class_name": [100],
            "series": {"s1_pct": [100.0], "s2_rest": [50.0]}},
        3: None}),
    # one shared numeric axis, one list per type, 0.0 where a type has
    # no row at an axis value (series_by_axis_extractor.py:15-114)
    "by_axis": ("class_object_series_by_axis_extractor", {
        **SRC, "axis": {"field": "class_name", "output_field": "altitudes",
                        "numeric": True},
        "types": {"Subset": "sub", "Total": "tot"}}, {
        1: {"altitudes": [1, 2, 3], "Subset": [2.0, 1.0, 0.0],
            "Total": [4.0, 4.0, 0.0]},
        2: {"altitudes": [1], "Subset": [3.0], "Total": [6.0]},
        3: None}),
}

STATS_SOURCE = {
    "name": "plot_stats", "data": "plot_stats.csv", "grouping": "plots",
    "relation": {"plugin": "stats_loader", "key": "plot_id",
                 "match_field": "plot_id", "ref_field": "locality"}}
COUNTS_SOURCE = {
    "name": "plot_counts", "data": "plot_counts.csv", "grouping": "plots",
    "relation": {"plugin": "direct_reference", "key": "plot_id",
                 "ref_key": "locality"}}


@pytest.fixture(scope="module")
def project(tmp_path_factory, spark):
    base = tmp_path_factory.mktemp("dialect")
    PLOTS.to_csv(base / "plots.csv", index=False)
    OCCURRENCES.to_csv(base / "occurrences.csv", index=False)
    LINKS.to_csv(base / "occurrence_links.csv", index=False)
    STATS.to_csv(base / "plot_stats.csv", index=False)
    COUNTS.to_csv(base / "plot_counts.csv", index=False)
    pipe = Pipeline(spark, warehouse=str(base / "warehouse"))

    def entity(path, id_field):
        return {"connector": {"type": "file", "format": "csv",
                              "path": path},
                "schema": {"id_field": id_field}}

    pipe.run_import({"entities": {
        "datasets": {"occurrences": entity("occurrences.csv", "id"),
                     "occurrence_links": entity("occurrence_links.csv",
                                                "link_occ")},
        "references": {"plots": entity("plots.csv", "id_plot")}}},
        base_dir=str(base))
    return pipe, str(base)


def _transform(pipe, base, sources, widgets):
    pipe.warnings.clear()
    out = pipe.run_transform([{"group_by": "plots", "sources": sources,
                               "widgets_data": widgets}], base_dir=base)
    return {r["id_plot"]: {k: json.loads(v) if isinstance(v, str) else v
                           for k, v in r.asDict().items() if k != "id_plot"}
            for r in out["plots"].collect()}


def _join_table_source(**relation):
    return {"name": "occurrences", "data": "occurrences",
            "grouping": "plots",
            "relation": {"plugin": "join_table", "key": "id", **relation}}


JOIN_TABLE = {"join_table": "occurrence_links",
              "keys": {"source": "link_occ", "reference": "link_plot"}}


def test_join_table_reference_keys(project):
    """``SELECT m.* FROM data m JOIN <join_table> j ON m.id =
    j.<keys.source>`` grouped by ``j.<keys.reference>``: an occurrence
    linked to two plots counts in both, a link to an unknown plot is
    dropped, and the fact's own ``id_plot`` does not shadow the tag."""
    pipe, base = project
    rows = _transform(pipe, base, [_join_table_source(**JOIN_TABLE)], {
        "dbh": {"plugin": "statistical_summary",
                "params": {"source": "occurrences", "field": "dbh",
                           "stats": ["min", "max", "mean"]}},
        "n": {"plugin": "field_aggregator", "params": {"fields": [{
            "source": "occurrences", "field": "id",
            "transformation": "count", "target": "n"}]}}})
    assert pipe.warnings == []
    assert rows[1]["dbh"]["min"] == 10.0 and rows[1]["dbh"]["max"] == 30.0
    assert rows[1]["dbh"]["mean"] == 20.0
    assert rows[2]["dbh"]["min"] == 10.0 and rows[2]["dbh"]["max"] == 50.0
    assert rows[2]["dbh"]["mean"] == pytest.approx(100.0 / 3, abs=0.01)
    assert rows[1]["n"]["n"]["value"] == 3
    assert rows[2]["n"]["n"]["value"] == 3
    assert rows[3]["dbh"]["min"] is None
    assert rows[3]["n"]["n"]["value"] == 0


@pytest.mark.parametrize("relation, missing", [
    ({"keys": JOIN_TABLE["keys"]}, "join_table"),
    ({"join_table": "occurrence_links"}, "keys"),
    ({"join_table": "occurrence_links", "keys": {"source": "link_occ"}},
     "keys.reference"),
])
def test_join_table_names_a_missing_key(project, relation, missing):
    pipe, base = project
    with pytest.raises(ValueError, match=f"lacks .*'{missing}'"):
        _transform(pipe, base, [_join_table_source(**relation)], {})


@pytest.mark.parametrize("name", sorted(CLASS_OBJECTS))
def test_class_object_reference_params(project, name):
    plugin, params, expected = CLASS_OBJECTS[name]
    pipe, base = project
    rows = _transform(pipe, base, [STATS_SOURCE],
                      {"w": {"plugin": plugin, "params": params}})
    assert pipe.warnings == []
    assert {gid: row["w"] for gid, row in rows.items()} == expected


# a NULL or unmapped class key counts toward no class: (widget, the
# stats row added to a plot)
STRAY_ROWS = [
    pytest.param("binary", ("cover", "water", 5.0), id="binary-unmapped"),
    pytest.param("binary", ("cover", None, 5.0), id="binary-null-name"),
    pytest.param("categories", ("cover", None, 5.0),
                 id="categories-null-name"),
    pytest.param("mapper", ("dbh", None, 5.0), id="mapper-null-name"),
    pytest.param("fields", (None, "m", 5.0), id="fields-null-object"),
]


@pytest.mark.parametrize("plot", ["P1", "P3"])
@pytest.mark.parametrize("name, row", STRAY_ROWS)
def test_stray_class_key_counts_toward_no_class(project, name, row, plot):
    """A row whose class_name is NULL or missing from ``class_mapping``,
    or whose class_object is NULL, changes no doc: each widget's docs are
    its docs without that row, as pandas' groupby drops a NaN key."""
    plugin, params, expected = CLASS_OBJECTS[name]
    pipe, base = project
    data = f"stats_{plot}_{name}_{row[0]}_{row[1]}.csv"
    stray = dict(zip(("class_object", "class_name", "class_value"), row))
    pd.concat([STATS, pd.DataFrame([{"plot_id": plot, **stray}])]) \
        .to_csv(f"{base}/{data}", index=False)
    rows = _transform(pipe, base, [{**STATS_SOURCE, "data": data}],
                      {"w": {"plugin": plugin, "params": params}})
    assert pipe.warnings == []
    assert {gid: row["w"] for gid, row in rows.items()} == expected


# shape_processor reads the grouping table's own geometry; the
# group_by_coordinates geospatial_extractor gives every plot a doc
CHAINED = {name: CLASS_OBJECTS[name][:2] for name in
           ("binary", "ratio", "mapper", "matrix", "fields", "series",
            "categories", "by_axis")}
CHAINED["shape"] = ("shape_processor", {"field": "location",
                                        "simplify": False,
                                        "format": "geojson"})
CHAINED["columns"] = ("multi_column_extractor", {
    "source": "plot_counts", "columns": ["a", "b", "ab", "missing"],
    "derived_columns": [{"name": "ab", "formula": "a + b"}],
    "include_percentages": True})
CHAINED["points"] = ("geospatial_extractor", {"source": "plot_counts",
                                              "field": "geo_pt"})
CHAINED["no_points"] = ("geospatial_extractor", {
    "source": "plot_counts", "field": "geo_pt",
    "group_by_coordinates": True})


@pytest.mark.parametrize("name", sorted(CHAINED))
def test_chain_step_matches_top_level(project, name):
    plugin, params = CHAINED[name]
    pipe, base = project
    rows = _transform(pipe, base, [STATS_SOURCE, COUNTS_SOURCE], {
        "top": {"plugin": plugin, "params": params},
        "chained": {"plugin": "transform_chain", "params": {"steps": [
            {"plugin": plugin, "output_key": name, "params": params}]}}})
    assert pipe.warnings == []
    assert any(row["top"] is not None for row in rows.values())
    for row in rows.values():
        chained = row["chained"][name] if row["chained"] else None
        assert chained == row["top"]


def test_chain_source_naming_frameless_step_raises(project):
    """A later step's ``source: "@key"`` reads the frame an earlier step
    was shaped from; a class_object step's frame holds its aggregates,
    not the stats rows, so the widget fails with a message naming both
    steps."""
    pipe, base = project
    plugin, params = CHAINED["binary"]
    _transform(pipe, base, [STATS_SOURCE], {
        "chained": {"plugin": "transform_chain", "params": {"steps": [
            {"plugin": plugin, "output_key": "shares", "params": params},
            {"plugin": "class_object_series_extractor",
             "output_key": "reader",
             "params": {**CLASS_OBJECTS["series"][1],
                        "source": "@shares"}}]}}})
    (warning,) = pipe.warnings
    assert warning.startswith("widget plots.chained (transform_chain): ")
    assert "'reader'" in warning and "'shares'" in warning


@pytest.mark.parametrize("plugin, params, source", [
    ("class_object_binary_aggregator",
     {**CLASS_OBJECTS["binary"][1], "source": "plot_statz"}, "'plot_statz'"),
    ("multi_column_extractor", {"columns": ["class_value"]}, "None"),
    ("top_ranking", {"source": "occurrencez", "field": "class_name"},
     "'occurrencez'"),
    ("direct_attribute", {"field": "class_value"}, "None"),
    # a registry entity that no source of the group tags loads whole
    ("top_ranking", {"source": "plots", "field": "locality"}, None),
])
def test_widget_names_a_missing_source(project, plugin, params, source):
    """A misspelt or omitted ``source`` fails the widget with the
    source's name, not with the shaper's attribute error on None."""
    pipe, base = project
    rows = _transform(pipe, base, [STATS_SOURCE],
                      {"w": {"plugin": plugin, "params": params}})
    if source is None:
        assert pipe.warnings == []
        assert all(row["w"] is not None for row in rows.values())
        return
    assert pipe.warnings == [
        f"widget plots.w ({plugin}): "
        f"source {source} is not loaded for this group"]


def test_time_series_fields_must_be_a_label_mapping(project):
    """time_series_analysis takes the reference's ``{label: column}``
    fields only; a list of columns fails the widget."""
    pipe, base = project
    _transform(pipe, base, [STATS_SOURCE], {"w": {
        "plugin": "time_series_analysis",
        "params": {"source": "plot_stats", "fields": ["class_value"],
                   "time_field": "class_name"}}})
    (warning,) = pipe.warnings
    assert warning.startswith(
        "widget plots.w (time_series_analysis): time_series_analysis "
        "fields must map each output label to a source column")
