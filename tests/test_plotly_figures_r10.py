"""The frames of the round-10 chart widgets (scatter, sunburst,
stacked_area, diverging_bar, radial_gauge, concentric_rings,
interactive_map) and the HTML exporter's embedding of a non-bar
Plotly figure payload."""

import json


def test_adapters_over_widget_frames(spark):
    """Each widget frame holds what a figure over it draws."""
    from niamoto_spark.widgets import (concentric_rings_data,
                                       diverging_bar_data,
                                       interactive_map_data,
                                       radial_gauge_data,
                                       scatter_plot_data,
                                       stacked_area_data, sunburst_data)

    df = spark.createDataFrame(
        [("a", "s1", 1.0, 2.0, 10), ("a", "s2", 2.0, 1.0, 20),
         ("b", "s1", 3.0, 5.0, 30)],
        "g string, s string, x double, y double, v long")

    sc = scatter_plot_data(df, "x", "y")
    assert sc.columns == ["x", "y"] and sc.count() == 3

    sb = sunburst_data(df, ["g", "s"], "v").collect()
    ids = [r["id"] for r in sb]
    assert "a" in ids and "a/s1" in ids and sb[0]["parent"] == ""

    sa = stacked_area_data(df, "x", "s", "v")
    assert sorted(c for c in sa.columns if c != "x") == ["s1", "s2"]

    flags = spark.createDataFrame([("c1", 7, 3), ("c2", 2, 8)],
                                  "category string, true_count long, "
                                  "false_count long")
    dv = diverging_bar_data(flags).collect()
    assert [tuple(r) for r in dv] == [("c1", 7, -3), ("c2", 2, -8)]

    g = radial_gauge_data(
        spark.createDataFrame([(63.0,)], "value double")).first()
    assert g["value"] == 63.0

    rings = concentric_rings_data(
        spark.createDataFrame([("um", 30.0), ("um", 70.0), ("num", 5.0)],
                              "zone string, area double"),
        "zone", "area")
    assert {r["ring"] for r in rings.collect()} == {"um", "num"}

    pts = spark.createDataFrame(
        [("POINT (166.5 -22.1)", 4), ("POINT (167.0 -21.0)", 2)],
        "geometry_wkt string, point_count long")
    mp = interactive_map_data(pts).collect()
    assert [r["lon"] for r in mp] == [166.5, 167.0]


def test_html_exporter_embeds_new_figures(spark, tmp_path):
    from niamoto_spark.exporters.html_site import export_html_site

    fig = {"data": [{"type": "indicator", "mode": "gauge+number",
                     "value": 55.0}],
           "layout": {"annotations": []}}
    results = spark.createDataFrame(
        [(1, json.dumps(fig))], "plot_id int, gauge string")
    export_html_site(results, "plot_id", str(tmp_path / "site"),
                     group_name="plots")
    html = (tmp_path / "site" / "detail" / "1.html").read_text()
    assert '<script type="application/json" data-plotly>' in html
    embedded = html.split("data-plotly>")[1].split("</script>")[0]
    assert json.loads(embedded)["data"][0]["type"] == "indicator"
