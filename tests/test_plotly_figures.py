"""Plotly figure-dict parity (VERDICT r8 next-#8): golden figure
shapes matching what the reference's go.Figure construction serializes
(bar_plot.py:1103, donut_chart.py:255-262 hole 0.3, plotly_utils.py:
187-191 layout defaults), plus the widget-frame adapters and the HTML
exporter's embedded-chart path."""

import json

import pytest

from niamoto_spark.exporters.plotly_figures import (
    MUTED_CHART_COLORS, bar_figure, bar_figure_from, donut_figure,
    donut_figure_from, is_plotly_figure)

GOLDEN_LAYOUT = {
    "annotations": [],
    "colorway": ["#4f8068", "#6d8796", "#b07f4f", "#8b6f9b", "#b76f63",
                 "#6c8f45", "#9a8d58", "#5f7f88", "#a36f82", "#7f7f72"],
    "margin": {"r": 10, "t": 30, "l": 10, "b": 10},
}


def test_bar_figure_golden():
    fig = bar_figure(["a", "b"], [3, 1], title="Top brands")
    assert fig == {
        "data": [{"type": "bar", "orientation": "v",
                  "x": ["a", "b"], "y": [3, 1]}],
        "layout": {**GOLDEN_LAYOUT, "title": {"text": "Top brands"}},
    }
    # horizontal orientation swaps the axes (Plotly's contract)
    h = bar_figure(["a", "b"], [3, 1], orientation="h")
    assert h["data"][0]["x"] == [3, 1] and h["data"][0]["y"] == ["a", "b"]


def test_donut_figure_golden():
    fig = donut_figure(["x", "y"], [7, 3])
    assert fig == {
        "data": [{"type": "pie", "labels": ["x", "y"], "values": [7, 3],
                  "hole": 0.3, "textinfo": "percent+label",
                  "hoverinfo": "label+percent+name"}],
        "layout": GOLDEN_LAYOUT,
    }


def test_adapters_over_widget_frames(spark):
    from niamoto_spark.widgets import (bar_plot_data, donut_chart_data,
                                       line_plot_data)

    df = spark.createDataFrame(
        [("a", 3.0), ("b", 9.0), ("c", 1.0)], "brand string, rev double")
    bar = bar_figure_from(bar_plot_data(df, "brand", "rev", limit=2))
    assert bar["data"][0]["x"] == ["b", "a"]       # sorted desc, limited
    donut = donut_figure_from(donut_chart_data(df, "brand", "rev"))
    assert donut["data"][0]["labels"] == ["b", "a", "c"]
    assert donut["data"][0]["hole"] == 0.3
    ts = spark.createDataFrame(
        [(2, 1.0, "s1"), (1, 2.0, "s1")], "t int, v double, s string")
    line = line_plot_data(ts, "t", "v", series="s").collect()
    assert [r["x"] for r in line] == [1, 2]        # x-ordered


def test_html_exporter_embeds_figures(spark, tmp_path):
    from niamoto_spark.exporters.html_site import export_html_site

    fig = donut_figure(["x</script>"], [1])        # escaping probe
    results = spark.createDataFrame(
        [(1, json.dumps(fig))], "plot_id int, chart string")
    export_html_site(results, "plot_id", str(tmp_path / "site"),
                     group_name="plots")
    html = (tmp_path / "site" / "detail" / "1.html").read_text()
    assert '<script type="application/json" data-plotly>' in html
    assert '<div class="plotly-chart">' in html
    assert "</script>" in html
    # the </ inside the label is escaped so it can't close the block early
    embedded = html.split("data-plotly>")[1].split("</script>")[0]
    assert "</" not in embedded.replace("<\\/", "")
    assert json.loads(embedded)["data"][0]["labels"] == ["x</script>"]


def test_is_plotly_figure_shape_gate():
    assert is_plotly_figure(bar_figure([], []))
    assert not is_plotly_figure({"data": "no", "layout": {}})
    assert not is_plotly_figure({"rows": [1, 2]})
    assert not is_plotly_figure([1, 2])


def test_palette_matches_reference_constant():
    """Byte-identical palette keeps themed exports visually identical
    to the reference site (plotly_utils.py:20-31)."""
    assert len(MUTED_CHART_COLORS) == 10
    assert MUTED_CHART_COLORS[0] == "#4f8068"
    assert all(c.startswith("#") and len(c) == 7
               for c in MUTED_CHART_COLORS)
