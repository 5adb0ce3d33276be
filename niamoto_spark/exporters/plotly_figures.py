"""Plotly figure-dict builders for the chart widgets (VERDICT r8
next-#8: the last presentation-fidelity delta).

The reference's widget plugins build ``plotly.graph_objects`` figures
and serialize them into the page (bar_plot.py:963,1103,
donut_chart.py:255-262, shared layout defaults plotly_utils.py:180-191).
Plotly is not available in this environment, but a Plotly *figure* is
just a JSON dict with ``data`` (trace list) and ``layout`` — so these
builders emit that dict directly, matching the trace/field shapes
``go.Figure(...).to_dict()`` would produce.  The front-end consumes them with ``Plotly.newPlot(el,
fig.data, fig.layout)`` unchanged.

Figures are built from the ALREADY-SHAPED widget frames
(niamoto_spark.widgets): the Spark side did the sort/limit/percent
work; a figure is a bounded render payload (widget limits cap it), so
the collect here is presentation, not data processing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Reference palette (plotly_utils.py:20-31 MUTED_CHART_COLORS) — kept
#: byte-identical so themed exports match the reference's site.
MUTED_CHART_COLORS = [
    "#4f8068", "#6d8796", "#b07f4f", "#8b6f9b", "#b76f63",
    "#6c8f45", "#9a8d58", "#5f7f88", "#a36f82", "#7f7f72",
]


def layout_defaults(title: str | None = None, **extra) -> dict:
    """Shared layout (plotly_utils.py:187-191 get_plotly_layout_defaults:
    watermark-removing empty annotations, muted colorway, tight margin),
    with per-figure overrides merged on top like apply_plotly_defaults."""
    layout = {
        "annotations": [],
        "colorway": list(MUTED_CHART_COLORS),
        "margin": {"r": 10, "t": 30, "l": 10, "b": 10},
    }
    if title is not None:
        layout["title"] = {"text": title}
    layout.update(extra)
    return layout


def bar_figure(xs: list, ys: list, title: str | None = None,
               orientation: str = "v",
               colors: list[str] | None = None) -> dict:
    """go.Bar-shaped trace (bar_plot.py:1103): horizontal bars swap the
    axes, per Plotly's orientation contract."""
    trace: dict = {"type": "bar", "orientation": orientation}
    if orientation == "h":
        trace["x"], trace["y"] = list(ys), list(xs)
    else:
        trace["x"], trace["y"] = list(xs), list(ys)
    if colors:
        trace["marker"] = {"color": list(colors)}
    return {"data": [trace], "layout": layout_defaults(title)}


def donut_figure(labels: list, values: list, title: str | None = None,
                 hole_size: float = 0.3,
                 text_info: str = "percent+label",
                 colors: list[str] | None = None) -> dict:
    """go.Pie-shaped trace (donut_chart.py:255-262): default hole 0.3
    (donut_chart.py:43), label+percent hover."""
    trace: dict = {
        "type": "pie",
        "labels": list(labels),
        "values": list(values),
        "hole": hole_size,
        "textinfo": text_info,
        "hoverinfo": "label+percent+name",
    }
    if colors:
        trace["marker"] = {"colors": list(colors)}
    return {"data": [trace], "layout": layout_defaults(title)}


# --- DataFrame-level adapters over the shaped widget frames ---------------

def bar_figure_from(df: DataFrame, title: str | None = None,
                    orientation: str = "v") -> dict:
    """Consume bar_plot_data's (x, y) frame."""
    rows = df.select("x", "y").collect()
    return bar_figure([r["x"] for r in rows], [r["y"] for r in rows],
                      title=title, orientation=orientation)


def donut_figure_from(df: DataFrame, title: str | None = None,
                      hole_size: float = 0.3) -> dict:
    """Consume donut_chart_data's (label, value, pct) frame."""
    rows = df.select("label", "value").collect()
    return donut_figure([r["label"] for r in rows],
                        [r["value"] for r in rows],
                        title=title, hole_size=hole_size)


def is_plotly_figure(v) -> bool:
    """Shape test used by the HTML exporter to embed figure payloads."""
    return (isinstance(v, dict) and isinstance(v.get("data"), list)
            and isinstance(v.get("layout"), dict)
            and all(isinstance(t, dict) and "type" in t
                    for t in v["data"]))
