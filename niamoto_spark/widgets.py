"""Widget data-shapers (SURVEY §2.5).

The reference's 16 widget plugins render JSON results to Plotly HTML and do
"light data ops" on the way (sort_values in bar_plot.py:858,874,
table_view.py:204).  Rendering is presentation; the data ops belong to the
engine.  Each shaper takes a widget frame (an operator's output) and returns
the render-ready DataFrame — sorted, limited, renamed — that a chart
front-end consumes directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register


@register("bar_plot", PluginType.WIDGET)
def bar_plot_data(df: DataFrame, x: str, y: str, sort_by: str | None = None,
                  descending: bool = True, limit: int | None = None) -> DataFrame:
    """bar_plot's sort/limit pass (reference bar_plot.py:858,874)."""
    out = df.select(F.col(x).alias("x"), F.col(y).alias("y"))
    key = sort_by or y
    src = df.select(F.col(x).alias("x"), F.col(y).alias("y"),
                    F.col(key).alias("__s"))
    out = src.orderBy(F.col("__s").desc() if descending else F.col("__s").asc(),
                      F.col("x").asc()).drop("__s")
    return out.limit(limit) if limit else out


@register("donut_chart", PluginType.WIDGET)
def donut_chart_data(df: DataFrame, label: str, value: str) -> DataFrame:
    """Labels + values + share percentages."""
    total = df.agg(F.sum(F.col(value)).alias("t")).collect()[0]["t"] or 1
    return df.select(F.col(label).alias("label"),
                     F.col(value).alias("value"),
                     F.round(F.col(value) * 100.0 / F.lit(total), 2).alias("pct")) \
             .orderBy(F.col("value").desc(), F.col("label"))


@register("table_view", PluginType.WIDGET)
def table_view_data(df: DataFrame, sort_by: str | None = None,
                    descending: bool = False, limit: int = 100) -> DataFrame:
    """table_view's default sort + cap (reference table_view.py:204)."""
    out = df
    if sort_by:
        out = out.orderBy(F.col(sort_by).desc() if descending
                          else F.col(sort_by).asc())
    return out.limit(limit)


@register("summary_stats", PluginType.WIDGET)
def summary_stats_data(df: DataFrame) -> DataFrame:
    """statistical_summary frame -> long (stat, value) rows for a stat grid."""
    stats = [c for c in df.columns
             if c in ("min", "mean", "max", "median", "std", "count")]
    stack = ", ".join(f"'{c}', cast(`{c}` as double)" for c in stats)
    group_cols = [c for c in df.columns if c not in stats]
    return df.selectExpr(*group_cols,
                         f"stack({len(stats)}, {stack}) as (stat, value)")


@register("line_plot", PluginType.WIDGET)
def line_plot_data(df: DataFrame, x: str, y: str,
                   series: str | None = None) -> DataFrame:
    """Ordered (x, y [, series]) points."""
    cols = [F.col(x).alias("x"), F.col(y).alias("y")]
    if series:
        cols.append(F.col(series).alias("series"))
    return df.select(*cols).orderBy(*(["series"] if series else []), "x")


@register("scatter_plot", PluginType.WIDGET)
def scatter_plot_data(df: DataFrame, x: str = "x", y: str = "y",
                      max_points: int = 5000) -> DataFrame:
    return df.select(F.col(x).alias("x"), F.col(y).alias("y")).limit(max_points)


@register("radial_gauge", PluginType.WIDGET)
def radial_gauge_data(df: DataFrame, value: str = "value",
                      max_value: float | None = None) -> DataFrame:
    """Single gauge value + optional % of max."""
    out = df.select(F.col(value).cast("double").alias("value")).limit(1)
    if max_value:
        out = out.withColumn("pct_of_max",
                             F.round(F.col("value") * 100.0 / max_value, 2))
    return out


@register("sunburst_chart", PluginType.WIDGET)
def sunburst_data(df: DataFrame, path_cols: list[str], value: str) -> DataFrame:
    """(ids, parents, labels, values) rows from hierarchical path columns —
    the plotly sunburst input shape."""
    pieces = []
    for depth in range(len(path_cols)):
        prefix = path_cols[: depth + 1]
        pieces.append(
            df.groupBy(*prefix).agg(F.sum(F.col(value)).alias("value"))
              .select(F.concat_ws("/", *prefix).alias("id"),
                      (F.concat_ws("/", *prefix[:-1]) if depth
                       else F.lit("")).alias("parent"),
                      F.col(prefix[-1]).alias("label"), "value"))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.orderBy("id")


@register("stacked_area_plot", PluginType.WIDGET)
def stacked_area_data(df: DataFrame, x: str, series: str,
                      value: str) -> DataFrame:
    """Wide series matrix: one row per x, one column per series value."""
    return (df.groupBy(F.col(x).alias("x"))
            .pivot(series).agg(F.first(F.col(value))).orderBy("x"))


@register("diverging_bar_plot", PluginType.WIDGET)
def diverging_bar_data(df: DataFrame, category: str = "category",
                       pos: str = "true_count",
                       neg: str = "false_count") -> DataFrame:
    return df.select(F.col(category).alias("category"),
                     F.col(pos).cast("long").alias("positive"),
                     (-F.col(neg).cast("long")).alias("negative")) \
             .orderBy("category")


@register("concentric_rings", PluginType.WIDGET)
def concentric_rings_data(df: DataFrame, label: str, value: str,
                          rings: list[str] | None = None) -> DataFrame:
    """One normalized ring per label subset (share within its ring)."""
    from pyspark.sql import Window

    w = Window.partitionBy(label)
    return df.select(F.col(label).alias("ring"),
                     F.col(value).alias("value"),
                     F.round(F.col(value) * 100.0 / F.sum(value).over(w), 2)
                      .alias("pct"))


@register("interactive_map", PluginType.WIDGET)
def interactive_map_data(df: DataFrame, wkt: str = "geometry_wkt",
                         weight: str = "point_count") -> DataFrame:
    """(lon, lat, weight) marker rows from POINT WKT."""
    from niamoto_spark.operators.geospatial import point_lat, point_lon

    return (df.select(point_lon(F.col(wkt)).alias("lon"),
                      point_lat(F.col(wkt)).alias("lat"),
                      F.col(weight).alias("weight"))
            .where(F.col("lon").isNotNull()))


@register("info_grid", PluginType.WIDGET)
def info_grid_data(df: DataFrame, fields: dict[str, str]) -> DataFrame:
    """(label, value) rows from the first row's named columns."""
    row = df.limit(1)
    stack = ", ".join(f"'{lbl}', cast(`{col}` as string)"
                      for lbl, col in fields.items())
    return row.selectExpr(f"stack({len(fields)}, {stack}) as (label, value)")


@register("raw_data_widget", PluginType.WIDGET)
def raw_data(df: DataFrame, limit: int = 1000) -> DataFrame:
    return df.limit(limit)


@register("enrichment_panel", PluginType.WIDGET)
def enrichment_panel_data(df: DataFrame, profile_col: str = "profile") -> DataFrame:
    """Explode enrichment profile items to (label, value, type) rows."""
    return df.select(F.explode(F.col(profile_col)).alias("item")) \
             .select("item.label", "item.value", "item.type")


@register("hierarchical_nav_widget", PluginType.WIDGET)
def hierarchical_nav_data(nodes: DataFrame, id_col: str = "id",
                          parent_col: str = "parent_id",
                          label_col: str = "rank_value") -> DataFrame:
    """Navigation tree rows: (id, parent_id, label, has_children) sorted by
    nested-set order when available."""
    kids = nodes.groupBy(F.col(parent_col).alias(id_col)) \
                .agg(F.count(F.lit(1)).alias("__n"))
    out = (nodes.join(kids, id_col, "left")
           .withColumn("has_children", F.coalesce(F.col("__n"), F.lit(0)) > 0)
           .drop("__n")
           .select(id_col, parent_col, F.col(label_col).alias("label"),
                   "has_children",
                   *(["lft"] if "lft" in nodes.columns else [])))
    return out.orderBy("lft") if "lft" in nodes.columns else out.orderBy(id_col)
