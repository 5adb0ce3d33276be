"""Ecological zonal compositions (SURVEY §2.3 geospatial block):
elevation_profile, forest_elevation_analysis, forest_holdridge_analysis,
land_use_analysis.

The reference computes these by masking rasters per zone with rasterio
(elevation_profile.py, forest_elevation.py, forest_holdridge.py,
land_use.py).  Raster IO is unavailable here (SURVEY §7.2: "inherently not
Catalyst territory"), so each operator takes the raster ALREADY EXPLODED to
a (zone, pixel value[, flags]) long table — exactly what a mapInPandas
rasterio reader emits per zone window at scale — and does the distributed
part: bucketing, categorical splits, area sums.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from niamoto_spark.functions import bin_index
from niamoto_spark.registry import PluginType, register


@register("elevation_profile", PluginType.TRANSFORMER)
def elevation_profile(zone_pixels: DataFrame, group_cols: Sequence[str],
                      elevation_col: str, edges: Sequence[float],
                      pixel_area_m2: float = 900.0,
                      forest_col: str | None = None) -> DataFrame:
    """Altitude-class distribution of each zone from DEM pixels (reference
    elevation_profile.py:1-65), optionally split by a forest mask.
    Output: group_cols + (class_index, class_label, pixel_count, area_m2
    [, forest_pixel_count])."""
    n = len(edges) - 1
    labels = [f"{edges[i]:g}-{edges[i+1]:g}" for i in range(n)]
    lbl = F.array(*[F.lit(x) for x in labels])
    binned = zone_pixels.withColumn(
        "class_index", bin_index(F.col(elevation_col).cast("double"), edges)) \
        .where(F.col("class_index").isNotNull())
    aggs = [F.count(F.lit(1)).alias("pixel_count"),
            F.round(F.count(F.lit(1)) * pixel_area_m2, 2).alias("area_m2")]
    if forest_col:
        aggs.append(F.sum(F.when(F.col(forest_col).cast("int") == 1, 1)
                          .otherwise(0)).alias("forest_pixel_count"))
    return (binned.groupBy(*group_cols, "class_index").agg(*aggs)
            .withColumn("class_label", lbl[F.col("class_index")])
            .select(*group_cols, "class_index", "class_label", "pixel_count",
                    "area_m2",
                    *(["forest_pixel_count"] if forest_col else [])))


@register("forest_elevation_analysis", PluginType.TRANSFORMER)
def forest_elevation_analysis(zone_pixels: DataFrame,
                              group_cols: Sequence[str],
                              elevation_col: str, forest_col: str,
                              edges: Sequence[float],
                              pixel_area_m2: float = 900.0) -> DataFrame:
    """Forest vs non-forest distribution by elevation class (reference
    forest_elevation.py:2-4).  Output: group_cols + (class_index,
    forest_area_m2, non_forest_area_m2, forest_pct)."""
    prof = elevation_profile(zone_pixels, group_cols, elevation_col, edges,
                             pixel_area_m2, forest_col=forest_col)
    fa = F.col("forest_pixel_count") * pixel_area_m2
    return (prof.withColumn("forest_area_m2", F.round(fa, 2))
            .withColumn("non_forest_area_m2", F.round(F.col("area_m2") - fa, 2))
            .withColumn("forest_pct",
                        F.round(F.col("forest_pixel_count") * 100.0
                                / F.col("pixel_count"), 2))
            .select(*group_cols, "class_index", "class_label",
                    "forest_area_m2", "non_forest_area_m2", "forest_pct"))


@register("forest_holdridge_analysis", PluginType.TRANSFORMER)
def forest_holdridge_analysis(zone_pixels: DataFrame,
                              group_cols: Sequence[str],
                              holdridge_col: str, forest_col: str,
                              pixel_area_m2: float = 900.0,
                              labels: dict[int, str] | None = None) -> DataFrame:
    """Forest/non-forest split across Holdridge life-zone classes
    (reference forest_holdridge.py:2-5).  Output: group_cols +
    (holdridge_class, label, forest_area_m2, non_forest_area_m2)."""
    labels = labels or {1: "Sec", 2: "Humide", 3: "Tres humide"}
    m = F.create_map(*[F.lit(x) for kv in labels.items() for x in kv])
    h = F.col(holdridge_col).cast("int")
    fa = F.sum(F.when(F.col(forest_col).cast("int") == 1, 1).otherwise(0))
    out = (zone_pixels.where(h.isin(list(labels)))
           .groupBy(*group_cols, h.alias("holdridge_class"))
           .agg(F.round(fa * pixel_area_m2, 2).alias("forest_area_m2"),
                F.round((F.count(F.lit(1)) - fa) * pixel_area_m2, 2)
                 .alias("non_forest_area_m2")))
    return out.withColumn("label", m[F.col("holdridge_class")])


@register("land_use_analysis", PluginType.TRANSFORMER)
def land_use_analysis(zone_pieces: DataFrame, group_cols: Sequence[str],
                      category_col: str, area_col: str = "piece_area_m2",
                      include_percentages: bool = True) -> DataFrame:
    """Area per land-use category from vector pieces clipped to each zone
    (reference land_use.py:2-5 runs N x (clip + area sum); the clip step is
    operators.overlay.vector_overlay_intersection).  Output: group_cols +
    (category, area_m2 [, pct])."""
    out = (zone_pieces.groupBy(*group_cols,
                               F.col(category_col).alias("category"))
           .agg(F.round(F.sum(F.col(area_col)), 2).alias("area_m2")))
    if include_percentages:
        from pyspark.sql import Window

        w = Window.partitionBy(*group_cols) if group_cols else Window.partitionBy()
        out = out.withColumn(
            "pct", F.round(F.col("area_m2") * 100.0 / F.sum("area_m2").over(w), 2))
    return out
