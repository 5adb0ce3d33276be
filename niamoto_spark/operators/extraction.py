"""Extraction / reshape transformers (SURVEY §2.3 "Extraction / reshape").

Wide<->long reshapes are stack()/pivot projections — no extra shuffles beyond
the aggregates that feed them.  ``multi_column_extractor``,
``geospatial_extractor``, ``direct_attribute`` and ``scatter_analysis``
here return rows for the operator catalog; the widget plugins of those
names are the JSON shapers and kernels in ``niamoto_spark/refshapes.py``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from niamoto_spark.plans.guards import pin_double_literals, validate_formula
from niamoto_spark.registry import PluginType, register


def multi_column_extractor(df: DataFrame, group_cols: Sequence[str],
                           columns: Sequence[str],
                           labels: Sequence[str] | None = None,
                           derived: dict[str, str] | None = None,
                           agg: str = "sum",
                           include_percentages: bool = False) -> DataFrame:
    """Wide->long: pick N columns as categories, optionally add derived
    columns from arithmetic formulas over the aggregated values (reference:
    transformers/extraction/multi_column_extractor.py:40-124; formula eval
    :169, e.g. ``total_stems - living_stems``).

    Formulas are validated by the same restricted grammar as the reference
    (names, numbers, + - * / ( ) only) then compiled with ``F.expr`` — they
    run JVM-side, not in Python.
    Output: group_cols + (category, value [, pct]).
    """
    labels = list(labels) if labels else list(columns)
    aggf = {"sum": F.sum, "avg": F.avg, "count": F.count}[agg]
    wide = (df.groupBy(*group_cols) if group_cols else df.groupBy()) \
        .agg(*[F.round(aggf(F.col(c).cast("double")), 2).alias(c) for c in columns])
    for name, formula in (derived or {}).items():
        validate_formula(formula, allowed_names=set(columns) | set((derived or {}).keys()))
        # formulas evaluate in DOUBLE like the reference's numpy eval:
        # Spark parses bare 3.0 as DECIMAL (see guards.pin_double_literals)
        wide = wide.withColumn(
            name, F.round(F.expr(pin_double_literals(formula)), 2))
    all_cols = list(columns) + list((derived or {}).keys())
    all_labels = labels + list((derived or {}).keys())
    stack_args = ", ".join(
        f"'{lbl}', `{c}`" for c, lbl in zip(all_cols, all_labels))
    long = wide.selectExpr(
        *group_cols,
        f"stack({len(all_cols)}, {stack_args}) as (category, value)")
    if include_percentages:
        w = Window.partitionBy(*group_cols) if group_cols else Window.partitionBy()
        total = F.sum("value").over(w)
        long = long.withColumn(
            "pct", F.when(total > 0, F.round(F.col("value") * 100.0 / total, 2))
                    .otherwise(F.lit(0.0)))
    return long


def direct_attribute(df: DataFrame, group_cols: Sequence[str],
                     field: str) -> DataFrame:
    """A single field per group (reference:
    transformers/extraction/direct_attribute.py:20-78).
    Output: group_cols + (value).
    """
    # min(), not first(ignorenulls): first() is partition-order-
    # dependent the moment a group has >1 row (e.g. a NULL group key
    # pooling several entities); min is the deterministic pick
    c = F.min(F.col(field))
    return (df.groupBy(*group_cols) if group_cols else df.groupBy()) \
        .agg(c.alias("value"))


def scatter_analysis(df: DataFrame, x_field: str, y_field: str,
                     max_points: int | None = None,
                     order_col: str | None = None) -> DataFrame:
    """Extract (x, y) numeric pairs, dropping rows with NULL in either
    (reference: transformers/analysis/scatter_analysis.py:113-146).  The
    reference samples to max_points with seed 42; sampling is
    nondeterministic across engines, so when a deterministic cap is needed
    pass ``order_col`` -> take the first N in that order instead (documented
    deviation; the reference's own seed is engine-specific too).
    """
    out = (df.select(F.col(x_field).cast("double").alias("x"),
                     F.col(y_field).cast("double").alias("y"),
                     *([F.col(order_col).alias("_ord")] if order_col else []))
             .where(F.col("x").isNotNull() & F.col("y").isNotNull()))
    if max_points is not None:
        if order_col:
            # NULLS LAST: a NULL order key must not hijack the head of
            # the deterministic cap (and SQL ORDER BY defaults match)
            out = (out.orderBy(F.col("_ord").asc_nulls_last())
                   .limit(max_points).drop("_ord"))
        else:
            frac_df = out.limit(max_points)
            out = frac_df
    elif order_col:
        out = out.drop("_ord")
    return out


def geospatial_extractor(df: DataFrame, group_cols: Sequence[str],
                         wkt_col: str,
                         group_by_coordinates: bool = True) -> DataFrame:
    """Entity's points -> features; ``group_by_coordinates`` dedupes
    identical coordinates keeping a count (reference:
    transformers/extraction/geospatial_extractor.py:28-120, 558-705).
    Output: group_cols + (geometry_wkt, point_count).  GeoJSON assembly is a
    presentation step left to exporters (to_json of collected structs).
    """
    base = df.select(*group_cols, F.trim(F.col(wkt_col)).alias("geometry_wkt")) \
             .where(F.col("geometry_wkt").isNotNull())
    if group_by_coordinates:
        return base.groupBy(*group_cols, "geometry_wkt") \
                   .agg(F.count(F.lit(1)).alias("point_count"))
    return base.withColumn("point_count", F.lit(1))


@register("melt", PluginType.TRANSFORMER)
def melt(df: DataFrame, id_cols: Sequence[str], value_cols: Sequence[str],
         var_name: str = "variable", value_name: str = "value") -> DataFrame:
    """Wide -> long reshape (pandas.melt / SQL UNPIVOT): each of
    ``value_cols`` becomes one output row per input row.  Thin wrapper
    over Spark's native ``unpivot`` (NULL-dropping disabled so the
    reshape is lossless), which plans as a single Expand node — one
    narrow pass, no shuffle, n_cols x fan-out handled inside codegen.
    The inverse of the widgets' pivot surface (reference transformer
    outputs are wide; exports and stats often need long)."""
    value_cols = list(value_cols)
    if not value_cols:
        raise ValueError("melt needs at least one value column")
    return df.unpivot(list(id_cols), value_cols, var_name, value_name)
