"""class_object EAV aggregates for the operator catalog (SURVEY §2.3).

The reference consumes EAV-style stats tables with columns
``class_object / class_name / class_value`` (FIXTURES.md F5) — its answer to
pivot/unpivot.  The helpers here are filters + aggregates over that long
format, returning rows; duplicated (class_object, class_name) pairs are
SUMMED (reference: transformers/class_objects/utils.py:14).  Catalog
queries call them.  The ``class_object_*`` widget plugins the transform
runs are the JSON shapers in ``niamoto_spark/refshapes.py``.

Group convention matches operators.aggregation: pass the id column(s) of the
owning entity in ``group_cols`` to compute all entities at once.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CO, CN, CV = "class_object", "class_name", "class_value"


def _dedup_sum(df: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Duplicate (class_object, class_name) values are summed
    (class_objects/utils.py:14)."""
    return df.groupBy(*group_cols, CO, CN).agg(F.sum(F.col(CV).cast("double")).alias(CV))


def series_extractor(df: DataFrame, group_cols: Sequence[str],
                     class_object: str, numeric_axis: bool = False) -> DataFrame:
    """Filter rows of one class_object; emit sorted axis (class_name,
    optionally numeric-coerced) + summed values (reference:
    class_objects/series_extractor.py; example transform.yml:433-451).
    Output: group_cols + (class_name [, axis_num], class_value) sorted.
    """
    out = _dedup_sum(df.where(F.col(CO) == class_object), group_cols)
    if numeric_axis:
        out = out.withColumn("axis_num", F.col(CN).try_cast("double")) \
                 .orderBy(*group_cols, "axis_num")
    else:
        out = out.orderBy(*group_cols, CN)
    return out.select(*group_cols, CN, *(["axis_num"] if numeric_axis else []), CV)


def categories_extractor(df: DataFrame, group_cols: Sequence[str],
                         class_object: str,
                         categories: Sequence[str]) -> DataFrame:
    """Category -> value mapping in declared order; missing categories get 0
    (reference: class_objects/categories_extractor.py:85-90;
    transform.yml:732-751)."""
    spark = df.sparkSession
    cat_df = spark.createDataFrame(
        [(c, i) for i, c in enumerate(categories)],
        f"{CN} string, __ord int")
    vals = _dedup_sum(df.where(F.col(CO) == class_object), group_cols)
    if group_cols:
        dense = df.select(*group_cols).distinct().crossJoin(F.broadcast(cat_df))
        out = dense.join(vals.drop(CO), list(group_cols) + [CN], "left")
    else:
        out = cat_df.join(vals.drop(CO), [CN], "left")
    return (out.withColumn(CV, F.coalesce(F.col(CV), F.lit(0.0)))
               .orderBy(*group_cols, "__ord").drop("__ord"))


def binary_aggregator(df: DataFrame, group_cols: Sequence[str],
                      class_object: str,
                      class_mapping: Mapping[str, str] | None = None,
                      as_percentage: bool = True) -> DataFrame:
    """Per-group binary/ternary class shares with relabeling (reference:
    class_objects/binary_aggregator.py:66-113; transform.yml:702-730).
    Output: group_cols + (label, share).
    """
    vals = _dedup_sum(df.where(F.col(CO) == class_object), group_cols)
    if class_mapping:
        m = F.create_map(*[F.lit(x) for kv in class_mapping.items() for x in kv])
        vals = vals.withColumn("label", F.coalesce(m[F.col(CN)], F.col(CN)))
    else:
        vals = vals.withColumn("label", F.col(CN))
    w = Window.partitionBy(*group_cols) if group_cols else Window.partitionBy()
    total = F.sum(CV).over(w)
    share = (F.col(CV) * 100.0 / total) if as_percentage else (F.col(CV) / total)
    return vals.withColumn("share", F.round(share, 2)) \
               .select(*group_cols, "label", "share")


def series_ratio_aggregator(df: DataFrame, group_cols: Sequence[str],
                            subset_class: str, total_class: str,
                            complement_mode: str | None = None) -> DataFrame:
    """subset/total ratio distributions; ``complement_mode='difference'``
    emits 1 - ratio (reference: class_objects/series_ratio_aggregator.py:
    18-111; transform.yml:753-768).
    Output: group_cols + (class_name, ratio).
    """
    sub = _dedup_sum(df.where(F.col(CO) == subset_class), group_cols) \
        .withColumnRenamed(CV, "__sub").drop(CO)
    tot = _dedup_sum(df.where(F.col(CO) == total_class), group_cols) \
        .withColumnRenamed(CV, "__tot").drop(CO)
    # NULL-SAFE join keys: a NULL class_name is a legal class (SQL's
    # GROUP BY forms the NULL group and both sides carry it); a plain
    # equi-join would orphan the subset row and report ratio 0
    keys = list(group_cols) + [CN]
    sub_r = sub
    for c in keys:
        sub_r = sub_r.withColumnRenamed(c, f"__r_{c}")
    cond = None
    for c in keys:
        e = tot[c].eqNullSafe(sub_r[f"__r_{c}"])
        cond = e if cond is None else (cond & e)
    joined = (tot.join(sub_r, cond, "left")
              .drop(*[f"__r_{c}" for c in keys])
              .withColumn("__sub", F.coalesce(F.col("__sub"), F.lit(0.0))))
    ratio = F.when(F.col("__tot") != 0, F.col("__sub") / F.col("__tot"))
    if complement_mode == "difference":
        ratio = F.lit(1.0) - ratio
    return joined.select(*group_cols, CN, F.round(ratio, 4).alias("ratio"))
