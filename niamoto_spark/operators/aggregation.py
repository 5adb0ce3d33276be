"""Aggregation transformers (SURVEY §2.3, "Aggregation / distribution").

Reference semantics ported set-oriented; citations in each docstring point at
the reference implementation whose behavior (rounding, empty-input shape,
label fallbacks) is preserved.

The widget plugins of the same names are the kernels in
``niamoto_spark/refshapes.py``; these return rows for the catalog
queries.

Group convention: every operator takes ``group_cols`` (list of column names).
Passing ``[]`` computes one global row — internally a constant group that
Catalyst folds into a plain aggregate (no shuffle at all with partial
aggregation).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register

_GROUP_SENTINEL = "_all"


def _grouped(df: DataFrame, group_cols: Sequence[str]):
    if group_cols:
        return df.groupBy(*group_cols)
    return df.groupBy(F.lit(1).alias(_GROUP_SENTINEL))


def _strip_sentinel(df: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    return df if group_cols else df.drop(_GROUP_SENTINEL)


def _literal_rows(spark, rows: list[tuple], struct: str) -> DataFrame:
    """A few literal rows built in the JVM (``inline`` over a typed array
    literal): no Python-side RDD and no Python worker.  ``struct`` is
    the row type, e.g. ``"struct<bin_index:int,bin_label:string>"``."""
    arr = F.array(*[F.struct(*[F.lit(v) for v in r]) for r in rows])
    return spark.range(1).select(F.inline(arr.cast(f"array<{struct}>")))


def statistical_summary(df: DataFrame, group_cols: Sequence[str],
                        field: str) -> DataFrame:
    """min/mean/max/median/std/count of a numeric field, rounded to 2dp
    (reference: transformers/aggregation/statistical_summary.py:152-233).

    Parity notes (SURVEY §7.3):
    - std is sample std (pandas ddof=1) == Spark ``stddev_samp``.
    - median must be exact -> ``median`` (exact interpolated percentile),
      NOT percentile_approx.
    Scale: single hash aggregate with map-side partial aggregation; the
    exact median uses Spark's sort-based percentile which is the one
    genuinely shuffle-heavy piece.
    """
    c = F.col(field).cast("double")
    out = _grouped(df, group_cols).agg(
        F.round(F.min(c), 2).alias("min"),
        F.round(F.avg(c), 2).alias("mean"),
        F.round(F.max(c), 2).alias("max"),
        # exact interpolated median hits .xx5 midpoints on 2dp data;
        # double rounding (4dp->2dp) keeps it stable across engines (see
        # q51)
        F.round(F.round(F.median(c), 4), 2).alias("median"),
        F.round(F.stddev_samp(c), 2).alias("std"),
        F.count(c).alias("count"))
    return _strip_sentinel(out, group_cols)


def binned_distribution(df: DataFrame, group_cols: Sequence[str], field: str,
                        edges: Sequence[float]) -> DataFrame:
    """Histogram over explicit ascending bin edges with np.histogram
    semantics — every bin is [lo, hi) except the LAST which is [lo, hi]
    (reference: transformers/distribution/binned_distribution.py:196-251,
    np.histogram call :228).  Empty bins are emitted with count 0; each
    bin is labelled ``lo-hi``.

    Output: group_cols + (bin_index, bin_label, count).
    Scale: one CASE-ladder projection (codegen) + one hash aggregate; the
    dense bin frame is a broadcast join against a literal DataFrame of
    len(edges)-1 rows.
    """
    from niamoto_spark.functions import bin_index

    spark = df.sparkSession
    n = len(edges) - 1
    labels = [f"{edges[i]:g}-{edges[i+1]:g}" for i in range(n)]
    c = F.col(field).cast("double")
    binned = df.select(*group_cols, bin_index(c, edges).alias("bin_index")) \
               .where(F.col("bin_index").isNotNull())
    counts = _grouped(binned, list(group_cols) + ["bin_index"]).agg(
        F.count(F.lit(1)).alias("count"))

    bins = _literal_rows(spark, [(i, labels[i]) for i in range(n)],
                         "struct<bin_index:int,bin_label:string>")
    if group_cols:
        groups = df.select(*group_cols).distinct()
        dense = groups.crossJoin(F.broadcast(bins))
        out = dense.join(counts, list(group_cols) + ["bin_index"], "left")
    else:
        out = bins.join(counts.drop(_GROUP_SENTINEL), ["bin_index"], "left")
    out = out.withColumn("count", F.coalesce(F.col("count"), F.lit(0)))
    return out.select(*group_cols, "bin_index", "bin_label", "count")


def categorical_distribution(df: DataFrame, group_cols: Sequence[str],
                             field: str, categories: Sequence,
                             include_percentages: bool = False) -> DataFrame:
    """value_counts constrained to a declared category list; categories
    absent from the data get count 0; values outside the list are dropped
    (reference: transformers/distribution/categorical_distribution.py:
    161-252).

    Output: group_cols + (category, count [, pct]).
    """
    spark = df.sparkSession
    cats = [str(x) for x in categories]
    filtered = df.select(*group_cols,
                         F.col(field).cast("string").alias("category")) \
                 .where(F.col("category").isin(cats))
    cat_df = _literal_rows(spark, [(x,) for x in cats],
                           "struct<category:string>")
    counts = _grouped(filtered, list(group_cols) + ["category"]).agg(
        F.count(F.lit(1)).alias("count"))
    if group_cols:
        dense = df.select(*group_cols).distinct().crossJoin(F.broadcast(cat_df))
        out = dense.join(counts, list(group_cols) + ["category"], "left")
    else:
        out = cat_df.join(counts.drop(_GROUP_SENTINEL), ["category"], "left")
    out = out.withColumn("count", F.coalesce(F.col("count"), F.lit(0)))
    if include_percentages:
        w = Window.partitionBy(*group_cols) if group_cols else Window.partitionBy()
        total = F.sum("count").over(w)
        out = out.withColumn(
            "pct",
            F.when(total > 0, F.round(F.col("count") * 100.0 / total, 2))
             .otherwise(F.lit(0.0)))
    return out.select(*group_cols, "category", "count",
                      *(["pct"] if include_percentages else []))


def binary_counter(df: DataFrame, group_cols: Sequence[str], field: str,
                   true_label: str = "oui",
                   false_label: str = "non") -> DataFrame:
    """Counts of strictly-1 and strictly-0 values (bools coerced); anything
    else (NULL, 2, strings) ignored (reference:
    transformers/aggregation/binary_counter.py:136-202).

    Output: group_cols + (true_count, false_count, true_label, false_label).
    """
    c = F.col(field).try_cast("int")
    out = _grouped(df, group_cols).agg(
        F.coalesce(F.sum(F.when(c == 1, 1)), F.lit(0)).alias("true_count"),
        F.coalesce(F.sum(F.when(c == 0, 1)), F.lit(0)).alias("false_count"),
    ).withColumn("true_label", F.lit(true_label)) \
     .withColumn("false_label", F.lit(false_label))
    return _strip_sentinel(out, group_cols)


def boolean_comparison(df: DataFrame, group_cols: Sequence[str],
                       fields: dict[str, Column | str]) -> DataFrame:
    """Per-field True/False counts across several boolean columns/expressions
    -> long DataFrame (category, true_count, false_count) per group
    (reference: transformers/analysis/boolean_comparison.py:108-150).

    ``fields`` maps output label -> boolean column name or Column expr.
    One aggregate computes all fields; the unpivot is a stack() projection
    (no extra shuffle).
    """
    aggs = []
    for label, colref in fields.items():
        b = (F.col(colref) if isinstance(colref, str) else colref).cast("boolean")
        aggs.append(F.coalesce(F.sum(F.when(b, 1)), F.lit(0)).alias(f"__t_{label}"))
        aggs.append(F.coalesce(F.sum(F.when(~b, 1)), F.lit(0)).alias(f"__f_{label}"))
    wide = _grouped(df, group_cols).agg(*aggs)
    stack_args = ", ".join(
        f"'{label}', __t_{label}, __f_{label}" for label in fields)
    long = wide.selectExpr(
        *(group_cols if group_cols else []),
        f"stack({len(fields)}, {stack_args}) as (category, true_count, false_count)",
    )
    return long


def top_ranking(df: DataFrame, group_cols: Sequence[str], field: str,
                limit: int = 10,
                agg: str = "count", value_field: str | None = None,
                name_join: tuple[DataFrame, str, str] | None = None,
                weight_col: str | None = None) -> DataFrame:
    """Top-N by frequency (``agg="count"``, the reference's direct mode) or
    by a sum/avg of ``value_field`` over rows the caller has joined (its
    join mode), with optional display names from ``name_join``
    (reference: transformers/aggregation/top_ranking.py:297-381,
    :434-565; agg fns :644-663).  Hierarchical roll-up lives in
    ``loaders.hierarchical_top_ranking`` because it needs a hierarchy table.

    Deterministic tiebreak: rank orders by (value DESC, item ASC) so results
    are stable across engines/partitionings.
    Output: group_cols + (item, value, rank).
    Scale: hash aggregate then a per-group window top-k — Spark pushes a
    partial TopK under the window (WindowGroupLimit) so no full sort of the
    aggregate output happens.
    """
    if weight_col is not None and agg != "count":
        raise ValueError(
            f"top_ranking: weight_col applies to agg='count' only, "
            f"got agg={agg!r}")
    if agg == "count":
        # weight_col: pre-aggregated callers (hierarchical_top_ranking)
        # hand in per-row counts; sum(bigint) == count of the un-collapsed
        # rows, same dtype — the §2.3 aggregate-below-the-join lever.
        val = (F.count(F.lit(1)) if weight_col is None
               else F.sum(weight_col))
    elif agg == "sum":
        val = F.sum(F.col(value_field).cast("double"))
    elif agg == "avg":
        val = F.round(F.avg(F.col(value_field).cast("double")), 2)
    else:
        raise ValueError(f"unsupported agg {agg!r}")

    counts = (
        df.where(F.col(field).isNotNull())
        .groupBy(*group_cols, F.col(field).cast("string").alias("item"))
        .agg(val.alias("value"))
    )
    if name_join is not None:
        names_df, key_col, name_col = name_join
        counts = counts.join(
            F.broadcast(names_df.select(F.col(key_col).cast("string").alias("item"),
                                        F.col(name_col).alias("_disp"))),
            "item", "left",
        ).withColumn("item", F.coalesce(F.col("_disp"), F.col("item"))) \
         .drop("_disp")
    if group_cols:
        w = Window.partitionBy(*group_cols) \
                  .orderBy(F.col("value").desc(), F.col("item").asc())
        ranked = counts.withColumn("rank", F.row_number().over(w)) \
                       .where(F.col("rank") <= limit)
    else:
        # Global top-k: TakeOrderedAndProject (per-partition top-k + tiny
        # driver merge) instead of a single-partition window — the window
        # would serialize the whole aggregate output through one task.
        top = counts.orderBy(F.col("value").desc(), F.col("item").asc()) \
                    .limit(limit)
        w = Window.orderBy(F.col("value").desc(), F.col("item").asc())
        ranked = top.withColumn("rank", F.row_number().over(w))
    return ranked.select(*group_cols, "item", "value", "rank")


def field_aggregator(df_map: dict[str, DataFrame],
                     fields: Sequence[dict]) -> DataFrame:
    """Multi-source scalar assembly: per output field one of
    ``direct`` (first value), ``count``, ``sum``, ``mean``/``min``/``max``/
    ``std`` (reference: transformers/aggregation/field_aggregator.py:206-341;
    transformation enum :58-60).  JSON dot-paths (``extra_data.key``) are
    supported through ``get_json_object``.

    ``fields`` items: {source, field, target, transformation}.
    Returns a single-row DataFrame with one column per target.  Each source
    contributes ONE aggregate job; results are combined by a driver-side
    crossJoin of single-row frames (scalars — no data movement).
    """
    per_source: dict[str, list] = {}
    for spec in fields:
        per_source.setdefault(spec["source"], []).append(spec)

    def field_col(src_df: DataFrame, field: str) -> Column:
        if "." in field and field.split(".", 1)[0] in src_df.columns:
            root, path = field.split(".", 1)
            return F.get_json_object(F.col(root), f"$.{path}")
        return F.col(field)

    result: DataFrame | None = None
    for source, specs in per_source.items():
        src = df_map[source]
        aggs = []
        for s in specs:
            c = field_col(src, s["field"])
            t = s.get("transformation", "direct")
            target = s["target"]
            if t == "direct":
                aggs.append(F.first(c, ignorenulls=True).alias(target))
            elif t == "count":
                aggs.append(F.count(c).alias(target))
            elif t == "sum":
                aggs.append(F.round(F.sum(c.cast("double")), 2).alias(target))
            elif t == "mean":
                aggs.append(F.round(F.avg(c.cast("double")), 2).alias(target))
            elif t == "min":
                aggs.append(F.round(F.min(c.cast("double")), 2).alias(target))
            elif t == "max":
                aggs.append(F.round(F.max(c.cast("double")), 2).alias(target))
            elif t == "std":
                aggs.append(F.round(F.stddev_samp(c.cast("double")), 2).alias(target))
            else:
                raise ValueError(f"unsupported transformation {t!r}")
        piece = src.agg(*aggs)
        result = piece if result is None else result.crossJoin(piece)
    assert result is not None, "field_aggregator needs at least one field"
    return result


def time_series_analysis(df: DataFrame, group_cols: Sequence[str],
                         month_col: str,
                         fields: Sequence[str] | dict[str, Column]) -> DataFrame:
    """Month-bucketed (1..12) presence-%% per field: for each month the %% of
    rows whose value is > 0, rounded half away from zero like SQL round()
    (reference: transformers/distribution/time_series_analysis.py:177-285).

    ``fields`` may be column names (presence = col > 0) or a mapping
    label -> boolean Column.  Months absent from the data appear with 0.0
    (the reference emits all 12 labels).
    Output: group_cols + (month, <field>_pct ...).
    """
    spark = df.sparkSession
    if isinstance(fields, dict):
        exprs = {k: v for k, v in fields.items()}
    else:
        exprs = {f: (F.col(f).cast("double") > 0) for f in fields}
    m = F.col(month_col).cast("int")
    base = df.where(m.between(1, 12)).withColumn("month", m)
    out = base.groupBy(*group_cols, "month").agg(
        *[F.round(F.avg(F.when(cond, 1.0).otherwise(0.0)) * 100.0, 2)
          .alias(f"{label}_pct") for label, cond in exprs.items()])
    months = _literal_rows(spark, [(i,) for i in range(1, 13)],
                           "struct<month:int>")
    if group_cols:
        dense = df.select(*group_cols).distinct().crossJoin(F.broadcast(months))
    else:
        dense = months
    out = dense.join(out, list(group_cols) + ["month"], "left")
    for label in exprs:
        out = out.withColumn(f"{label}_pct",
                             F.coalesce(F.col(f"{label}_pct"), F.lit(0.0)))
    return out.select(*group_cols, "month", *[f"{label}_pct" for label in exprs])


@register("gini_coefficient", PluginType.TRANSFORMER)
def gini_coefficient(df: DataFrame, group_col: str, value_col: str,
                     round_dp: int = 4) -> DataFrame:
    """Gini concentration coefficient per group over non-negative
    values (revenue inequality across customers, token mass across
    domains):

        G = 2·Σ_i i·x_(i) / (n·Σ x) − (n + 1)/n

    with x ascending and ties broken deterministically.  The rank is
    ONE per-group window (the same shuffle the aggregate needs);
    everything after is per-group arithmetic.  Returns
    (group, n, total, gini)."""
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy("x", "__rid")
    base = (df.select(F.col(group_col).alias("g"),
                      F.col(value_col).cast("double").alias("x"))
            .where(F.col("x").isNotNull() & (F.col("x") >= 0))
            .withColumn("__rid", F.monotonically_increasing_id())
            .withColumn("i", F.row_number().over(w)))
    agg = (base.groupBy("g")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("x").alias("tot"),
                F.sum(F.col("i") * F.col("x")).alias("iwx")))
    g = (2 * F.col("iwx") / (F.col("n") * F.col("tot"))
         - (F.col("n") + 1) / F.col("n"))
    return agg.select(
        F.col("g").alias(group_col), "n",
        F.round("tot", 2).alias("total"),
        F.round(F.when(F.col("tot") > 0, g).otherwise(0.0),
                round_dp).alias("gini"))


@register("hhi_concentration", PluginType.TRANSFORMER)
def hhi_concentration(df: DataFrame, market_col: str, firm_col: str,
                      value_col: str, round_dp: int = 4) -> DataFrame:
    """Herfindahl–Hirschman concentration per market: Σ share_i² over
    firms (shares in [0,1]; >0.25 = the antitrust "highly
    concentrated" line) plus the effective number of firms 1/HHI —
    the market-structure read on any (market, seller, revenue) table.

    Two stacked aggregates on the same key prefix — the firm rollup's
    partitioning is reused by the market rollup."""
    per_firm = (df.groupBy(F.col(market_col).alias("mkt"),
                           F.col(firm_col).alias("firm"))
                .agg(F.sum(F.col(value_col).cast("double"))
                     .alias("v")))
    per_mkt = (per_firm.groupBy("mkt")
               .agg(F.count(F.lit(1)).alias("n_firms"),
                    F.sum("v").alias("tot"),
                    F.sum(F.col("v") * F.col("v")).alias("sq")))
    hhi = F.col("sq") / (F.col("tot") * F.col("tot"))
    return per_mkt.select(
        F.col("mkt").alias(market_col), "n_firms",
        F.round(hhi, round_dp).alias("hhi"),
        F.round(F.when(hhi > 0, 1.0 / hhi).otherwise(0.0),
                round_dp).alias("effective_firms"))
