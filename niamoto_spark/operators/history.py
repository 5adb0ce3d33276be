"""Slowly-changing-dimension (SCD type 2) history builder.

Turns an event/observation log into validity-interval rows — the
warehouse-side complement of the upsert sink (sources/sinks.py): where
upsert keeps only the latest state, SCD2 keeps every state with
[valid_from, valid_to) bounds and an is_current flag.

Spark-first: ONE hash shuffle on the key (the window partition), then
per-key lag/lead inside whole-stage codegen.  No self-join: consecutive
-duplicate collapse and interval derivation are both window expressions
over the same partitioning, so Catalyst reuses a single Exchange+Sort.

Scale note: per-key history sorts within one task (same bounded-history
argument as operators/asof.py); a hot key degrades to one large sort,
never a cross product.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register


@register("scd2_history", PluginType.TRANSFORMER)
def scd2_history(df: DataFrame, key_cols: Sequence[str], ts_col: str,
                 attr_cols: Sequence[str],
                 order_cols: Sequence[str] = (),
                 collapse_consecutive: bool = True) -> DataFrame:
    """Validity intervals per key: one row per attribute-state episode.

    Output: key_cols + attr_cols + (valid_from, valid_to, is_current);
    valid_to is the next episode's valid_from (half-open interval), null
    for the current episode.  ``order_cols`` breaks timestamp ties
    deterministically (callers with possible equal timestamps MUST pass a
    unique tiebreaker, e.g. an event id).  ``collapse_consecutive``
    merges adjacent rows whose attributes did not change — re-stating the
    same value does not open a new episode (standard SCD2 semantics).
    """
    keys = list(key_cols)
    order = [ts_col, *order_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    state = F.struct(*[F.col(c) for c in attr_cols])

    rows = df
    if collapse_consecutive:
        prev_state = F.lag(state).over(w)
        # eqNullSafe: a null attribute value must compare, not poison the
        # whole struct comparison into null (which would drop the row)
        rows = (df.withColumn("__new_episode",
                              prev_state.isNull() |
                              ~state.eqNullSafe(prev_state))
                  .where(F.col("__new_episode")).drop("__new_episode"))
    # episodes reuse the same (partition, order) → one Exchange total
    nxt = F.lead(F.col(ts_col)).over(w)
    return (rows.withColumn("valid_from", F.col(ts_col))
                .withColumn("valid_to", nxt)
                .withColumn("is_current", nxt.isNull())
                .select(*keys, *attr_cols,
                        "valid_from", "valid_to", "is_current"))
