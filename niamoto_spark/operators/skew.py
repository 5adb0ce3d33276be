"""Skew-mitigated joins and aggregations via key salting.

A shuffle join hashes rows to reducers by key; one hot key (the null
customer, the default product, the bot user) pins its entire volume on a
single task and the stage runs at the speed of that straggler.  AQE's
skew-join split (`spark.sql.adaptive.skewJoin.enabled`, on in
session.py) repairs *sort-merge* joins at runtime; salting is the
explicit, planner-independent fix that also covers aggregations and
broadcast-ineligible shapes:

- ``salted_join``: the big side gets a deterministic salt in [0, s);
  the small side is exploded s-fold so every (key, salt) pair exists.
  The join runs on (key, salt) — the hot key's rows now spread across s
  reducers.  Result set is EXACTLY the plain join's (each big row still
  matches each small row once), which is what q132's oracle checks.
- ``salted_count``: two-phase aggregation — count by (key, salt), then
  re-aggregate by key.  The second shuffle carries at most s rows per
  key, so no reducer ever sees a hot key's raw volume.

Cost model: salting multiplies the SMALL side by s (bounded, it is the
dim side) and leaves the big side's shuffle volume unchanged — it only
re-buckets it.  Choose s ≈ ceil(hot_key_rows / target_rows_per_task).

The salt is ``pmod(xxhash64(all big-side columns), s)`` by default:
deterministic (same row -> same salt, so retried tasks and re-runs
agree), uniform, and independent of the join key.  Pass ``salt_expr``
to salt from specific columns (required if the row has map-typed
columns, which xxhash64 rejects).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register

_SALT = "__salt"


def _default_salt(df: DataFrame, buckets: int) -> Column:
    cols = [F.col(c) for c in df.columns]
    return F.pmod(F.xxhash64(*cols), F.lit(buckets))


@register("salted_join", PluginType.TRANSFORMER)
def salted_join(big: DataFrame, small: DataFrame, on: list[str] | str,
                buckets: int = 8, how: str = "inner",
                salt_expr: Column | None = None) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``on`` with the big side salted into
    ``buckets`` sub-keys.  Supports inner / left / left_semi /
    left_anti (right-side-preserving joins would need salt on the other
    side — flip the arguments instead)."""
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(f"salted_join: unsupported how={how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    if _SALT in big.columns or _SALT in small.columns:
        raise ValueError(f"column {_SALT!r} already exists")
    salt = salt_expr if salt_expr is not None else _default_salt(big, buckets)
    big_s = big.withColumn(_SALT, salt.cast("int"))
    small_s = small.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))))
    return big_s.join(small_s, on=keys + [_SALT], how=how).drop(_SALT)


@register("salted_count", PluginType.TRANSFORMER)
def salted_count(df: DataFrame, key_cols: list[str] | str,
                 buckets: int = 32) -> DataFrame:
    """``groupBy(keys).count()`` that never funnels a hot key through
    one reducer: partial count by (keys, salt), then sum by keys.
    (Spark's hash aggregate already map-side-combines, which bounds
    shuffle VOLUME; salting additionally bounds per-reducer row count
    when a single key's distinct partial count exceeds a task.)"""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    salt = F.pmod(F.xxhash64(*[F.col(k) for k in keys],
                             F.spark_partition_id()), F.lit(buckets))
    partial = (df.withColumn(_SALT, salt)
               .groupBy(*keys, _SALT).agg(F.count(F.lit(1)).alias("__c")))
    return (partial.groupBy(*keys)
            .agg(F.sum("__c").alias("count")))


@register("skew_report", PluginType.TRANSFORMER)
def skew_report(df: DataFrame, key_cols: "list[str] | str",
                top_k: int = 5, round_dp: int = 6) -> DataFrame:
    """Hot-key diagnosis for a prospective join/aggregation key: the
    numbers that decide between a plain shuffle, a broadcast, and
    ``salted_join``.  Reports the ``top_k`` heaviest keys with their
    row share, plus (repeated on every row, window totals over the
    aggregated key table — no second scan) the global skew ratio
    max_key_rows / avg_key_rows: the straggler multiplier a plain
    shuffle on this key would suffer.

    One hash aggregation on the key; the global totals are a 1-ROW
    aggregate of the key table (never a whole-table window — at 100 TB
    the key table itself can be billions of rows), and the top-k
    election is a TakeOrdered sort-limit with the rank assigned over
    the k survivors only.  Deterministic (count desc, then key asc)."""
    from pyspark.sql import Window

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    # NULL key components are shown under an explicit sentinel — the
    # NULL group IS a legitimate hot key, and concat_ws would render it
    # as '' (colliding with real empty strings and with SQL's NULL ||)
    key_str = F.concat_ws("|", *[F.coalesce(F.col(c).cast("string"),
                                            F.lit("<NULL>"))
                                 for c in keys])
    per = (df.groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("n"))
           .select(key_str.alias("key"), "n"))
    totals = per.agg(F.sum("n").alias("__total"),
                     F.count(F.lit(1)).alias("__nkeys"),
                     F.max("n").alias("__max"))
    top = (per.orderBy(F.col("n").desc(), F.col("key").asc())
           .limit(top_k)
           .withColumn("rank", F.row_number().over(
               Window.orderBy(F.col("n").desc(), F.col("key").asc()))))
    return (top.crossJoin(F.broadcast(totals))
            .select("rank", "key", "n",
                    F.round(F.col("n") / F.col("__total"), round_dp)
                    .alias("share"),
                    F.round(F.col("__max")
                            / (F.col("__total")
                               / F.col("__nkeys").cast("double")),
                            round_dp).alias("skew_ratio"),
                    F.col("__nkeys").alias("n_keys")))
