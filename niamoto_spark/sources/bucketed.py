"""Bucketed tables: pre-shuffled storage layout for exchange-free joins
and aggregations.

The single most expensive thing a 100 TB join does is shuffle both
sides by the join key.  Bucketing pays that shuffle ONCE at write time:
``bucketBy(n, key)`` hashes every row into one of n bucket files per
partition, and records the layout in the catalog.  Every later
equi-join or aggregation on the bucket key reads the matching buckets
side-by-side — Catalyst sees compatible ``HashPartitioning`` on both
sides and plans a SortMergeJoin with NO Exchange (the plan-contract
test pins exactly that).  ``sortBy`` additionally pre-sorts within
buckets, removing the join's Sort too.

This is the storage-layout counterpart of operators/skew.py (runtime
mitigation) and the manifest zone maps (pruning): bucket for the keys
you join on every day, zone-map the ranges you filter on.

Spark-specific notes:
- bucketed tables must go through the catalog (``saveAsTable``) — the
  bucket spec lives in the table metadata, plain parquet paths lose it;
- both sides must have the SAME bucket count (or a divisor — Spark
  4 can coalesce 2n -> n); otherwise one side re-shuffles;
- ``spark.sql.sources.bucketing.enabled`` is on by default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from niamoto_spark.registry import PluginType, register


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Persist ``df`` as a catalog-managed bucketed parquet table.

    ``mode='overwrite'`` also clears an ORPHANED location: a managed
    table's directory can outlive its catalog entry (new session, old
    warehouse), and saveAsTable refuses to adopt it
    (LOCATION_ALREADY_EXISTS) — drop-and-delete first makes overwrite
    mean overwrite."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1: {n_buckets}")
    if mode == "overwrite":
        import shutil
        from urllib.parse import urlparse

        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        loc = urlparse(warehouse)
        if loc.scheme in ("file", ""):
            leftover = os.path.join(loc.path, table.split(".")[-1])
            shutil.rmtree(leftover, ignore_errors=True)
    w = (df.write.mode(mode).format("parquet")
         .bucketBy(n_buckets, *bucket_cols))
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


@register("bucketed_join", PluginType.TRANSFORMER)
def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  on: list[str] | str, how: str = "inner") -> DataFrame:
    """Join two bucketed catalog tables on their bucket key.  When both
    were written with ``write_bucketed`` on ``on`` with the same bucket
    count, the plan contains no Exchange — the join streams bucket i of
    the left against bucket i of the right."""
    keys = [on] if isinstance(on, str) else list(on)
    return spark.table(left_table).join(spark.table(right_table), keys, how)
