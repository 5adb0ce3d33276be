"""Version-keyed result caching over manifest tables ("semantic
cache"): a query's result is reusable exactly until any input table
commits a new version — and manifest tables make that condition
CHECKABLE, because `committed_version` is a single metadata read.

    df, hit = cached_query(spark, root, "daily_revenue",
                           deps=[orders_tbl], build=lambda: ...)

The cache key is md5(query_key | (dep_path, dep_version)...), so a new
commit on any dependency changes the key and the stale entry is simply
never addressed again.
Results are parquet directories written through a staging rename —
concurrent builders race benignly (one rename wins, the other's
staging dir is discarded; both return the same rows).

At 100 TB this is the difference between a dashboard refresh costing a
metadata read and costing a fact-table scan; the reference recomputes
every widget query per run (transformer.py:488-541), which is exactly
the pattern this removes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from niamoto_spark.sources import manifest as M
from niamoto_spark.sources.sinks import read_table


def _cache_key(query_key: str, deps: "list[str]") -> str:
    h = hashlib.md5()
    h.update(query_key.encode())
    for p in sorted(deps):
        v = M.committed_version(p)
        h.update(f"|{os.path.abspath(p)}@{v}".encode())
    return h.hexdigest()


def cached_query(spark: SparkSession, cache_root: str, query_key: str,
                 deps: "list[str]", build) -> "tuple[DataFrame, bool]":
    """Return (result_df, was_cache_hit).  ``build`` is a zero-arg
    callable producing the DataFrame; it runs only on miss.  ``deps``
    are manifest table paths — the result is keyed to their CURRENT
    committed versions, so any later append/overwrite automatically
    misses (no explicit invalidation call exists or is needed)."""
    os.makedirs(cache_root, exist_ok=True)
    key = _cache_key(query_key, deps)
    final = os.path.join(cache_root, key)
    if os.path.isdir(final):
        return read_table(spark, final), True
    df = build()
    staging = os.path.join(cache_root, f".stage-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    try:
        os.rename(staging, final)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)  # lost the race
    return read_table(spark, final), False
