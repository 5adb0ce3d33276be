"""Enrichment operators.

- ``reference_enrichment_profile``: normalize JSON enrichment payloads into
  typed display items (reference: transformers/aggregation/
  reference_enrichment_profile.py:1-60) — a ``from_json`` + projection, all
  JVM-side.
- ``api_enrichment``: the reference's HTTP-enrichment loader family
  (api_taxonomy_enricher.py:52-290) re-shaped for a distributed engine:
  the DISTINCT key set is collected to the driver (dedup first — the
  reference enriches per-row), fetched through a rate-limited, cached
  client, and joined back as a broadcast map.  The HTTP transport is
  injectable so tests (and this offline container) use a fake fetcher.
"""

from __future__ import annotations

import json
import time
from typing import Callable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register


@register("reference_enrichment_profile", PluginType.TRANSFORMER)
def reference_enrichment_profile(df: DataFrame, json_col: str,
                                 fields: Mapping[str, str],
                                 item_types: Mapping[str, str] | None = None,
                                 ) -> DataFrame:
    """Extract dot-path fields from a JSON payload column into display items.

    ``fields``: output name -> JSON path (without leading $).
    ``item_types``: output name -> display type tag (text/number/badge/...).
    Output: original columns + one struct column ``profile`` with an entry
    per field: (label, value, type).
    """
    item_types = item_types or {}
    items = [
        F.struct(
            F.lit(label).alias("label"),
            F.get_json_object(F.col(json_col), f"$.{path}").alias("value"),
            F.lit(item_types.get(label, "text")).alias("type"),
        )
        for label, path in fields.items()
    ]
    return df.withColumn("profile", F.array(*items))


class RateLimitedCache:
    """Driver-side fetch coordinator: ``rate_limit`` requests/sec + an
    in-memory cache keyed by a stable string (reference
    api_taxonomy_enricher._stable_cache_key :52-56, rate_limit :213,
    cache :218-220)."""

    def __init__(self, fetcher: Callable[[str], dict],
                 rate_limit: float = 2.0,
                 clock=time.monotonic, sleeper=time.sleep):
        self.fetcher = fetcher
        self.min_interval = 1.0 / rate_limit if rate_limit > 0 else 0.0
        self.cache: dict[str, dict] = {}
        self._last = float("-inf")
        self._clock, self._sleep = clock, sleeper
        self.fetch_count = 0

    def get(self, key: str) -> dict:
        if key in self.cache:
            return self.cache[key]
        wait = self.min_interval - (self._clock() - self._last)
        if wait > 0:
            self._sleep(wait)
        self._last = self._clock()
        self.fetch_count += 1
        result = self.fetcher(key)
        self.cache[key] = result
        return result


@register("api_enrichment", PluginType.LOADER)
def api_enrichment(df: DataFrame, key_col: str,
                   fetcher: Callable[[str], dict],
                   rate_limit: float = 2.0,
                   out_col: str = "extra_data",
                   response_mapping: Mapping[str, str] | None = None,
                   client: RateLimitedCache | None = None,
                   max_keys: int = 100_000,
                   distributed: bool = False,
                   num_partitions: int = 4) -> DataFrame:
    """Enrich rows via an external lookup on the DISTINCT key set.

    Scale design: keys are deduplicated in Spark (reference tables are
    small; the *distinct key* cardinality is what matters), fetched on the
    driver under the rate limiter (a 1000-executor fleet must not multiply
    the rate — SURVEY §7.3.6, reference api_taxonomy_enricher.py:213's
    rate contract), then joined back as a broadcast map — the fact table
    never moves.

    Guards for the 100 TB miswiring case (VERDICT r8 next-#4):

    - ``max_keys`` (default 1e5) bounds the key set BEFORE any driver
      materialization — a fact-table key column joined here by mistake
      raises instead of OOMing the driver.  HTTP latency makes larger
      key sets impractical anyway (1e5 keys at 2 req/s is 14 h).
    - ``distributed=True`` fetches on the executors instead: the
      distinct-key frame is hashed into ``num_partitions`` partitions,
      each running its own token bucket at ``rate_limit /
      num_partitions`` so the AGGREGATE pacing still respects
      ``rate_limit``.  Use for large key sets where driver-side
      serial fetching is the bottleneck; the fetcher must be
      picklable and each partition's cache is partition-local
      (the hash partitioning makes keys disjoint, so no duplicate
      fetches across partitions either).
    """
    spark = df.sparkSession
    key_type = dict(df.dtypes)[key_col]
    distinct = df.select(key_col).distinct()

    def guard_exceeded() -> bool:
        return (max_keys is not None
                and distinct.limit(max_keys + 1).count() > max_keys)

    def guard_error():
        return ValueError(
            f"api_enrichment: >{max_keys} distinct keys in "
            f"'{key_col}' — this looks like a fact-table key, not a "
            "reference key. Raise max_keys explicitly (and consider "
            "distributed=True) if intentional.")

    if distributed:
        import pandas as pd  # noqa: PLC0415 - executor-side dependency

        # key FETCHES stay distributed: the guard probes the cached
        # distinct frame and the HTTP calls run on executors via
        # mapInPandas.  The fetched RESULTS (≤ max_keys small rows)
        # are then collected once below for a stable broadcast — the
        # same bytes a broadcast would pull to the driver anyway; what
        # the mode avoids is funneling the API calls themselves
        # through a single driver-side loop
        distinct = distinct.persist()
        try:
            if guard_exceeded():
                raise guard_error()
        except Exception:
            distinct.unpersist()
            raise

        per_rate = rate_limit / max(num_partitions, 1)

        def fetch_partition(it):
            cl = RateLimitedCache(fetcher, per_rate)
            for pdf in it:
                out = []
                for k in sorted(pdf[key_col], key=str):
                    payload = cl.get(str(k))
                    if response_mapping:
                        payload = {o: payload.get(s)
                                   for o, s in response_mapping.items()}
                    out.append((k, json.dumps(payload, sort_keys=True)))
                yield pd.DataFrame(out, columns=["__k", out_col])

        enrich = (distinct.repartition(num_partitions, key_col)
                  .mapInPandas(fetch_partition,
                               schema=f"__k {key_type}, {out_col} string"))
        # executor fetches happen once; materialize the small result so
        # the join below doesn't refetch on re-evaluation
        enrich = spark.createDataFrame(
            enrich.collect(), f"__k {key_type}, {out_col} string")
        distinct.unpersist()
        return (df.join(F.broadcast(enrich),
                        df[key_col] == F.col("__k"), "left")
                .drop("__k"))

    # driver path: ONE collect serves both the guard and the keys
    key_rows = (distinct.limit(max_keys + 1).collect()
                if max_keys is not None else distinct.collect())
    if max_keys is not None and len(key_rows) > max_keys:
        raise guard_error()
    client = client or RateLimitedCache(fetcher, rate_limit)
    keys = [r[0] for r in key_rows]
    rows = []
    for k in sorted(keys, key=str):
        payload = client.get(str(k))
        if response_mapping:
            payload = {out: payload.get(src) for out, src in response_mapping.items()}
        rows.append((k, json.dumps(payload, sort_keys=True)))
    enrich = spark.createDataFrame(rows, f"__k {key_type}, {out_col} string")
    return df.join(F.broadcast(enrich), df[key_col] == F.col("__k"), "left") \
             .drop("__k")


# The reference registers three HTTP-enricher loaders (taxonomy / spatial /
# elevation siblings, SURVEY §2.1); all share the generic rate-limited
# distinct-key mechanism above, so they alias it — a config naming any of
# them resolves to the same loader with its own fetcher/mapping params.
for _alias in ("api_taxonomy_enricher", "api_spatial_enricher",
               "api_elevation_enricher"):
    register(_alias, PluginType.LOADER)(api_enrichment)


@register("custom_formatter", PluginType.TRANSFORMER)
def custom_formatter(df: DataFrame,
                     rename: Mapping[str, str] | None = None,
                     select: list[str] | None = None,
                     literals: Mapping[str, object] | None = None) -> DataFrame:
    """Output reshaping (reference: transformers/ecological/
    custom_formatter.py:130-165): rename/select/constant-inject — pure
    projection."""
    out = df
    for old, new in (rename or {}).items():
        out = out.withColumnRenamed(old, new)
    for name, val in (literals or {}).items():
        out = out.withColumn(name, F.lit(val))
    if select:
        out = out.select(*select)
    return out
