"""SparkSession factory.

Local-mode defaults are tuned for the test rig (local[32], single JVM), but
every setting is chosen to also be correct on a real cluster:

- AQE on: runtime coalescing + skew-join splitting replaces hand-tuned
  partition counts when data volumes jump 100x.
- shuffle.partitions sized to cores locally; on a cluster this is superseded
  by AQE's coalescing (initialPartitionNum stays high enough to split skew).
- Arrow enabled: every pandas interchange (createDataFrame, mapInPandas,
  pandas UDFs) goes through columnar Arrow batches instead of pickled rows.
- autoBroadcastJoinThreshold left at default; dimension tables (region,
  nation, hierarchies) are additionally hinted with F.broadcast() at call
  sites because they are *known* small regardless of stats availability.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.shuffle.partitions": None,  # filled from cpu count
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # INT96 (the legacy default) carries NO min/max footer statistics, so
    # timestamp columns would be invisible to zone maps (manifest.py) and
    # to parquet row-group pruning.  TIMESTAMP_MICROS is the modern
    # annotated int64 every engine stats-prunes on.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def driver_memory(total_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: a quarter of the host's memory
    (``total_bytes``, default the physical memory) in whole GiB, at least
    1g — the host may be shared, and concurrent plans share this heap."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total_bytes // (4 << 30))}g"


def get_spark(app_name: str = "niamoto_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, falling back to
    all cores).  On a cluster, pass master=None with spark-submit providing
    the master URL; the conf here remains valid.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = cpus
    # Single-JVM local mode: driver memory is the only pool.  Leave headroom
    # for the OS; on a real cluster the executor memory flags take over.
    conf.setdefault("spark.driver.memory",
                    os.environ.get("SPARK_DRIVER_MEM") or driver_memory())
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        if v is not None:
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
