"""Table sinks (SURVEY §2.1).

- ``overwrite_table``: the reference's replace-mode write is a staging table
  + atomic swap with backup/restore (engine.py:58-168).  Parquet/Spark
  equivalent: write to a staging dir, then atomic directory rename — the
  live path never holds a half-written table.
- ``upsert_table``: the reference's incremental transform flush is
  ``INSERT ... ON CONFLICT (id) DO UPDATE`` (transformer.py:1287-1321).
  Without Delta the plain-Spark equivalent is union + row_number-dedupe
  (new rows win) + overwrite; with a Delta-enabled session the same call
  becomes MERGE INTO.
- ``read_table``: reads a table back with the Spark schema its own footer
  records, so the read starts no schema-inference job.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# the footer key under which Spark's parquet writer stores the written
# schema; Spark's own schema inference prefers it to the parquet schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def data_files(path: str) -> list[str] | None:
    """The data files of the parquet table at ``path`` in name order,
    hidden as Spark hides them (a name starting with '.', or with '_'
    and holding no '='); a single file is its own table.  None when
    Spark has to discover the files itself: the table has
    subdirectories (``k=v/`` partitions) or ``path`` is not a local file
    or directory."""
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    files = []
    for e in sorted(os.scandir(path), key=lambda e: e.name):
        if e.name.startswith(".") or \
                (e.name.startswith("_") and "=" not in e.name):
            continue
        if e.is_dir():
            return None
        files.append(e.path)
    return files


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job: an
    unpartitioned table whose first data file's footer carries Spark's
    schema is read with that schema, the one inference would return.
    Any other table (partitioned, written by another writer, holding no
    data file, or missing) is read by inference."""
    import pyarrow.parquet as pq

    files = data_files(path)
    if files:
        meta = pq.read_metadata(files[0]).metadata or {}
        if _SPARK_SCHEMA_KEY in meta:
            schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
            return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def _side(path: str, suffix: str) -> str:
    """Sibling working dir for the staging swap, DOT-prefixed so Spark's
    file listing never scans it: Spark hides '_'-prefixed names only
    when they contain no '=', so a side dir of a partition directory
    would be read as LIVE partition data by any concurrent or
    post-crash reader of the parent table.  A leading dot is hidden
    unconditionally."""
    p = path.rstrip("/")
    d, b = os.path.split(p)
    return os.path.join(d, f".{b}{suffix}")


def overwrite_table(df: DataFrame, path: str) -> None:
    staging = _side(path, ".__staging__")
    backup = _side(path, ".__backup__")
    # crash recovery BEFORE touching anything:
    # - path missing + backup present = we died mid-swap and backup holds
    #   the only committed copy -> restore it (never delete it)
    # - path present + backup present = we died after a successful swap ->
    #   the backup is stale and safe to clear
    # - stale staging is always safe to clear
    if os.path.exists(backup):
        if not os.path.exists(path):
            os.rename(backup, path)
        else:
            shutil.rmtree(backup)
    if os.path.exists(staging):
        shutil.rmtree(staging)
    df.write.mode("overwrite").parquet(staging)
    try:
        if os.path.exists(path):
            os.rename(path, backup)
        os.rename(staging, path)
        if os.path.exists(backup):
            shutil.rmtree(backup)
    except Exception:
        # restore the previous table if the swap failed midway
        if not os.path.exists(path) and os.path.exists(backup):
            os.rename(backup, path)
        raise


def upsert_table(spark: SparkSession, updates: DataFrame, path: str,
                 key: str) -> None:
    """Upsert ``updates`` into the parquet table at ``path`` by ``key``:
    incoming rows replace existing rows with the same key."""
    if os.path.exists(path):
        existing = read_table(spark, path)
        tagged = updates.withColumn("__pri", F.lit(0)) \
            .unionByName(existing.withColumn("__pri", F.lit(1)))
        w = Window.partitionBy(key).orderBy("__pri")
        merged = (tagged.withColumn("__rn", F.row_number().over(w))
                  .where(F.col("__rn") == 1).drop("__pri", "__rn"))
        # materialize before overwriting the dir we read from — checkpoint
        # executor-side unconditionally (one pass, nothing on the driver;
        # the old count()+collect() branch ran the plan twice and pulled up
        # to 100k rows through the driver).  At real scale this sink wants
        # key-hash-partitioned storage so only touched partitions rewrite
        # (or Delta MERGE INTO when available) — overwrite_table's staging
        # swap is the no-Delta fallback.
        overwrite_table(merged.localCheckpoint(), path)
    else:
        overwrite_table(updates, path)
