"""Streaming deduplication — the online half of the corpus-dedup story.

Batch dedup (operators/dedup.py) handles the historical corpus; new
documents arriving as a stream are deduplicated against a bounded window of
recent fingerprints with ``dropDuplicatesWithinWatermark`` — state stays
bounded by the watermark instead of growing with the corpus."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_stream(docs: DataFrame, text_col: str = "text",
                 ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Drop documents whose normalized-content fingerprint already appeared
    within the watermark window."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    fp = docs.withColumn("__fp", F.md5(norm))
    if docs.isStreaming:
        return (fp.withWatermark(ts_col, watermark)
                  .dropDuplicatesWithinWatermark(["__fp"])
                  .drop("__fp"))
    return fp.dropDuplicates(["__fp"]).drop("__fp")
