"""JSONL shard export — the delivery format training loaders actually
consume (one JSON object per line, fixed shard layout).

Reference parity: the reference's JSON export is its static-API tree
(exporters/json_api.py mirrors that, src/niamoto/publish/static_api);
JSONL shards are the extension-brief counterpart for the training-data
lane: corpus out, n deterministic shards, one file per shard.

Layout: ``path/shard=N/part-*.txt`` with exactly one writer per shard
(repartition by the shard column before the write), so a loader can map
shard -> file 1:1 and partition pruning serves per-shard reads.  Shard
assignment reuses ``text.shard_corpus`` (md5, seed re-deals, engine-
portable).  Row order inside a shard is NOT meaningful — loaders that
need a deterministic order sort by ``epoch_order``'s positions.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def export_jsonl_shards(df: DataFrame, id_col: str, path: str,
                        n_shards: int | None = None,
                        target_shard_bytes: int = 256 * 1024 * 1024,
                        seed: int = 0) -> int:
    """Write ``df`` as JSONL shards; returns the shard count.

    ``n_shards`` defaults to ceil(input_bytes / target_shard_bytes)
    estimated from the source file listing (minimum 1) — a heuristic;
    pass it explicitly when the row width changes a lot under
    serialization."""
    from niamoto_spark.functions import _est_scan
    from niamoto_spark.operators.text import shard_corpus

    if n_shards is None:
        _, nbytes = _est_scan(df)
        n_shards = (max(1, math.ceil(nbytes / target_shard_bytes))
                    if nbytes else 32)
    cols = list(df.columns)
    sharded = shard_corpus(df, id_col, n_shards, seed=seed)
    (sharded
     .select(F.to_json(F.struct(*[F.col(c) for c in cols])).alias("value"),
             "shard")
     .repartition(n_shards, "shard")
     .write.mode("overwrite").partitionBy("shard").text(path))
    return n_shards
