"""Structured Streaming parity: the windowed events aggregate produces the
same result via readStream+availableNow as via batch."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from niamoto_spark.streaming.events import (run_stream_to_batch_parity,
                                            windowed_event_counts)


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory, spark):
    path = str(tmp_path_factory.mktemp("events_stream"))
    pdf = pd.DataFrame({
        "event_id": range(100),
        "ts": pd.date_range("2024-01-01", periods=100, freq="7min"),
        "user_id": [i % 5 for i in range(100)],
        "event_type": ["click" if i % 2 else "view" for i in range(100)],
        "value": [float(i) for i in range(100)],
    })
    spark.createDataFrame(pdf).repartition(4).write.mode("overwrite").parquet(path)
    return path


def test_stream_matches_batch(spark, events_dir):
    batch = windowed_event_counts(spark.read.parquet(events_dir), "1 hour")
    streamed = run_stream_to_batch_parity(spark, events_dir, "1 hour")
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, streamed.collect()))
    assert b == s and len(b) > 0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from niamoto_spark.streaming.dedup import dedup_stream

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:05",
                              "2024-01-01 00:10", "2024-01-01 00:15"]),
        "text": ["same words", "same  WORDS", "different", "same words"],
    })
    path = str(tmp_path / "docs")
    spark.createDataFrame(pdf).write.parquet(path)
    stream = dedup_stream(
        spark.readStream.schema(spark.read.parquet(path).schema).parquet(path))
    q = (stream.writeStream.format("memory").queryName("dedup_s")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    kept = sorted(r["doc_id"] for r in spark.table("dedup_s").collect())
    assert len(kept) == 2                # one 'same words' + 'different'
    assert 3 in kept


def test_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """Append-mode window aggregate with a 2h watermark across two
    availableNow runs sharing a checkpoint: a row arriving AFTER its
    window's watermark expired is DROPPED — the late-data contract the
    engine promises for 100-TB streams (state stays bounded)."""
    from niamoto_spark.streaming.events import (read_events_stream,
                                                windowed_event_counts)

    path = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_batch(pdf):
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(path)
        agg = windowed_event_counts(read_events_stream(spark, path), "1 hour")
        # file sink: the only built-in sink that supports checkpoint
        # recovery across restarts (memory sink refuses)
        q = (agg.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    base = {"event_id": [1, 2, 3], "user_id": [1, 1, 1],
            "event_type": ["click"] * 3,
            "value": [1.0, 1.0, 1.0]}
    run_batch(pd.DataFrame(dict(base, ts=pd.to_datetime(
        ["2024-01-01 10:10", "2024-01-01 10:40",
         "2024-01-01 20:00"]))))       # 20:00 advances watermark to 18:00
    # second run: one VALID new event (21:00) + one LATE event for the
    # long-closed 10:00 window
    run_batch(pd.DataFrame({"event_id": [4, 5], "user_id": [1, 1],
                            "event_type": ["click", "click"],
                            "value": [1.0, 1.0],
                            "ts": pd.to_datetime(["2024-01-01 21:00",
                                                  "2024-01-01 10:50"])}))
    rows = {r["window_start"].hour: r["n_events"]
            for r in spark.read.parquet(out).collect()}
    assert rows.get(10) == 2           # late 10:50 row NOT counted


# --- stream-stream LEFT OUTER join (streaming/joins.py) --------------------

def test_stream_left_outer_emits_unmatched(spark, tmp_path):
    import os
    import time as _time

    from pyspark.sql import functions as F

    from niamoto_spark.streaming.joins import stream_left_outer_join

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(ldir)
    os.makedirs(rdir)

    def write_file(rows, schema, d, name, ts_col, bump=0):
        tmp = os.path.join(d, ".mk")
        (spark.createDataFrame(rows, schema)
         .withColumn(ts_col, F.col("ts").cast("timestamp")).drop("ts")
         .coalesce(1).write.mode("overwrite").parquet(tmp))
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dest = os.path.join(d, name)
        os.replace(os.path.join(tmp, part), dest)
        if bump:
            os.utime(dest, (_time.time() + bump, _time.time() + bump))

    # left: users 1,2,3; right matches only user 1 inside the window
    write_file([(1, 100), (2, 200), (3, 300)],
               "user_id int, ts int", ldir, "a.parquet", "p_ts")
    write_file([(1, 110), (3, 99999)],
               "user_id int, ts int", rdir, "a.parquet", "c_ts")
    # two flush batches: watermark advance, then eviction
    for i in (1, 2):
        t = 500_000 + i
        write_file([(99, t)], "user_id int, ts int", ldir,
                   f"zz{i}.parquet", "p_ts", bump=i * 10)
        write_file([(98, t)], "user_id int, ts int", rdir,
                   f"zz{i}.parquet", "c_ts", bump=i * 10)

    l = (spark.readStream.schema("user_id int, p_ts timestamp")
         .option("maxFilesPerTrigger", 1).parquet(ldir))
    r = (spark.readStream.schema("user_id int, c_ts timestamp")
         .option("maxFilesPerTrigger", 1).parquet(rdir)
         .withColumnRenamed("user_id", "r_user")
         .withColumnRenamed("c_ts", "c_ts"))
    j = stream_left_outer_join(
        l, r.withColumnRenamed("r_user", "user_id"),
        on="user_id", left_ts="p_ts", right_ts="c_ts", span_s=60,
        watermark="10 seconds")
    q = (j.writeStream.format("memory").queryName("soj_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = (spark.table("soj_test")
            .where(F.col("user_id") < 90).collect())
    by_user = {r["user_id"]: r for r in rows}
    assert len(rows) == 3
    assert by_user[1]["c_ts"] is not None      # matched inside window
    assert by_user[2]["c_ts"] is None          # no click at all
    assert by_user[3]["c_ts"] is None          # click outside window
