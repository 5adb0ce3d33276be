"""Bucketed-table joins (shuffle-free plan contract) and melt."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def no_broadcast(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _cleanup(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def join_has_no_exchange(df) -> bool:
    """True when the executed plan contains no shuffle Exchange (the
    bucketed-join contract).  AQE wraps plans, so inspect the final
    executed string."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" not in plan


def test_bucketed_join_no_exchange(spark, no_broadcast):
    from niamoto_spark.sources.bucketed import bucketed_join, write_bucketed

    left = spark.range(2000).select((F.col("id") % 100).alias("k"),
                                    F.col("id").alias("v"))
    right = spark.range(100).select(F.col("id").alias("k"),
                                    (F.col("id") * 10).alias("w"))
    try:
        write_bucketed(left, "tb_left", ["k"], 4, sort_cols=["k"])
        write_bucketed(right, "tb_right", ["k"], 4, sort_cols=["k"])
        j = bucketed_join(spark, "tb_left", "tb_right", "k")
        assert join_has_no_exchange(j)  # the write paid the shuffle
        assert j.count() == 2000
    finally:
        _cleanup(spark, "tb_left", "tb_right")


def test_bucketed_join_matches_plain_join(spark, no_broadcast):
    from niamoto_spark.sources.bucketed import (bucketed_join,
                                                write_bucketed)

    left = spark.range(500).select((F.col("id") % 37).alias("k"),
                                   F.col("id").alias("v"))
    right = spark.range(37).select(F.col("id").alias("k"),
                                   (F.col("id") + 100).alias("w"))
    try:
        write_bucketed(left, "tb_l2", ["k"], 8)
        write_bucketed(right, "tb_r2", ["k"], 8)
        got = sorted(map(tuple, bucketed_join(
            spark, "tb_l2", "tb_r2", "k").select("k", "v", "w").collect()))
        want = sorted(map(tuple,
                          left.join(right, "k").select("k", "v", "w")
                          .collect()))
        assert got == want
    finally:
        _cleanup(spark, "tb_l2", "tb_r2")


def test_bucketed_agg_no_exchange(spark, no_broadcast):
    """Aggregation on the bucket key also skips its Exchange."""
    from niamoto_spark.sources.bucketed import write_bucketed

    df = spark.range(1000).select((F.col("id") % 50).alias("k"),
                                  F.col("id").alias("v"))
    try:
        write_bucketed(df, "tb_agg", ["k"], 4)
        agg = spark.table("tb_agg").groupBy("k").agg(F.sum("v").alias("s"))
        assert join_has_no_exchange(agg)
        assert agg.count() == 50
    finally:
        _cleanup(spark, "tb_agg")


def test_mismatched_buckets_reshuffle(spark, no_broadcast):
    """Different bucket counts (non-divisor) cannot co-locate — at
    least one side re-shuffles; results stay correct."""
    from niamoto_spark.sources.bucketed import bucketed_join, write_bucketed

    left = spark.range(300).select((F.col("id") % 10).alias("k"))
    right = spark.range(10).select(F.col("id").alias("k"))
    try:
        write_bucketed(left, "tb_l3", ["k"], 4)
        write_bucketed(right, "tb_r3", ["k"], 3)
        j = bucketed_join(spark, "tb_l3", "tb_r3", "k")
        assert not join_has_no_exchange(j)
        assert j.count() == 300
    finally:
        _cleanup(spark, "tb_l3", "tb_r3")


def test_melt_roundtrip(spark):
    from niamoto_spark.operators.extraction import melt

    df = spark.createDataFrame([(1, 10.0, 20.0), (2, 30.0, None)],
                               "id long, a double, b double")
    long = melt(df, ["id"], ["a", "b"])
    rows = sorted(map(tuple, long.collect()))
    assert rows == [(1, "a", 10.0), (1, "b", 20.0),
                    (2, "a", 30.0), (2, "b", None)]


def test_melt_plans_without_shuffle(spark):
    from niamoto_spark.operators.extraction import melt

    df = spark.range(100).select(F.col("id"),
                                 (F.col("id") * 1.0).alias("x"),
                                 (F.col("id") * 2.0).alias("y"))
    plan = melt(df, ["id"], ["x", "y"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "Expand" in plan


def test_melt_requires_value_cols(spark):
    from niamoto_spark.operators.extraction import melt

    with pytest.raises(ValueError, match="at least one"):
        melt(spark.range(3), ["id"], [])
