"""Diversity indices + array math vs numpy references (parity-critical
log2 semantics, reference custom_calculator.py:712-805)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from niamoto_spark.operators import ecological as eco


def test_shannon_pielou_matches_numpy(spark):
    counts = [12, 5, 0, 3, 8]
    df = spark.createDataFrame(pd.DataFrame(
        {"g": ["x"] * 5, "count": counts}))
    r = eco.shannon_pielou(df, ["g"]).collect()[0]
    arr = np.array([c for c in counts if c > 0], dtype=float)
    p = arr / arr.sum()
    h = float(-(p * np.log2(p)).sum())
    assert r["shannon"] == pytest.approx(round(h, 4), abs=1e-9)
    assert r["max_entropy"] == round(math.log2(4), 4)
    assert r["classes_count"] == 5 and r["non_zero_classes"] == 4
    assert r["pielou"] == pytest.approx(round(round(h, 4) / round(math.log2(4), 4), 4))


def test_shannon_all_zero(spark):
    df = spark.createDataFrame(pd.DataFrame({"g": ["x"], "count": [0]}))
    r = eco.shannon_pielou(df, ["g"]).collect()[0]
    assert r["shannon"] == 0.0 and r["pielou"] == 0.0


@pytest.fixture(scope="module")
def arr_df(spark):
    return spark.createDataFrame(
        [( [1.0, 2.0, 3.0, 0.0], [2.0, 2.0, 0.0, 1.0] )],
        "a array<double>, b array<double>")


def test_array_ops(arr_df):
    row = arr_df.select(
        eco.array_division("a", "b").alias("div"),
        eco.array_multiplication("a", "b").alias("mul"),
        eco.normalize_array("a").alias("norm"),
        eco.weighted_sum("a", "b").alias("ws"),
        eco.sum_array_slice("a", 1, 2).alias("sl"),
    ).collect()[0]
    assert row["div"] == [0.5, 1.0, 0.0, 0.0]      # /0 -> 0
    assert row["mul"] == [2.0, 4.0, 0.0, 0.0]
    assert row["norm"] == pytest.approx([1 / 6, 2 / 6, 3 / 6, 0.0])
    assert row["ws"] == 6.0
    assert row["sl"] == 5.0                        # elements 2,3


def test_shannon_entropy_array_log2(arr_df):
    row = arr_df.select(eco.shannon_entropy_array("a").alias("h")).collect()[0]
    p = np.array([1, 2, 3]) / 6.0
    assert row["h"] == pytest.approx(float(-(p * np.log2(p)).sum()))


def test_peak_detection_and_active_periods(spark):
    df = spark.createDataFrame([([0.0, 5.0, 10.0, 4.0, 9.0, 0.0],)],
                               "m array<double>")
    row = df.select(
        eco.peak_detection("m", 0.9).alias("peaks"),
        eco.active_periods("m", 4.5).alias("act")).collect()[0]
    assert row["peaks"] == [3, 5]        # 10 and 9 are both >= 0.9 * max
    assert row["act"] == [2, 3, 5]       # 1-based months above threshold


def test_custom_calculator_dispatch(spark):
    df = spark.createDataFrame([([2.0, 2.0],)], "a array<double>")
    out = eco.custom_calculator(df, "normalize_array", a="a", out="n")
    assert out.collect()[0]["n"] == [0.5, 0.5]
    with pytest.raises(ValueError):
        eco.custom_calculator(df, "nope", a="a")
