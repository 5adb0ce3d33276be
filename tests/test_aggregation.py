"""Golden tests for the aggregation transformers, mirroring the reference's
hand-computed-fixture strategy (SURVEY §5; e.g. the 17-value binned
distribution golden in the reference's test_binned_distribution.py)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from niamoto_spark.operators import aggregation as agg

VALUES = [10.5, 15.2, 12.8, 30.1, 45.6, 22.3, 18.9, 25.4, 33.7, 41.2,
          8.9, 19.6, 27.8, 36.4, 44.1, 15.7, 29.3]  # 17 values


@pytest.fixture(scope="module")
def frame(spark):
    pdf = pd.DataFrame({"dbh": VALUES, "g": ["a"] * 9 + ["b"] * 8})
    return spark.createDataFrame(pdf)


def test_statistical_summary_matches_pandas(spark, frame):
    out = {r["g"]: r for r in
           agg.statistical_summary(frame, ["g"], "dbh").collect()}
    pdf = pd.DataFrame({"dbh": VALUES, "g": ["a"] * 9 + ["b"] * 8})
    for g, sub in pdf.groupby("g"):
        s = sub["dbh"]
        assert out[g]["min"] == round(s.min(), 2)
        assert out[g]["mean"] == round(s.mean(), 2)
        assert out[g]["max"] == round(s.max(), 2)
        assert out[g]["median"] == round(s.median(), 2)  # exact, ddof=1 std
        assert out[g]["std"] == round(s.std(), 2)
        assert out[g]["count"] == len(s)


def test_statistical_summary_empty_input(spark):
    empty = spark.createDataFrame([], "dbh double, g string")
    assert agg.statistical_summary(empty, ["g"], "dbh").count() == 0


def test_binned_distribution_np_histogram_parity(spark, frame):
    edges = [0, 10, 20, 30, 40, 50]
    out = agg.binned_distribution(frame, [], "dbh", edges).orderBy("bin_index")
    counts = [r["count"] for r in out.collect()]
    np_counts, _ = np.histogram(VALUES, bins=edges)
    assert counts == list(np_counts)


def test_binned_distribution_last_bin_right_closed(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [10.0, 20.0]}))
    out = {r["bin_index"]: r["count"]
           for r in agg.binned_distribution(df, [], "x", [0, 10, 20]).collect()}
    # np.histogram: 10 falls in bin1 [10,20]; 20 == last edge also bin1
    assert out[0] == 0 and out[1] == 2


def test_binned_distribution_empty_bins_present(spark, frame):
    out = agg.binned_distribution(frame, [], "dbh", [0, 1, 2, 50])
    rows = {r["bin_index"]: r["count"] for r in out.collect()}
    assert rows[0] == 0 and rows[1] == 0 and rows[2] == 17


def test_categorical_distribution_declared_categories(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"h": ["1", "2", "1", "3", "9"]}))
    out = {r["category"]: (r["count"], r["pct"]) for r in
           agg.categorical_distribution(df, [], "h", ["1", "2", "3", "4"],
                                        include_percentages=True).collect()}
    # value "9" outside the list is dropped; "4" present with 0
    assert out["1"] == (2, 50.0)
    assert out["4"] == (0, 0.0)
    assert set(out) == {"1", "2", "3", "4"}


def test_binary_counter_strict01(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"b": [1, 0, 1, 2, None, 1]}))
    r = agg.binary_counter(df, [], "b").collect()[0]
    assert r["true_count"] == 3 and r["false_count"] == 1  # 2/None ignored


def test_boolean_comparison_long_format(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1, 5, 10], "y": [0, 0, 1]}))
    out = {r["category"]: (r["true_count"], r["false_count"]) for r in
           agg.boolean_comparison(df, [], {
               "big_x": F.col("x") > 4, "y_set": F.col("y") == 1}).collect()}
    assert out["big_x"] == (2, 1)
    assert out["y_set"] == (1, 2)


def test_top_ranking_deterministic_ties(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"f": ["b", "b", "a", "a", "c"]}))
    rows = agg.top_ranking(df, [], "f", limit=2).orderBy("rank").collect()
    # a and b tie at 2 -> item asc breaks the tie
    assert [(r["item"], r["value"], r["rank"]) for r in rows] == \
        [("a", 2, 1), ("b", 2, 2)]


@pytest.mark.parametrize("how", ["sum", "avg"])
def test_top_ranking_rejects_weight_with_value_agg(spark, how):
    df = spark.createDataFrame(pd.DataFrame({"f": ["a"], "v": [1.0],
                                             "w": [3]}))
    with pytest.raises(ValueError, match="weight_col"):
        agg.top_ranking(df, [], "f", agg=how, value_field="v",
                        weight_col="w")


def test_top_ranking_name_enrichment(spark):
    df = spark.createDataFrame(pd.DataFrame({"tid": [1, 1, 2]}))
    names = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "nm": ["Araucaria", "Agathis"]}))
    rows = agg.top_ranking(df, [], "tid", limit=5,
                           name_join=(names, "id", "nm")).collect()
    assert {r["item"] for r in rows} == {"Araucaria", "Agathis"}


def test_field_aggregator_multi_source(spark):
    a = spark.createDataFrame(pd.DataFrame({"v": [1.0, 2.0, 3.0]}))
    b = spark.createDataFrame(pd.DataFrame(
        {"extra_data": ['{"k": 7}', '{"k": 9}']}))
    row = agg.field_aggregator(
        {"a": a, "b": b},
        [{"source": "a", "field": "v", "target": "v_sum", "transformation": "sum"},
         {"source": "a", "field": "v", "target": "v_mean", "transformation": "mean"},
         {"source": "b", "field": "extra_data.k", "target": "first_k",
          "transformation": "direct"}]).collect()[0]
    assert row["v_sum"] == 6.0 and row["v_mean"] == 2.0
    assert row["first_k"] == "7"


def test_time_series_dense_months(spark):
    df = spark.createDataFrame(pd.DataFrame(
        {"m": [1, 1, 2, 13], "flower": [1, 0, 1, 1]}))
    out = {r["month"]: r["flower_pct"] for r in
           agg.time_series_analysis(df, [], "m", ["flower"]).collect()}
    assert len(out) == 12          # month 13 dropped, all 12 emitted
    assert out[1] == 50.0 and out[2] == 100.0 and out[3] == 0.0


def test_statistical_summary_subset_units_cap(spark):
    df = spark.createDataFrame(pd.DataFrame({"g": ["a"] * 3,
                                             "v": [100.0, 400.0, 900.0]}))
    r = agg.statistical_summary(df, ["g"], "v", stats=["max"],
                                units="cm", max_value=500).collect()[0]
    assert set(r.asDict()) == {"g", "max", "units", "max_value"}
    # max_value is DISPLAY metadata, never a clip: stats run over raw
    # data, and the emitted max_value is max(data_max, configured)
    # (reference statistical_summary.py:221-228; r13 variant-grid find)
    assert r["max"] == 900.0 and r["units"] == "cm"
    assert r["max_value"] == 900.0
    r2 = agg.statistical_summary(df, ["g"], "v", stats=["max"],
                                 max_value=2000).collect()[0]
    assert r2["max_value"] == 2000.0   # configured cap above data wins
    with pytest.raises(ValueError):
        agg.statistical_summary(df, ["g"], "v", stats=["nope"])


def test_binary_counter_percentages(spark):
    df = spark.createDataFrame(pd.DataFrame({"b": [1, 1, 1, 0]}))
    r = agg.binary_counter(df, [], "b", include_percentages=True).collect()[0]
    assert r["true_pct"] == 75.0 and r["false_pct"] == 25.0


def test_geojson_feature_collection(spark):
    import json as _json

    from niamoto_spark.operators.extraction import (
        geospatial_extractor, to_geojson_feature_collection)

    df = spark.createDataFrame(pd.DataFrame(
        {"pid": [1, 1, 1], "geo_pt": ["POINT (166.5 -22.1)",
                                      "POINT (166.5 -22.1)",
                                      "POINT (167.0 -21.0)"]}))
    pts = geospatial_extractor(df, ["pid"], "geo_pt")
    fc = _json.loads(to_geojson_feature_collection(pts, ["pid"])
                     .collect()[0]["geojson"])
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) == 2
    counts = {tuple(f["geometry"]["coordinates"]): f["properties"]["count"]
              for f in fc["features"]}
    assert counts[(166.5, -22.1)] == 2


def test_statistical_summary_median_approx_mode(spark, frame):
    """median='approx' (the 100 TB operational lever — mergeable sketch
    inside the same partial aggregate instead of the sort-based exact
    percentile).  Documented NON-parity: exact stays the default and the
    only mode the oracle lanes / refdiff grid use — approx_percentile
    returns a DATA value and never interpolates even-count midpoints."""
    approx = {r["g"]: r["median"] for r in
              agg.statistical_summary(frame, ["g"], "dbh",
                                      median="approx").collect()}
    pdf = pd.DataFrame({"dbh": VALUES, "g": ["a"] * 9 + ["b"] * 8})
    for g, sub in pdf.groupby("g"):
        s = sorted(sub["dbh"])
        if len(s) % 2:  # odd count: the sketch's pick IS the exact median
            assert approx[g] == round(s[len(s) // 2], 2)
        else:  # even: approx returns a DATA value straddling the midpoint
            assert approx[g] in (round(s[len(s) // 2 - 1], 2),
                                 round(s[len(s) // 2], 2))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="median"):
        agg.statistical_summary(frame, ["g"], "dbh", median="bogus")
