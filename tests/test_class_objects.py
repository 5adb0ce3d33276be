"""EAV class_object catalog helpers (duplicate summing per
class_objects/utils.py:14 is the load-bearing behavior).  The
``class_object_*`` widget plugins are tested through the transform in
tests/test_transform_dialect.py."""

import pandas as pd
import pytest

from niamoto_spark.operators import class_objects as co


@pytest.fixture(scope="module")
def eav(spark):
    return spark.createDataFrame(pd.DataFrame({
        "class_object": ["dbh", "dbh", "dbh", "dbh", "cover", "cover",
                         "sub", "sub", "tot", "tot"],
        "class_name": ["10", "20", "20", "30", "forest", "out",
                       "a", "b", "a", "b"],
        "class_value": [5.0, 3.0, 4.0, 1.0, 70.0, 30.0,
                        2.0, 1.0, 4.0, 4.0],
    }))


def test_series_extractor_sums_duplicates(eav):
    rows = co.series_extractor(eav, [], "dbh", numeric_axis=True).collect()
    got = [(r["class_name"], r["class_value"]) for r in rows]
    assert got == [("10", 5.0), ("20", 7.0), ("30", 1.0)]  # 3+4 summed


def test_categories_extractor_declared_order_and_zeros(eav):
    rows = co.categories_extractor(eav, [], "cover",
                                   ["forest", "mangrove", "out"]).collect()
    assert [(r["class_name"], r["class_value"]) for r in rows] == \
        [("forest", 70.0), ("mangrove", 0.0), ("out", 30.0)]


def test_binary_aggregator_shares(eav):
    rows = co.binary_aggregator(eav, [], "cover",
                                class_mapping={"forest": "Forest"}).collect()
    got = {r["label"]: r["share"] for r in rows}
    assert got == {"Forest": 70.0, "out": 30.0}


def test_series_ratio_with_complement(eav):
    rows = co.series_ratio_aggregator(eav, [], "sub", "tot",
                                      complement_mode="difference").collect()
    got = {r["class_name"]: r["ratio"] for r in rows}
    assert got == {"a": 0.5, "b": 0.75}  # 1 - sub/tot
