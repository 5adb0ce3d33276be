"""Zonal ecological compositions over exploded pixel tables."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from niamoto_spark.operators import eco_zonal as ez


def fake_zone_pixels(spark, zones, side=40, max_elevation=1600.0):
    """Deterministic stand-in for the rasterio zone-window reader: a
    side x side pixel grid per zone with smooth elevation, a forest mask,
    and Holdridge classes derived from elevation."""
    z = spark.createDataFrame([(s,) for s in zones], "zone string")
    px = z.select(
        "zone",
        F.explode(F.sequence(F.lit(0), F.lit(side * side - 1))).alias("i"))
    row, col = (F.col("i") / side).cast("int"), F.col("i") % side
    elev = ((row + col) / (2.0 * (side - 1))) * max_elevation
    forest = ((F.xxhash64("zone", "i") % 100 + 100) % 100 < 60).cast("int")
    hold = F.when(elev < 400, 1).when(elev < 900, 2).otherwise(3)
    return px.select("zone", elev.alias("elevation"),
                     forest.alias("forest"), hold.alias("holdridge"))


@pytest.fixture(scope="module")
def pixels(spark):
    return fake_zone_pixels(spark, ["z1", "z2"], side=20)


def test_fake_pixels_deterministic(spark, pixels):
    again = fake_zone_pixels(spark, ["z1", "z2"], side=20)
    assert sorted(map(tuple, pixels.collect())) == sorted(map(tuple, again.collect()))


def test_elevation_profile_partitions_all_pixels(pixels):
    prof = ez.elevation_profile(pixels, ["zone"], "elevation",
                                edges=[0, 400, 900, 1601])
    rows = prof.where(F.col("zone") == "z1").collect()
    assert sum(r["pixel_count"] for r in rows) == 400
    assert {r["class_label"] for r in rows} == {"0-400", "400-900", "900-1601"}
    for r in rows:
        assert r["area_m2"] == r["pixel_count"] * 900.0


def test_forest_elevation_split(pixels):
    fe = ez.forest_elevation_analysis(pixels, ["zone"], "elevation", "forest",
                                      edges=[0, 800, 1601])
    for r in fe.collect():
        assert r["forest_area_m2"] + r["non_forest_area_m2"] > 0
        assert 0 <= r["forest_pct"] <= 100


def test_forest_holdridge_split(pixels):
    fh = ez.forest_holdridge_analysis(pixels, ["zone"], "holdridge", "forest")
    rows = fh.where(F.col("zone") == "z2").collect()
    assert {r["holdridge_class"] for r in rows} <= {1, 2, 3}
    total = sum(r["forest_area_m2"] + r["non_forest_area_m2"] for r in rows)
    assert total == 400 * 900.0


def test_land_use_analysis(spark):
    pieces = spark.createDataFrame(pd.DataFrame({
        "zone": ["z"] * 3, "category": ["forest", "forest", "urban"],
        "piece_area_m2": [600.0, 400.0, 1000.0]}))
    out = {r["category"]: r for r in
           ez.land_use_analysis(pieces, ["zone"], "category").collect()}
    assert out["forest"]["area_m2"] == 1000.0
    assert out["forest"]["pct"] == 50.0 and out["urban"]["pct"] == 50.0
