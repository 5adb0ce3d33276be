"""Sites where the engine reproduces the reference's own bugs because
drop-in output parity requires them (certified by
tools/ref_pipeline_diff.py)."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from niamoto_spark import refshapes as RS
from niamoto_spark.exporters.json_api import _map_fields


@pytest.fixture()
def tagged(spark):
    pdf = pd.DataFrame({
        "plot_id": [1, 1, 1, 2],
        "geo_pt": ["POINT (166.5 -22.1)", "POINT (166.5 -22.1)",
                   "POINT (166.9 -22.3)", "POINT (166.2 -22.0)"],
        "species": ["a", "b", "c", "d"],
    })
    df = spark.createDataFrame(pdf).withColumn(
        RS.SRC_ORDER, F.monotonically_increasing_id())
    entities = spark.createDataFrame(pd.DataFrame({"plot_id": [1, 2]}))
    return df, entities


def test_geospatial_group_by_coords_strict_empty(tagged, spark):
    """Any field name other than 'geometry' reproduces the
    reference's swallowed AttributeError -> empty FeatureCollection
    (geospatial_extractor.py:612-686)."""
    df, entities = tagged
    out = RS.geospatial_extractor(
        df, "plot_id", {"field": "geo_pt", "group_by_coordinates": True},
        entities)
    docs = {r["plot_id"]: json.loads(r["__json"]) for r in out.collect()}
    assert docs[1] == {"type": "FeatureCollection", "features": []}


def test_geospatial_group_by_coords_sane(tagged, spark):
    """A field named 'geometry' groups: unique coords in first-occurrence
    order, first-row properties, per-coord count."""
    df, entities = tagged
    out = RS.geospatial_extractor(
        df.withColumnRenamed("geo_pt", "geometry"), "plot_id",
        {"field": "geometry", "group_by_coordinates": True,
         "properties": ["species"]},
        entities)
    docs = {r["plot_id"]: json.loads(r["__json"]) for r in out.collect()}
    feats = docs[1]["features"]
    assert [f["geometry"]["coordinates"] for f in feats] == \
        [[166.5, -22.1], [166.9, -22.3]]
    assert feats[0]["properties"] == {"species": "a", "count": 2}
    assert feats[1]["properties"] == {"species": "c", "count": 1}
    assert docs[2]["features"][0]["properties"]["count"] == 1


def test_index_dsl_missing_source_strict_null():
    """The reference maps a misspelled source (id: taxon_id when
    the column is taxons_id) to null silently."""
    item = {"taxons_id": 7, "full_name": "x"}
    out = _map_fields(item, ["id: taxon_id"], "taxons_id",
                      lambda p: "/api/taxons/7.json")
    assert out == {"id": None}
