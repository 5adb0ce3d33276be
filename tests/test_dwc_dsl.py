"""Darwin Core mapping DSL goldens (reference
niamoto_to_dwc_occurrence.py:529-1010 parity): @refs, generators,
fallback id patterns."""

import pandas as pd
import pytest

from niamoto_spark.exporters.dwc import to_dwc_occurrence


@pytest.fixture(scope="module")
def occ(spark):
    return spark.createDataFrame(pd.DataFrame({
        "occ_id": [1, 2, 3, 4],
        "taxon_ref": [10, 10, 20, 20],
        "obs_date": ["15/03/2021", "2022-07-09", None, "bad"],
        "month_obs": [None, None, 6, 99],
        "geo_pt": ["POINT (165.7683 -21.6461)", "POINT (200.0 -21.0)",
                   None, "POINT (166.1 -22.3)"],
    }))


@pytest.fixture(scope="module")
def taxon(spark):
    return spark.createDataFrame(pd.DataFrame({
        "id": [10, 20],
        "full_name": ["Araucaria columnaris (Hook.) subsp. cookii",
                      "Agathis"],
        "metadata": ['{"endemic": true, "images": null}',
                     '{"endemic": false}'],
    }))


def _rows(df):
    return {r["occurrenceID"]: r for r in df.collect()}


def test_unique_ids_source_and_fallback(occ, taxon):
    out = to_dwc_occurrence(occ, {
        "occurrenceID": {"generator": "unique_occurrence_id",
                         "params": {"source_field": "@source.occ_id"}},
        "eventID": {"generator": "unique_event_id"},
    }, taxon=taxon, occ_taxon_col="taxon_ref", order_col="occ_id")
    rows = _rows(out)
    assert set(rows) == {"niaocc_1", "niaocc_2", "niaocc_3", "niaocc_4"}
    # fallback pattern: prefix + taxonId_index (per-taxon order by occ_id)
    assert rows["niaocc_1"]["eventID"] == "niaevt_10_0"
    assert rows["niaocc_2"]["eventID"] == "niaevt_10_1"
    assert rows["niaocc_3"]["eventID"] == "niaevt_20_0"


def test_epithets(occ, taxon):
    out = to_dwc_occurrence(occ, {
        "occurrenceID": {"generator": "unique_occurrence_id",
                         "params": {"source_field": "@source.occ_id"}},
        "specificEpithet": {"generator": "extract_specific_epithet"},
        "infraspecificEpithet": {"generator": "extract_infraspecific_epithet"},
    }, taxon=taxon, occ_taxon_col="taxon_ref", order_col="occ_id")
    rows = _rows(out)
    # author "(Hook.)" stripped before the split
    assert rows["niaocc_1"]["specificEpithet"] == "columnaris"
    assert rows["niaocc_1"]["infraspecificEpithet"] == "cookii"
    # single-token name -> no epithet
    assert rows["niaocc_3"]["specificEpithet"] is None
    assert rows["niaocc_3"]["infraspecificEpithet"] is None


def test_event_date_and_parts(occ, taxon):
    out = to_dwc_occurrence(occ, {
        "occurrenceID": {"generator": "unique_occurrence_id",
                         "params": {"source_field": "@source.occ_id"}},
        "eventDate": {"generator": "format_event_date",
                      "params": {"source_field": "@source.obs_date"}},
        "year": {"generator": "extract_year",
                 "params": {"source_field": "@source.obs_date"}},
        "month": {"generator": "extract_month",
                  "params": {"source_field": "@source.month_obs",
                             "date_field": "@source.obs_date"}},
        "day": {"generator": "extract_day",
                "params": {"source_field": "@source.obs_date"}},
    }, taxon=taxon, occ_taxon_col="taxon_ref", order_col="occ_id")
    rows = _rows(out)
    assert rows["niaocc_1"]["eventDate"] == "2021-03-15"      # DD/MM/YYYY
    assert rows["niaocc_1"]["year"] == 2021
    assert rows["niaocc_1"]["month"] == 3
    assert rows["niaocc_1"]["day"] == 15
    assert rows["niaocc_2"]["eventDate"] == "2022-07-09"      # ISO passthrough
    assert rows["niaocc_3"]["eventDate"] is None
    assert rows["niaocc_3"]["month"] == 6                     # month_obs wins
    assert rows["niaocc_4"]["month"] is None                  # 99 out of range


def test_coordinates_wkt_and_range(occ, taxon):
    out = to_dwc_occurrence(occ, {
        "occurrenceID": {"generator": "unique_occurrence_id",
                         "params": {"source_field": "@source.occ_id"}},
        "decimalLatitude": {"generator": "format_coordinates",
                            "params": {"source_field": "@source.geo_pt",
                                       "type": "latitude"}},
        "decimalLongitude": {"generator": "format_coordinates",
                             "params": {"source_field": "@source.geo_pt",
                                        "type": "longitude"}},
    })
    rows = _rows(out)
    assert rows["niaocc_1"]["decimalLatitude"] == pytest.approx(-21.6461)
    assert rows["niaocc_1"]["decimalLongitude"] == pytest.approx(165.7683)
    assert rows["niaocc_2"]["decimalLongitude"] is None       # 200 out of range
    assert rows["niaocc_3"]["decimalLatitude"] is None


def test_establishment_means_from_json_metadata(occ, taxon):
    out = to_dwc_occurrence(occ, {
        "occurrenceID": {"generator": "unique_occurrence_id",
                         "params": {"source_field": "@source.occ_id"}},
        "establishmentMeans": {"generator": "map_establishment_means"},
        "occurrenceStatus": {"generator": "map_occurrence_status"},
    }, taxon=taxon, occ_taxon_col="taxon_ref", order_col="occ_id")
    rows = _rows(out)
    assert rows["niaocc_1"]["establishmentMeans"] == "native"     # endemic true
    assert rows["niaocc_3"]["establishmentMeans"] == "introduced"
    assert rows["niaocc_1"]["occurrenceStatus"] == "present"


def test_media_urls_array_forms(spark):
    df = spark.createDataFrame(
        [(1, ["http://a/1.jpg", "http://a/2.jpg"])],
        "occ_id int, imgs array<string>")
    out = to_dwc_occurrence(df, {
        "occurrenceID": {"generator": "unique_occurrence_id",
                         "params": {"source_field": "@source.occ_id"}},
        "associatedMedia": {"generator": "format_media_urls",
                            "params": {"source_list": "@source.imgs"}},
    })
    assert _rows(out)["niaocc_1"]["associatedMedia"] == \
        "http://a/1.jpg | http://a/2.jpg"
    df2 = spark.createDataFrame(
        [(1, [{"url": "http://b/1.png", "kind": "photo"}])],
        "occ_id int, media array<struct<url:string,kind:string>>")
    out2 = to_dwc_occurrence(df2, {
        "occurrenceID": {"generator": "unique_occurrence_id",
                         "params": {"source_field": "@source.occ_id"}},
        "associatedMedia": {"generator": "format_media_urls",
                            "params": {"source_list": "@source.media"}},
    })
    assert _rows(out2)["niaocc_1"]["associatedMedia"] == "http://b/1.png"


def test_static_and_count(occ, taxon):
    out = to_dwc_occurrence(occ, {
        "occurrenceID": {"generator": "unique_occurrence_id",
                         "params": {"source_field": "@source.occ_id"}},
        "basisOfRecord": "HumanObservation",
        "organismQuantity": {"generator": "count_occurrences"},
    }, taxon=taxon, occ_taxon_col="taxon_ref", order_col="occ_id")
    rows = _rows(out)
    assert rows["niaocc_1"]["basisOfRecord"] == "HumanObservation"
    assert rows["niaocc_1"]["organismQuantity"] == 2          # taxon 10 has 2


def test_unique_id_fallback_survives_missing_taxon(spark, taxon):
    """ADVICE r2: an occurrence whose taxon_ref matches no taxon row must
    still get a usable unique id (taxon id coalesced to 'unknown'), never a
    NULL occurrenceID — the reference always generates one."""
    occ = spark.createDataFrame(pd.DataFrame({
        "occ_id": [1, 2], "taxon_ref": [10, 999]}))   # 999 unmatched
    out = to_dwc_occurrence(occ, {
        "occurrenceID": {"generator": "unique_occurrence_id"},
    }, taxon=taxon, occ_taxon_col="taxon_ref", order_col="occ_id")
    ids = sorted(r["occurrenceID"] for r in out.collect())
    assert ids == ["niaocc_10_0", "niaocc_unknown_0"]


def test_reference_dialect_unknown_generator_raises():
    """A misspelt generator in the reference-dialect mapping fails and
    names itself, instead of dropping its term from every record."""
    from niamoto_spark.exporters.dwc_json import map_occurrence

    mapping = {"occurrenceStatus": {"generator": "map_occurrence_status"},
               "decimalLatitude": {"generator": "format_cordinates"}}
    with pytest.raises(ValueError, match="'format_cordinates'"):
        map_occurrence({"id": 1}, {}, 1, 0, mapping)
    del mapping["decimalLatitude"]
    assert map_occurrence({"id": 1}, {}, 1, 0, mapping) == {
        "occurrenceStatus": "present"}
