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


# --- the reference-dialect target: exporters/dwc_json.py -----------------

_OCC_SCHEMA = ("id long, id_taxonref long, date string, month int, "
               "geo_pt string, dbh double, height double, flower int, "
               "fruit int, holdridge int, rainfall int, um boolean, "
               "forest boolean, status string, observer string")
_OCCURRENCES = [
    (1, 101, "15/03/2020", 3, "POINT (166.5 -22.1)", 10.5, 12.0, 1, 0,
     2, 1500, True, False, None, "A. Smith"),
    (2, 101, "2021-07-04", None, "POINT (200.0 -95.0)", None, None, 0, 1,
     5, None, False, None, "absent", None),
    (3, 102, "01/12/2019", 12, "POINT (165.0 -21.0)", 30.0, None, 0, 0,
     1, 900, None, True, None, None),
    # links to no taxonomy row
    (4, 999, "01/01/2000", 1, None, None, None, 0, 0, None, None, None,
     None, None, None),
]

_DWC_MAPPING = {
    "occurrenceID": {"generator": "unique_occurrence_id",
                     "params": {"prefix": "occ_",
                                "source_field": "@source.id"}},
    "eventID": {"generator": "unique_event_id",
                "params": {"prefix": "evt_"}},
    "identificationID": {"generator": "unique_identification_id",
                         "params": {"prefix": "idn_",
                                    "source_field": "@source.id"}},
    "basisOfRecord": "HumanObservation",
    "scientificName": "@taxon.full_name",
    "recordedBy": "@source.observer",
    "eventDate": {"generator": "format_event_date",
                  "params": {"source_field": "@source.date"}},
    "verbatimEventDate": {"generator": "format_event_date",
                          "params": {"source_field": "@source.month"}},
    "year": {"generator": "extract_year",
             "params": {"source_field": "@source.date"}},
    "month": {"generator": "extract_month",
              "params": {"source_field": "@source.month"}},
    "day": {"generator": "extract_day",
            "params": {"source_field": "@source.date"}},
    "decimalLatitude": {"generator": "format_coordinates",
                        "params": {"source_field": "@source.geo_pt",
                                   "type": "latitude"}},
    "decimalLongitude": {"generator": "format_coordinates",
                         "params": {"source_field": "@source.geo_pt",
                                    "type": "longitude"}},
    "specificEpithet": {"generator": "extract_specific_epithet",
                        "params": {"source_field": "@taxon.full_name"}},
    "infraspecificEpithet": {"generator": "extract_infraspecific_epithet",
                             "params": {"source_field": "@taxon.full_name"}},
    "dynamicProperties": {"generator": "format_measurements", "params": {
        "measurements": [
            {"field": "@source.dbh", "name": "dbh", "unit": "cm"},
            {"field": "@source.height", "name": "height", "unit": "m"}]}},
    "reproductiveCondition": {"generator": "format_phenology", "params": {
        "flower_field": "@source.flower", "fruit_field": "@source.fruit"}},
    "habitat": {"generator": "format_habitat", "params": {
        "holdridge_field": "@source.holdridge",
        "rainfall_field": "@source.rainfall",
        "substrate_field": "@source.um", "forest_field": "@source.forest"}},
    "establishmentMeans": {"generator": "map_establishment_means"},
    "occurrenceStatus": {"generator": "map_occurrence_status",
                         "params": {"status_field": "@source.status"}},
}


def test_dwc_occurrence_target_golden(spark, tmp_path):
    """One file per taxon with its direct occurrences' DwC records
    (niamoto_to_dwc_occurrence.py:419-427, :529-1010), expected values
    worked out from the generators' reference rules:

    - unique ids: ``prefix + source_field`` value, else ``prefix +
      <taxon id>_<occurrence index>``; unique_identification_id ignores
      its source_field (:742-791);
    - dates: DD/MM/YYYY becomes ISO, other strings pass, a month-only
      number gives no date, extract_month reads it as the month
      (:833-868);
    - coordinates: POINT (lng lat), out-of-range values give nothing
      (:939-977);
    - epithets: the word after the genus, after ``var.`` for the
      infraspecific one; measurements as a JSON object of
      ``{value, unit}``; phenology and habitat phrases joined by "; ";
      endemic true/false maps to native/introduced; status defaults to
      "present";
    - a None value drops its key (:529-547);
    - a taxon with no occurrences gets no file and no index entry
      (json_api_exporter.py:620-627, :478-480).
    """
    import json

    from niamoto_spark.exporters.dwc_json import export_dwc_occurrence_target

    taxa = spark.createDataFrame(
        [(1, "Araucaria columnaris", '{"endemic": true}'),
         (2, "Psychotria nigra var. minor", '{"endemic": false}'),
         (3, "Agathis ovata", '{"endemic": true}')],
        "taxons_id long, full_name string, metadata string")
    taxonomy = spark.createDataFrame(
        [(1, 101), (2, 102), (3, 103)], "id long, taxons_id long")
    occurrences = spark.createDataFrame(_OCCURRENCES, _OCC_SCHEMA)
    manifest = export_dwc_occurrence_target(
        taxa, occurrences, "taxons", str(tmp_path), {}, {
            "transformer_params": {"mapping": _DWC_MAPPING},
            "index": {"fields": ["taxons_id", "name: full_name",
                                 {"url": {"generator": "endpoint_url"}}]}},
        taxonomy=taxonomy)

    files = sorted(p.relative_to(tmp_path).as_posix()
                   for p in tmp_path.rglob("*") if p.is_file())
    assert files == ["all_taxons.json", "taxons/1.json", "taxons/2.json"]
    assert manifest == {"group": "taxons", "files": 3, "entities": 2}

    def read(rel):
        return json.loads((tmp_path / rel).read_text())

    common = {"basisOfRecord": "HumanObservation",
              "occurrenceStatus": "present"}
    araucaria = {**common, "scientificName": "Araucaria columnaris",
                 "specificEpithet": "columnaris",
                 "establishmentMeans": "native"}
    assert read("taxons/1.json") == [
        {**araucaria, "occurrenceID": "occ_1", "eventID": "evt_1_0",
         "identificationID": "idn_1_0", "recordedBy": "A. Smith",
         "eventDate": "2020-03-15", "year": 2020, "month": 3, "day": 15,
         "decimalLatitude": -22.1, "decimalLongitude": 166.5,
         "dynamicProperties": json.dumps({
             "dbh": {"value": 10.5, "unit": "cm"},
             "height": {"value": 12.0, "unit": "m"}}),
         "reproductiveCondition": "flowering",
         "habitat": "Holdridge life zone: Moist; Annual rainfall: 1500mm; "
                    "Substrate: ultramafic; Habitat: non-forest"},
        {**araucaria, "occurrenceID": "occ_2", "eventID": "evt_1_1",
         "identificationID": "idn_1_1", "eventDate": "2021-07-04",
         "year": 2021, "day": 4, "reproductiveCondition": "fruiting",
         "habitat": "Holdridge life zone: Zone 5; "
                    "Substrate: non-ultramafic",
         "occurrenceStatus": "absent"},
    ]
    assert read("taxons/2.json") == [
        {**common, "scientificName": "Psychotria nigra var. minor",
         "occurrenceID": "occ_3", "eventID": "evt_2_0",
         "identificationID": "idn_2_0", "eventDate": "2019-12-01",
         "year": 2019, "month": 12, "day": 1,
         "decimalLatitude": -21.0, "decimalLongitude": 165.0,
         "specificEpithet": "nigra", "infraspecificEpithet": "minor",
         "dynamicProperties": json.dumps({
             "dbh": {"value": 30.0, "unit": "cm"}}),
         "habitat": "Holdridge life zone: Dry; Annual rainfall: 900mm; "
                    "Habitat: forest",
         "establishmentMeans": "introduced"},
    ]
    assert read("all_taxons.json") == {"taxons": [
        {"taxons_id": 1, "name": "Araucaria columnaris",
         "url": "/api/taxons/1.json", "detail_url": "/api/taxons/1.json"},
        {"taxons_id": 2, "name": "Psychotria nigra var. minor",
         "url": "/api/taxons/2.json", "detail_url": "/api/taxons/2.json"},
    ], "total": 2}
