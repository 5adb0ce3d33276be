"""Pure-python vector ingestion: shapefile/.dbf parsing, GeoPackage blobs,
WKB round-trips, and the import-pipeline e2e the reference runs on real
projects (engine.py:371-520 reads .gpkg/.shp first)."""

import struct
import warnings

import pytest

from niamoto_spark.sources import vector
from niamoto_spark.sources.files import read_vector

POLY1 = "POLYGON ((0.0 0.0, 0.0 4.0, 3.0 4.0, 3.0 0.0, 0.0 0.0))"
POLY2 = "POLYGON ((10.0 10.0, 10.0 12.0, 12.0 12.0, 12.0 10.0, 10.0 10.0))"


def test_wkb_point_roundtrip():
    wkb = struct.pack("<BI2d", 1, 1, 2.5, -3.5)
    assert vector.wkb_to_wkt(wkb) == "POINT (2.5 -3.5)"


def test_wkb_big_endian_point():
    wkb = struct.pack(">BI2d", 0, 1, 1.0, 2.0)
    assert vector.wkb_to_wkt(wkb) == "POINT (1.0 2.0)"


def test_wkb_z_flag_dropped():
    # ISO 1001 = PointZ; Z parsed and dropped
    wkb = struct.pack("<BI3d", 1, 1001, 1.0, 2.0, 9.0)
    assert vector.wkb_to_wkt(wkb) == "POINT (1.0 2.0)"
    # EWKB Z flag + SRID flag
    wkb = struct.pack("<BIi3d", 1, 0x80000000 | 0x20000000 | 1, 4326,
                      1.0, 2.0, 9.0)
    assert vector.wkb_to_wkt(wkb) == "POINT (1.0 2.0)"


def test_wkb_multipolygon_roundtrip():
    mp = "MULTIPOLYGON (((0.0 0.0, 0.0 1.0, 1.0 1.0, 0.0 0.0)), ((5.0 5.0, 5.0 6.0, 6.0 6.0, 5.0 5.0)))"
    assert vector.wkb_to_wkt(vector._wkt_to_wkb_simple(mp)) == mp


def test_wkb_linestring_roundtrip():
    ls = "LINESTRING (0.0 0.0, 1.0 1.0, 2.0 0.5)"
    assert vector.wkb_to_wkt(vector._wkt_to_wkb_simple(ls)) == ls


def test_shapefile_roundtrip(tmp_path, spark):
    path = str(tmp_path / "zones.shp")
    vector.write_shp(
        path,
        [{"ZONE_ID": 1, "NAME": "north", "AREA_KM2": 12.5},
         {"ZONE_ID": 2, "NAME": "south", "AREA_KM2": 4.0}],
        [POLY1, POLY2])
    df = read_vector(spark, path)
    rows = {r["ZONE_ID"]: r for r in df.collect()}
    assert rows[1]["NAME"] == "north"
    assert rows[1]["geometry_wkt"] == POLY1
    assert rows[2]["geometry_wkt"] == POLY2
    assert rows[2]["AREA_KM2"] == pytest.approx(4.0)


def test_shapefile_point_layer(tmp_path, spark):
    path = str(tmp_path / "pts.shp")
    vector.write_shp(path, [{"SITE": "a"}, {"SITE": "b"}],
                     ["POINT (1.5 2.5)", "POINT (-3.0 4.0)"])
    got = {r["SITE"]: r["geometry_wkt"] for r in
           read_vector(spark, path).collect()}
    assert got == {"a": "POINT (1.5 2.5)", "b": "POINT (-3.0 4.0)"}


def test_shapefile_polygon_with_hole(tmp_path, spark):
    # outer ring clockwise (ESRI), hole counter-clockwise
    outer = [(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)]  # CCW -> still outer (first ring)
    path = str(tmp_path / "hole.shp")
    donut = ("POLYGON ((0.0 0.0, 0.0 10.0, 10.0 10.0, 10.0 0.0, 0.0 0.0), "
             "(2.0 2.0, 4.0 2.0, 4.0 4.0, 2.0 4.0, 2.0 2.0))")
    vector.write_shp(path, [{"FID": 1}], [donut])
    (row,) = read_vector(spark, path).collect()
    assert row["geometry_wkt"] == donut


def test_dbf_types(tmp_path):
    path = str(tmp_path / "t.shp")
    vector.write_shp(path, [{"N_INT": 7, "F_FLT": 1.25, "TXT": "hello"}],
                     ["POINT (0.0 0.0)"])
    (row,) = vector.read_dbf(str(tmp_path / "t.dbf"))
    assert row["N_INT"] == 7
    assert row["F_FLT"] == pytest.approx(1.25)
    assert row["TXT"] == "hello"


def test_gpkg_roundtrip(tmp_path, spark):
    path = str(tmp_path / "layers.gpkg")
    vector.write_gpkg(path, "provinces",
                      [{"name": "North", "pop": 50000},
                       {"name": "South", "pop": 120000}],
                      [POLY1, POLY2])
    df = read_vector(spark, path)
    rows = {r["name"]: r for r in df.collect()}
    assert rows["North"]["geometry_wkt"] == POLY1
    assert rows["South"]["pop"] == 120000
    assert vector.list_gpkg_layers(path) == ["provinces"]


def test_gpkg_null_geometry(tmp_path, spark):
    path = str(tmp_path / "n.gpkg")
    vector.write_gpkg(path, "things", [{"name": "a"}, {"name": "b"}],
                      [POLY1, None])
    rows = {r["name"]: r["geometry_wkt"] for r in
            read_vector(spark, path).collect()}
    assert rows["a"] == POLY1 and rows["b"] is None


def test_import_pipeline_reads_shp_and_gpkg(tmp_path, spark):
    """The reference's real projects import .gpkg/.shp first
    (docs/examples/config/import.yml) — run_import must land them as
    parquet WKT tables."""
    from niamoto_spark.pipeline import Pipeline

    vector.write_shp(str(tmp_path / "plots.shp"),
                     [{"PLOT_ID": 1, "NAME": "p1"},
                      {"PLOT_ID": 2, "NAME": "p2"}],
                     ["POINT (166.45 -22.18)", "POINT (165.3 -21.5)"])
    vector.write_gpkg(str(tmp_path / "shapes.gpkg"), "provinces",
                      [{"prov_id": 1, "name": "North"}], [POLY1])
    pipe = Pipeline(spark, warehouse=str(tmp_path / "wh"))
    cfg = {
        "version": "1.0",
        "entities": {
            "spatial": {
                "plots_vec": {
                    "connector": {"type": "file", "format": "shp",
                                  "path": "plots.shp"},
                    "schema": {"id_field": "PLOT_ID"},
                },
                "provinces": {
                    "connector": {"type": "file", "format": "gpkg",
                                  "path": "shapes.gpkg"},
                    "schema": {"id_field": "prov_id"},
                },
            }
        },
    }
    reg = pipe.run_import(cfg, base_dir=str(tmp_path))
    plots = reg.load(spark, "plots_vec")
    provs = reg.load(spark, "provinces")
    assert plots.count() == 2
    assert {r["geometry_wkt"] for r in plots.collect()} == \
        {"POINT (166.45 -22.18)", "POINT (165.3 -21.5)"}
    assert provs.collect()[0]["geometry_wkt"] == POLY1


# ---------------------------------------------------------------------------
# XLSX (pure-python stdlib parser, sources/xlsx.py)
# ---------------------------------------------------------------------------

def test_xlsx_roundtrip(tmp_path, spark, write_xlsx):
    from niamoto_spark.sources.files import read_xlsx

    path = str(tmp_path / "plots.xlsx")
    write_xlsx(path, [
        ["plot_id", "name", "elevation", "active"],
        [1, "Plot A", 250.5, True],
        [2, "Côte <est>", 800.0, False],
    ])
    rows = {r["plot_id"]: r for r in read_xlsx(spark, path).collect()}
    assert rows[1.0]["name"] == "Plot A"
    assert rows[2.0]["name"] == "Côte <est>"        # xml escaping
    assert rows[1.0]["elevation"] == 250.5
    assert rows[1.0]["active"] is True and rows[2.0]["active"] is False


def test_xlsx_sparse_and_headerless(tmp_path, spark, write_xlsx):
    """Columns mixing text, numbers and empty cells keep Spark on its
    Arrow path: a fallback to pickled rows warns, and fails the test."""
    from niamoto_spark.sources.xlsx import read_xlsx_native, read_xlsx_rows

    path = str(tmp_path / "sparse.xlsx")
    write_xlsx(path, [["a", None, "c"], [1, 2, None]])
    rows = read_xlsx_rows(path)
    assert rows == [["a", None, "c"], [1.0, 2.0, None]]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        df = read_xlsx_native(spark, path, header=False)
    assert df.schema.simpleString() == \
        "struct<col0:string,col1:double,col2:string>"
    assert [tuple(r) for r in df.collect()] == \
        [("a", None, "c"), ("1.0", 2.0, None)]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        df = read_xlsx_native(spark, path)
    assert df.schema.simpleString() == "struct<a:double,col1:double,c:void>"
    assert [tuple(r) for r in df.collect()] == [(1.0, 2.0, None)]


def test_xlsx_named_sheet_missing(tmp_path, write_xlsx):
    from niamoto_spark.sources import xlsx

    path = str(tmp_path / "one.xlsx")
    write_xlsx(path, [["x"], [1]])
    with pytest.raises(ValueError, match="not in"):
        xlsx.read_xlsx_rows(path, sheet="Nope")


def test_import_multi_feature_hierarchy(tmp_path, spark):
    """Reference engine.py:371-520 parity: one table, level-0 type rows,
    level-1 shape rows, nested sets spanning each source's subtree."""
    from niamoto_spark.sources.vector import import_multi_feature

    vector.write_shp(str(tmp_path / "forests.shp"),
                     [{"name": "f1"}, {"name": "f2"}], [POLY1, POLY2])
    vector.write_gpkg(str(tmp_path / "zones.gpkg"), "zones",
                      [{"name": "z1"}], [POLY1])
    out = import_multi_feature(
        spark, [("Forest Cover", str(tmp_path / "forests.shp")),
                ("Admin Zones", str(tmp_path / "zones.gpkg")),
                ("Missing", str(tmp_path / "nope.shp"))])
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 5                          # 2 types + 3 shapes
    t1 = rows[1]
    assert t1["entity_type"] == "type" and t1["location"] is None
    assert t1["level"] == 0 and t1["parent_id"] is None
    s1 = rows[2]
    assert s1["shape_id"] == "forest_cover_1"
    assert s1["parent_id"] == 1 and s1["level"] == 1
    assert s1["location"] == POLY1
    # nested sets: type subtree encloses its shapes
    assert t1["lft"] < s1["lft"] and s1["rght"] < t1["rght"]
    t2 = rows[4]
    assert t2["name"] == "Admin Zones" and t2["entity_type"] == "type"
    assert rows[5]["parent_id"] == 4


REF_FIXTURES = "/root/reference/tests/fixtures/datasets"


@pytest.mark.skipif(not __import__("os").path.isdir(REF_FIXTURES),
                    reason="reference tree not mounted")
def test_xlsx_parser_reads_real_openpyxl_file(spark):
    """The stdlib parser must read a REAL openpyxl-written workbook (the
    reference's own test fixture): shared strings, dates, empty cells."""
    from niamoto_spark.sources.xlsx import read_xlsx_native

    path = f"{REF_FIXTURES}/mixed_types.xlsx"
    df = read_xlsx_native(spark, path)
    assert df.columns == ["id", "name", "value_str", "date_mixed",
                          "numeric", "category"]
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 80
    assert rows[1.0]["name"] == "Sample_0"
    assert rows[1.0]["date_mixed"] == "2024-01-15"
    assert rows[3.0]["value_str"] == "N/A"


@pytest.mark.skipif(not __import__("os").path.isdir(REF_FIXTURES),
                    reason="reference tree not mounted")
def test_geojson_reads_real_inventory_fixture(spark):
    from niamoto_spark.sources.files import read_vector

    df = read_vector(spark, f"{REF_FIXTURES}/inventory.geojson")
    rows = df.collect()
    assert len(rows) > 10
    first = {r["plot_id"]: r for r in rows}["PLOT-000"]
    assert first["geometry_wkt"].startswith("POLYGON ((166.304")
    assert first["species_count"] == 13
