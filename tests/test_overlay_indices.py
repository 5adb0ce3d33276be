"""Vector overlay (clip/coverage/aggregate), simplification, composite
ecological indices, DwC archive, HTML site."""

import json
import os
import zipfile

import numpy as np
import pandas as pd
import pytest

from niamoto_spark.operators import ecological as eco
from niamoto_spark.operators import overlay as ov


def test_sutherland_hodgman_half_overlap():
    subject = np.array([[0, 0], [2, 0], [2, 1], [0, 1], [0, 0]], dtype=float)
    clip = np.array([[1, -1], [3, -1], [3, 2], [1, 2], [1, -1]], dtype=float)
    piece = ov.sutherland_hodgman(subject, clip)
    xs, ys = piece[:, 0], piece[:, 1]
    assert xs.min() == 1.0 and xs.max() == 2.0
    assert ys.min() == 0.0 and ys.max() == 1.0


def test_sutherland_hodgman_concave_clip_raises():
    subject = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], dtype=float)
    concave = np.array([[0, 0], [2, 0], [1, 0.5], [2, 2], [0, 2], [0, 0]],
                       dtype=float)
    with pytest.raises(NotImplementedError):
        ov.sutherland_hodgman(subject, concave)


def test_coverage_and_aggregate(spark):
    zones = spark.createDataFrame(
        [("z1", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "zone_id string, location string")
    # two patches: one fully inside (0.25 deg^2), one half inside (0.25)
    layer = spark.createDataFrame(
        [("forest", "POLYGON ((0 0, 0.5 0, 0.5 0.5, 0 0.5, 0 0))"),
         ("mangrove", "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1, 0.5 1, 0.5 0.5))")],
        "category string, geom string")
    cov = ov.coverage(layer, "geom", zones, "zone_id", "location").collect()[0]
    assert cov["coverage_pct"] == pytest.approx(50.0, abs=1.0)

    agg = {r["category"]: r["area_m2"] for r in
           ov.aggregate_by_attribute(layer, "geom", "category", zones,
                                     "zone_id", "location").collect()}
    assert agg["forest"] == pytest.approx(agg["mangrove"], rel=0.02)


def test_simplify_wkt_reduces_points(spark):
    # a square with 100 collinear points per edge
    t = np.linspace(0, 1, 101)
    edge = lambda a, b: [(a[0] + (b[0] - a[0]) * x, a[1] + (b[1] - a[1]) * x)  # noqa: E731
                         for x in t[:-1]]
    ring = (edge((0, 0), (1, 0)) + edge((1, 0), (1, 1))
            + edge((1, 1), (0, 1)) + edge((0, 1), (0, 0)) + [(0.0, 0.0)])
    wkt = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"
    df = spark.createDataFrame([("s", wkt)], "shape_id string, location string")
    r = ov.simplify_wkt(df, "location", epsilon_deg=0.001).collect()[0]
    assert r["n_points_before"] > 400
    assert r["n_points_after"] <= 6            # square + closure
    assert "POLYGON" in r["simplified_wkt"]


def test_csr_strategy_and_resilience(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "wood_density": [0.9, 0.3],
        "leaf_thickness": [400.0, 60.0],
        "leaf_sla": [5.0, 38.0],
        "shannon": [1.5, 4.0],
    }))
    out = eco.csr_strategy(df, "wood_density", "leaf_thickness", "leaf_sla")
    rows = out.collect()
    dense, light = rows[0], rows[1]
    assert dense["dominant_strategy"] in ("C", "S")   # dense wood, thick leaf
    assert light["dominant_strategy"] == "R"          # light wood, high SLA
    for r in rows:
        total = r["competitive"] + r["stress_tolerant"] + r["ruderal"]
        assert total == pytest.approx(1.0, abs=0.01)
    res = eco.resilience_score(out).collect()
    assert res[1]["resilience_score"] > res[0]["resilience_score"]
    assert res[1]["resilience_class"] in ("High", "Very high")


def test_biomass_by_strata(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "zone": ["z"] * 4,
        "height": [2.0, 8.0, 15.0, 35.0],
        "dbh": [10.0, 20.0, 30.0, 60.0],
    }))
    out = {r["stratum"]: r for r in
           eco.biomass_by_strata(df, ["zone"], "height", "dbh",
                                 strata_bounds=[0, 5, 10, 20, 50],
                                 strata_names=["under", "low", "mid", "top"],
                                 wood_density=0.6).collect()}
    assert set(out) == {"under", "low", "mid", "top"}
    assert out["top"]["tree_count"] == 1
    expect_top = np.pi * (60 / 200) ** 2 * 35 * 0.6
    assert out["top"]["biomass"] == pytest.approx(expect_top, abs=1e-3)


def test_conformity_index(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "g": ["a"] * 4, "obs": [100.0, 105.0, 150.0, 0.0],
        "ref": [100.0, 100.0, 100.0, 0.0]}))
    r = eco.conformity_index(df, ["g"], "obs", "ref", tolerance=10.0).collect()[0]
    # 100 (0%), 105 (5%), 0/0 (counts as conforming) in; 150 (50%) out
    assert r["conforming"] == 3 and r["conformity_pct"] == 75.0


def test_custom_formula_whitelist(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": [4.0], "b": [2.0]}))
    out = eco.custom_formula(df, "sqrt(a) + log10(b * 50)", "r").collect()[0]
    assert out["r"] == pytest.approx(2.0 + 2.0)
    from niamoto_spark.plans.guards import UnsafeQueryError

    with pytest.raises(UnsafeQueryError):
        eco.custom_formula(df, "reflect('java.lang.System','exit')", "r")
    with pytest.raises(UnsafeQueryError):
        eco.custom_formula(df, "a; drop", "r")


def test_dwc_archive_zip(tmp_path, spark):
    from niamoto_spark.exporters.dwc_archive import export_dwc_archive

    df = spark.createDataFrame(pd.DataFrame({
        "occurrenceID": ["occ_1", "occ_2"],
        "scientificName": ["Araucaria columnaris", "Agathis ovata"],
        "individualCount": [1, 3]}))
    out = str(tmp_path / "dwca.zip")
    manifest = export_dwc_archive(df, out)
    assert manifest["terms"][0] == "occurrenceID"
    with zipfile.ZipFile(out) as z:
        names = set(z.namelist())
        assert names == {"occurrence.txt", "meta.xml"}
        body = z.read("occurrence.txt").decode()
        assert "Araucaria columnaris" in body
        assert body.splitlines()[0].startswith("occurrenceID")
        meta = z.read("meta.xml").decode()
        assert "dwc/terms/scientificName" in meta


def test_html_site_export(tmp_path, spark):
    from niamoto_spark.exporters.html_site import export_html_site

    df = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2],
        "stats": [json.dumps({"mean": 5}), json.dumps({"mean": 7})]}))
    m = export_html_site(df, "id", str(tmp_path), group_name="plots")
    assert m["entities"] == 2
    idx = (tmp_path / "index.html").read_text()
    assert 'detail/1.html' in idx
    page = (tmp_path / "detail" / "2.html").read_text()
    # dict widgets render as definition lists, not raw JSON dumps
    assert "stats" in page and "<dt>mean</dt><dd>7</dd>" in page


def test_topojson_roundtrip_polygon():
    from niamoto_spark.operators.overlay import (nested_to_topojson,
                                                 topojson_decode)
    from niamoto_spark.sources.vector import parse_wkt_nested

    wkt = ("POLYGON ((166.0 -22.0, 166.0 -21.0, 167.0 -21.0, 167.0 -22.0, "
           "166.0 -22.0), (166.2 -21.8, 166.4 -21.8, 166.4 -21.6, "
           "166.2 -21.6, 166.2 -21.8))")
    _, rings = parse_wkt_nested(wkt)
    topo = nested_to_topojson("Polygon", [rings], quantization=100_000)
    assert topo["type"] == "Topology"
    assert topo["objects"]["shape"]["type"] == "Polygon"
    assert topo["objects"]["shape"]["arcs"] == [0, 1]   # outer + hole arcs
    rings = topojson_decode(topo)
    assert len(rings) == 2
    for x, y in rings[0]:
        # quantization error bounded by one grid step
        assert abs(x - round(x, 1)) < 1e-4 and abs(y - round(y, 1)) < 1e-4
    assert rings[0][0] == pytest.approx((166.0, -22.0), abs=1e-4)
    assert topo["bbox"] == [166.0, -22.0, 167.0, -21.0]


def test_topojson_multipolygon_structure():
    from niamoto_spark.operators.overlay import nested_to_topojson
    from niamoto_spark.sources.vector import parse_wkt_nested

    wkt = ("MULTIPOLYGON (((0.0 0.0, 0.0 1.0, 1.0 1.0, 0.0 0.0)), "
           "((5.0 5.0, 5.0 6.0, 6.0 6.0, 5.0 5.0)))")
    _, polys = parse_wkt_nested(wkt)
    topo = nested_to_topojson("MultiPolygon", polys)
    assert topo["objects"]["shape"]["type"] == "MultiPolygon"
    assert topo["objects"]["shape"]["arcs"] == [[0], [1]]
    assert len(topo["arcs"]) == 2
    # delta encoding: first entry absolute, rest deltas summing to closure
    for arc in topo["arcs"]:
        assert sum(d[0] for d in arc[1:]) == 0
        assert sum(d[1] for d in arc[1:]) == 0


def test_nested_to_geojson_shapes():
    """format: geojson branch (reference shape_processor.py:258-276):
    one Feature per FeatureCollection, raw unquantized coordinates,
    Polygon keeps its ring list, MultiPolygon keeps the poly list."""
    from niamoto_spark.operators.overlay import nested_to_geojson

    ring = [(166.0, -22.0), (166.0, -21.0), (167.0, -21.0), (166.0, -22.0)]
    hole = [(166.2, -21.8), (166.4, -21.8), (166.4, -21.6), (166.2, -21.8)]
    gj = nested_to_geojson("Polygon", [[ring, hole]])
    assert gj["type"] == "FeatureCollection"
    assert len(gj["features"]) == 1
    geom = gj["features"][0]["geometry"]
    assert geom["type"] == "Polygon"
    assert geom["coordinates"] == [ring, hole]
    assert gj["features"][0]["properties"] == {}

    polys = [[ring], [[(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (0.0, 0.0)]]]
    gj2 = nested_to_geojson("MultiPolygon", polys)
    assert gj2["features"][0]["geometry"]["type"] == "MultiPolygon"
    assert gj2["features"][0]["geometry"]["coordinates"] == polys


def test_triangulate_concave_ring_preserves_area():
    # L-shape: 2x2 square minus 1x1 corner = area 3
    L = np.array([[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2], [0, 0]],
                 dtype=float)
    tris = ov.triangulate_ring(L)
    def shoelace(r):
        p = r[:-1]
        return abs(np.sum(p[:, 0] * np.roll(p[:, 1], -1)
                          - np.roll(p[:, 0], -1) * p[:, 1])) / 2
    assert sum(shoelace(t) for t in tris) == pytest.approx(3.0)
    assert len(tris) >= 3


def test_clip_general_concave_zone():
    # subject: unit square at origin; concave L-clip overlaps 1x1 of it
    subject = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], dtype=float)
    L = np.array([[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2], [0, 0]],
                 dtype=float)
    pieces = ov.clip_general(subject, L)
    def shoelace(r):
        p = r[:-1]
        return abs(np.sum(p[:, 0] * np.roll(p[:, 1], -1)
                          - np.roll(p[:, 0], -1) * p[:, 1])) / 2
    assert sum(shoelace(p) for p in pieces) == pytest.approx(1.0)


def test_coverage_with_concave_zone(spark):
    # concave L zone (area 3 deg^2); forest patch covers its 1x1 notch arm
    zones = spark.createDataFrame(
        [("L", "POLYGON ((0 0, 2 0, 2 1, 1 1, 1 2, 0 2, 0 0))")],
        "zone_id string, location string")
    layer = spark.createDataFrame(
        [("forest", "POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")],
        "category string, geom string")
    cov = ov.coverage(layer, "geom", zones, "zone_id", "location").collect()[0]
    assert cov["coverage_pct"] == pytest.approx(100.0 / 3.0, rel=0.02)


# --- vector_overlay set-ops (reference vector_overlay.py:568,477) ---------

def _setop(spark, operation, where=None, **kw):
    a = spark.createDataFrame(
        [("a1", "POLYGON ((0 0, 2 0, 2 1, 0 1, 0 0))"),       # 2 deg^2
         ("a2", "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))")],      # disjoint
        "a_id string, geom string")
    b = spark.createDataFrame(
        [("b1", "keep", "POLYGON ((1 0, 3 0, 3 1, 1 1, 1 0))"),   # 1x1 in a1
         ("b2", "drop", "POLYGON ((0 0, 0.5 0, 0.5 1, 0 1, 0 0))")],
        "b_id string, category string, geom string")
    return {(r["a_id"], r["b_id"], r["part"]):
            r["area_m2"] for r in ov.vector_overlay_setop(
                a, "geom", "a_id", b, "geom", "b_id",
                operation=operation, where=where, lat0_deg=0.0,
                **kw).collect()}


DEG2 = (6371008.8 * np.pi / 180.0) ** 2    # m^2 per deg^2 at lat0=0


def test_setop_union_parts(spark):
    got = _setop(spark, "union")
    assert set(got) == {("a1", "b1", "both"), ("a1", "b2", "both"),
                        ("a1", None, "a_only"), ("a2", None, "a_only"),
                        (None, "b1", "b_only")}
    assert got[("a1", "b1", "both")] == pytest.approx(1.0 * DEG2, rel=1e-9)
    assert got[("a1", "b2", "both")] == pytest.approx(0.5 * DEG2, rel=1e-9)
    assert got[("a1", None, "a_only")] == pytest.approx(0.5 * DEG2, rel=1e-6)
    assert got[("a2", None, "a_only")] == pytest.approx(1.0 * DEG2, rel=1e-9)
    # b1 extends 1 deg^2 beyond a1; b2 is fully covered -> no b2 residual
    assert got[(None, "b1", "b_only")] == pytest.approx(1.0 * DEG2, rel=1e-6)
    assert (None, "b2", "b_only") not in got


def test_setop_difference_and_symdiff(spark):
    diff = _setop(spark, "difference")
    assert set(diff) == {("a1", None, "a_only"), ("a2", None, "a_only")}
    sym = _setop(spark, "symmetric_difference")
    assert set(sym) == {("a1", None, "a_only"), ("a2", None, "a_only"),
                        (None, "b1", "b_only")}


def test_setop_identity_and_where(spark):
    ident = _setop(spark, "identity")
    assert set(ident) == {("a1", "b1", "both"), ("a1", "b2", "both"),
                          ("a1", None, "a_only"), ("a2", None, "a_only")}
    # where drops b2 -> its overlap returns to a1's residual
    got = _setop(spark, "identity", where="category = 'keep'")
    assert set(got) == {("a1", "b1", "both"),
                        ("a1", None, "a_only"), ("a2", None, "a_only")}
    assert got[("a1", None, "a_only")] == pytest.approx(1.0 * DEG2, rel=1e-6)


def test_setop_rejects_bad_op_and_unsafe_where(spark):
    from niamoto_spark.plans.guards import UnsafeQueryError

    with pytest.raises(ValueError):
        _setop(spark, "erode")
    with pytest.raises(UnsafeQueryError):
        _setop(spark, "union", where="category = 'x'; DROP TABLE t")


def test_setop_concave_layer_feature(spark):
    # concave L (3 deg^2) minus a 1x1 rect covering its notch arm
    a = spark.createDataFrame(
        [("L", "POLYGON ((0 0, 2 0, 2 1, 1 1, 1 2, 0 2, 0 0))")],
        "a_id string, geom string")
    b = spark.createDataFrame(
        [("r", "POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")],
        "b_id string, geom string")
    got = {(r["a_id"], r["b_id"], r["part"]): r["area_m2"]
           for r in ov.vector_overlay_setop(
               a, "geom", "a_id", b, "geom", "b_id",
               operation="union", lat0_deg=0.0).collect()}
    assert got[("L", "r", "both")] == pytest.approx(1.0 * DEG2, rel=1e-9)
    assert got[("L", None, "a_only")] == pytest.approx(2.0 * DEG2, rel=1e-6)
    assert (None, "r", "b_only") not in got


def test_html_site_nav_entries_escaped(tmp_path, spark):
    """ADVICE r2: nav labels/urls are config data rendered into the
    non-autoescaping chrome template — they must be HTML-escaped or they
    inject markup into every page."""
    from niamoto_spark.exporters.html_site import export_html_site

    df = spark.createDataFrame(pd.DataFrame({
        "id": [1], "stats": [json.dumps({"mean": 5})]}))
    export_html_site(
        df, "id", str(tmp_path), group_name="plots",
        nav=[{"label": "<script>alert(1)</script>",
              "url": 'x.html" onclick="evil()'}])
    idx = (tmp_path / "index.html").read_text()
    assert "<script>alert(1)</script>" not in idx
    assert "&lt;script&gt;" in idx
    assert 'onclick="evil()"' not in idx


def test_setop_handles_holes_on_both_sides(spark):
    """Review r3: pair areas use signed ring inclusion-exclusion, so a
    donut layer feature intersects by its REAL area (outer minus hole),
    and a donut overlay zone excludes its hole from 'both' coverage."""
    donut = ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), "
             "(1 1, 3 1, 3 3, 1 3, 1 1))")           # 16 - 4 = 12 deg^2
    a = spark.createDataFrame([("d", donut)], "a_id string, geom string")
    b_cover = spark.createDataFrame(
        [("z", "POLYGON ((-1 -1, 5 -1, 5 5, -1 5, -1 -1))")],
        "b_id string, geom string")
    got = {(r["a_id"], r["b_id"], r["part"]): r["area_m2"]
           for r in ov.vector_overlay_setop(
               a, "geom", "a_id", b_cover, "geom", "b_id",
               operation="union", lat0_deg=0.0).collect()}
    assert got[("d", "z", "both")] == pytest.approx(12.0 * DEG2, rel=1e-6)
    assert ("d", None, "a_only") not in got          # fully covered
    # overlay-side hole: zone is the same donut; plain 2x2 layer square
    # centered in the hole overlaps nothing
    a2 = spark.createDataFrame(
        [("sq", "POLYGON ((1.5 1.5, 2.5 1.5, 2.5 2.5, 1.5 2.5, 1.5 1.5))")],
        "a_id string, geom string")
    b2 = spark.createDataFrame([("dz", donut)], "b_id string, geom string")
    got2 = {(r["a_id"], r["b_id"], r["part"]): r["area_m2"]
            for r in ov.vector_overlay_setop(
                a2, "geom", "a_id", b2, "geom", "b_id",
                operation="union", lat0_deg=0.0).collect()}
    assert ("sq", "dz", "both") not in got2          # sits inside the hole
    assert got2[("sq", None, "a_only")] == pytest.approx(1.0 * DEG2,
                                                         rel=1e-6)
    assert got2[(None, "dz", "b_only")] == pytest.approx(12.0 * DEG2,
                                                         rel=1e-6)


def test_setop_rejects_identical_id_names(spark):
    df = spark.createDataFrame(
        [("x", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "id string, geom string")
    with pytest.raises(ValueError, match="must differ"):
        ov.vector_overlay_setop(df, "geom", "id", df, "geom", "id")


def test_vector_overlay_operation_dispatcher(spark):
    """The registered vector_overlay plugin must route every reference
    operation (vector_overlay.py:528-601), so a transform.yml carrying
    operation: union/difference/... drops in."""
    layer = spark.createDataFrame(
        [("f", "POLYGON ((0 0, 2 0, 2 1, 0 1, 0 0))")],
        "cat string, geom string")
    zones = spark.createDataFrame(
        [("z", "keep", "POLYGON ((1 0, 3 0, 3 1, 1 1, 1 0))")],
        "zone_id string, tag string, zwkt string")
    disp = ov.vector_overlay
    inter = disp(layer, "geom", zones, "zone_id", "zwkt",
                 operation="intersection")
    assert "piece_area_m2" in inter.columns and inter.count() == 1
    cov = disp(layer, "geom", zones, "zone_id", "zwkt",
               operation="coverage").collect()[0]
    assert cov["coverage_pct"] == pytest.approx(50.0, abs=1.0)
    agg = disp(layer, "geom", zones, "zone_id", "zwkt",
               operation="aggregate", attribute_field="cat")
    assert agg.count() == 1
    uni = disp(layer, "geom", zones, "zone_id", "zwkt", operation="union",
               lat0_deg=0.0)
    parts = {r["part"] for r in uni.collect()}
    assert parts == {"both", "a_only", "b_only"}
    # where filter drops the only zone -> difference keeps the layer whole
    diff = disp(layer, "geom", zones, "zone_id", "zwkt",
                operation="difference", where="tag = 'other'",
                lat0_deg=0.0).collect()
    assert len(diff) == 1 and diff[0]["part"] == "a_only"
    with pytest.raises(ValueError, match="not implemented"):
        disp(layer, "geom", zones, "zone_id", "zwkt", operation="erode")
