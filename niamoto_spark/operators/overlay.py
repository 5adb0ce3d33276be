"""Vector overlay + shape processing without a geometry library.

The reference does these with geopandas/shapely (vector_overlay.py:182-788,
shape_processor.py:35-230).  Sedona's ST_* functions are the cluster path;
in this environment the implementations are pure numpy inside mapInPandas:

- ``clip_to_rect`` / overlay intersection against CONVEX clip polygons via
  Sutherland-Hodgman (exact for the reference's dominant use — clipping
  layers to administrative rectangles/provinces; concave clips raise).
- ``coverage``: overlay area within each zone / zone area (reference
  vector_overlay.py:686) from the clipped pieces.
- ``aggregate_by_attribute``: per-category area sums after intersection
  (vector_overlay.py:762).
- ``simplify_wkt``: Douglas-Peucker polyline/ring simplification
  (shape_processor's presentation-size reduction, shape_processor.py:35-98).

Areas use the same equirectangular-about-lat0 approximation as
operators.geospatial (documented deviation from UTM reprojection).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from niamoto_spark.operators.geospatial import parse_polygon_wkt, ring_area_m2
from niamoto_spark.registry import PluginType, register


def _is_convex(ring: np.ndarray) -> bool:
    pts = ring[:-1] if np.allclose(ring[0], ring[-1]) else ring
    n = len(pts)
    sign = 0
    for i in range(n):
        a, b, c = pts[i], pts[(i + 1) % n], pts[(i + 2) % n]
        cross = (b[0] - a[0]) * (c[1] - b[1]) - (b[1] - a[1]) * (c[0] - b[0])
        if abs(cross) < 1e-15:
            continue
        s = 1 if cross > 0 else -1
        if sign == 0:
            sign = s
        elif s != sign:
            return False
    return True


def sutherland_hodgman(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Clip a polygon ring against a CONVEX clip ring; returns the clipped
    ring (possibly empty)."""
    if not _is_convex(clip):
        raise NotImplementedError(
            "clip polygon must be convex (Sutherland-Hodgman); use "
            "clip_general for concave zones (ear-clip triangulation)")
    cpts = clip[:-1] if np.allclose(clip[0], clip[-1]) else clip
    # ensure counter-clockwise clip orientation
    area2 = np.sum(cpts[:, 0] * np.roll(cpts[:, 1], -1)
                   - np.roll(cpts[:, 0], -1) * cpts[:, 1])
    if area2 < 0:
        cpts = cpts[::-1]
    output = list(subject[:-1] if np.allclose(subject[0], subject[-1]) else subject)
    n = len(cpts)
    for i in range(n):
        a, b = cpts[i], cpts[(i + 1) % n]
        input_pts, output = output, []
        if not input_pts:
            break

        def inside(p):
            return (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0]) >= 0

        def intersect(p, q):
            dc = a - b
            dp = np.asarray(p) - np.asarray(q)
            n1 = a[0] * b[1] - a[1] * b[0]
            n2 = p[0] * q[1] - p[1] * q[0]
            den = dc[0] * dp[1] - dc[1] * dp[0]
            return np.array([(n1 * dp[0] - n2 * dc[0]) / den,
                             (n1 * dp[1] - n2 * dc[1]) / den])

        s = input_pts[-1]
        for e in input_pts:
            if inside(e):
                if not inside(s):
                    output.append(intersect(s, e))
                output.append(np.asarray(e, dtype=float))
            elif inside(s):
                output.append(intersect(s, e))
            s = e
    if len(output) < 3:
        return np.empty((0, 2))
    out = np.asarray(output, dtype=float)
    return np.vstack([out, out[:1]])


def _ring_to_wkt(ring: np.ndarray) -> str:
    pts = ", ".join(f"{x:.10g} {y:.10g}" for x, y in ring)
    return f"POLYGON (({pts}))"


def triangulate_ring(ring: np.ndarray) -> list[np.ndarray]:
    """Ear-clipping triangulation of a simple (possibly concave) ring —
    O(n^2), fine for zone polygons (O(10^2-10^3) vertices).  Returns closed
    triangle rings whose union is the polygon and whose interiors are
    disjoint, so per-triangle clipped areas SUM to the true intersection
    area."""
    pts = ring[:-1] if np.allclose(ring[0], ring[-1]) else ring
    pts = np.asarray(pts, dtype=float)
    area2 = np.sum(pts[:, 0] * np.roll(pts[:, 1], -1)
                   - np.roll(pts[:, 0], -1) * pts[:, 1])
    if area2 < 0:
        pts = pts[::-1]

    def cross(a, b, c):
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])

    def in_tri(p, a, b, c):
        # inside OR on the boundary: a reflex vertex lying exactly on a
        # candidate ear's diagonal must BLOCK the ear (the polygon chain
        # continues through it), so the test is inclusive
        d1, d2, d3 = cross(a, b, p), cross(b, c, p), cross(c, a, p)
        return d1 >= -1e-12 and d2 >= -1e-12 and d3 >= -1e-12

    idx = list(range(len(pts)))
    tris: list[np.ndarray] = []
    stuck = 0
    while len(idx) > 3 and stuck <= len(idx):
        n = len(idx)
        clipped = False
        for k in range(n):
            i0, i1, i2 = idx[(k - 1) % n], idx[k], idx[(k + 1) % n]
            a, b, c = pts[i0], pts[i1], pts[i2]
            if cross(a, b, c) <= 1e-15:          # reflex or collinear
                continue
            if any(in_tri(pts[j], a, b, c)
                   for j in idx if j not in (i0, i1, i2)):
                continue
            tris.append(np.vstack([a, b, c, a]))
            idx.pop(k)
            clipped = True
            break
        if not clipped:
            stuck += 1                            # numerical degeneracy guard
            idx = idx[1:] + idx[:1]
        else:
            stuck = 0
    if len(idx) == 3:
        tri = pts[idx]
        if abs(cross(tri[0], tri[1], tri[2])) > 1e-15:
            tris.append(np.vstack([tri, tri[:1]]))
    return tris


def clip_general(subject: np.ndarray, clip: np.ndarray) -> list[np.ndarray]:
    """Clip a subject ring against ANY simple clip ring.  Convex clip ->
    one Sutherland-Hodgman piece; concave clip -> ear-clip the clip
    polygon into triangles (disjoint interiors) and clip against each, so
    the returned pieces tile the true intersection (areas sum exactly;
    piece boundaries may share triangulation edges).  Replaces the round-1
    NotImplementedError for concave zones."""
    if _is_convex(clip):
        piece = sutherland_hodgman(subject, clip)
        return [piece] if len(piece) else []
    pieces = []
    for tri in triangulate_ring(clip):
        piece = sutherland_hodgman(subject, tri)
        if len(piece):
            pieces.append(piece)
    return pieces


@register("vector_overlay", PluginType.TRANSFORMER)
def vector_overlay(layer: DataFrame, layer_wkt: str,
                   zones: DataFrame, zone_id: str, zone_wkt: str,
                   operation: str = "intersection",
                   where: str | None = None,
                   attribute_field: str | None = None,
                   **setop_kwargs) -> DataFrame:
    """Operation dispatcher mirroring the reference's
    ``_execute_overlay_operation`` (vector_overlay.py:528-601): a config
    carrying ``operation: union|difference|symmetric_difference|identity``
    routes to :func:`vector_overlay_setop`; ``intersection``/``clip``
    return the piece table; ``coverage`` / ``aggregate`` return their
    summaries.  ``where`` pre-filters the overlay layer everywhere
    (reference :477)."""
    if operation in ("union", "difference", "symmetric_difference",
                     "identity"):
        return vector_overlay_setop(layer, layer_wkt,
                                    _first_id_col(layer, layer_wkt),
                                    zones, zone_wkt, zone_id,
                                    operation=operation, where=where,
                                    **setop_kwargs)
    if where:
        from niamoto_spark.plans.explorer import validate_predicate

        zones = zones.filter(validate_predicate(where, set(zones.columns)))
    if operation in ("intersection", "clip"):
        # gpd.clip == intersection pieces keeping layer attributes (:601)
        return vector_overlay_intersection(layer, layer_wkt, zones,
                                           zone_id, zone_wkt)
    if operation == "coverage":
        return coverage(layer, layer_wkt, zones, zone_id, zone_wkt)
    if operation == "aggregate":
        if not attribute_field:
            raise ValueError("operation='aggregate' needs attribute_field")
        return aggregate_by_attribute(layer, layer_wkt, attribute_field,
                                      zones, zone_id, zone_wkt)
    raise ValueError(f"Operation not implemented: {operation}")


def _first_id_col(layer: DataFrame, wkt_col: str) -> str:
    """The layer's id column for set-ops: first non-geometry column
    (reference GeoDataFrames carry their index implicitly)."""
    for c in layer.columns:
        if c != wkt_col:
            return c
    raise ValueError("layer needs a non-geometry id column for set-ops")


def vector_overlay_intersection(layer: DataFrame, layer_wkt: str,
                                zones: DataFrame, zone_id: str,
                                zone_wkt: str) -> DataFrame:
    """Intersection overlay: every (layer polygon x zone) clipped piece with
    its metric area.  Zones broadcast (small); the layer streams through
    mapInPandas in Arrow batches.  Output: layer columns (minus geometry) +
    (zone id, piece_wkt, piece_area_m2).
    """
    zone_rows = [(r[zone_id], parse_polygon_wkt(r[zone_wkt])[0])
                 for r in zones.select(zone_id, zone_wkt).collect()
                 if r[zone_wkt]]
    bzones = layer.sparkSession.sparkContext.broadcast(zone_rows)

    keep = [f for f in layer.schema.fields if f.name != layer_wkt]
    out_schema = T.StructType(
        keep + [T.StructField(zone_id, zones.schema[zone_id].dataType, True),
                T.StructField("piece_wkt", T.StringType(), True),
                T.StructField("piece_area_m2", T.DoubleType(), True)])

    def clip_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                rings = parse_polygon_wkt(r[layer_wkt]) if r[layer_wkt] else []
                if not rings:
                    continue
                for zid, zring in bzones.value:
                    lat0 = float(zring[:, 1].mean())
                    for piece in clip_general(rings[0], zring):
                        base = {f.name: r[f.name] for f in keep}
                        base[zone_id] = zid
                        base["piece_wkt"] = _ring_to_wkt(piece)
                        base["piece_area_m2"] = ring_area_m2(piece, lat0)
                        rows.append(base)
            if rows:
                yield pd.DataFrame(rows)

    return layer.mapInPandas(clip_batch, schema=out_schema)


def coverage(layer: DataFrame, layer_wkt: str, zones: DataFrame,
             zone_id: str, zone_wkt: str) -> DataFrame:
    """Overlay coverage %% per zone (vector_overlay.py:686): clipped overlay
    area / zone area.  Output: (zone id, covered_area_m2, zone_area_m2,
    coverage_pct)."""
    pieces = vector_overlay_intersection(layer, layer_wkt, zones,
                                         zone_id, zone_wkt)
    from niamoto_spark.operators.geospatial import polygon_area

    zarea = polygon_area(zones.select(zone_id, zone_wkt), zone_wkt,
                         out_col="zone_area_m2").drop(zone_wkt)
    cov = pieces.groupBy(zone_id).agg(
        F.sum("piece_area_m2").alias("covered_area_m2"))
    return (zarea.join(cov, zone_id, "left")
            .withColumn("covered_area_m2",
                        F.coalesce(F.col("covered_area_m2"), F.lit(0.0)))
            .withColumn("coverage_pct",
                        F.round(F.col("covered_area_m2") * 100.0
                                / F.col("zone_area_m2"), 2)))


def aggregate_by_attribute(layer: DataFrame, layer_wkt: str, attr: str,
                           zones: DataFrame, zone_id: str,
                           zone_wkt: str) -> DataFrame:
    """Per-zone area sums by an attribute after intersection
    (vector_overlay.py:762).  Output: (zone id, attr, area_m2)."""
    pieces = vector_overlay_intersection(layer, layer_wkt, zones,
                                         zone_id, zone_wkt)
    return (pieces.groupBy(zone_id, attr)
            .agg(F.round(F.sum("piece_area_m2"), 2).alias("area_m2")))


_SETOP_PARTS = {
    # which piece kinds each gpd.overlay `how` keeps
    # (reference vector_overlay.py:568 dispatches these five to
    # gpd.overlay, :601 clip; intersection/clip/coverage/aggregate are the
    # round-2 operators above)
    "intersection": ("both",),
    "union": ("both", "a_only", "b_only"),
    "difference": ("a_only",),
    "symmetric_difference": ("a_only", "b_only"),
    "identity": ("both", "a_only"),
}


def _polygon_areas(shapes: DataFrame, wkt_col: str, id_col: str,
                   out_col: str, lat0_deg: float | None) -> DataFrame:
    """(id, area_m2) with an optionally pinned projection latitude so every
    area in a set-op uses ONE metric (ring-local lat0 would make
    a_area - sum(pieces) incoherent across latitudes)."""
    out_schema = T.StructType([
        shapes.schema[id_col],
        T.StructField(out_col, T.DoubleType(), True)])

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, areas = [], []
            for rid, wkt in zip(pdf[id_col], pdf[wkt_col]):
                rings = parse_polygon_wkt(wkt) if wkt else []
                if not rings:
                    continue
                lat0 = (float(rings[0][:, 1].mean())
                        if lat0_deg is None else lat0_deg)
                ids.append(rid)
                areas.append(ring_area_m2(rings[0], lat0)
                             - sum(ring_area_m2(r, lat0) for r in rings[1:]))
            yield pd.DataFrame({id_col: ids, out_col: areas})

    return shapes.select(id_col, wkt_col).mapInPandas(compute,
                                                      schema=out_schema)


@register("vector_overlay_setop", PluginType.TRANSFORMER)
def vector_overlay_setop(layer: DataFrame, layer_wkt: str, layer_id: str,
                         overlay: DataFrame, overlay_wkt: str,
                         overlay_id: str,
                         operation: str = "union",
                         where: str | None = None,
                         lat0_deg: float | None = None,
                         min_area_m2: float = 1.0) -> DataFrame:
    """gpd.overlay-style polygon set operations as area accounting
    (reference vector_overlay.py:568 `_perform_basic_operation` for
    intersection/union/difference/symmetric_difference, :660 identity;
    the reference's consumed output is the per-feature area stats of the
    result GeoDataFrame).

    Output: one row per surviving piece —
    ``(layer_id, overlay_id, part, area_m2)`` with ``part`` in
    {'both', 'a_only', 'b_only'} and the absent side's id NULL, mirroring
    gpd.overlay's attribute-NaN rows.

    Plan shape (Spark-first): ONE mapInPandas pass over the layer computes
    exact pairwise intersection areas against the broadcast overlay
    (ear-clip triangulation + Sutherland-Hodgman, bbox prefilter — same
    kernel as ``vector_overlay_intersection``); everything else is
    DataFrame algebra: residual areas come from a broadcast join of
    per-feature totals against the summed pairs.  The overlay layer is a
    zone/admin file (structurally small, like points_in_polygons' shapes);
    the LAYER side streams and scales.

    ``where`` applies the explorer's restricted predicate grammar to the
    overlay layer before the join (reference vector_overlay.py:477
    `_apply_where_filter`).

    Assumes overlay features do not overlap EACH OTHER (zone layers are
    partitions); self-overlapping overlay features double-count in the
    a_only residual, as documented.  Holes ARE handled on both sides:
    pair areas use signed ring inclusion-exclusion
    (area(A∩B) = Σ s(ra)·s(rb)·area(ra∩rb) over outer=+1/hole=-1 rings,
    exact while holes sit inside their outer ring and don't nest), the
    same even-odd model as ``polygon_area``.  Areas use the
    equirectangular metric about ``lat0_deg`` (default: each ring's own
    mean latitude — pass an explicit lat0 when residual arithmetic must be
    exactly reproducible).  ``min_area_m2`` (default 1 m²) drops
    degenerate pieces: residuals of fully-covered features are
    float-noise, not zero, at ~1e9 m² scales.
    """
    if operation not in _SETOP_PARTS:
        raise ValueError(
            f"unknown overlay operation {operation!r}; expected one of "
            f"{sorted(_SETOP_PARTS)}")
    if layer_id == overlay_id:
        raise ValueError(
            f"layer_id and overlay_id are both {layer_id!r}: the output "
            "carries one column per side, so the id column names must "
            "differ (alias one before calling)")
    parts = _SETOP_PARTS[operation]
    if where:
        from niamoto_spark.plans.explorer import validate_predicate

        overlay = overlay.filter(
            validate_predicate(where, set(overlay.columns)))

    def _signed(rings):
        return [(ring, 1.0 if i == 0 else -1.0)
                for i, ring in enumerate(rings)]

    b_rows = [(r[overlay_id], parse_polygon_wkt(r[overlay_wkt]))
              for r in overlay.select(overlay_id, overlay_wkt).collect()
              if r[overlay_wkt] and parse_polygon_wkt(r[overlay_wkt])]
    bcast = layer.sparkSession.sparkContext.broadcast(
        [(bid, _signed(rings),
          rings[0][:, 0].min(), rings[0][:, 0].max(),
          rings[0][:, 1].min(), rings[0][:, 1].max())
         for bid, rings in b_rows])

    a_id_f = layer.schema[layer_id]
    b_id_t = overlay.schema[overlay_id].dataType
    pair_schema = T.StructType([
        a_id_f, T.StructField(overlay_id, b_id_t, True),
        T.StructField("inter_area", T.DoubleType(), True)])

    def pair_areas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def ring_inter(ra, rb):
            total = 0.0
            for piece in clip_general(ra, rb):
                lat0 = (float(piece[:, 1].mean())
                        if lat0_deg is None else lat0_deg)
                total += ring_area_m2(piece, lat0)
            return total

        for pdf in batches:
            aids, bids, areas = [], [], []
            for aid, wkt in zip(pdf[layer_id], pdf[layer_wkt]):
                rings = parse_polygon_wkt(wkt) if wkt else []
                if not rings:
                    continue
                a_rings = _signed(rings)
                outer = rings[0]
                ax0, ax1 = outer[:, 0].min(), outer[:, 0].max()
                ay0, ay1 = outer[:, 1].min(), outer[:, 1].max()
                for bid, b_srings, bx0, bx1, by0, by1 in bcast.value:
                    if ax1 <= bx0 or bx1 <= ax0 or ay1 <= by0 or by1 <= ay0:
                        continue
                    area = sum(sa * sb * ring_inter(ra, rb)
                               for ra, sa in a_rings
                               for rb, sb in b_srings)
                    if area > min_area_m2:
                        aids.append(aid); bids.append(bid); areas.append(area)
            yield pd.DataFrame({layer_id: aids, overlay_id: bids,
                                "inter_area": areas})

    pairs = (layer.select(layer_id, layer_wkt)
             .mapInPandas(pair_areas, schema=pair_schema)
             .localCheckpoint(eager=False))  # read up to 3x below

    out = []
    null_a = F.lit(None).cast(a_id_f.dataType).alias(layer_id)
    null_b = F.lit(None).cast(b_id_t).alias(overlay_id)
    if "both" in parts:
        out.append(pairs.select(
            layer_id, overlay_id, F.lit("both").alias("part"),
            F.col("inter_area").alias("area_m2")))
    if "a_only" in parts:
        a_areas = _polygon_areas(layer, layer_wkt, layer_id,
                                 "a_area", lat0_deg)
        a_taken = pairs.groupBy(layer_id).agg(
            F.sum("inter_area").alias("taken"))
        out.append(
            # layer-sized on both sides -> regular shuffle join on the id
            a_areas.join(a_taken, layer_id, "left")
            .withColumn("area_m2",
                        F.col("a_area") - F.coalesce("taken", F.lit(0.0)))
            .where(F.col("area_m2") > min_area_m2)
            .select(layer_id, null_b, F.lit("a_only").alias("part"),
                    "area_m2"))
    if "b_only" in parts:
        b_areas = _polygon_areas(overlay, overlay_wkt, overlay_id,
                                 "b_area", lat0_deg)
        b_taken = pairs.groupBy(overlay_id).agg(
            F.sum("inter_area").alias("taken"))
        out.append(
            b_areas.join(F.broadcast(b_taken), overlay_id, "left")
            .withColumn("area_m2",
                        F.col("b_area") - F.coalesce("taken", F.lit(0.0)))
            .where(F.col("area_m2") > min_area_m2)
            .select(null_a, overlay_id, F.lit("b_only").alias("part"),
                    "area_m2"))
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def douglas_peucker(ring: np.ndarray, epsilon: float) -> np.ndarray:
    """Iterative Douglas-Peucker on a ring/polyline (lon/lat degrees)."""
    pts = ring
    if len(pts) < 3:
        return pts
    keep = np.zeros(len(pts), dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(pts) - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi <= lo + 1:
            continue
        a, b = pts[lo], pts[hi]
        ab = b - a
        norm = np.hypot(*ab)
        seg = pts[lo + 1:hi]
        if norm == 0:
            d = np.hypot(*(seg - a).T)
        else:
            d = np.abs(np.cross(ab, seg - a)) / norm
        imax = int(np.argmax(d))
        if d[imax] > epsilon:
            keep[lo + 1 + imax] = True
            stack.append((lo, lo + 1 + imax))
            stack.append((lo + 1 + imax, hi))
    return pts[keep]


@register("shape_processor", PluginType.TRANSFORMER)
def simplify_wkt(shapes: DataFrame, wkt_col: str,
                 epsilon_deg: float = 0.001,
                 out_col: str = "simplified_wkt") -> DataFrame:
    """Geometry simplification for presentation (reference
    shape_processor.py:35-98 simplifies in a UTM zone; here Douglas-Peucker
    in degrees with a documented epsilon).  Emits the simplified WKT and the
    vertex reduction."""
    out_schema = T.StructType(
        list(shapes.schema.fields)
        + [T.StructField(out_col, T.StringType(), True),
           T.StructField("n_points_before", T.IntegerType(), True),
           T.StructField("n_points_after", T.IntegerType(), True)])

    def simp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs, nb, na = [], [], []
            for wkt in pdf[wkt_col]:
                rings = parse_polygon_wkt(wkt) if wkt else []
                if not rings:
                    outs.append(None); nb.append(None); na.append(None)
                    continue
                ring = rings[0]
                simp_ring = douglas_peucker(ring, epsilon_deg)
                if len(simp_ring) < 4:  # keep at least a triangle + closure
                    simp_ring = ring
                outs.append(_ring_to_wkt(simp_ring))
                nb.append(len(ring)); na.append(len(simp_ring))
            pdf = pdf.copy()
            pdf[out_col] = outs
            pdf["n_points_before"] = pd.array(nb, dtype="Int32")
            pdf["n_points_after"] = pd.array(na, dtype="Int32")
            yield pdf

    return shapes.mapInPandas(simp, schema=out_schema)


def nested_to_topojson(gtype: str, polys, quantization: int = 10_000) -> dict:
    """Nested-coordinate polygons -> a TopoJSON Topology dict
    (reference shape_processor._convert_to_topojson :278-330 via the
    topojson lib with prequantize; here a dependency-free encoder).

    Per-geometry conversion like the reference (one feature per Topology),
    so arcs are the geometry's own rings, quantized to a
    ``quantization``-step integer grid and delta-encoded — the standard
    TopoJSON transform/translate representation.  Shared by the engine
    widget and the refdiff topojson shim so float coordinates never
    round-trip through WKT strings."""
    all_pts = [p for poly in polys for ring in poly for p in ring]
    xs = [p[0] for p in all_pts]
    ys = [p[1] for p in all_pts]
    x0, y0 = min(xs), min(ys)
    q = max(quantization - 1, 1)
    sx = (max(xs) - x0) / q or 1.0
    sy = (max(ys) - y0) / q or 1.0

    arcs = []
    arc_index: list = []
    for poly in polys:
        poly_arcs = []
        for ring in poly:
            quant = [(round((x - x0) / sx), round((y - y0) / sy))
                     for x, y in ring]
            deltas = [list(quant[0])]
            for (px, py), (cx, cy) in zip(quant, quant[1:]):
                deltas.append([cx - px, cy - py])
            poly_arcs.append(len(arcs))
            arcs.append(deltas)
        arc_index.append(poly_arcs)

    if gtype == "Polygon":
        obj_arcs = arc_index[0]
    elif gtype == "MultiPolygon":
        obj_arcs = arc_index
    else:
        obj_arcs = arc_index[0]
    return {
        "type": "Topology",
        "transform": {"scale": [sx, sy], "translate": [x0, y0]},
        "objects": {"shape": {"type": gtype, "arcs": obj_arcs}},
        "arcs": arcs,
        "bbox": [x0, y0, max(xs), max(ys)],
    }


def nested_to_geojson(gtype: str, polys) -> dict:
    """Nested-coordinate polygons -> a GeoJSON FeatureCollection with
    one feature, matching the reference's ``format: geojson`` branch
    (shape_processor.py:258-276: ``mapping(geometry)`` wrapped in a
    single Feature when the merged geometry is Polygon/MultiPolygon).
    Coordinates are emitted raw (no quantization — geojson skips the
    TopoJSON prequantize entirely)."""
    coords = polys[0] if gtype == "Polygon" else polys
    return {
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature",
            "properties": {},
            "geometry": {"type": gtype, "coordinates": coords},
        }],
    }


def topojson_decode(topo: dict) -> list[list[tuple[float, float]]]:
    """Dequantize a Topology produced by ``nested_to_topojson`` back to
    absolute-coordinate rings (test/verification helper)."""
    sx, sy = topo["transform"]["scale"]
    x0, y0 = topo["transform"]["translate"]
    rings = []
    for arc in topo["arcs"]:
        cx, cy = 0, 0
        ring = []
        for dx, dy in arc:
            cx += dx
            cy += dy
            ring.append((x0 + cx * sx, y0 + cy * sy))
        rings.append(ring)
    return rings
