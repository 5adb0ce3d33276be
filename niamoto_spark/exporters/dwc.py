"""Darwin Core mapping DSL (reference:
transformers/formats/niamoto_to_dwc_occurrence.py:100-1010).

The reference maps occurrence dicts to DwC terms per-row through a
declarative DSL — ``@source.field`` / ``@taxon.field`` references, static
literals, and named generators (``unique_occurrence_id``,
``extract_specific_epithet``, ``format_event_date``, ...).  Here the SAME
mapping dialect compiles to one Spark ``select`` projection: every
reference becomes a Column expression, every generator a Column builder,
so the whole mapping is a narrow codegen transform — no per-row Python,
and the taxon side joins once (broadcast) instead of the reference's
per-taxon occurrence fetch (niamoto_to_dwc_occurrence.py:183-225).  Both
export dialects run it: the ``dwc_archive`` target and the reference's
``dwc_occurrence_json`` target (exporters/dwc_json.py).

A reference's root names a column; a path below it walks struct fields,
or the JSON value of a string column (kept as a VARIANT, so it keeps its
JSON type).  An ``@taxon`` root that names no taxon column is looked up
among the keys of the taxon's JSON-object columns, the later column
winning — the reference item's flatten (json_api._flatten_item).
"""

from __future__ import annotations

import json
from typing import Any, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from niamoto_spark.registry import PluginType, register

_EPITHET_CLEAN = r"\s+\([^)]+\)"
_TAXON = "__tx_"


def _null() -> Column:
    """The value of a reference that names nothing."""
    return F.lit(None).cast("string")


def _vpath(segs: list[str]) -> str:
    return "$" + "".join(f"['{s}']" for s in segs)


def _json_at(v: Column, segs: list[str]) -> Column:
    """The JSON value at ``segs`` below variant ``v``; a JSON null is a
    SQL NULL, as the reference's None."""
    if segs:
        v = F.try_variant_get(v, _vpath(segs), "variant")
    return F.when(~F.is_variant_null(v), v)


def _nested(dt: T.DataType, col: Column, segs: list[str]) -> Column:
    if not segs:
        return col
    if isinstance(dt, T.StringType):
        return _json_at(F.try_parse_json(col), segs)
    if isinstance(dt, T.VariantType):
        return _json_at(col, segs)
    for s in segs:
        col = col.getField(s) if isinstance(dt, T.StructType) else col[s]
        dt = dt[s].dataType if isinstance(dt, T.StructType) else None
    return col


def _flat_ref(df: DataFrame, prefix: str, segs: list[str]) -> Column:
    """A taxon path by the reference item's rules: the column named by
    the root, else the root key of the JSON-object string columns (the
    later column wins); the rest of the path walks into that value."""
    fields = [f for f in df.schema.fields if f.name.startswith(prefix)]
    for f in fields:
        if f.name == prefix + segs[0]:
            return _nested(f.dataType, F.col(f.name), segs[1:])
    roots = [F.try_variant_get(F.try_parse_json(F.col(f.name)),
                               _vpath(segs[:1]), "variant")
             for f in reversed(fields) if isinstance(f.dataType, T.StringType)]
    return _json_at(F.coalesce(*roots), segs[1:]) if roots else _null()


def _blank(s: Column) -> Column:
    return s.isNull() | (s == "")


def _falsy(c: Column) -> Column:
    """Python falsiness on the value's string form (None, "", 0, False)."""
    s = F.lower(c.cast("string"))
    return s.isNull() | s.isin("", "0", "0.0", "false")


class _Ctx:
    """Compilation context: the occurrence rows (taxon columns prefixed
    ``__tx_``), the taxon id the generator fallbacks print and the
    per-taxon occurrence index."""

    def __init__(self, df: DataFrame, taxon_id: Column, occ_index: Column):
        self.df = df
        self.taxon_id = taxon_id
        self.occ_index = occ_index

    def ref(self, reference: str) -> Column:
        """``@source.a.b`` / ``@taxon.x`` / bare column name -> Column
        (reference _resolve_reference, :599-640)."""
        path = reference
        if path.startswith("@"):
            side, _, path = path[1:].partition(".")
            if side == "taxon" and path:
                return _flat_ref(self.df, _TAXON, path.split("."))
            if side != "source" or not path:
                return _null()
        segs = path.split(".")
        if segs[0] not in self.df.columns:
            return _null()
        return _nested(self.df.schema[segs[0]].dataType, F.col(segs[0]),
                       segs[1:])


def _occ_id(ctx: _Ctx, params: Mapping[str, Any], default_prefix: str,
            source_field: str | None) -> Column:
    """prefix + source value, falling back to prefix + taxonId_index —
    reference _generate_unique_occurrence_id (:741-791)."""
    prefix = F.lit(params.get("prefix", default_prefix))
    # occurrences with no matching taxon row (left-join null) still need a
    # usable unique id -- the reference always generates one; a plain
    # concat would propagate the NULL into the whole id (ADVICE r2)
    fallback = F.concat(prefix,
                        F.coalesce(ctx.taxon_id.cast("string"),
                                   F.lit("unknown")),
                        F.lit("_"), ctx.occ_index.cast("string"))
    if source_field:
        val = ctx.ref(source_field).cast("string")
        return F.when(_blank(val), fallback).otherwise(F.concat(prefix, val))
    return fallback


def _event_date(ctx: _Ctx, src: str) -> Column:
    """ISO 8601 event date (reference _format_event_date :833-932): an
    empty value or a month number (1-12) gives null, a date/timestamp
    gives yyyy-MM-dd, DD/MM/YYYY is reordered, anything else passes."""
    s = ctx.ref(src).cast("string")
    num = s.try_cast("double")
    parts = F.split(s, "/")
    reformatted = F.concat(F.element_at(parts, 3), F.lit("-"),
                           F.lpad(F.element_at(parts, 2), 2, "0"), F.lit("-"),
                           F.lpad(F.element_at(parts, 1), 2, "0"))
    # try_cast through the STRING form: try_cast on the typed column fails
    # at analysis time for impossible pairs (e.g. timestamp -> double)
    return (F.when(_blank(s) | ((num >= 1) & (num < 13) & ~s.rlike("[-/]")),
                   _null())
             .when(s.try_cast("timestamp").isNotNull()
                   & s.rlike(r"^\d{4}-"), F.substring(s, 1, 10))
             .when(F.size(parts) == 3, reformatted)
             .otherwise(s))


def _date_part(d: Column, pos: int, size: int) -> Column:
    return F.when(F.length(d) >= pos + size - 1,
                  F.substring(d, pos, size).try_cast("int"))


def _coordinates(ctx: _Ctx, params: Mapping[str, Any]) -> Column:
    """POINT-WKT or numeric coordinate with range validation (reference
    _format_coordinates :939-977)."""
    from niamoto_spark.operators.geospatial import point_lat, point_lon

    which = params.get("type", params.get("axis", "latitude"))
    lat = which in ("latitude", "lat")
    s = ctx.ref(params["source_field"]).cast("string")
    from_wkt = (point_lat if lat else point_lon)(s)
    val = F.when(s.startswith("POINT"), from_wkt).otherwise(
        s.try_cast("double"))
    lo, hi = (-90.0, 90.0) if lat else (-180.0, 180.0)
    return F.when((val >= lo) & (val <= hi), val)


def _phrases(parts: list[Column]) -> Column:
    """Non-null phrases joined by "; ", null when there are none."""
    joined = F.concat_ws("; ", *parts) if parts else F.lit("")
    return F.when(joined != "", joined)


def _measurements(ctx: _Ctx, params: Mapping[str, Any]) -> Column:
    """``{name: {"value": v, "unit": u}}`` as json.dumps text (reference
    _format_measurements): name and unit are encoded here, the value by
    Spark's JSON writer."""
    entries = []
    for m in params.get("measurements", []):
        if not (m.get("field") and m.get("name")):
            continue
        v = ctx.ref(m["field"])
        value = F.regexp_extract(F.to_json(F.struct(v.alias("v"))),
                                 r'^\{"v":(.*)\}$', 1)
        entries.append(F.when(v.isNotNull(), F.concat(
            F.lit(f'{json.dumps(m["name"])}: {{"value": '), value,
            F.lit(f', "unit": {json.dumps(m.get("unit", ""))}}}'))))
    body = F.concat_ws(", ", *entries) if entries else F.lit("")
    return F.when(body != "", F.concat(F.lit("{"), body, F.lit("}")))


def _phenology(ctx: _Ctx, params: Mapping[str, Any]) -> Column:
    """reference _format_phenology: "flowering" / "fruiting" for a set
    flower / fruit field."""
    parts = []
    for key, label in (("flower_field", "flowering"),
                       ("fruit_field", "fruiting")):
        if params.get(key):
            v = ctx.ref(params[key])
            unset = _falsy(v) | F.lower(v.cast("string")).isin("none", "null")
            parts.append(F.when(~unset, F.lit(label)))
    return _phrases(parts)


def _habitat(ctx: _Ctx, params: Mapping[str, Any]) -> Column:
    """reference _format_habitat: Holdridge zone, rainfall, substrate and
    forest phrases."""
    parts = []
    if params.get("holdridge_field"):
        h = ctx.ref(params["holdridge_field"]).cast("string")
        zone = (F.when(h == "1", "Dry").when(h == "2", "Moist")
                 .when(h == "3", "Wet").otherwise(F.concat(F.lit("Zone "), h)))
        parts.append(F.concat(F.lit("Holdridge life zone: "), zone))
    if params.get("rainfall_field"):
        r = ctx.ref(params["rainfall_field"]).cast("string")
        parts.append(F.concat(F.lit("Annual rainfall: "), r, F.lit("mm")))
    for key, label, yes, no in (
            ("substrate_field", "Substrate", "ultramafic", "non-ultramafic"),
            ("forest_field", "Habitat", "forest", "non-forest")):
        if params.get(key):
            c = ctx.ref(params[key])
            parts.append(F.when(c.isNotNull(), F.concat(
                F.lit(f"{label}: "), F.when(_falsy(c), no).otherwise(yes))))
    return _phrases(parts)


def _media_urls(ctx: _Ctx, params: Mapping[str, Any]) -> Column:
    """A list of URLs or of ``{url_key: url}`` objects, joined by " | "."""
    url_key = params.get("url_key", "url")
    col = ctx.ref(params.get("source_list", "@taxon.metadata.images"))
    dt = ctx.df.select(col).schema[0].dataType
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
        return F.array_join(F.transform(col, lambda x: x[url_key]), " | ")
    if isinstance(dt, T.ArrayType):
        return F.array_join(col.cast("array<string>"), " | ")
    if isinstance(dt, T.VariantType):
        items = F.try_variant_get(col, "$", "array<variant>")
        return F.array_join(F.transform(items, lambda x: F.when(
            F.schema_of_variant(x).startswith("OBJECT"),
            F.try_variant_get(x, _vpath([url_key]), "string"))
            .otherwise(x.cast("string"))), " | ")
    return _null()


def _generator(name: str, params: Mapping[str, Any], ctx: _Ctx) -> Column:
    """Named generator -> Column builder (reference registry :58-82)."""
    def name_tokens():
        nm = ctx.ref(params.get("source_field", "@taxon.full_name"))
        return F.split(F.trim(F.regexp_replace(nm.cast("string"),
                                               _EPITHET_CLEAN, "")), r"\s+")

    def date():
        return _event_date(ctx, params.get("source_field", "@source.date"))

    if name == "unique_occurrence_id":
        return _occ_id(ctx, params, "niaocc_", params.get("source_field"))
    if name == "unique_event_id":
        return _occ_id(ctx, params, "niaevt_", params.get("source_field"))
    if name == "unique_identification_id":
        # the reference IGNORES source_field here (:782-791)
        return _occ_id(ctx, params, "niaid_", None)
    if name == "extract_specific_epithet":
        parts = name_tokens()
        return F.when(F.size(parts) >= 2, F.element_at(parts, 2))
    if name == "extract_infraspecific_epithet":
        # the word after the first of these markers that has one
        parts = name_tokens()
        after = [F.when(F.array_position(parts, m) > 0,
                        F.get(parts, F.array_position(parts, m).cast("int")))
                 for m in ("var.", "subsp.", "f.")]
        return F.coalesce(*after)
    if name == "format_event_date":
        return date()
    if name == "extract_year":
        return _date_part(date(), 1, 4)
    if name == "extract_day":
        return _date_part(date(), 9, 2)
    if name == "extract_month":
        src = params.get("source_field", "@source.date")
        n = ctx.ref(src).cast("string").try_cast("double")
        d = _event_date(ctx, params.get("date_field", src))
        return F.when((n >= 1) & (n < 13), n.cast("int")).otherwise(
            _date_part(d, 6, 2))
    if name == "format_coordinates":
        return _coordinates(ctx, params)
    if name == "map_establishment_means":
        e = ctx.ref(params.get("endemic_field", "@taxon.metadata.endemic"))
        s = F.lower(e.cast("string"))
        return (F.when(s == "true", F.lit("native"))
                 .when(s == "false", F.lit("introduced")))
    if name == "map_occurrence_status":
        sf = params.get("status_field")
        st = ctx.ref(sf).cast("string") if sf else _null()
        return F.when(_blank(st), F.lit("present")).otherwise(st)
    if name == "format_media_urls":
        return _media_urls(ctx, params)
    if name == "format_measurements":
        return _measurements(ctx, params)
    if name == "format_phenology":
        return _phenology(ctx, params)
    if name == "format_habitat":
        return _habitat(ctx, params)
    if name == "count_occurrences":
        return F.count(F.lit(1)).over(Window.partitionBy(ctx.taxon_id))
    if name == "current_date":
        return F.date_format(F.current_date(), "yyyy-MM-dd")
    raise ValueError(f"unknown DwC generator {name!r}")


def _compile_term(spec: Any, ctx: _Ctx) -> Column:
    if isinstance(spec, str):
        return ctx.ref(spec) if spec.startswith("@") else F.lit(spec)
    if isinstance(spec, Mapping) and "generator" in spec:
        return _generator(spec["generator"], spec.get("params", {}), ctx)
    if isinstance(spec, Mapping) and "source" in spec:
        return ctx.ref(spec["source"])
    if isinstance(spec, (Mapping, list)):
        return F.parse_json(F.lit(json.dumps(spec)))
    return F.lit(spec)


@register("niamoto_to_dwc_occurrence", PluginType.TRANSFORMER)
def to_dwc_occurrence(df: DataFrame, mapping: Mapping[str, Any],
                      taxon: DataFrame | None = None,
                      occ_taxon_col: str | None = None,
                      taxon_id_col: str = "id",
                      order_col: str | None = None,
                      fallback_id_col: str | None = None) -> DataFrame:
    """Project occurrence rows to Darwin Core terms per the mapping DSL.

    ``taxon`` (a dimension) joins once via broadcast on
    ``occ_taxon_col == taxon_id_col`` and exposes ``@taxon.x`` references;
    the reference instead re-fetches occurrences per taxon
    (niamoto_to_dwc_occurrence.py:183-225) — same output, set-oriented.
    The unique_*_id fallbacks print the taxon's ``fallback_id_col``
    (default: the join key) and number each taxon's occurrences by
    ``order_col`` (default: first column), so ids are deterministic
    under any partitioning."""
    base = df
    if taxon is not None:
        if occ_taxon_col is None:
            raise ValueError("occ_taxon_col is required when taxon is given")
        tx = taxon.select([F.col(c).alias(_TAXON + c) for c in taxon.columns])
        base = df.join(F.broadcast(tx),
                       df[occ_taxon_col] == tx[_TAXON + taxon_id_col], "left")
        taxon_id = F.col(_TAXON + (fallback_id_col or taxon_id_col))
    elif occ_taxon_col is not None:
        taxon_id = F.col(occ_taxon_col)
    else:
        taxon_id = F.lit("unknown")
    order = order_col or df.columns[0]
    if taxon is None and occ_taxon_col is None:
        # no taxon key: a row_number window over the constant taxon id
        # would serialize everything through one task — use a partition-
        # local index instead (ids stay unique, not globally dense)
        occ_index = F.monotonically_increasing_id()
    else:
        occ_index = F.row_number().over(
            Window.partitionBy(taxon_id).orderBy(F.col(order))) - 1
    ctx = _Ctx(base, taxon_id, occ_index)
    cols = [_compile_term(spec, ctx).alias(term)
            for term, spec in mapping.items() if term != "error_handling"]
    return base.select(*cols)
