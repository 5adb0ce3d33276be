"""Darwin-Core occurrence JSON export target (reference export.yml
``dwc_occurrence_json``: json_api_exporter + the
``niamoto_to_dwc_occurrence`` transformer plugin).

One JSON file per taxon holding the DwC-mapped list of its DIRECT
occurrences (the reference joins ``o.taxon_id_field =
t.external_id_column`` with no subtree expansion,
niamoto_to_dwc_occurrence.py:419-427), plus a taxon index.

The per-occurrence mapping DSL mirrors the reference transformer
line-for-line (file:line cites on each generator): literals pass
through, ``@source.x`` reads the occurrence row, ``@taxon.a.b`` walks
the flattened taxon item (widget JSONs parsed), generators produce
ids/dates/coordinates/measurements, and ``None`` values DROP their key
(_map_occurrence :529-547).  Doc assembly is per-row dict building, so
it runs as Arrow-batched ``applyInPandas`` per taxon group — a
file-writer path, not an analytics path; the set-oriented analytical
projection stays ``exporters/dwc.py:to_dwc_occurrence``.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _resolve(ref: Any, occ: Mapping[str, Any], taxon: Mapping[str, Any]):
    """@source./@taxon. reference resolution (:599-641)."""
    if not isinstance(ref, str):
        return ref
    if not ref.startswith("@"):
        return ref
    path = ref[1:]
    if path.startswith("source."):
        cur: Any = occ
        segs = path[7:].split(".")
    elif path.startswith("taxon."):
        cur = taxon
        segs = path[6:].split(".")
    else:
        return None
    for seg in segs:
        if isinstance(cur, Mapping) and seg in cur:
            cur = cur[seg]
        else:
            return None
    return cur


def _occ_id(occ, taxon, taxon_id, occ_index, params, default_prefix):
    """unique_*_id fallback chain (:742-791)."""
    prefix = params.get("prefix", default_prefix)
    sf = params.get("source_field")
    if sf:
        v = _resolve(sf, occ, taxon)
        if v:
            return f"{prefix}{v}"
    tid = taxon_id if taxon_id not in (None, "") else "unknown"
    return f"{prefix}{tid}_{occ_index}"


def _event_date(occ, taxon, params):
    """:833-868 — numeric month-only values yield None."""
    v = _resolve(params.get("source_field", "@source.date"), occ, taxon)
    if not v:
        return None
    if isinstance(v, (int, float)):
        if 1 <= int(v) <= 12:
            return None
        return str(v)
    if isinstance(v, str):
        if "/" in v:
            parts = v.split("/")
            if len(parts) == 3:
                return f"{parts[2]}-{parts[1]:0>2}-{parts[0]:0>2}"
        return v
    return str(v)


def _coordinates(occ, taxon, params):
    """:939-977 — POINT parsing with range validation."""
    v = _resolve(params.get("source_field"), occ, taxon)
    want = params.get("type", "latitude")
    if v is None:
        return None
    try:
        if isinstance(v, str) and v.startswith("POINT"):
            m = re.search(r"POINT \(([^)]+)\)", v)
            if m:
                coords = m.group(1).split()
                if len(coords) >= 2:
                    lng, lat = float(coords[0]), float(coords[1])
                    if want == "latitude" and -90 <= lat <= 90:
                        return lat
                    if want == "longitude" and -180 <= lng <= 180:
                        return lng
            return None
        coord = float(v)
        if want == "latitude" and -90 <= coord <= 90:
            return coord
        if want == "longitude" and -180 <= coord <= 180:
            return coord
    except (TypeError, ValueError):
        pass
    return None


def _generator(name, occ, taxon, taxon_id, occ_index, params):
    if name == "unique_occurrence_id":
        return _occ_id(occ, taxon, taxon_id, occ_index, params, "niaocc_")
    if name == "unique_event_id":
        prefix = params.get("prefix", "niaevt_")
        sf = params.get("source_field")
        if sf:
            v = _resolve(sf, occ, taxon)
            if v:
                return f"{prefix}{v}"
        return prefix + _occ_id(occ, taxon, taxon_id, occ_index,
                                {"prefix": ""}, "")
    if name == "unique_identification_id":
        # NB: the reference IGNORES source_field here — always the
        # occurrence-id fallback pattern (:782-791)
        prefix = params.get("prefix", "niaid_")
        return prefix + _occ_id(occ, taxon, taxon_id, occ_index,
                                {"prefix": ""}, "")
    if name == "format_event_date":
        return _event_date(occ, taxon, params)
    if name in ("extract_year", "extract_month", "extract_day"):
        v = _resolve(params.get("source_field", "@source.date"), occ, taxon)
        if name == "extract_month" and isinstance(v, (int, float)) \
                and 1 <= int(v) <= 12:
            return int(v)
        d = _event_date(occ, taxon, params)
        if not d:
            return None
        try:
            if name == "extract_year" and len(d) >= 4:
                return int(d[:4])
            if name == "extract_month" and len(d) >= 7:
                return int(d[5:7])
            if name == "extract_day" and len(d) >= 10:
                return int(d[8:10])
        except ValueError:
            return None
        return None
    if name == "format_coordinates":
        return _coordinates(occ, taxon, params)
    if name == "extract_specific_epithet":
        v = _resolve(params.get("source_field"), occ, taxon)
        if isinstance(v, str):
            parts = re.sub(r"\s+\([^)]+\)", "", v).split()
            if len(parts) >= 2:
                return parts[1]
        return None
    if name == "extract_infraspecific_epithet":
        v = _resolve(params.get("source_field"), occ, taxon)
        if isinstance(v, str):
            parts = re.sub(r"\s+\([^)]+\)", "", v).split()
            for marker in ("var.", "subsp.", "f."):
                if marker in parts:
                    i = parts.index(marker)
                    if i + 1 < len(parts):
                        return parts[i + 1]
        return None
    if name == "format_measurements":
        props = {}
        for m in params.get("measurements", []):
            if m.get("field") and m.get("name"):
                v = _resolve(m["field"], occ, taxon)
                if v is not None:
                    props[m["name"]] = {"value": v, "unit": m.get("unit", "")}
        return json.dumps(props) if props else None
    if name == "format_phenology":
        conditions = []
        fl = _resolve(params.get("flower_field"), occ, taxon)
        if fl and str(fl).lower() not in ("", "none", "null", "0"):
            conditions.append("flowering")
        fr = _resolve(params.get("fruit_field"), occ, taxon)
        if fr and str(fr).lower() not in ("", "none", "null", "0"):
            conditions.append("fruiting")
        return "; ".join(conditions) if conditions else None
    if name == "format_habitat":
        parts = []
        h = _resolve(params.get("holdridge_field"), occ, taxon)
        if h is not None:
            zone = {"1": "Dry", "2": "Moist", "3": "Wet"}.get(
                str(h), f"Zone {h}")
            parts.append(f"Holdridge life zone: {zone}")
        r = _resolve(params.get("rainfall_field"), occ, taxon)
        if r is not None:
            parts.append(f"Annual rainfall: {r}mm")
        s = _resolve(params.get("substrate_field"), occ, taxon)
        if s is not None:
            parts.append("Substrate: "
                         + ("ultramafic" if s else "non-ultramafic"))
        fo = _resolve(params.get("forest_field"), occ, taxon)
        if fo is not None:
            parts.append("Habitat: " + ("forest" if fo else "non-forest"))
        return "; ".join(parts) if parts else None
    if name == "map_establishment_means":
        e = _resolve(params.get("endemic_field",
                                "@taxon.metadata.endemic"), occ, taxon)
        if e is True:
            return "native"
        if e is False:
            return "introduced"
        return None
    if name == "map_occurrence_status":
        sf = params.get("status_field")
        if sf:
            v = _resolve(sf, occ, taxon)
            if v:
                return str(v)
        return "present"
    raise ValueError(f"unknown DwC generator {name!r}")


def map_occurrence(occ: Mapping[str, Any], taxon: Mapping[str, Any],
                   taxon_id: Any, occ_index: int,
                   mapping: Mapping[str, Any]) -> dict:
    """One occurrence row -> DwC record; None values drop (:529-547)."""
    out = {}
    for term, spec in mapping.items():
        if isinstance(spec, Mapping) and "generator" in spec:
            v = _generator(spec["generator"], occ, taxon, taxon_id,
                           occ_index, spec.get("params", {}))
        else:
            v = _resolve(spec, occ, taxon)
        if v is not None:
            out[term] = v
    return out


def export_dwc_occurrence_target(taxa_results: DataFrame,
                                 occurrences: DataFrame,
                                 group_name: str, out_dir: str,
                                 params: Mapping[str, Any],
                                 group_cfg: Mapping[str, Any],
                                 taxonomy: DataFrame | None = None) -> dict:
    """The full dwc_occurrence_json target for one group.

    The occurrence linkage is the reference's two-hop join
    (niamoto_to_dwc_occurrence.py:419-427): occurrences join the
    TAXONOMY entity on ``o.taxon_id_column = taxonomy.external_id``
    (defaults id_taxonref -> taxons_id) and bucket under
    ``taxonomy.id`` — which is what the group-table items carry in
    their ``taxon_id_field`` column."""
    from niamoto_spark.exporters.json_api import (JsonOptions, _api_url,
                                                  _dump, _flatten_item,
                                                  _map_fields, safe_filename)

    tp = group_cfg.get("transformer_params", {})
    mapping = tp.get("mapping", {})
    taxon_key = tp.get("taxon_id_field", "id")
    occ_link_col = tp.get("taxon_id_column", "id_taxonref")
    tax_ext_col = tp.get("taxonomy_external_id_column",
                         f"{group_name}_id")
    detail_pattern = params.get("detail_output_pattern",
                                "{group}/{id}.json")
    index_pattern = params.get("index_output_pattern", "all_{group}.json")
    opts_dict = {k: v for k, v in (params.get("json_options") or {}).items()
                 if k in JsonOptions.__dataclass_fields__}
    opts = JsonOptions(**opts_dict)
    os.makedirs(out_dir, exist_ok=True)

    id_col = f"{group_name}_id" if f"{group_name}_id" in \
        taxa_results.columns else taxa_results.columns[0]
    items_pdf = (taxa_results.orderBy(id_col)
                 .select(F.col(id_col).alias("__id"),
                         F.to_json(F.struct(*taxa_results.columns),
                                   {"ignoreNullFields": "false"})
                         .alias("__doc")))

    # occurrences of each taxon via the taxonomy external-id hop, in
    # source order (the reference's un-ORDERed sqlite fetch returns
    # insertion order)
    occ_cols = occurrences.columns
    order_col = "id" if "id" in occ_cols else occ_cols[0]
    occ = occurrences
    if taxonomy is not None and tax_ext_col in taxonomy.columns:
        tx = taxonomy.select(F.col("id").alias("__tax_pk"),
                             F.col(tax_ext_col).alias("__tax_ext"))
        occ = occ.join(F.broadcast(tx),
                       occ[occ_link_col] == tx["__tax_ext"])
        tid = F.col("__tax_pk")
    else:
        tid = F.col(occ_link_col)
    occ_json = occ.select(
        tid.alias("__tid"), F.col(order_col).alias("__ord"),
        F.to_json(F.struct(*[F.col(c) for c in occ_cols]),
                  {"ignoreNullFields": "false"}).alias("__occ"))

    by_taxon: dict[Any, list] = {}
    for r in occ_json.orderBy("__tid", "__ord").toLocalIterator():
        by_taxon.setdefault(r["__tid"], []).append(r["__occ"])

    n_files = 0
    index_entries = []
    for r in items_pdf.toLocalIterator():
        item = _flatten_item(json.loads(r["__doc"]))
        taxon_id = item.get(f"{group_name}_id", item.get("id"))
        # the item's configured id field holds the taxonomy pk the
        # occurrence buckets are keyed by (_get_taxon_id_from_data)
        join_val = item.get(taxon_key) or item.get(
            f"{group_name}_id") or taxon_id
        docs = []
        for i, occ_str in enumerate(by_taxon.get(join_val, [])):
            occ = {k: v for k, v in json.loads(occ_str).items()
                   if v is not None}
            docs.append(map_occurrence(occ, item, taxon_id, i, mapping))
        if not docs:
            # empty lists skip the file AND the index entry — the
            # reference indexes generated_items only
            # (json_api_exporter.py:620-627, :478-480)
            continue
        rel = detail_pattern.format(group=group_name,
                                    id=safe_filename(taxon_id))
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _dump(path, docs, opts)
        n_files += 1
        index_cfg = group_cfg.get("index") or {}
        if index_cfg.get("fields"):
            mapped = _map_fields(
                item, index_cfg["fields"], id_col,
                lambda p: _api_url(p, detail_pattern, group_name, taxon_id))
        else:
            mapped = dict(item)
        mapped.setdefault("detail_url",
                          _api_url({}, detail_pattern, group_name, taxon_id))
        index_entries.append(mapped)

    struct = dict(params.get("index_structure") or {})
    list_key = str(struct.get("list_key", "{group}")).format(
        group=group_name)
    index_doc: dict[str, Any] = {list_key: index_entries}
    if struct.get("include_total", True):
        index_doc[str(struct.get("total_key", "total"))] = \
            len(index_entries)
    _dump(os.path.join(out_dir, index_pattern.format(group=group_name)),
          index_doc, opts)
    return {"group": group_name, "files": n_files + 1,
            "entities": len(index_entries)}
