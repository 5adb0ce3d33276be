"""JSON static-API sink (reference: exporters/json_api_exporter.py:84-1261).

Writes one detail JSON per entity plus paginated index files.  Detail
files stream through the driver one partition at a time
(``toLocalIterator``), so memory stays bounded and the same code path runs
in local mode and on a cluster, without starting a Python worker; index
pages are small and assembled on the driver from a projected/sorted
DataFrame.

Reference-parity surface:
- ``JsonOptions`` (json_api_exporter.py:84-101): indent/minify,
  exclude_null, geometry_precision (float rounding), max_array_length,
  ensure_ascii, gzip compress.
- Field-mapping DSL for detail/index entries (DataMapper._map_fields,
  :1072-1118): plain names, ``"out: source"`` strings, ``{out: source}``
  dicts, nested dot paths, and ``{out: {generator: ..., params: ...}}``
  with the exporter generator set (:999-1008).
- Index structure keys + auto ``detail_url`` (:1020-1046), dict filters
  (:885-916) and predicate-string filters (explorer grammar), and a
  ``metadata.json`` summary (:945-987).
"""

from __future__ import annotations

import gzip
import json
import math
import os
from dataclasses import dataclass
from typing import Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register


@dataclass
class JsonOptions:
    """reference JsonOptions (json_api_exporter.py:84-101)."""
    indent: int | None = None
    minify: bool = False
    exclude_null: bool = False
    geometry_precision: int | None = None
    max_array_length: int | None = None
    ensure_ascii: bool = False
    compress: bool = False

    def __post_init__(self):
        if self.minify and self.indent:
            raise ValueError("Cannot use both 'indent' and 'minify' options")


def _optimize(data: Any, opts: JsonOptions) -> Any:
    """exclude_null / precision / array-cap walk (reference
    _optimize_data_size :755-781)."""
    if isinstance(data, dict):
        return {k: _optimize(v, opts) for k, v in data.items()
                if not (opts.exclude_null and v is None)}
    if isinstance(data, list):
        if opts.max_array_length and len(data) > opts.max_array_length:
            data = data[:opts.max_array_length]
        return [_optimize(v, opts) for v in data]
    if isinstance(data, float) and opts.geometry_precision is not None:
        return round(data, opts.geometry_precision)
    return data


def _dump(path: str, data: Any, opts: JsonOptions) -> None:
    if opts.exclude_null or opts.geometry_precision is not None \
            or opts.max_array_length:
        data = _optimize(data, opts)
    kwargs: dict[str, Any] = {"ensure_ascii": opts.ensure_ascii,
                              "default": str}
    if opts.minify:
        kwargs["separators"] = (",", ":")
    elif opts.indent:
        kwargs["indent"] = opts.indent
    text = json.dumps(data, **kwargs)
    if opts.compress:
        with gzip.open(path + ".gz", "wt", encoding="utf-8") as f:
            f.write(text)
    else:
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)


def safe_filename(value: Any) -> str:
    """Filesystem-safe slug for a DATA-DERIVED id used as a file name:
    path separators and shell-hostile characters become '_', and any
    altered (or pure-dots) name gets a deterministic md5 suffix so
    distinct ids can never collide after sanitization.  Data must not
    choose where the exporter writes — an entity id of '../x' would
    otherwise escape the export tree.  Clean ids (alnum . _ -) pass
    through unchanged, so numeric-id trees keep their layout."""
    import hashlib
    import re

    s = str(value)
    slug = re.sub(r"[^A-Za-z0-9._-]", "_", s)
    if slug != s or not slug.strip("._-"):
        slug = f"{slug}_{hashlib.md5(s.encode()).hexdigest()[:8]}"
    return slug


def _nested_get(data: Mapping[str, Any], path: str) -> Any:
    cur: Any = data
    for seg in path.split("."):
        if isinstance(cur, Mapping) and seg in cur:
            cur = cur[seg]
        else:
            return None
    return cur


def _field_generator(name: str, item: Mapping[str, Any],
                     params: Mapping[str, Any], ctx: Mapping[str, Any]) -> Any:
    """Exporter field generators (reference DataMapper :999-1008)."""
    if name == "endpoint_url":
        base = params.get("base_url", f"./{ctx['detail_subdir']}")
        return f"{base}/{safe_filename(item.get(ctx['id_col']))}.json"
    if name in ("unique_occurrence_id", "unique_event_id",
                "unique_identification_id"):
        prefix = params.get("prefix", name.split("_")[1][:3] + "_")
        sf = params.get("source_field", ctx["id_col"])
        return f"{prefix}{_nested_get(item, sf)}"
    if name == "extract_specific_epithet":
        import re

        full = _nested_get(item, params.get("source_field", "full_name"))
        if isinstance(full, str):
            parts = re.sub(r"\s+\([^)]+\)", "", full).split()
            if len(parts) >= 2:
                return parts[1]
        return None
    if name == "format_media_urls":
        lst = _nested_get(item, params.get("source_list", "images"))
        if isinstance(lst, list):
            urls = [m.get(params.get("url_key", "url"))
                    if isinstance(m, Mapping) else m for m in lst]
            return " | ".join(str(u) for u in urls if u)
        return None
    raise ValueError(f"unknown field generator {name!r}")


def _map_fields(item: Mapping[str, Any], specs, ctx) -> dict[str, Any]:
    """Field-mapping DSL (reference _map_fields :1072-1118)."""
    out: dict[str, Any] = {}
    for spec in specs:
        if isinstance(spec, str):
            if ":" in spec:
                name, src = (s.strip() for s in spec.split(":", 1))
                out[name] = _nested_get(item, src)
            else:
                out[spec] = _nested_get(item, spec)
        elif isinstance(spec, Mapping):
            for name, cfg in spec.items():
                if isinstance(cfg, str):
                    out[name] = _nested_get(item, cfg)
                elif isinstance(cfg, Mapping) and "generator" in cfg:
                    out[name] = _field_generator(
                        cfg["generator"], item, cfg.get("params", {}), ctx)
                elif isinstance(cfg, Mapping) and "source" in cfg:
                    src = _nested_get(item, cfg["source"])
                    if isinstance(src, Mapping) and "fields" in cfg:
                        out[name] = {f: src.get(f) for f in cfg["fields"]
                                     if f in src}
                    else:
                        out[name] = src
    return out


def _matches_filters(item: Mapping[str, Any],
                     filters: Mapping[str, Any]) -> bool:
    """Dict filters: list -> membership, bool -> truthiness, else equality
    (reference _apply_filters :885-916)."""
    for field, want in filters.items():
        got = _nested_get(item, field)
        if isinstance(want, list):
            if got not in want:
                return False
        elif isinstance(want, bool):
            if bool(got) != want:
                return False
        elif got != want:
            return False
    return True


def _parse_widget_strings(doc: dict) -> dict:
    """Widget columns hold JSON strings (the reference's group-table
    model); parse them so detail docs nest real objects (reference
    json_api_exporter.py:840-866)."""
    for k, v in doc.items():
        if isinstance(v, str) and v[:1] in "{[":
            try:
                doc[k] = json.loads(v)
            except (ValueError, TypeError):
                pass
    return doc


def _flatten_item(doc: dict, id_col: str) -> dict:
    """Reference item model (json_api_exporter.py:830-860): the id
    column first, then every widget column parsed, and each DICT
    widget's contents ALSO merged at top level in column order (later
    widgets overwrite shared keys — the backward-compat flatten)."""
    item: dict[str, Any] = {}
    for k, v in doc.items():
        if v is None:
            continue
        if isinstance(v, str) and v[:1] in "{[":
            try:
                v = json.loads(v)
            except (ValueError, TypeError):
                pass
        item[k] = v
        if isinstance(v, dict):
            item.update(v)
    return item


def _missing_src_check(item: Mapping[str, Any], src: str,
                       strict_parity: bool) -> None:
    """Non-strict mode fails LOUDLY on a source path whose head key is
    absent from the item — the reference maps e.g. ``id: taxon_id`` to
    null silently when the column is really ``taxons_id``
    (ROUND12_NOTES 'index field DSL' quirk; strict mode preserves it
    for drop-in parity)."""
    if not strict_parity and src.split(".", 1)[0] not in item:
        close = [k for k in item if k.endswith("_id") or k == "id"]
        raise KeyError(
            f"index/detail field source '{src}' not in item; available "
            f"id-like keys: {sorted(close)} (strict_parity=True would "
            f"map it to null, matching the reference)")


def _ref_map_fields(item: Mapping[str, Any], specs, *, group: str,
                    pattern: str, base_id: Any,
                    strict_parity: bool = True) -> dict[str, Any]:
    """Reference index/detail field DSL incl. the endpoint_url generator
    (DataMapper._map_fields :1072-1118, _generate_endpoint_url)."""
    out: dict[str, Any] = {}
    for spec in specs:
        if isinstance(spec, str):
            if ":" in spec:
                name, src = (s.strip() for s in spec.split(":", 1))
                _missing_src_check(item, src, strict_parity)
                out[name] = _nested_get(item, src)
            else:
                _missing_src_check(item, spec, strict_parity)
                out[spec] = _nested_get(item, spec)
        elif isinstance(spec, Mapping):
            for name, cfg in spec.items():
                if isinstance(cfg, str):
                    _missing_src_check(item, cfg, strict_parity)
                    out[name] = _nested_get(item, cfg)
                elif isinstance(cfg, Mapping) and \
                        cfg.get("generator") == "endpoint_url":
                    base = (cfg.get("params") or {}).get("base_path", "/api")
                    out[name] = (f"{base}/"
                                 + pattern.format(group=group, id=base_id))
                elif isinstance(cfg, Mapping) and "source" in cfg:
                    src = _nested_get(item, cfg["source"])
                    if isinstance(src, Mapping) and "fields" in cfg:
                        out[name] = {f: src.get(f) for f in cfg["fields"]
                                     if f in src}
                    else:
                        out[name] = src
    return out


def export_json_api_target(results: DataFrame, group_name: str,
                           out_dir: str, params: Mapping[str, Any],
                           group_cfg: Mapping[str, Any],
                           strict_parity: bool = True) -> dict:
    """One group of a reference export.yml ``json_api_exporter`` target.

    Writes ``detail_output_pattern``-named files per entity (pass_through
    or mapped) and one ``index_output_pattern`` index, matching the
    reference plugin's persisted output byte-for-byte up to JSON key
    semantics (json_api_exporter.py:305-755):

    - items are the group table row with dict widgets FLATTENED in
      column order,
    - the item id resolves from ``{group}_id`` then ``id``,
    - the index maps fields through the DSL, auto-adding ``detail_url``
      (= endpoint path) when not mapped,
    - json_options merge global <- per-group.
    """
    detail_pattern = params.get("detail_output_pattern",
                                "{group}/{id}.json")
    index_pattern = params.get("index_output_pattern", "all_{group}.json")
    struct = dict(params.get("index_structure") or {})
    opts_dict = dict(params.get("json_options") or {})
    opts_dict.update(dict(group_cfg.get("json_options") or {}))
    opts_dict = {k: v for k, v in opts_dict.items()
                 if k in JsonOptions.__dataclass_fields__}
    opts = JsonOptions(**opts_dict)

    id_keys = [f"{group_name}_id", "id"]
    detail_cfg = group_cfg.get("detail") or {}
    index_cfg = group_cfg.get("index") or {}
    os.makedirs(out_dir, exist_ok=True)

    id_col = next((c for c in id_keys if c in results.columns),
                  results.columns[0])
    payload = results.select(
        F.col(id_col).alias("__id"),
        F.to_json(F.struct(*results.columns),
                  {"ignoreNullFields": "false"}).alias("__doc"))

    def emit(doc: dict):
        item = _flatten_item(doc, id_col)
        item_id = next((item[k] for k in id_keys if item.get(k) is not None),
                       None)
        if item_id is None:
            return None, None, None
        if detail_cfg.get("fields") and not detail_cfg.get("pass_through",
                                                           False):
            detail = _ref_map_fields(item, detail_cfg["fields"],
                                     group=group_name,
                                     pattern=detail_pattern,
                                     base_id=item_id,
                                     strict_parity=strict_parity)
        else:
            detail = item
        rel = detail_pattern.format(group=group_name,
                                    id=safe_filename(item_id))
        return item, rel, detail

    for r in payload.toLocalIterator():
        item, rel, detail = emit(json.loads(r["__doc"]))
        if item is None:
            continue
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _dump(path, detail, opts)

    # index: entity-id order (the reference iterates _get_group_ids'
    # sorted ids); only the narrow mapped entries accumulate
    entries = []
    n_items = 0
    for r in payload.orderBy("__id").toLocalIterator():
        res = emit(json.loads(r["__doc"]))
        if res[0] is None:
            continue
        item, rel, _ = res
        n_items += 1
        item_id = next((item[k] for k in id_keys
                        if item.get(k) is not None), None)
        if index_cfg.get("fields"):
            mapped = _ref_map_fields(item, index_cfg["fields"],
                                     group=group_name,
                                     pattern=detail_pattern,
                                     base_id=item_id,
                                     strict_parity=strict_parity)
        else:
            mapped = dict(item)
        if "detail_url" not in mapped:
            base = "/api"
            mapped["detail_url"] = (
                f"{base}/" + detail_pattern.format(group=group_name,
                                                   id=item_id))
        entries.append(mapped)

    list_key = str(struct.get("list_key", "{group}")).format(
        group=group_name)
    index_doc: dict[str, Any] = {list_key: entries}
    if struct.get("include_total", True):
        index_doc[str(struct.get("total_key", "total"))] = len(entries)
    _dump(os.path.join(out_dir, index_pattern.format(group=group_name)),
          index_doc, opts)
    return {"group": group_name, "entities": n_items,
            "files": n_items + 1}


@register("json_api_exporter", PluginType.EXPORTER)
@register("index_generator", PluginType.EXPORTER)
def export_json_api(results: DataFrame, id_col: str, out_dir: str,
                    detail_subdir: str = "detail", page_size: int = 100,
                    index_fields: list | None = None,
                    index_filter: str | None = None,
                    detail_fields: list | None = None,
                    filters: Mapping[str, Any] | None = None,
                    json_options: JsonOptions | Mapping[str, Any] | None = None,
                    index_structure: Mapping[str, Any] | None = None,
                    group_name: str = "items",
                    write_metadata: bool = False) -> dict:
    """Write ``<out_dir>/<detail_subdir>/<id>.json`` per row + paginated
    ``index_p<N>.json``.

    - ``index_filter`` (explorer predicate) restricts the index Spark-side;
      ``filters`` (dict DSL) restricts it driver-side on parsed items.
    - ``detail_fields`` / ``index_fields`` take the mapping DSL; index
      items auto-gain ``detail_url`` unless explicitly mapped.
    - ``index_structure`` renames the page keys
      ({total_key, list_key, include_total}); ``{group}`` in list_key
      formats to ``group_name``.
    Returns a small manifest dict."""
    if index_filter:
        from niamoto_spark.plans.explorer import validate_predicate

        validate_predicate(index_filter, set(results.columns))
    opts = json_options if isinstance(json_options, JsonOptions) \
        else JsonOptions(**(json_options or {}))
    detail_dir = os.path.join(out_dir, detail_subdir)
    os.makedirs(detail_dir, exist_ok=True)
    ctx = {"id_col": id_col, "detail_subdir": detail_subdir}

    payload = results.select(F.col(id_col).alias("__id"),
                             F.to_json(F.struct(*results.columns)).alias("__doc"))

    # detail files stream through the driver (toLocalIterator bounds
    # memory to one partition)
    for r in payload.toLocalIterator():
        doc = _parse_widget_strings(json.loads(r["__doc"]))
        if detail_fields:
            doc = _map_fields(doc, detail_fields, ctx)
        _dump(os.path.join(detail_dir, f"{safe_filename(r['__id'])}.json"),
              doc, opts)

    idx_src = results.filter(index_filter) if index_filter else results
    items = []
    # toLocalIterator streams one partition at a time to the driver: the
    # raw entity rows (wide: every widget JSON) never materialize all at
    # once — only the narrow mapped index entries accumulate for paging.
    for r in idx_src.orderBy(id_col).toLocalIterator():
        item = _parse_widget_strings(r.asDict(recursive=True))
        if filters and not _matches_filters(item, filters):
            continue
        if index_fields:
            mapped = _map_fields(item, index_fields, ctx)
        else:
            mapped = {id_col: item.get(id_col)}
        mapped.setdefault(
            "detail_url",
            f"./{detail_subdir}/{safe_filename(item.get(id_col))}.json")
        items.append(mapped)

    struct = dict(index_structure or {})
    total_key = struct.get("total_key", "total")
    list_key = struct.get("list_key", "items").format(group=group_name)
    include_total = struct.get("include_total", True)
    n_pages = max(math.ceil(len(items) / page_size), 1)
    for p in range(n_pages):
        page: dict[str, Any] = {"page": p + 1, "total_pages": n_pages}
        if include_total:
            page[total_key] = len(items)
        page[list_key] = items[p * page_size:(p + 1) * page_size]
        _dump(os.path.join(out_dir, f"index_p{p+1}.json"), page, opts)

    manifest = {"entities": len(items), "pages": n_pages, "out_dir": out_dir}
    if write_metadata:
        _dump(os.path.join(out_dir, "metadata.json"), {
            "exporter": "json_api_exporter",
            "group": group_name,
            "statistics": {"total_files_generated": len(items) + n_pages,
                           "entities": len(items), "pages": n_pages},
        }, opts)
    return manifest
