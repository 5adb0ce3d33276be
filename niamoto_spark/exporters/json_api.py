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
from typing import Any, Callable, Mapping

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
                     params: Mapping[str, Any], id_col: str) -> Any:
    """Exporter field generators other than ``endpoint_url`` (reference
    DataMapper :999-1008)."""
    if name in ("unique_occurrence_id", "unique_event_id",
                "unique_identification_id"):
        prefix = params.get("prefix", name.split("_")[1][:3] + "_")
        sf = params.get("source_field", id_col)
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


def _map_fields(item: Mapping[str, Any], specs, id_col: str,
                endpoint_url: Callable[[Mapping[str, Any]], str]
                ) -> dict[str, Any]:
    """Field-mapping DSL (reference DataMapper._map_fields :1072-1118).
    ``endpoint_url(params)`` is the URL of ``item``'s detail file, which
    each export dialect lays out its own way; every other generator is
    :func:`_field_generator`'s, keyed by ``id_col`` by default."""
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
                    params = cfg.get("params") or {}
                    out[name] = endpoint_url(params) \
                        if cfg["generator"] == "endpoint_url" \
                        else _field_generator(cfg["generator"], item,
                                              params, id_col)
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


def _flatten_item(doc: dict) -> dict:
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


def _api_url(params: Mapping[str, Any], pattern: str, group: str,
             item_id: Any) -> str:
    """An entity's detail URL in the reference dialect: ``base_path``
    (default ``/api``) + the detail output pattern
    (DataMapper._generate_endpoint_url)."""
    return f"{params.get('base_path', '/api')}/" + pattern.format(
        group=group, id=item_id)


def export_json_api_target(results: DataFrame, group_name: str,
                           out_dir: str, params: Mapping[str, Any],
                           group_cfg: Mapping[str, Any]) -> dict:
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
        item = _flatten_item(doc)
        item_id = next((item[k] for k in id_keys if item.get(k) is not None),
                       None)
        if item_id is None:
            return None, None, None
        if detail_cfg.get("fields") and not detail_cfg.get("pass_through",
                                                           False):
            detail = _map_fields(
                item, detail_cfg["fields"], id_col,
                lambda p: _api_url(p, detail_pattern, group_name, item_id))
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
            mapped = _map_fields(
                item, index_cfg["fields"], id_col,
                lambda p: _api_url(p, detail_pattern, group_name, item_id))
        else:
            mapped = dict(item)
        mapped.setdefault("detail_url",
                          _api_url({}, detail_pattern, group_name, item_id))
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

    def detail_url(item: Mapping[str, Any],
                   params: Mapping[str, Any]) -> str:
        base = params.get("base_url", f"./{detail_subdir}")
        return f"{base}/{safe_filename(item.get(id_col))}.json"

    payload = results.select(F.col(id_col).alias("__id"),
                             F.to_json(F.struct(*results.columns)).alias("__doc"))

    # detail files stream through the driver (toLocalIterator bounds
    # memory to one partition)
    for r in payload.toLocalIterator():
        doc = _parse_widget_strings(json.loads(r["__doc"]))
        if detail_fields:
            doc = _map_fields(doc, detail_fields, id_col,
                              lambda p: detail_url(doc, p))
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
            mapped = _map_fields(item, index_fields, id_col,
                                 lambda p: detail_url(item, p))
        else:
            mapped = {id_col: item.get(id_col)}
        mapped.setdefault("detail_url", detail_url(item, {}))
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
