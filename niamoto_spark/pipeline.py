"""Pipeline — runs the reference's declarative configs (import.yml /
transform.yml / export.yml dialects) on Spark.

The reference orchestrates three phases (SURVEY §0, cli/commands/run.py):
import -> transform -> export.  This module is the Spark-side equivalent:

- ``run_import``: file/derived connectors -> parquet tables in a warehouse
  dir + an EntityRegistry (the reference's DuckDB tables + registry rows).
- ``run_transform``: for each group config, ONE loader join per source
  tags the fact rows with the entity id; every widget that is a plain
  per-entity aggregate becomes expressions of ONE ``groupBy(gid)`` per
  source, the other widgets build one (gid, json) frame each, and a wide
  per-group result table joins them once each — the same table shape
  the reference builds row-by-row (transformer.py:1142-1186), minus the
  O(entities x widgets) query loop.
- ``run_export``: JSON static API per group (exporters/json_api.py).

Widgets take the reference's YAML parameter names verbatim (bins,
count, true_label, hierarchy_table, ...), so a reference transform.yml
runs unchanged against this engine.
"""

from __future__ import annotations

import operator
import os
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from functools import reduce
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from niamoto_spark.catalog import Entity, EntityKind, EntityLink, EntityRegistry
from niamoto_spark.config import (ImportConfig, TransformGroupConfig,
                                  validate_import_config,
                                  validate_transform_config)
from niamoto_spark.hierarchy import derive_hierarchy
from niamoto_spark.operators import loaders as loader_ops
from niamoto_spark.operators.chains import empty_chain_json, transform_chain
from niamoto_spark.sources.files import read_csv_auto
from niamoto_spark.sources.sinks import overwrite_table, read_table


def _kernel_frame(k, gid: str, grouping: DataFrame | None) -> DataFrame:
    """A kernel's per-entity values on their own: its rows read off the
    ``grouping`` table, one ``groupBy(gid)`` per frame, full-joined on
    gid (transform_chain steps and per-widget analysis)."""
    parts = []
    if k.rows:
        parts.append(grouping.select(
            F.col(gid), *[c.alias(n) for n, c in k.rows.items()]))
    parts += [k.frames[src].groupBy(gid).agg(
                  *[c.alias(n) for n, c in aggs.items()])
              for src, aggs in k.aggs.items()]
    return reduce(lambda a, b: a.join(b, gid, "full"), parts)


class Pipeline:
    def __init__(self, spark: SparkSession, warehouse: str,
                 registry: EntityRegistry | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self.registry = registry or EntityRegistry()
        self.warnings: list[str] = []
        self.layers_meta: dict[str, dict] = {}
        os.makedirs(warehouse, exist_ok=True)

    def group_table(self, group: str) -> str:
        """Path of a group's result table (the transform's output)."""
        return os.path.join(self.warehouse, f"{group}_results.parquet")

    def _concurrently(self, units: list, fn: Callable,
                      needs: Callable[[int], list[int]] = lambda i: [],
                      done: Callable[[int, Any], None] = lambda i, r: None
                      ) -> list:
        """``fn(unit)`` for every unit on a pool of one thread per core,
        all sharing the session; returns the results in input order.

        Unit ``i`` is submitted once the earlier units ``needs(i)`` have
        finished, and never starts if one of them failed.  ``done(i,
        result)`` runs on this thread as each unit finishes, before any
        unit that needs it is submitted.  Each unit keeps this thread's
        job group and tags.  After every unit has finished, the first
        exception in input order is raised."""
        results: list = [None] * len(units)
        errors: list[Exception | None] = [None] * len(units)
        waiting, running, finished = list(range(len(units))), {}, set()
        size = min(len(units), self.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max(size, 1)) as pool:
            while waiting or running:
                for i in [i for i in waiting if finished >= set(needs(i))]:
                    waiting.remove(i)
                    failed = next((errors[j] for j in needs(i)
                                   if errors[j] is not None), None)
                    if failed is not None:
                        errors[i] = failed
                        finished.add(i)
                        continue
                    unit = inheritable_thread_target(self.spark)(fn)
                    running[pool.submit(unit, units[i])] = i
                if not running:
                    continue
                over, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in over:
                    i = running.pop(fut)
                    try:
                        results[i] = fut.result()
                        done(i, results[i])
                    except Exception as e:  # noqa: BLE001
                        errors[i] = e
                    finished.add(i)
        first = next((e for e in errors if e is not None), None)
        if first is not None:
            raise first
        return results

    # ------------------------------------------------------------------
    # import phase
    # ------------------------------------------------------------------

    def run_import(self, cfg: dict | ImportConfig,
                   base_dir: str = ".") -> EntityRegistry:
        if not isinstance(cfg, ImportConfig):
            # layer metadata (metadata.layers in the reference's
            # import.yml) feeds the shape_processor widget at transform
            # time; captured before validation narrows the dict
            meta = cfg.get("metadata") or {}
            self.layers_meta = {
                lay.get("name"): lay
                for lay in (meta.get("layers") or cfg.get("layers") or [])
                if isinstance(lay, dict) and lay.get("name")}
            cfg = validate_import_config(cfg)
        # file connectors first, derived ones after (they read datasets)
        units: list[tuple[str, str, Any]] = []
        for section, entities in cfg.entities.items():
            for name, spec in entities.items():
                units.append((section, name, spec))
        units.sort(key=lambda t: t[2].connector.type == "derived")

        def reads(i: int) -> list[int]:
            conn = units[i][2].connector
            if conn.type != "derived":
                return []
            src = conn.dataset or conn.source
            return [j for j in range(i) if units[j][1] == src]

        self._concurrently(
            units, lambda u: self._import_entity(*u, base_dir=base_dir),
            needs=reads, done=lambda _, entity: self.registry.add(entity))
        self.registry.save(os.path.join(self.warehouse, "registry.json"))
        return self.registry

    def _import_entity(self, section: str, name: str, spec: Any,
                       base_dir: str) -> Entity:
        """Write one import entity's table; returns its registry entry."""
        kind = {"datasets": EntityKind.DATASET,
                "references": EntityKind.REFERENCE,
                "spatial": EntityKind.SPATIAL}.get(section,
                                                   EntityKind.DATASET)
        conn = spec.connector
        if conn.type == "derived":
            src = self.registry.load(
                self.spark, conn.dataset or conn.source)
            ex = conn.extraction or {}
            raw_levels = ex.get("levels") or conn.levels or []
            if raw_levels and isinstance(raw_levels[0], dict):
                level_names = [lv["name"] for lv in raw_levels]
                level_cols = [lv.get("column") or lv["name"]
                              for lv in raw_levels]
            else:
                level_names = list(raw_levels)
                level_cols = list(raw_levels)
            df = derive_hierarchy(
                src, level_names, level_columns=level_cols,
                id_strategy=ex.get("id_strategy", "sequence"),
                id_column=ex.get("id_column"),
                name_column=ex.get("name_column"),
                entity_name=name,
                incomplete_rows=ex.get("incomplete_rows", "skip"))
            # the reference importer adds an (empty) extra_data JSON
            # column to derived references (engine.py:335-337)
            df = df.withColumn("extra_data",
                               F.lit(None).cast("string"))
        elif conn.type == "file_multi_feature" and conn.sources:
            from niamoto_spark.sources.vector import import_multi_feature
            id_field = spec.schema_.id_field or "id"
            df = import_multi_feature(
                self.spark,
                [(s["name"],
                  s["path"] if os.path.isabs(s.get("path", ""))
                  else os.path.join(base_dir, s.get("path", "")))
                 for s in conn.sources],
                id_field=id_field,
                name_fields=[s.get("name_field", "name")
                             for s in conn.sources])
            # engine.py:484-486: multi-feature rows carry extra_data
            df = df.withColumn("extra_data",
                               F.lit(None).cast("string"))
        elif conn.type in ("file", "file_multi_feature"):
            path = conn.path if os.path.isabs(conn.path or "") \
                else os.path.join(base_dir, conn.path or "")
            fmt = conn.format or os.path.splitext(path)[1].lstrip(".")
            if fmt == "csv":
                df = read_csv_auto(self.spark, path)
            elif fmt == "parquet":
                df = self.spark.read.parquet(path)
            elif fmt in ("geojson", "json", "shp", "gpkg"):
                from niamoto_spark.sources.files import read_vector
                df = read_vector(self.spark, path)
            else:
                raise ValueError(f"unsupported import format {fmt!r}")
        else:
            raise ValueError(f"unsupported connector type {conn.type!r}")

        out_path = os.path.join(self.warehouse, f"{name}.parquet")
        overwrite_table(df, out_path)
        id_field = spec.schema_.id_field or (
            "id" if "id" in df.columns else df.columns[0])
        return Entity(
            name=name, kind=kind, path=out_path, id_field=id_field,
            links=[EntityLink(field=l.field, references=l.entity,
                              ref_field=l.target_field)
                   for l in spec.links])

    # ------------------------------------------------------------------
    # transform phase
    # ------------------------------------------------------------------

    def run_transform(self, cfg: list | None,
                      group_by: str | None = None,
                      mode: str = "replace",
                      only_ids: list | None = None,
                      base_dir: str | None = None) -> dict[str, DataFrame]:
        """``mode='replace'`` rebuilds each group table atomically;
        ``mode='incremental'`` recomputes (optionally only ``only_ids``
        entities) and upserts by the group id — the reference's
        INSERT..ON CONFLICT flush (transformer.py:1287-1321).
        ``base_dir`` resolves relative file-based sources (the reference
        resolves them against the project root, stats_loader.py:117)."""
        if base_dir:
            self.base_dir = base_dir
        groups = [g for g in validate_transform_config(cfg)
                  if not group_by or g.group_by == group_by]
        outs = self._concurrently(
            groups, lambda g: self._transform_group(g, mode, only_ids))
        results: dict[str, DataFrame] = {}
        for g, (result, warnings) in zip(groups, outs):
            results[g.group_by] = result
            self.warnings.extend(warnings)
        return results

    def _entity_table(self, name: str) -> DataFrame | None:
        """An imported entity's whole table, None for another name."""
        if name in self.registry.names():
            return self.registry.load(self.spark, name)
        return None

    def _load_source_data(self, data: str) -> DataFrame:
        if data in self.registry.names():
            return self.registry.load(self.spark, data)
        path = data
        if not os.path.isabs(path) and not os.path.exists(path):
            base = getattr(self, "base_dir", ".")
            path = os.path.join(base, path)
            if not os.path.exists(path) \
                    and "." not in os.path.basename(data):
                # bare TABLE name (the reference join_table dialect
                # resolves it against its SQLite db, join_table.py
                # _resolve_table_name fallback) — the file-project
                # convention for the same artifact is
                # imports/<name>.csv
                alt = os.path.join(base, "imports", f"{data}.csv")
                if os.path.exists(alt):
                    data, path = f"{data}.csv", alt
        if data.endswith(".csv"):
            from niamoto_spark.refshapes import SRC_ORDER

            # materialize file order as data: several reference widgets
            # (series_extractor sort:false, geopandas to_json feature ids)
            # are defined in source ROW ORDER, and an explicit order
            # column is the only shuffle-safe carrier for it
            return read_csv_auto(self.spark, path).withColumn(
                SRC_ORDER, F.monotonically_increasing_id())
        return read_table(self.spark, path)

    def _transform_group(self, g: TransformGroupConfig,
                         mode: str = "replace",
                         only_ids: list | None = None
                         ) -> tuple[DataFrame, list[str]]:
        """Write one group's table; returns its plan and the warnings of
        the widgets that failed."""
        grouping_entity = self.registry.get(g.group_by)
        grouping = self.registry.load(self.spark, g.group_by)
        gid = grouping_entity.id_field
        # NOTE: only_ids restricts the OUTPUT rows, never the grouping table
        # used by hierarchy loaders — filtering the hierarchy would break
        # subtree/closure tagging for descendants (facts keyed by species
        # would no longer find their leaf when recomputing a family).

        # 1. loaders: one join per source, tagging fact rows with gid
        tagged: dict[str, DataFrame] = {g.group_by: grouping}
        for src in g.sources:
            data = self._load_source_data(src.data)
            rel = src.relation
            plugin, key = rel.plugin, rel.key
            if plugin == "direct_reference":
                out = loader_ops.direct_reference(data, key, grouping, gid,
                                                  rel.ref_key)
            elif plugin == "stats_loader":
                out = loader_ops.stats_loader(
                    data, rel.match_field or key, grouping, gid,
                    rel.ref_field)
            elif plugin == "nested_set":
                fields = rel.fields or {}
                out = loader_ops.nested_set_loader(
                    data, key, grouping, gid, rel.ref_key,
                    fields.get("left", "lft"), fields.get("right", "rght"))
            elif plugin == "adjacency_list":
                # the reference's params (adjacency_list.py:39-56)
                extra = rel.model_extra or {}
                match_field = extra.get("hierarchy_id_field", "id")
                out = loader_ops.adjacency_list_loader(
                    data, key, grouping, gid,
                    extra.get("parent_field", "parent_id"),
                    gid if match_field == "id" else match_field,
                    extra.get("include_children", True))
            elif plugin == "join_table":
                # the reference's params (join_table.py:123-176):
                # SELECT m.* FROM data m JOIN <join_table> j
                #   ON m.id = j.<keys.source>
                #  WHERE j.<keys.reference> = <group primary id>
                extra = rel.model_extra or {}
                keys = extra.get("keys") or {}
                missing = [n for n in ("join_table", "keys")
                           if n not in extra] + [
                    f"keys.{n}" for n in ("source", "reference")
                    if n not in keys]
                if missing:
                    raise ValueError(
                        f"join_table relation of source {src.name!r} "
                        f"lacks {', '.join(map(repr, missing))}")
                out = loader_ops.join_table(
                    data, "id", self._load_source_data(extra["join_table"]),
                    keys["source"], keys["reference"], grouping, gid)
            elif plugin == "spatial_containment":
                out = loader_ops.spatial_containment(
                    data, key, grouping, gid,
                    rel.model_extra.get("geometry_field", "location"))
            else:
                raise ValueError(f"unknown relation plugin {plugin!r}")
            tagged[src.name] = out

        # 2. widgets.  Aggregate widgets (RS.KERNELS) become expressions
        # of ONE groupBy(gid).agg(...) per source; the other widgets each
        # build a (gid, json) frame.  The wide table joins each source
        # aggregate and each frame once.
        from niamoto_spark import refshapes as RS
        row_source = g.group_by \
            if tagged[g.group_by] is grouping else None
        scope = RS.Scope(tagged, gid, row_source, self._entity_table)
        rows: dict[str, Column] = {}
        source_aggs: dict[str, dict[str, Column]] = {}
        source_frames: dict[str, DataFrame] = {}
        frames: list[DataFrame] = []
        columns: list[Column] = []
        warnings: list[str] = []
        for i, (name, w) in enumerate(g.widgets_data.items()):
            params = dict(w.params)
            try:
                if w.plugin in RS.KERNELS:
                    k = RS.kernel(w.plugin, params, scope)
                    # analyze this widget's aggregates alone, so a bad
                    # column lands in the warnings instead of failing the
                    # whole group (its doc reads only these aggregates)
                    _kernel_frame(k, gid, grouping)
                    prefix = f"__w{i}_"
                    value = k.doc(lambda n, prefix=prefix: F.col(prefix + n))
                    rows.update({prefix + n: c for n, c in k.rows.items()})
                    markers = []
                    for src, aggs in k.aggs.items():
                        source_frames.setdefault(src, k.frames[src])
                        source_aggs.setdefault(src, {}).update(
                            {prefix + n: c for n, c in aggs.items()})
                        j = list(source_aggs).index(src)
                        markers.append(F.col(f"__in_{j}").isNotNull())
                    # an entity is present when a source has rows for it;
                    # with grouping-row fields, every entity is
                    present = None if k.rows else reduce(operator.or_,
                                                         markers)
                else:
                    jdf, _ = self._widget_json(w.plugin, params, tagged,
                                               g.group_by, gid, grouping)
                    frames.append(jdf.select(
                        F.col(gid), F.col("__json").alias(f"__w{i}")))
                    value = F.col(f"__w{i}")
                    present = None
                # zero-occurrence entities: the reference's per-entity
                # loop runs EVERY widget on every taxonomy node and empty
                # frames take the plugins' empty branches — engine
                # aggregates emit no row (or no doc) there, so fall back
                # to the config-derived empty literal (r13 import-axis
                # find: 'Unknown species' nodes)
                empty = empty_chain_json(params["steps"]) \
                    if w.plugin == "transform_chain" \
                    else RS.empty_widget_json(w.plugin, params)
            except Exception as e:  # noqa: BLE001
                # the reference logs per-widget failures and keeps going
                # (transformer.py:640-647); match that contract so one bad
                # widget config cannot sink the whole group
                warnings.append(
                    f"widget {g.group_by}.{name} ({w.plugin}): {e}")
                continue
            if present is not None:
                value = F.when(present, value)
            if empty is not None:
                value = F.coalesce(value, F.lit(empty))
            columns.append(value.alias(name))

        result = grouping.select(
            F.col(gid), *[c.alias(n) for n, c in rows.items()])
        if only_ids is not None:
            result = result.where(F.col(gid).isin(list(only_ids)))
        for j, (src, aggs) in enumerate(source_aggs.items()):
            agg = source_frames[src].groupBy(gid).agg(
                F.lit(True).alias(f"__in_{j}"),
                *[c.alias(n) for n, c in aggs.items()])
            result = result.join(agg, gid, "left")
        for jdf in frames:
            result = result.join(jdf, gid, "left")
        result = result.select(F.col(gid), *columns)
        out_path = self.group_table(g.group_by)
        if mode == "incremental":
            from niamoto_spark.sources.sinks import upsert_table

            upsert_table(self.spark, result, out_path, gid)
        else:
            overwrite_table(result, out_path)
        return result, warnings

    def _widget_json(self, plugin: str, params: dict, tagged: dict,
                     group_by: str, gid: str,
                     grouping: DataFrame
                     ) -> tuple[DataFrame, DataFrame | None]:
        """One widget -> (gid, __json) in the reference's exact JSON shape
        (niamoto_spark/refshapes.py).  Also returns the frame the JSON was
        shaped from, which a later transform_chain step's ``source:
        "@key"`` reads: an aggregate widget's kernel frame, None for a
        chain and for the widgets shaped straight off their source."""
        from niamoto_spark import refshapes as RS

        if plugin == "transform_chain":
            def step(name: str, sparams: dict, bound: dict):
                return self._widget_json(name, sparams, bound, group_by,
                                         gid, grouping)

            return transform_chain(params["steps"], tagged, gid, step), None
        scope = RS.Scope(tagged, gid, group_by, self._entity_table)
        if plugin in RS.KERNELS:
            # a chain step (top-level aggregate widgets are planned by
            # _transform_group)
            k = RS.kernel(plugin, params, scope)
            frame = _kernel_frame(k, gid, tagged[group_by])
            return frame.select(F.col(gid),
                                k.doc(F.col).alias("__json")), frame
        if plugin == "shape_processor":
            # without a source it reads the group's own geometry
            df = scope.source(params["source"]) if params.get("source") \
                else grouping
            return self._shape_processor_widget(df, gid, params), None

        df = scope.source(params.get("source"))
        # class_object family + geospatial: shape straight from the raw
        # tagged frame (the reference plugins receive the loaded stats
        # frame whole and filter internally)
        if plugin == "class_object_series_extractor":
            return RS.co_series_extractor(df, gid, params, grouping), None
        if plugin == "class_object_field_aggregator":
            return RS.co_field_aggregator(df, gid, params, grouping), None
        if plugin == "class_object_categories_extractor":
            return RS.co_categories_extractor(df, gid, params,
                                              grouping), None
        if plugin == "class_object_binary_aggregator":
            return RS.co_binary_aggregator(df, gid, params), None
        if plugin == "class_object_categories_mapper":
            return RS.co_categories_mapper(df, gid, params), None
        if plugin == "class_object_series_ratio_aggregator":
            return RS.co_series_ratio_aggregator(df, gid, params), None
        if plugin == "class_object_series_matrix_extractor":
            return RS.co_series_matrix_extractor(df, gid, params), None
        if plugin == "class_object_series_by_axis_extractor":
            return RS.co_series_by_axis_extractor(df, gid, params), None
        if plugin == "geospatial_extractor":
            return RS.geospatial_extractor(df, gid, params, grouping), None
        if plugin == "multi_column_extractor":
            return RS.multi_column_extractor(df, gid, params), None
        raise ValueError(f"unknown widget plugin {plugin!r}")

    def _shape_processor_widget(self, df: DataFrame, gid: str,
                                params: dict) -> DataFrame:
        """shape_processor widget: per-entity geometry -> TopoJSON
        (reference transformers/geospatial/shape_processor.py:486-560),
        replicating the full plugin flow with the repo's pure-python
        kernels (operators/utm.py nested helpers + the TopoJSON encoder
        in operators/overlay.py — the SAME kernels the refdiff geometry
        shim serves to the reference, so the geography differential
        isolates the plugin logic):

        - the entity geometry is UTM-adaptively simplified
          (centroid-zone, metric area tolerance) -> ``shape_coords``;
        - each configured vector layer (metadata.layers in import.yml)
          is clipped against the SIMPLIFIED shape, simplified per
          feature, unioned (disjoint flatten), simplified AGAIN (the
          reference's get_coordinates_from_gdf double-simplify), and
          encoded -> ``{layer}_coords``;
        - entities with no geometry emit NOTHING: the plugin returns {}
          (reference :524-526) and the service drops falsy widget
          results (transformer.py:299), so the column stays NULL;
        - layers missing from the import metadata or on disk are
          SKIPPED (engine divergence: the reference raises and loses
          the whole widget — skipping is strictly more useful and the
          refdiff synth always provides the layer)."""
        import json as _json

        from niamoto_spark.operators.overlay import (nested_to_geojson,
                                                     nested_to_topojson)
        from niamoto_spark.operators.utm import (clip_nested,
                                                 nested_polys_from_wkt,
                                                 simplify_with_utm_nested)

        field = params.get("field", "location")
        do_simplify = params.get("simplify", True)
        # reference _convert_geometry (shape_processor.py:250-256):
        # "geojson" -> raw-coordinate FeatureCollection, anything else
        # -> quantized TopoJSON
        out_format = params.get("format", "topojson")

        # resolve layer vector data driver-side once (layer files are
        # dims by nature; rows fan out through the closure broadcast)
        layer_data: list[tuple[str, dict]] = []
        for lc in params.get("layers") or []:
            name = lc if isinstance(lc, str) else lc.get("name")
            lclip = True if isinstance(lc, str) else lc.get("clip", True)
            lsimp = True if isinstance(lc, str) else lc.get("simplify",
                                                            True)
            meta = self.layers_meta.get(name)
            if not meta or meta.get("type") not in (None, "vector"):
                continue
            path = meta.get("path") or ""
            if not os.path.isabs(path):
                path = os.path.join(getattr(self, "base_dir", "."), path)
            if not os.path.exists(path):
                continue
            from niamoto_spark.sources.vector import read_gpkg_records
            geoms = [nested_polys_from_wkt(r["geometry_wkt"])
                     for r in read_gpkg_records(path)
                     if r.get("geometry_wkt")]
            layer_data.append((name, {"geoms": geoms, "clip": lclip,
                                      "simplify": lsimp}))

        base = df.select(gid, F.col(field).alias("__wkt"))
        gid_type = dict(df.dtypes)[gid]

        def _encode(polys):
            gtype = "Polygon" if len(polys) == 1 else "MultiPolygon"
            if out_format == "geojson":
                return nested_to_geojson(gtype, polys)
            return nested_to_topojson(gtype, polys)

        def run(batches):
            import pandas as pd
            for pdf in batches:
                rows = []
                for _, row in pdf.iterrows():
                    if row["__wkt"] is None:
                        continue
                    try:
                        polys = nested_polys_from_wkt(row["__wkt"])
                    except ValueError:
                        continue
                    spolys = simplify_with_utm_nested(polys) \
                        if do_simplify else polys
                    doc = {"shape_coords": _encode(spolys)}
                    for name, ld in layer_data:
                        parts = []
                        for g in ld["geoms"]:
                            pieces = clip_nested(g, spolys) \
                                if ld["clip"] else g
                            if not pieces:
                                continue
                            if ld["simplify"]:
                                pieces = simplify_with_utm_nested(pieces)
                            parts.extend(pieces)
                        if not parts:
                            doc[f"{name}_coords"] = {}
                            continue
                        merged = simplify_with_utm_nested(parts)
                        doc[f"{name}_coords"] = _encode(merged)
                    rows.append((row[gid], _json.dumps(doc)))
                yield pd.DataFrame(rows, columns=[gid, "__json"])

        return base.mapInPandas(run,
                                schema=f"{gid} {gid_type}, __json string")

    # ------------------------------------------------------------------
    # export phase
    # ------------------------------------------------------------------

    def _run_export_reference(self, cfg: dict, out_dir: str,
                              group_filter: str | None = None,
                              target_name: str | None = None) -> dict:
        """The reference's export.yml dialect: ``exports: [targets]``.

        Supported target exporters: json_api_exporter (detail + index
        files per group, exporters/json_api.py:export_json_api_target).
        html_page_exporter / dwc targets are skipped with a recorded
        reason (they need the reference project's template tree /
        per-occurrence transformers configured for that project).

        ``group_filter`` is the reference CLI's partial-export surface
        (exporter.py:run_export(group_filter=...)): each exporter keeps
        only groups whose ``group_by`` matches, AFTER dropping groups
        with ``enabled: false`` (json_api_exporter.py:328-333) — other
        groups' previously-exported files stay stale on disk, the same
        retention contract as the incremental transform upsert."""
        targets = cfg.get("exports", [])
        if target_name:
            # reference exporter.py:151-156: filtering to an unknown
            # target is a ConfigurationError, not a silent no-op
            targets = [t for t in targets if t.get("name") == target_name]
            if not targets:
                raise ValueError(
                    f"export target {target_name!r} not found")
        names = [t.get("name", "?") for t in targets]
        return dict(zip(names, self._concurrently(
            targets, lambda t: self._export_reference_target(
                t, out_dir, group_filter))))

    def _export_reference_target(self, target: dict, out_dir: str,
                                 group_filter: str | None) -> dict:
        """One export.yml target of the reference dialect; returns its
        manifest."""
        from niamoto_spark.exporters.json_api import export_json_api_target

        if not target.get("enabled", True):
            return {"status": "skipped", "reason": "disabled"}
        if target.get("exporter") != "json_api_exporter" or \
                target.get("params", {}).get("transformer_plugin"):
            return {"status": "skipped",
                    "reason": f"exporter {target.get('exporter')!r} not "
                    "run in this dialect"}
        params = target.get("params", {})
        target_out = params.get("output_dir", "exports/api")
        if not os.path.isabs(target_out):
            target_out = os.path.join(out_dir, target_out)
        results = []
        # reference json_api_exporter.py:328-333: disabled groups
        # are dropped first, then the group_filter applies
        groups = [g for g in target.get("groups", [])
                  if g.get("enabled", True)]
        if group_filter:
            groups = [g for g in groups
                      if g.get("group_by") == group_filter]
        for g in groups:
            group = g["group_by"]
            path = self.group_table(group)
            if not os.path.exists(path):
                continue
            df = read_table(self.spark, path)
            gid = self.registry.get(group).id_field \
                if group in self.registry.names() else df.columns[0]
            # the reference group table's id column is {group}_id
            df = df.withColumnRenamed(gid, f"{group}_id")
            tplugin = g.get("transformer_plugin")
            if tplugin == "niamoto_to_dwc_occurrence":
                from niamoto_spark.exporters.dwc_json import \
                    export_dwc_occurrence_target

                tp = g.get("transformer_params", {})
                occ = self.registry.load(
                    self.spark, tp.get("occurrence_table",
                                       "occurrences"))
                tax_name = tp.get("taxonomy_entity", group)
                taxonomy = self.registry.load(self.spark, tax_name) \
                    if tax_name in self.registry.names() else None
                results.append(export_dwc_occurrence_target(
                    df, occ, group, target_out, params, g,
                    taxonomy=taxonomy))
            elif tplugin:
                return {"status": "skipped",
                        "reason": f"transformer_plugin {tplugin!r} "
                        "not supported in this dialect"}
            else:
                results.append(export_json_api_target(
                    df, group, target_out, params, g))
        return {"status": "success", "groups": results}

    def run_export(self, cfg: dict, out_dir: str,
                   group_filter: str | None = None,
                   target_name: str | None = None) -> dict[str, dict]:
        """export.yml dialect: {targets: [{name, exporter, group, params,
        deploy}]}.  Exporters: json_api (default), html, dwc_archive.
        A target's ``deploy:`` block (reference DeployConfig dialect:
        platform/branch/extra) publishes that target's output tree after
        export; the deploy record rides in the manifest under
        ``deployed``.  ``group_filter`` limits the run to targets whose
        ``group`` matches and ``target_name`` to the named target —
        the reference CLI's two partial-export filters
        (exporter.py:run_export; unknown target raises, matching the
        reference's ConfigurationError)."""
        if "exports" in cfg:          # the reference's export.yml dialect
            return self._run_export_reference(cfg, out_dir, group_filter,
                                              target_name)

        targets = cfg.get("targets", [])
        if target_name:
            targets = [t for t in targets if t.get("name") == target_name]
            if not targets:
                raise ValueError(
                    f"export target {target_name!r} not found")
        if group_filter:
            targets = [t for t in targets if t["group"] == group_filter]
        names = [t.get("name", f"{t['group']}_"
                             f"{t.get('exporter', 'json_api')}")
                 for t in targets]
        return dict(zip(names, self._concurrently(
            list(zip(targets, names)),
            lambda u: self._export_target(*u, out_dir))))

    def _export_target(self, target: dict, name: str,
                       out_dir: str) -> dict:
        """One target of the ``targets:`` dialect; returns its
        manifest."""
        from niamoto_spark.exporters.dwc import to_dwc_occurrence
        from niamoto_spark.exporters.dwc_archive import export_dwc_archive
        from niamoto_spark.exporters.html_site import export_html_site
        from niamoto_spark.exporters.json_api import export_json_api

        group = target["group"]
        gid = self.registry.get(group).id_field \
            if group in self.registry.names() else "id"
        kind = target.get("exporter", "json_api")
        params = target.get("params", {})
        if kind == "json_api":
            results = read_table(self.spark, self.group_table(group))
            out_path = os.path.join(out_dir, group)
            manifest = export_json_api(results, gid, out_path, **params)
        elif kind == "html":
            results = read_table(self.spark, self.group_table(group))
            out_path = os.path.join(out_dir, f"{group}_html")
            manifest = export_html_site(
                results, gid, out_path, group_name=group, **params)
        elif kind == "dwc_archive":
            src = self.registry.load(self.spark, target["source"])
            projected = to_dwc_occurrence(src, params["mapping"])
            out_path = os.path.join(out_dir, f"{name}.zip")
            manifest = export_dwc_archive(projected, out_path)
        else:
            raise ValueError(f"unknown exporter {kind!r}")
        if target.get("deploy"):
            from niamoto_spark.deployers import run_deploy

            if not os.path.isdir(out_path):
                raise ValueError(
                    f"deploy target {name!r}: deployers publish a "
                    f"directory tree, got file {out_path!r}")
            manifest = dict(manifest or {})
            manifest["deployed"] = run_deploy(
                out_path, target["deploy"], project_name=name)
        return manifest
