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

Widget param adapters accept the reference's YAML parameter names verbatim
(bins, count, true_label, hierarchy_table, ...), so a reference
transform.yml runs unchanged against this engine.
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
from niamoto_spark.hierarchy import ancestor_closure, derive_hierarchy, subtree_join
from niamoto_spark.operators import aggregation as agg_ops
from niamoto_spark.operators import class_objects as co_ops
from niamoto_spark.operators import extraction as ex_ops
from niamoto_spark.operators import loaders as loader_ops
from niamoto_spark.sources.files import read_csv_auto
from niamoto_spark.sources.sinks import overwrite_table


# Widgets whose result is one row per entity -> packed as a JSON object;
# all others produce a list of rows -> packed as a JSON array.
SINGLE_ROW_WIDGETS = {
    "statistical_summary", "field_aggregator", "binary_counter",
    "direct_attribute", "class_object_field_aggregator",
}


def _resolve_chain_ref(ref: str, docs: dict):
    """Resolve an "@step.field.sub[0]" chain reference against computed
    per-entity step docs — the reference ReferenceResolver's dotted +
    indexed grammar (reference_resolver.py:53-67); ``|function`` pipes
    are not supported here (KeyError -> the step emits NULL).  Raises
    KeyError when any segment is missing."""
    import re as _re

    body = ref[1:]
    if "|" in body:
        raise KeyError(ref)
    parts = body.split(".")
    if parts[0] not in docs:
        raise KeyError(ref)
    cur = docs[parts[0]]
    for seg in parts[1:]:
        m = _re.match(r"([A-Za-z0-9_]+)((?:\[\d+\])*)$", seg)
        if not m:
            raise KeyError(ref)
        name, idx = m.group(1), m.group(2)
        if not (isinstance(cur, dict) and name in cur):
            raise KeyError(ref)
        cur = cur[name]
        for i in _re.findall(r"\[(\d+)\]", idx or ""):
            if not isinstance(cur, list) or int(i) >= len(cur):
                raise KeyError(ref)
            cur = cur[int(i)]
    return cur


def _kernel_frame(k, frames: dict[str, DataFrame], gid: str,
                  row_source: str | None) -> DataFrame:
    """A fused kernel's per-entity values on their own: its rows read off
    the grouping table, one ``groupBy(gid)`` per source, full-joined on
    gid (transform_chain steps and per-widget analysis)."""
    parts = []
    if k.rows:
        parts.append(frames[row_source].select(
            F.col(gid), *[c.alias(n) for n, c in k.rows.items()]))
    parts += [frames[src].groupBy(gid).agg(
                  *[c.alias(n) for n, c in aggs.items()])
              for src, aggs in k.aggs.items()]
    return reduce(lambda a, b: a.join(b, gid, "full"), parts)


class Pipeline:
    def __init__(self, spark: SparkSession, warehouse: str,
                 registry: EntityRegistry | None = None,
                 strict_parity: bool = True):
        self.spark = spark
        self.warehouse = warehouse
        self.registry = registry or EntityRegistry()
        self.warnings: list[str] = []
        # strict_parity=True (default) reproduces the reference's own
        # bugs where drop-in output parity requires them (documented in
        # ROUND12_NOTES; certified by tools/ref_pipeline_diff.py);
        # False gives new users the sane behavior at those sites
        # (VERDICT r12 "What's wrong" #3)
        self.strict_parity = strict_parity
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
        return self.spark.read.parquet(path)

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
                data, key = loader_ops._clear_gid_collision(data, key, gid)
                out = subtree_join(
                    data, key, grouping, node_key=gid,
                    ancestor_alias="__anc",
                    leaf_key=rel.ref_key or gid,
                    lft_col=fields.get("left", "lft"),
                    rght_col=fields.get("right", "rght"),
                ).withColumn(gid, F.col("__anc")).drop("__anc")
            elif plugin == "adjacency_list":
                # both dialects: ours (fields.parent) and the
                # reference's top-level params (adjacency_list.py:39-56
                # parent_field / hierarchy_id_field / include_children)
                extra = rel.model_extra or {}
                data, key = loader_ops._clear_gid_collision(data, key, gid)
                parent_col = extra.get("parent_field") \
                    or (rel.fields or {}).get("parent", "parent_id")
                match_field = extra.get("hierarchy_id_field", "id")
                if match_field == "id":
                    match_field = gid
                if not extra.get("include_children", True):
                    # direct node only (adjacency_list.py:168-177)
                    m = grouping.select(F.col(match_field).alias("__m"),
                                        F.col(gid).alias("__g"))
                    out = data.join(F.broadcast(m),
                                    data[key] == F.col("__m")) \
                        .drop("__m").withColumn(gid, F.col("__g")) \
                        .drop("__g")
                else:
                    closure = ancestor_closure(grouping, gid, parent_col)
                    cl = closure.select(F.col("node_id"),
                                        F.col("ancestor_id").alias(gid))
                    if match_field != gid:
                        # the recursive CTE matches data.key against the
                        # hierarchy's EXTERNAL id (match_id,
                        # adjacency_list.py:189-205): translate each
                        # node's match value into its subtree-ancestor
                        # gids before tagging
                        mm = grouping.select(
                            F.col(match_field).alias("__m"),
                            F.col(gid).alias("__node"))
                        cl = cl.join(mm, cl["node_id"] == F.col("__node")) \
                            .select(F.col("__m"), F.col(gid))
                        out = data.join(F.broadcast(cl),
                                        data[key] == F.col("__m")) \
                            .drop("__m")
                    else:
                        cl = cl.withColumnRenamed("node_id", "__n")
                        out = data.join(F.broadcast(cl),
                                        data[key] == F.col("__n")) \
                            .drop("__n")
            elif plugin == "join_table":
                extra = rel.model_extra or {}
                if "join_table" in extra and "keys" in extra:
                    # reference dialect (join_table.py:123-176):
                    # SELECT m.* FROM data m JOIN <join_table> j
                    #   ON m.id = j.<keys.source>
                    #  WHERE j.<keys.reference> = <group primary id>
                    # The bridge is fact-sized at scale — plain
                    # shuffle join, no broadcast.
                    bridge = self._load_source_data(extra["join_table"])
                    skey = extra["keys"]["source"]
                    rkey = extra["keys"]["reference"]
                    data, src_id = loader_ops._clear_gid_collision(
                        data, "id", gid)
                    br = bridge.select(F.col(skey).alias("__s"),
                                       F.col(rkey).alias(gid))
                    out = data.join(br, data[src_id] == F.col("__s")) \
                        .drop("__s")
                else:
                    bridge = self._load_source_data(
                        rel.model_extra["bridge"])
                    out = loader_ops.join_table(
                        data, key, bridge,
                        rel.model_extra.get("bridge_source", "source"),
                        rel.model_extra.get("bridge_reference", "reference"),
                        grouping, gid)
            elif plugin == "spatial_containment":
                from niamoto_spark.operators.geospatial import points_in_polygons

                shapes = grouping.select(
                    gid, rel.model_extra.get("geometry_field", "location"))
                out = points_in_polygons(
                    data, key, shapes, gid,
                    rel.model_extra.get("geometry_field", "location"))
            else:
                raise ValueError(f"unknown relation plugin {plugin!r}")
            tagged[src.name] = out

        # 2. widgets.  Plain per-entity aggregates (RS.FUSED) become
        # expressions of ONE groupBy(gid).agg(...) per source; the other
        # widgets each build a (gid, json) frame.  The wide table joins
        # each source aggregate and each frame once.
        from niamoto_spark import refshapes as RS
        row_source = g.group_by \
            if tagged[g.group_by] is grouping else None
        rows: dict[str, Column] = {}
        source_aggs: dict[str, dict[str, Column]] = {}
        frames: list[DataFrame] = []
        columns: list[Column] = []
        warnings: list[str] = []
        for i, (name, w) in enumerate(g.widgets_data.items()):
            params = dict(w.params)
            try:
                if w.plugin in RS.FUSED:
                    k = RS.kernel(w.plugin, params, tagged, row_source)
                    # analyze this widget's aggregates alone, so a bad
                    # column lands in the warnings instead of failing the
                    # whole group (its doc reads only these aggregates)
                    _kernel_frame(k, tagged, gid, row_source)
                    prefix = f"__w{i}_"
                    value = k.doc(lambda n, prefix=prefix: F.col(prefix + n))
                    rows.update({prefix + n: c for n, c in k.rows.items()})
                    markers = []
                    for src, aggs in k.aggs.items():
                        source_aggs.setdefault(src, {}).update(
                            {prefix + n: c for n, c in aggs.items()})
                        j = list(source_aggs).index(src)
                        markers.append(F.col(f"__in_{j}").isNotNull())
                    # an entity is present when a source has rows for it;
                    # with grouping-row fields, every entity is
                    present = None if k.rows else reduce(operator.or_,
                                                         markers)
                else:
                    jdf = self._widget_json(w.plugin, params, tagged,
                                            g.group_by, gid, grouping)
                    frames.append(jdf.select(
                        F.col(gid), F.col("__json").alias(f"__w{i}")))
                    value = F.col(f"__w{i}")
                    present = value.isNotNull()
            except Exception as e:  # noqa: BLE001
                # the reference logs per-widget failures and keeps going
                # (transformer.py:640-647); match that contract so one bad
                # widget config cannot sink the whole group
                warnings.append(
                    f"widget {g.group_by}.{name} ({w.plugin}): {e}")
                continue
            # zero-occurrence entities: the reference's per-entity loop
            # runs EVERY widget on every taxonomy node and empty frames
            # take the plugins' empty branches — engine aggregates emit
            # no row there, so fall back to the config-derived empty
            # literal (r13 import-axis find: 'Unknown species' nodes)
            if present is not None:
                empty = self._empty_chain_json(params) \
                    if w.plugin == "transform_chain" \
                    else RS.empty_widget_json(w.plugin, params)
                value = F.when(present, value).otherwise(F.lit(empty))
            columns.append(value.alias(name))

        result = grouping.select(
            F.col(gid), *[c.alias(n) for n, c in rows.items()])
        if only_ids is not None:
            result = result.where(F.col(gid).isin(list(only_ids)))
        for j, (src, aggs) in enumerate(source_aggs.items()):
            agg = tagged[src].groupBy(gid).agg(
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
                     grouping: DataFrame) -> DataFrame:
        """One widget -> (gid, __json) in the reference's exact JSON shape
        (niamoto_spark/refshapes.py); plugins without a reference shaper
        fall back to the legacy array-of-structs packing."""
        from niamoto_spark import refshapes as RS

        src_name = params.get("source")
        df = tagged.get(src_name) if src_name else None
        if src_name and df is None and src_name in self.registry.names():
            # reference _load_additional_source: whole-table load
            df = self.registry.load(self.spark, src_name)

        # class_object family + geospatial: shape straight from the raw
        # tagged frame (the reference plugins receive the loaded stats
        # frame whole and filter internally)
        if plugin == "class_object_series_extractor" and "size_field" in params:
            return RS.co_series_extractor(df, gid, params, grouping)
        if plugin == "class_object_field_aggregator" and isinstance(
                params.get("fields"), list):
            return RS.co_field_aggregator(df, gid, params, grouping)
        if plugin == "class_object_categories_extractor" and (
                "categories_order" in params or "class_object" in params):
            return RS.co_categories_extractor(df, gid, params, grouping)
        if plugin == "class_object_binary_aggregator" and "groups" in params:
            return RS.co_binary_aggregator(df, gid, params)
        if plugin == "class_object_categories_mapper" and isinstance(
                params.get("categories"), dict):
            return RS.co_categories_mapper(df, gid, params)
        if plugin == "class_object_series_ratio_aggregator" and \
                "distributions" in params:
            return RS.co_series_ratio_aggregator(df, gid, params)
        if plugin == "class_object_series_matrix_extractor" and \
                "series" in params:
            return RS.co_series_matrix_extractor(df, gid, params)
        if plugin == "class_object_series_by_axis_extractor" and \
                "types" in params:
            return RS.co_series_by_axis_extractor(df, gid, params)
        if plugin == "geospatial_extractor":
            return RS.geospatial_extractor(
                df, gid, params, grouping,
                strict_parity=self.strict_parity)
        if plugin == "multi_column_extractor" and df is not None:
            return RS.multi_column_extractor(df, gid, params)
        if plugin == "shape_processor":
            return self._shape_processor_widget(df if df is not None
                                                else grouping, gid, params)

        run_params = dict(params)
        if plugin == "direct_attribute":
            # the shaper below applies clip + precision itself — it
            # needs the RAW value and its dtype to reproduce the
            # reference's per-row typing (clipped -> "65" string,
            # unclipped int -> 65 number); the operator-level clip
            # would double-cast everything first (r13 variant find)
            run_params.pop("max_value", None)
            run_params.pop("precision", None)
        wdf = self._run_widget(plugin, run_params, tagged, group_by, gid)
        if plugin == "transform_chain" and "__cc" in wdf.columns:
            return wdf.select(F.col(gid),
                              F.col("__cc").alias("__json"))
        if plugin == "top_ranking":
            return RS.top_ranking(wdf, gid, params)
        if plugin == "time_series_analysis":
            return RS.time_series_analysis(wdf, gid, params)
        if plugin == "multi_column_extractor":
            return RS.multi_column_extractor(wdf, gid, params)
        if plugin == "direct_attribute":
            field = params["field"]
            is_float = bool(df is not None and field in df.columns and
                            dict(df.dtypes).get(field) in
                            ("double", "float"))
            return RS.direct_attribute(wdf, gid, params, is_float)
        return self._pack_json(wdf, gid, "__json",
                               single_row=plugin in SINGLE_ROW_WIDGETS)

    def _empty_chain_json(self, params: dict) -> str | None:
        """transform_chain empty-entity envelope: the reference runs the
        whole chain on the empty frame, so each step's empty result is
        keyed under its output_key — ts steps take the [0]*12 int fill,
        custom_calculator steps run the SAME python kernels the engine
        uses at scale (deterministic over the zero series), and a dict
        custom_formula composes prior keys.  Returns None when a step
        cannot be statically evaluated (the widget stays NULL there)."""
        import json as _json

        from niamoto_spark import refshapes as RS
        from niamoto_spark.operators.ecological import (
            active_periods_dict, peak_detection_dict)

        doc: dict[str, Any] = {}
        step_params: dict[str, dict] = {}
        series_names: list[str] = []
        for step in params.get("steps") or []:
            sp_ = dict(step.get("params") or {})
            key = step.get("output_key")
            if step.get("plugin") == "time_series_analysis":
                txt = RS.empty_widget_json("time_series_analysis", sp_)
                doc[key] = _json.loads(txt)
                series_names = list(sp_.get("fields") or {})
            elif step.get("plugin") == "custom_calculator":
                op = sp_.get("operation")
                series = {k: [0.0] * 12 for k in series_names}
                if op == "peak_detection":
                    doc[key] = peak_detection_dict(
                        series, threshold=sp_.get("threshold"),
                        min_distance=int(sp_.get("min_distance", 1)),
                        prominence=float(sp_.get("prominence", 0.0)))
                elif op == "active_periods":
                    labels = sp_.get("labels")
                    if isinstance(labels, str) and labels.startswith("@"):
                        src_key = labels[1:].split(".", 1)[0]
                        labels = step_params.get(src_key, {}).get("labels")
                    doc[key] = active_periods_dict(
                        series,
                        threshold=float(sp_.get("threshold", 0.0)),
                        min_duration=int(sp_.get("min_duration", 1)),
                        labels=labels)
                elif op == "custom_formula":
                    import ast
                    try:
                        tree = ast.parse(sp_["formula"], mode="eval").body
                    except (KeyError, SyntaxError):
                        return None
                    if not isinstance(tree, ast.Dict):
                        return None
                    variables = sp_.get("variables", {})

                    def _resolve_ref(ref):
                        # "@key.sub.path" -> the dotted lookup into the
                        # already-computed doc (the reference's
                        # ReferenceResolver resolves subpaths the same
                        # way); sentinel KeyError when unresolvable
                        path = ref[1:].split(".")
                        if path[0] not in doc:
                            raise KeyError(ref)
                        cur = doc[path[0]]
                        for p in path[1:]:
                            if not (isinstance(cur, dict) and p in cur):
                                raise KeyError(ref)
                            cur = cur[p]
                        return cur

                    merged = {}
                    try:
                        for k, v in zip(tree.keys, tree.values):
                            if not isinstance(k, ast.Constant) or \
                                    not isinstance(v, ast.Name):
                                return None
                            ref = variables.get(v.id, f"@{v.id}")
                            if not (isinstance(ref, str)
                                    and ref.startswith("@")):
                                return None
                            merged[k.value] = _resolve_ref(ref)
                        resolved_vars = {
                            vn: _resolve_ref(r) for vn, r in
                            variables.items()
                            if isinstance(r, str) and r.startswith("@")}
                    except KeyError:
                        return None
                    # the reference's _custom_formula envelope
                    # (custom_calculator.py:1649-1654)
                    doc[key] = {
                        "value": merged,
                        "formula": sp_["formula"],
                        "description": sp_.get("description",
                                               "Custom formula"),
                        "variables": resolved_vars,
                    }
                else:
                    from niamoto_spark.operators.ecological import (
                        CC_PURE_OPS, cc_pure_op)
                    if op not in CC_PURE_OPS:
                        return None
                    # pure op over the zero-series docs computed so far

                    def _mat(v):
                        if isinstance(v, str) and v.startswith("@"):
                            return _resolve_chain_ref(v, doc)
                        if isinstance(v, dict):
                            return {k2: _mat(x) for k2, x in v.items()}
                        if isinstance(v, list):
                            return [_mat(x) for x in v]
                        return v

                    try:
                        doc[key] = cc_pure_op(
                            op, {k2: _mat(v) for k2, v in sp_.items()
                                 if k2 not in ("operation", "source")})
                    except (KeyError, ValueError, TypeError):
                        return None
            else:
                return None
            step_params[key] = sp_
        return _json.dumps(doc, ensure_ascii=False) if doc else None

    def _shape_chain_step(self, plugin: str, params: dict,
                          wdf: DataFrame, bindings: dict,
                          gid: str) -> DataFrame:
        """Reference-shape ONE chain step's operator output (the same
        dispatch _widget_json applies after _run_widget) — each step's
        JSON joins the chain envelope under its output_key."""
        from niamoto_spark import refshapes as RS

        if plugin == "top_ranking":
            return RS.top_ranking(wdf, gid, params)
        if plugin == "time_series_analysis":
            return RS.time_series_analysis(wdf, gid, params)
        if plugin == "multi_column_extractor":
            return RS.multi_column_extractor(wdf, gid, params)
        if plugin == "direct_attribute":
            src = bindings.get(params.get("source"))
            field = params.get("field")
            is_float = bool(src is not None and field in src.columns
                            and dict(src.dtypes).get(field)
                            in ("double", "float"))
            return RS.direct_attribute(wdf, gid, params, is_float)
        return self._pack_json(wdf, gid, "__json",
                               single_row=plugin in SINGLE_ROW_WIDGETS)

    def _custom_calculator_step(self, params: dict, bindings: dict,
                                binding_params: dict,
                                gid: str) -> DataFrame:
        """custom_calculator inside transform_chain — the phenology-style
        per-entity time-series ops (reference custom_calculator.py
        peak_detection :1299, active_periods :1421, custom_formula
        :1603).  NOTE: the reference's own safe-eval rejects the dict
        literal its example config uses (ast.Dict not whitelisted), so
        on the example transform.yml this engine is a strict SUPERSET:
        the chain runs here and errors there.

        Per-entity series are one year of months; the ops run per Arrow
        batch via mapInPandas (no row-at-a-time UDFs)."""
        import ast
        import json as _json

        import pandas as pd

        from niamoto_spark.operators.ecological import (active_periods_dict,
                                                        peak_detection_dict)

        def _resolve_key(ref: str) -> str:
            return ref[1:].split(".", 1)[0]

        op = params.get("operation")
        if op in ("peak_detection", "active_periods"):
            key = _resolve_key(params["time_series"])
            ts = bindings[key]
            series_cols = [c for c in ts.columns if c.endswith("_pct")]
            aggs = []
            for s in series_cols:
                m = F.map_from_entries(
                    F.collect_list(F.struct(F.col("month"), F.col(s))))
                aggs.append(F.array(*[F.coalesce(m[F.lit(i)], F.lit(0.0))
                                      for i in range(1, 13)]).alias(s))
            agg = ts.groupBy(gid).agg(*aggs)
            labels = params.get("labels")
            if isinstance(labels, str) and labels.startswith("@"):
                labels = binding_params.get(_resolve_key(labels), {}) \
                    .get("labels")
            kwargs: dict[str, Any]
            if op == "peak_detection":
                kwargs = {"threshold": params.get("threshold"),
                          "min_distance": int(params.get("min_distance", 1)),
                          "prominence": float(params.get("prominence", 0.0))}
                fn = peak_detection_dict
            else:
                kwargs = {"threshold": float(params.get("threshold", 0.0)),
                          "min_duration": int(params.get("min_duration", 1)),
                          "labels": labels}
                fn = active_periods_dict

            gid_type = dict(agg.dtypes)[gid]

            def run(batches):
                for pdf in batches:
                    rows = []
                    for _, row in pdf.iterrows():
                        series = {s[:-len("_pct")]: [float(v)
                                                    for v in row[s]]
                                  for s in series_cols}
                        rows.append((row[gid],
                                     _json.dumps(fn(series, **kwargs))))
                    yield pd.DataFrame(rows, columns=[gid, "__cc"])

            return agg.mapInPandas(run,
                                   schema=f"{gid} {gid_type}, __cc string")

        if op == "custom_formula":
            # dict-literal formula over @variable refs -> the reference's
            # _custom_formula ENVELOPE {"value": <merged>, "formula":
            # ..., "description": ..., "variables": {<name>: <doc>}}
            # (custom_calculator.py:1649-1654 — the variables echo is the
            # RESOLVED params dict), assembled JVM-side by string
            # concatenation of the bound steps' per-entity JSON payloads.
            # Subpath refs ("@key.subpath") bind the whole doc — the
            # example config and grid variants only use whole-doc refs.
            tree = ast.parse(params["formula"], mode="eval").body
            if not isinstance(tree, ast.Dict):
                raise ValueError(
                    "chain custom_formula supports dict literals of "
                    "variables here")
            variables = params.get("variables", {})
            entries: list[tuple[str, str]] = []   # value-dict (key, src)
            for k, v in zip(tree.keys, tree.values):
                if not isinstance(k, ast.Constant) or \
                        not isinstance(v, ast.Name):
                    raise ValueError("dict formula entries must be "
                                     "'literal': variable")
                ref = variables.get(v.id, f"@{v.id}")
                entries.append((k.value, _resolve_key(ref)))
            var_entries: list[tuple[str, str]] = []  # echo (name, src)
            for vname, ref in variables.items():
                if isinstance(ref, str) and ref.startswith("@"):
                    var_entries.append((vname, _resolve_key(ref)))

            joined, cols = None, {}
            for key in dict.fromkeys(
                    [s for _, s in entries] + [s for _, s in var_entries]):
                frame = bindings[key]
                if "__cc" in frame.columns:
                    frame = frame.withColumnRenamed("__cc", f"__cc_{key}")
                else:
                    # a time-series frame: emit its reference JSON shape
                    from niamoto_spark import refshapes as RS
                    frame = RS.time_series_analysis(
                        frame, gid, binding_params.get(key, {})) \
                        .withColumnRenamed("__json", f"__cc_{key}")
                cols[key] = F.col(f"__cc_{key}")
                joined = frame if joined is None \
                    else joined.join(frame, gid, "full")

            def _obj(pairs):
                ps: list = []
                for jk, sk in pairs:
                    ps.append(F.lit(f'{_json.dumps(jk)}: '))
                    ps.append(F.coalesce(cols[sk], F.lit("null")))
                    ps.append(F.lit(", "))
                return ([F.lit("{")] + ps[:-1] + [F.lit("}")]) if ps \
                    else [F.lit("{}")]

            desc = params.get("description", "Custom formula")
            parts = ([F.lit('{"value": ')] + _obj(entries)
                     + [F.lit(f', "formula": '
                              f'{_json.dumps(params["formula"])}, '
                              f'"description": {_json.dumps(desc)}, '
                              f'"variables": ')]
                     + _obj(var_entries) + [F.lit("}")])
            return joined.select(F.col(gid), F.concat(*parts).alias("__cc"))

        from niamoto_spark.operators.ecological import (CC_PURE_OPS,
                                                         cc_pure_op)
        if op in CC_PURE_OPS:
            # pure (params-only) operation: resolve @refs into the
            # referenced steps' per-entity docs and run the shared
            # python kernel per Arrow batch — the same kernels the
            # reference's per-entity loop runs, so parity is the
            # kernel's (grid-diffed on the appended-step variants)
            refs: list[str] = []

            def _walk(v):
                if isinstance(v, str) and v.startswith("@"):
                    refs.append(v)
                elif isinstance(v, dict):
                    for x in v.values():
                        _walk(x)
                elif isinstance(v, list):
                    for x in v:
                        _walk(x)

            op_params = {k: v for k, v in params.items()
                         if k not in ("operation", "source")}
            _walk(op_params)
            src_keys = list(dict.fromkeys(_resolve_key(r) for r in refs))
            joined = None
            for skey in src_keys:
                frame = bindings[skey]
                if "__cc" in frame.columns:
                    frame = frame.withColumnRenamed("__cc",
                                                    f"__cc_{skey}")
                else:
                    from niamoto_spark import refshapes as RS
                    frame = RS.time_series_analysis(
                        frame, gid, binding_params.get(skey, {}))                         .withColumnRenamed("__json", f"__cc_{skey}")
                joined = frame if joined is None                     else joined.join(frame, gid, "full")
            if joined is None:
                raise ValueError(
                    f"chain {op} step has no @step references")
            gid_type = dict(joined.dtypes)[gid]
            keys_ = list(src_keys)

            def run_pure(batches):
                for pdf in batches:
                    rows = []
                    for _, row in pdf.iterrows():
                        docs, ok = {}, True
                        for skey in keys_:
                            txt = row[f"__cc_{skey}"]
                            if not isinstance(txt, str):
                                ok = False
                                break
                            docs[skey] = _json.loads(txt)
                        if not ok:
                            rows.append((row[gid], None))
                            continue

                        def mat(v):
                            if isinstance(v, str) and v.startswith("@"):
                                return _resolve_chain_ref(v, docs)
                            if isinstance(v, dict):
                                return {k2: mat(x) for k2, x in v.items()}
                            if isinstance(v, list):
                                return [mat(x) for x in v]
                            return v

                        try:
                            out_doc = cc_pure_op(
                                op, {k2: mat(v) for k2, v
                                     in op_params.items()})
                            rows.append((row[gid], _json.dumps(
                                out_doc, ensure_ascii=False)))
                        except (KeyError, ValueError, TypeError):
                            rows.append((row[gid], None))
                    yield pd.DataFrame(rows, columns=[gid, "__cc"])

            return joined.mapInPandas(
                run_pure, schema=f"{gid} {gid_type}, __cc string")

        raise ValueError(f"chain custom_calculator operation {op!r} "
                         "not supported")

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

    def _run_widget(self, plugin: str, params: dict, tagged: dict,
                    group_by: str, gid: str) -> DataFrame:
        """Adapter: reference YAML param names -> operator signatures."""
        if plugin == "transform_chain":
            # ordered steps; each step's output binds under output_key and
            # later steps reference it via source: "@key" (reference
            # transform_chain.py:200-317).  Step PARAMS are also kept so
            # later steps can resolve config refs like
            # "@phenology_raw.labels".
            #
            # The chain's RESULT is the reference's envelope: EVERY
            # step's output keyed by its output_key
            # (transform_chain.py:305-311 ``result[output_key] =
            # step_result; return result``) — not just the final
            # step's.  Found by the r13 chain-variant differential: the
            # first config the reference could actually execute showed
            # the engine emitting only the tail.
            import json as _json

            from niamoto_spark import refshapes as RS

            bindings = dict(tagged)
            binding_params: dict[str, dict] = {}
            shaped: list[tuple[str, DataFrame]] = []
            for step in params["steps"]:
                sparams = dict(step.get("params", {}))
                src = sparams.get("source")
                if isinstance(src, str) and src.startswith("@"):
                    sparams["source"] = src[1:]
                if step["plugin"] == "custom_calculator":
                    out = self._custom_calculator_step(
                        sparams, bindings, binding_params, gid)
                    jf = out.select(F.col(gid),
                                    F.col("__cc").alias("__json"))
                elif step["plugin"] in RS.FUSED:
                    k = RS.kernel(step["plugin"], sparams, bindings,
                                  group_by)
                    out = _kernel_frame(k, bindings, gid, group_by)
                    jf = out.select(F.col(gid),
                                    k.doc(F.col).alias("__json"))
                else:
                    run_params = dict(sparams)
                    if step["plugin"] == "direct_attribute":
                        run_params.pop("max_value", None)
                        run_params.pop("precision", None)
                    out = self._run_widget(step["plugin"], run_params,
                                           bindings, group_by, gid)
                    jf = self._shape_chain_step(step["plugin"], sparams,
                                                out, bindings, gid)
                bindings[step["output_key"]] = out
                binding_params[step["output_key"]] = sparams
                shaped.append((step["output_key"], jf))
            assert shaped, "empty transform_chain"
            joined = None
            parts: list = [F.lit("{")]
            for i, (key, jf) in enumerate(shaped):
                jf = jf.withColumnRenamed("__json", f"__j{i}")
                joined = jf if joined is None \
                    else joined.join(jf, gid, "full")
                parts.append(F.lit(("," if i else "")
                                   + _json.dumps(key) + ": "))
                parts.append(F.coalesce(F.col(f"__j{i}"), F.lit("null")))
            parts.append(F.lit("}"))
            return joined.select(F.col(gid),
                                 F.concat(*parts).alias("__cc"))

        src_name = params.pop("source", None)
        df = tagged.get(src_name) if src_name else None

        if plugin == "top_ranking":
            name_join = None
            field = params["field"]
            if params.get("hierarchy_table"):
                h = self.registry.load(self.spark, params["hierarchy_table"])
                cols = params.get("hierarchy_columns", {})
                key_col = cols.get("id", "id")
                # dtype-align the fact key with the hierarchy key before
                # the string-keyed name join: a CSV float column (ints +
                # NULLs) must match the hierarchy's bigint ids, like the
                # reference's numeric-affinity lookup does
                fact_t = dict(df.dtypes).get(field)
                key_t = dict(h.dtypes).get(key_col)
                if fact_t in ("double", "float") and \
                        key_t in ("bigint", "int", "smallint"):
                    df = df.withColumn(field, F.col(field).cast("bigint"))
                name_join = (h, key_col, cols.get("name", "name"))
            return agg_ops.top_ranking(
                df, [gid], field,
                limit=params.get("count", 10),
                name_join=name_join)
        if plugin == "geospatial_extractor":
            return ex_ops.geospatial_extractor(df, [gid], params["field"])
        if plugin == "direct_attribute":
            return ex_ops.direct_attribute(
                df, [gid], params["field"],
                precision=params.get("precision"),
                max_value=params.get("max_value"))
        if plugin == "multi_column_extractor":
            return ex_ops.multi_column_extractor(
                df, [gid], params["columns"],
                labels=params.get("labels"),
                derived=params.get("derived_columns"),
                include_percentages=params.get("include_percentages", False))
        if plugin == "time_series_analysis":
            fields = params["fields"]
            if isinstance(fields, dict) and fields and \
                    all(isinstance(v, str) for v in fields.values()):
                # reference dialect: {output_label: source_column}
                fields = {k: (F.col(v).cast("double") > 0)
                          for k, v in fields.items()}
            # sparse months + exact python rounding: the reference fills
            # absent months with INT zeros ([0]*12) and rounds presence
            # percentages with round() — the refshapes shaper needs the
            # absent-month signal (a dense 0.0 row is indistinguishable
            # from a real 0% month) and the exact-binary rounding
            # (r13 blackout-variant find)
            return agg_ops.time_series_analysis(
                df, [gid], params.get("time_field", "month_obs"),
                fields, dense_months=False, rounding="python")
        if plugin == "class_object_series_extractor":
            return co_ops.series_extractor(
                df, [gid], params["class_object"],
                numeric_axis=(params.get("size_field", {}) or {}).get("numeric", False))
        if plugin == "class_object_field_aggregator":
            return co_ops.field_aggregator(df, [gid], params["class_object"],
                                           mode=params.get("mode", "value"))
        if plugin == "class_object_categories_extractor":
            return co_ops.categories_extractor(df, [gid],
                                               params["class_object"],
                                               params["categories"])
        if plugin == "class_object_binary_aggregator":
            return co_ops.binary_aggregator(
                df, [gid], params["class_object"],
                class_mapping=params.get("class_mapping"))
        if plugin == "class_object_series_matrix_extractor":
            return co_ops.series_matrix_extractor(
                df, [gid], params["class_objects"],
                scale=params.get("scale", 1.0),
                complement=params.get("complement", False))
        if plugin == "class_object_series_by_axis_extractor":
            return co_ops.series_by_axis_extractor(df, [gid],
                                                   params["axis_mapping"])
        if plugin == "class_object_series_ratio_aggregator":
            return co_ops.series_ratio_aggregator(
                df, [gid], params["subset_class"], params["total_class"],
                complement_mode=params.get("complement_mode"))
        if plugin == "class_object_categories_mapper":
            return co_ops.categories_mapper(df, [gid], params["mapping"])
        if plugin == "boolean_comparison":
            fields = params["fields"]
            if isinstance(fields, list):
                fields = {f: f for f in fields}
            return agg_ops.boolean_comparison(df, [gid], fields)
        if plugin == "scatter_analysis":
            x, y = params["x_field"], params["y_field"]
            return (df.select(gid, F.col(x).cast("double").alias("x"),
                              F.col(y).cast("double").alias("y"))
                      .where(F.col("x").isNotNull() & F.col("y").isNotNull()))
        raise ValueError(f"no adapter for widget plugin {plugin!r}")

    def _pack_json(self, wdf: DataFrame, gid: str, name: str,
                   single_row: bool = False) -> DataFrame:
        """One JSON column per widget.  The shape is decided by the widget
        KIND (SINGLE_ROW_WIDGETS -> object, everything else -> array), never
        by the per-entity row count — consumers get one stable schema per
        column (the reference's output_structure contract, SURVEY §2.5)."""
        others = [c for c in wdf.columns if c != gid]
        # order struct fields so the array's deterministic sort is also the
        # presentation order (rank/bin/month leading)
        lead = [c for c in ("rank", "bin_index", "month", "class_name",
                            "category", "out_group", "label")
                if c in others]
        others = lead + [c for c in others if c not in lead]
        packed = (wdf.groupBy(gid)
                  .agg(F.sort_array(F.collect_list(F.struct(*others)))
                       .alias("__rows")))
        json_col = F.to_json(F.col("__rows")[0]) if single_row \
            else F.to_json(F.col("__rows"))
        return packed.select(F.col(gid), json_col.alias(name))

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
            df = self.spark.read.parquet(path)
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
                    df, group, target_out, params, g,
                    strict_parity=self.strict_parity))
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
            results = self.spark.read.parquet(self.group_table(group))
            out_path = os.path.join(out_dir, group)
            manifest = export_json_api(results, gid, out_path, **params)
        elif kind == "html":
            results = self.spark.read.parquet(self.group_table(group))
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
