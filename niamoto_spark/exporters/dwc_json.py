"""Darwin-Core occurrence JSON export target (reference export.yml
``dwc_occurrence_json``: json_api_exporter + the
``niamoto_to_dwc_occurrence`` transformer plugin).

One JSON file per taxon holding the DwC-mapped list of its DIRECT
occurrences (the reference joins ``o.taxon_id_field =
t.external_id_column`` with no subtree expansion,
niamoto_to_dwc_occurrence.py:419-427), plus a taxon index.

The records are ``exporters/dwc.py:to_dwc_occurrence``'s projection —
the one implementation of the mapping DSL — with each group-table item
as the ``@taxon`` side, serialised by ``to_json`` so that null terms drop
(_map_occurrence :529-547) and gathered into one JSON list per item on
the executors.  The driver streams the items in id order
(``toLocalIterator``), writes each item's list and builds the index.
"""

from __future__ import annotations

import json
import os
from typing import Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from niamoto_spark.exporters.dwc import _blank, _flat_ref, to_dwc_occurrence


def _id_col(taxa_results: DataFrame, group_name: str) -> str:
    """The group table's id column: ``{group}_id``, else the first."""
    own = f"{group_name}_id"
    return own if own in taxa_results.columns else taxa_results.columns[0]


def dwc_records(taxa_results: DataFrame, occurrences: DataFrame,
                group_name: str, group_cfg: Mapping[str, Any],
                taxonomy: DataFrame | None = None) -> DataFrame:
    """``(__item, __docs)``: each group-table item's id and the JSON list
    of its occurrences' DwC records, in occurrence order.

    The occurrence linkage is the reference's two-hop join
    (niamoto_to_dwc_occurrence.py:419-427): occurrences join the
    TAXONOMY entity on ``o.taxon_id_column = taxonomy.external_id``
    (defaults id_taxonref -> taxons_id) and bucket under
    ``taxonomy.id`` — which is what the group-table items carry in
    their ``taxon_id_field`` column (else their own id)."""
    tp = group_cfg.get("transformer_params", {})
    mapping = tp.get("mapping", {})
    occ_link_col = tp.get("taxon_id_column", "id_taxonref")
    tax_ext_col = tp.get("taxonomy_external_id_column",
                         f"{group_name}_id")
    id_col = _id_col(taxa_results, group_name)

    # occurrences in source order (the reference's un-ORDERed sqlite
    # fetch returns insertion order)
    order_col = "id" if "id" in occurrences.columns else occurrences.columns[0]
    if taxonomy is not None and tax_ext_col in taxonomy.columns:
        tx = taxonomy.select(F.col("id").alias("__tid"),
                             F.col(tax_ext_col).alias("__tax_ext"))
        occ = occurrences.join(
            F.broadcast(tx), occurrences[occ_link_col] == tx["__tax_ext"]
        ).drop("__tax_ext")
    else:
        occ = occurrences.withColumn("__tid", F.col(occ_link_col))

    # the item's configured id field holds the taxonomy pk the
    # occurrences bucket under (_get_taxon_id_from_data)
    key = _flat_ref(taxa_results, "", [tp.get("taxon_id_field", "id")])
    tid_type = dict(occ.dtypes)["__tid"]
    items = taxa_results.withColumn("__key", F.coalesce(
        F.when(~_blank(key.cast("string")), key).try_cast(tid_type),
        F.col(id_col).try_cast(tid_type)))

    terms = [t for t in mapping if t != "error_handling"]
    recs = to_dwc_occurrence(
        occ, {"__item": f"@taxon.{id_col}", "__ord": f"@source.{order_col}",
              **mapping},
        taxon=items, occ_taxon_col="__tid", taxon_id_col="__key",
        order_col=order_col, fallback_id_col=id_col)
    record = F.to_json(F.struct(*[F.col(f"`{t}`") for t in terms]))
    listed = (recs.where(F.col("__item").isNotNull()).groupBy("__item")
              .agg(F.sort_array(F.collect_list(
                  F.struct("__ord", record.alias("rec")))).alias("__recs")))
    return listed.select("__item", F.concat(
        F.lit("["), F.array_join("__recs.rec", ","), F.lit("]"))
        .alias("__docs"))


def export_dwc_occurrence_target(taxa_results: DataFrame,
                                 occurrences: DataFrame,
                                 group_name: str, out_dir: str,
                                 params: Mapping[str, Any],
                                 group_cfg: Mapping[str, Any],
                                 taxonomy: DataFrame | None = None) -> dict:
    """The full dwc_occurrence_json target for one group."""
    from niamoto_spark.exporters.json_api import (JsonOptions, _api_url,
                                                  _dump, _flatten_item,
                                                  _map_fields, safe_filename)

    detail_pattern = params.get("detail_output_pattern",
                                "{group}/{id}.json")
    index_pattern = params.get("index_output_pattern", "all_{group}.json")
    opts_dict = {k: v for k, v in (params.get("json_options") or {}).items()
                 if k in JsonOptions.__dataclass_fields__}
    opts = JsonOptions(**opts_dict)
    os.makedirs(out_dir, exist_ok=True)

    id_col = _id_col(taxa_results, group_name)
    docs = dwc_records(taxa_results, occurrences, group_name, group_cfg,
                       taxonomy)
    items = (taxa_results
             .join(docs, taxa_results[id_col] == docs["__item"], "left")
             .orderBy(taxa_results[id_col])
             .select(F.to_json(F.struct(*[taxa_results[c] for c in
                                          taxa_results.columns]),
                               {"ignoreNullFields": "false"})
                     .alias("__doc"), "__docs"))

    n_files = 0
    index_entries = []
    index_cfg = group_cfg.get("index") or {}
    for r in items.toLocalIterator():
        if r["__docs"] is None:
            # empty lists skip the file AND the index entry — the
            # reference indexes generated_items only
            # (json_api_exporter.py:620-627, :478-480)
            continue
        item = _flatten_item(json.loads(r["__doc"]))
        taxon_id = item.get(f"{group_name}_id", item.get("id"))
        rel = detail_pattern.format(group=group_name,
                                    id=safe_filename(taxon_id))
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _dump(path, json.loads(r["__docs"]), opts)
        n_files += 1
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
