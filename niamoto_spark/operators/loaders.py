"""Loaders = per-group join strategies (SURVEY §2.2), set-oriented.

The reference calls ``loader.load_data(group_id, config)`` once PER entity id
(reference transformer.py:1035-1087) — an O(entities) query loop.  Each
loader here performs ONE join keyed by the group id column, producing the
fact rows for ALL groups at once; downstream transformers then aggregate by
that group column.

All reference tables (hierarchies, plots, shapes) are small relative to the
fact table, so every join here broadcasts the reference side — at 100 TB the
fact table never shuffles for these lookups.  ``join_table``'s bridge is
the exception: it is not a reference table, and Spark sizes that join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from niamoto_spark.hierarchy import ancestor_closure, subtree_join
from niamoto_spark.registry import PluginType, register


def _clear_gid_collision(data: DataFrame, key: str,
                         group_id: str) -> tuple[DataFrame, str]:
    """If the fact table already has a column named like the group id, the
    tag join would produce an AMBIGUOUS duplicate.  Preserve the fact column
    under ``__src_<name>`` (documented) so the canonical name is the tag.
    When the collision IS the join key, the key is renamed too — returns
    (data, effective_key)."""
    if group_id in data.columns:
        renamed = f"__src_{group_id}"
        data = data.withColumnRenamed(group_id, renamed)
        if key == group_id:
            key = renamed
    return data, key


@register("direct_reference", PluginType.LOADER)
def direct_reference(data: DataFrame, key: str, groups: DataFrame,
                     group_id: str, ref_key: str | None = None) -> DataFrame:
    """Equi-join of the fact table to its grouping entity (reference:
    loaders/direct_reference.py:116-205, SQL :187-202).  When ``ref_key``
    differs from ``group_id`` the join goes through the reference table's
    alternate key, same as the reference's two-table SQL variant.

    Returns the fact rows tagged with the group id column.
    """
    from niamoto_spark.functions import hashed_dim_join

    data, key = _clear_gid_collision(data, key, group_id)
    join_key = ref_key or group_id
    # hashed_dim_join: string fact keys probe on one xxhash64 long
    # (LongHashedRelation) with an exact recheck; integral keys take
    # the plain broadcast join — the probe side is the 100 TB one.
    return hashed_dim_join(data, groups, key, [group_id],
                           dim_key=join_key)


@register("join_table", PluginType.LOADER)
def join_table(data: DataFrame, data_key: str,
               bridge: DataFrame, bridge_source: str, bridge_ref: str,
               groups: DataFrame, group_id: str,
               carry: list[str] | None = None) -> DataFrame:
    """Many-to-many bridge: fact JOIN bridge ON fact.id = bridge.source,
    grouped by bridge.reference (reference: loaders/join_table.py:124-178).
    Two chained joins.  The bridge can be as large as the fact table (a
    subtree-expanded bridge has a row per fact and ancestor), so its hop
    is a plain equi-join and Spark's size estimate chooses broadcast or
    shuffle; the group table broadcasts.

    ``carry`` lists extra ``groups`` columns to attach in the SAME group
    join — callers that need a display column (e.g. a name) alongside the
    group id would otherwise pay a third probe pass over the fact table
    re-joining the group table for it (guide §2.4: remove redundant
    joins; at 100 TB every extra broadcast join is a full pass).
    """
    from niamoto_spark.functions import hashed_dim_join

    data, data_key = _clear_gid_collision(data, data_key, group_id)
    b = bridge.select(F.col(bridge_source).alias("__b_src"),
                      F.col(bridge_ref).alias("__b_ref"))
    tagged = data.join(b, data[data_key] == b["__b_src"]).drop("__b_src")
    return hashed_dim_join(tagged, groups, "__b_ref",
                           [group_id, *(carry or [])],
                           dim_key=group_id).drop("__b_ref")


@register("nested_set", PluginType.LOADER)
def nested_set_loader(data: DataFrame, key: str, hierarchy: DataFrame,
                      group_id: str, leaf_key: str | None, lft_col: str,
                      rght_col: str) -> DataFrame:
    """Descendant-subtree membership via nested-set range join (reference:
    loaders/nested_set.py:147-185).  Instead of fetching one node's
    (lft, rght) per query, ``subtree_join`` tags each fact row with EVERY
    ancestor's ``group_id`` in a single broadcast range join — aggregating
    by ``group_id`` afterwards yields the per-subtree result for all
    subtrees at once.  ``data.key`` matches the hierarchy's ``leaf_key``
    (``group_id`` when None).
    """
    data, key = _clear_gid_collision(data, key, group_id)
    return subtree_join(
        data, key, hierarchy, node_key=group_id, ancestor_alias="__anc",
        leaf_key=leaf_key or group_id, lft_col=lft_col, rght_col=rght_col,
    ).withColumn(group_id, F.col("__anc")).drop("__anc")


@register("adjacency_list", PluginType.LOADER)
def adjacency_list_loader(data: DataFrame, key: str, nodes: DataFrame,
                          group_id: str, parent_col: str, match_field: str,
                          include_children: bool) -> DataFrame:
    """Node + descendants via the adjacency encoding (reference:
    loaders/adjacency_list.py:119-208 uses a recursive CTE).  Spark SQL has
    no recursive CTE, so the closure (node, ancestor, depth) is materialized
    by a bounded iterative join (hierarchy.ancestor_closure) and then the
    fact table equi-joins the broadcast closure — one join, no recursion
    in the hot path.

    ``data.key`` matches the hierarchy's ``match_field``;
    ``include_children=False`` tags the direct node only
    (adjacency_list.py:168-177).
    """
    data, key = _clear_gid_collision(data, key, group_id)
    if not include_children:
        m = nodes.select(F.col(match_field).alias("__m"),
                         F.col(group_id).alias("__g"))
        return data.join(F.broadcast(m), data[key] == F.col("__m")) \
            .drop("__m").withColumn(group_id, F.col("__g")).drop("__g")
    closure = ancestor_closure(nodes, group_id, parent_col)
    cl = closure.select(F.col("node_id"),
                        F.col("ancestor_id").alias(group_id))
    if match_field != group_id:
        # the recursive CTE matches data.key against the hierarchy's
        # EXTERNAL id (match_id, adjacency_list.py:189-205): translate
        # each node's match value into its subtree-ancestor ids before
        # tagging
        mm = nodes.select(F.col(match_field).alias("__m"),
                          F.col(group_id).alias("__node"))
        cl = cl.join(mm, cl["node_id"] == F.col("__node")) \
            .select(F.col("__m"), F.col(group_id))
        return data.join(F.broadcast(cl), data[key] == F.col("__m")) \
            .drop("__m")
    cl = cl.withColumnRenamed("node_id", "__n")
    return data.join(F.broadcast(cl), data[key] == F.col("__n")) \
        .drop("__n")


@register("stats_loader", PluginType.LOADER)
def stats_loader(stats: DataFrame, match_field: str,
                 groups: DataFrame, group_id: str,
                 ref_field: str | None = None,
                 carry: list[str] | None = None) -> DataFrame:
    """Lookup of precomputed stats rows by a match field, with the
    reference's fuzzy string/number coercion (reference:
    loaders/stats_loader.py:113-318; CSV filter :196-211).  Set-oriented:
    one equi-join on the (string-normalized) match key.

    ``carry``: extra ``groups`` columns attached in the same join (see
    ``join_table`` — saves a redundant second probe pass for callers
    needing a display column).
    """
    from niamoto_spark.functions import hashed_dim_join

    ref_field = ref_field or group_id
    stats, match_field = _clear_gid_collision(stats, match_field, group_id)
    norm = lambda c: F.trim(F.col(c).cast("string"))  # noqa: E731
    g = groups.select(F.col(group_id), *(carry or []),
                      norm(ref_field).alias("__match"))
    return hashed_dim_join(stats.withColumn("__mkey", norm(match_field)),
                           g, "__mkey", [group_id, *(carry or [])],
                           dim_key="__match").drop("__mkey")


@register("spatial_containment", PluginType.LOADER)
def spatial_containment(data: DataFrame, point_wkt_col: str,
                        shapes: DataFrame, shape_id: str,
                        shape_wkt_col: str) -> DataFrame:
    """Points-in-polygon membership (reference: loaders/spatial.py:91-131
    uses per-shape ``ST_Contains`` SQL): each fact row is tagged with
    the ``shape_id`` of every shape containing its point, in one
    broadcast join of the (small) shape table — see
    ``geospatial.points_in_polygons``.
    """
    from niamoto_spark.operators.geospatial import points_in_polygons

    return points_in_polygons(data, point_wkt_col,
                              shapes.select(shape_id, shape_wkt_col),
                              shape_id, shape_wkt_col)


def hierarchical_top_ranking(data: DataFrame, key: str,
                             hierarchy: DataFrame,
                             target_level: int | None = None,
                             target_ranks: list[str] | None = None,
                             limit: int = 10,
                             node_key: str = "id") -> DataFrame:
    """The reference's hierarchical top_ranking mode: roll each fact row up
    to the nearest ancestor at a target rank, then count + top-N
    (reference: top_ranking.py:383-432 walks parent pointers per id;
    here it's the nested-set subtree join + one aggregate).
    Output: (item, value, rank) where item is the ancestor's rank_value.
    """
    # Pre-aggregate facts per LEAF below the range join (guide §2.3
    # "aggregate before you shuffle", r15): the rollup is a pure count,
    # and counts are additive over subtree membership, so the range
    # join fans out |leaves| count rows instead of every fact row — at
    # scale the fact table is aggregated once and never ×depth-fanned.
    # Identical output: a leaf with N facts contributes N to each
    # enclosing ancestor either way; NULL / unmatched keys drop in the
    # same inner equi-join.  Ancestor metadata rides the subtree range
    # join (r14: the separate broadcast(anc) re-join was a redundant
    # third probe pass).
    per_leaf = data.groupBy(key).agg(F.count(F.lit(1)).alias("__leaf_n"))
    joined = subtree_join(per_leaf, key, hierarchy, node_key,
                          "ancestor_id",
                          carry=["rank_name", "level", "rank_value"]) \
        .withColumnRenamed("rank_value", "item")
    if target_level is not None:
        joined = joined.where(F.col("level") == target_level)
    if target_ranks:
        joined = joined.where(F.col("rank_name").isin(list(target_ranks)))
    from niamoto_spark.operators.aggregation import top_ranking

    return top_ranking(joined, [], "item", limit=limit,
                       weight_col="__leaf_n")
