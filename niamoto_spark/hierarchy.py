"""Hierarchies: derivation, nested sets, ancestor closure, subtree joins.

The reference stores every hierarchy (taxonomy / plots / shapes) with BOTH
encodings simultaneously — adjacency list (``parent_id``) traversed by
recursive CTEs (reference: src/niamoto/core/plugins/loaders/
adjacency_list.py:184-205) and nested sets (``lft``/``rght``) computed by a
DFS in pandas (src/niamoto/core/imports/hierarchy_builder.py:532-601) and
queried by range predicates (loaders/nested_set.py:177-185).

Spark has no recursive CTE, so this module provides the three strategies the
engine uses instead, in descending order of preference:

1. **Nested sets** -> descendant lookup becomes a *range join*
   (``child.lft BETWEEN anc.lft AND anc.rght``), one shuffle-free broadcast
   join for all ancestors at once.
2. **Ancestor closure table** (node_id, ancestor_id, depth) -> descendant
   lookup becomes a plain *equi join*; the closure is built once by an
   iterative self-join bounded by tree depth.
3. **Iterative frontier join** for truly unbounded recursion.

Scale note: hierarchy *nodes* are small (taxonomies ~1e4-1e6 rows) even when
the fact table is 100 TB, so nested-set numbering happens driver-side on
collected nodes, and the resulting table is broadcast into every join.  The
closure builder is fully distributed for the (rare) case of a huge tree.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Derivation: build hierarchy rows from a flat dataset's level columns
# ---------------------------------------------------------------------------

def derive_hierarchy(df: DataFrame, levels: Sequence[str],
                     id_offset: int = 1, *,
                     level_columns: Sequence[str] | None = None,
                     id_strategy: str = "sequence",
                     id_column: str | None = None,
                     name_column: str | None = None,
                     entity_name: str | None = None,
                     incomplete_rows: str = "skip") -> DataFrame:
    """Derive a hierarchy table from the distinct level combinations of a
    flat dataset — the reference's "derived reference" import
    (hierarchy_builder.py:116-270): per-level UNION ALL explode of
    ``SELECT DISTINCT level1..levelN``, pipe-joined ``full_path`` keys,
    skip-mode incomplete-row filtering, MIN() dedup.

    Parity-critical semantics (each mirrors the reference line-for-line in
    behavior, not implementation):

    - skip mode filters on ``TRIM(col) != '' AND col IS NOT NULL`` for the
      whole prefix but keeps the RAW (untrimmed) value in both rank_value
      and full_path (hierarchy_builder.py:185-199).
    - ``id_column`` adds ``{entity_name}_id = MIN(id_column)`` per path,
      then nulls it everywhere except the DEEPEST level each external id
      reaches (hierarchy_builder.py:272-318).
    - ``name_column`` adds ``full_name``: MIN(name_column) at the deepest
      level, the rank value itself above (hierarchy_builder.py:211-222).
    - ``id_strategy='hash'`` assigns ``int(md5(full_path)[:8], 16)``
      (hierarchy_builder.py:462-470); 'sequence' numbers 1..N in
      (level, full_path) order.

    Returns columns: id, parent_id, level, rank_name, rank_value,
    full_path, [{entity}_id], [full_name], lft, rght.

    Distributed part: the per-level groupBy over *distinct combinations*
    (tiny vs the fact table).  Driver part: nested-set numbering over the
    collected nodes.
    """
    if incomplete_rows not in ("skip", "fill_unknown", "error"):
        raise ValueError(f"unknown incomplete_rows mode {incomplete_rows!r}")
    cols = list(level_columns or levels)
    if incomplete_rows == "fill_unknown":
        # reference hierarchy_builder.py:136-139: each level value is
        # COALESCE(NULLIF(TRIM(col), ''), 'Unknown <level.name>') IN THE
        # EXTRACTION SELECT — the TRIMMED value (not the raw one, unlike
        # skip mode) lands in rank_value and full_path, and every row is
        # complete afterwards (no per-level filtering)
        keep = [
            F.coalesce(F.nullif(F.trim(F.col(c).cast("string")),
                                F.lit("")),
                       F.lit(f"Unknown {levels[i]}")).alias(c)
            for i, c in enumerate(cols)]
    else:
        keep = [F.col(c).cast("string").alias(c) for c in cols]
    if id_column:
        keep.append(F.col(id_column))
    if name_column:
        keep.append(F.col(name_column).cast("string").alias(name_column))
    cleaned = df.select(*keep)
    if incomplete_rows == "error":
        # reference :164-169: one global WHERE requiring every level
        # non-NULL (no TRIM check — blank strings pass, unlike skip)
        all_ok = F.lit(True)
        for c in cols:
            all_ok = all_ok & F.col(c).isNotNull()
        cleaned = cleaned.where(all_ok)

    deepest = len(cols) - 1
    pieces = []
    for depth, level_name in enumerate(levels):
        prefix = [F.col(c) for c in cols[: depth + 1]]
        # skip-mode completeness: every prefix level non-null and
        # non-blank; the raw value itself is what lands in the path.
        # fill_unknown/error modes filled or filtered above -> no
        # per-level predicate (reference :188-195 emits 1=1).
        prefix_ok = F.lit(True)
        if incomplete_rows == "skip":
            for p in prefix:
                prefix_ok = prefix_ok & p.isNotNull() & (F.trim(p) != "")
        aggs = []
        if id_column:
            aggs.append(F.min(id_column).alias("__ext_id"))
        if name_column:
            name_src = F.col(name_column) if depth == deepest \
                else F.col(cols[depth])
            aggs.append(F.min(name_src).alias("full_name"))
        piece = cleaned.where(prefix_ok)
        grouped = piece.groupBy(
            F.concat_ws("|", *prefix).alias("full_path"),
            F.col(cols[depth]).alias("rank_value"),
        )
        if aggs:
            piece = grouped.agg(*aggs)
        else:
            piece = grouped.agg(F.lit(1).alias("__one")).drop("__one")
        piece = piece.select(
            "full_path",
            F.lit(depth).alias("level"),
            F.lit(level_name).alias("rank_name"),
            "rank_value",
            (F.expr("substring(full_path, 1, length(full_path) - "
                    f"length(rank_value) - 1)") if depth
             else F.lit(None).cast("string")).alias("parent_path"),
            *([F.col("__ext_id")] if id_column else []),
            *([F.col("full_name")] if name_column else []),
        )
        pieces.append(piece)
    nodes_df = pieces[0]
    for p in pieces[1:]:
        nodes_df = nodes_df.unionByName(p)
    nodes = [r.asDict() for r in nodes_df.collect()]

    if id_column:
        # keep the external id only on the deepest level it reaches
        max_level: dict = {}
        for n in nodes:
            v = n.get("__ext_id")
            if v is not None:
                max_level[v] = max(max_level.get(v, -1), n["level"])
        for n in nodes:
            v = n.get("__ext_id")
            if v is not None and n["level"] != max_level[v]:
                n["__ext_id"] = None

    ext_name = f"{entity_name}_id" if (id_column and entity_name) else (
        "external_id" if id_column else None)
    return _number_tree(df.sparkSession, nodes, id_offset,
                        id_strategy=id_strategy, ext_name=ext_name,
                        with_name=bool(name_column))


def _number_tree(spark: SparkSession, nodes: list[dict], id_offset: int,
                 id_strategy: str = "sequence", ext_name: str | None = None,
                 with_name: bool = False) -> DataFrame:
    """Assign ids + nested-set bounds via a driver-side DFS (small data).

    ``id_strategy='hash'`` mirrors the reference's stable-id recipe —
    ``int(md5(full_path).hexdigest()[:8], 16)``
    (hierarchy_builder.py:462-470) — so entity ids are bit-identical with
    the reference importer's on the same data."""
    import hashlib

    nodes.sort(key=lambda n: (n["level"], n["full_path"]))
    by_path = {n["full_path"]: n for n in nodes}
    children: dict[str | None, list[dict]] = {}
    for n in nodes:
        children.setdefault(n["parent_path"], []).append(n)
    for sibs in children.values():
        sibs.sort(key=lambda n: n["full_path"])

    if id_strategy == "hash":
        for n in nodes:
            n["id"] = int(
                hashlib.md5(n["full_path"].encode()).hexdigest()[:8], 16)
    elif id_strategy == "external":
        for n in nodes:
            n["id"] = n.get("__ext_id")
    else:  # sequence
        next_id = id_offset
        for n in nodes:  # level-major order -> parents before children
            n["id"] = next_id
            next_id += 1

    counter = {"v": 1}

    def dfs(node: dict) -> None:
        node["lft"] = counter["v"]; counter["v"] += 1
        for ch in children.get(node["full_path"], ()):
            dfs(ch)
        node["rght"] = counter["v"]; counter["v"] += 1

    for root in children.get(None, ()):
        dfs(root)

    import pyarrow as pa

    def _int_or_none(v):
        return int(v) if v is not None else None

    cols = [
        ("id", pa.int64(), [n["id"] for n in nodes]),
        ("parent_id", pa.int64(),
         [by_path[n["parent_path"]]["id"] if n["parent_path"] else None
          for n in nodes]),
        ("level", pa.int32(), [n["level"] for n in nodes]),
        ("rank_name", pa.string(), [n["rank_name"] for n in nodes]),
        ("rank_value", pa.string(), [n["rank_value"] for n in nodes]),
        ("full_path", pa.string(), [n["full_path"] for n in nodes]),
    ]
    if ext_name:
        cols.append((ext_name, pa.int64(),
                     [_int_or_none(n.get("__ext_id")) for n in nodes]))
    if with_name:
        cols.append(("full_name", pa.string(),
                     [n.get("full_name") for n in nodes]))
    cols += [("lft", pa.int32(), [n["lft"] for n in nodes]),
             ("rght", pa.int32(), [n["rght"] for n in nodes])]
    return _arrow_frame(spark, cols)


def _arrow_frame(spark: SparkSession, cols: list) -> DataFrame:
    """A driver-built table as a DataFrame through Arrow: the JVM decodes
    the batches itself, so unlike ``createDataFrame(list)`` (a Python
    RDD) no Python worker starts.  ``cols``: (name, arrow type, values)."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({name: pa.array(vals, typ) for name, typ, vals in cols}))


# ---------------------------------------------------------------------------
# Nested sets over an existing adjacency list
# ---------------------------------------------------------------------------

def add_nested_sets(nodes: DataFrame, id_col: str = "id",
                    parent_col: str = "parent_id",
                    order_col: str | None = None) -> DataFrame:
    """Compute lft/rght for an adjacency-list table (driver DFS; hierarchy
    tables are small by design — see module docstring).  Mirrors the
    reference's import-time nested-set builder
    (hierarchy_builder.py:532-601).  ``order_col`` fixes sibling order
    (default: the id column) so numbering is deterministic.
    """
    order_col = order_col or id_col
    # Surrogate row key: a NULL id can never be REFERENCED as a parent,
    # but the row itself is still a legal LEAF child of its parent — the
    # reference's pandas DFS traverses such rows by dataframe index and
    # gives them bounds (hierarchy_builder.py:595-640; composed-probe
    # find, round 12).  The surrogate also carries the bounds join back
    # for those rows, which the id column cannot (NULL never equi-joins).
    tagged = nodes.withColumn("__ns_row", F.monotonically_increasing_id())
    collected = tagged.select(id_col, parent_col, order_col,
                              "__ns_row").collect()
    ids = {r[id_col] for r in collected if r[id_col] is not None}
    first_row_of_id: dict = {}
    for r in collected:
        if r[id_col] is not None and r[id_col] not in first_row_of_id:
            first_row_of_id[r[id_col]] = r["__ns_row"]
    children: dict = {}
    order_key = {}
    node_id_of_row = {}
    for r in collected:
        rk = r["__ns_row"]
        node_id_of_row[rk] = r[id_col]
        # A parent id that is NULL, self-referencing (a common root
        # encoding), or absent from the table (subsetted data) makes the
        # node a root — otherwise such subtrees would silently get NULL
        # bounds from the left join below.
        parent = r[parent_col]
        if parent == r[id_col] or parent not in ids:
            parent = None
        children.setdefault(parent, []).append(rk)
        order_key[rk] = r[order_col]
    for sibs in children.values():
        # NULL order keys sort LAST (ties broken by row position) — a
        # pinned convention, and one Python's bare tuple compare can't
        # express (None < int raises)
        sibs.sort(key=lambda k: (order_key[k] is None,
                                 0 if order_key[k] is None else order_key[k],
                                 k))

    # Iterative DFS over row keys: recursion would hit Python's stack
    # limit on path-shaped trees (~1000 deep).  A row's children are
    # looked up by its ID (NULL-id rows therefore never have children).
    def kids(row_key):
        nid = node_id_of_row[row_key]
        if nid is None or first_row_of_id.get(nid) != row_key:
            return ()
        return children.get(nid, ())

    bounds: dict = {}
    counter = 1
    for root in children.get(None, ()):
        stack = [(root, iter(kids(root)))]
        lfts = {root: counter}
        counter += 1
        while stack:
            row_key, it = stack[-1]
            ch = next(it, None)
            if ch is None:
                stack.pop()
                bounds[row_key] = (lfts[row_key], counter)
                counter += 1
            else:
                lfts[ch] = counter
                counter += 1
                stack.append((ch, iter(kids(ch))))
    if len(bounds) != len(collected):
        missing = sorted(
            node_id_of_row[k] for k in
            set(node_id_of_row) - bounds.keys()
            if node_id_of_row[k] is not None)[:5]
        raise ValueError(
            f"add_nested_sets: {len(collected) - len(bounds)} nodes are "
            f"unreachable from any root (parent cycle), e.g. {missing}")

    import pyarrow as pa

    bounds_df = _arrow_frame(nodes.sparkSession, [
        ("__ns_row", pa.int64(), list(bounds)),
        ("lft", pa.int32(), [v[0] for v in bounds.values()]),
        ("rght", pa.int32(), [v[1] for v in bounds.values()])])
    return tagged.join(F.broadcast(bounds_df), "__ns_row", "left") \
                 .drop("__ns_row")


def descendants(nodes_with_sets: DataFrame, ancestor_id,
                id_col: str = "id") -> DataFrame:
    """All nodes in the subtree rooted at ``ancestor_id`` (inclusive) via the
    nested-set range predicate (loaders/nested_set.py:177-185)."""
    anc = nodes_with_sets.where(F.col(id_col) == F.lit(ancestor_id)) \
                         .select(F.col("lft").alias("_alft"),
                                 F.col("rght").alias("_arght"))
    return (nodes_with_sets.crossJoin(F.broadcast(anc))
            .where((F.col("lft") >= F.col("_alft")) & (F.col("rght") <= F.col("_arght")))
            .drop("_alft", "_arght"))


def subtree_join(facts: DataFrame, fact_key: str,
                 nodes_with_sets: DataFrame, node_key: str = "id",
                 ancestor_alias: str = "ancestor_id",
                 leaf_key: str | None = None,
                 lft_col: str = "lft", rght_col: str = "rght",
                 carry: list[str] | None = None) -> DataFrame:
    """Attach EVERY ancestor id to each fact row in one pass: facts equi-join
    their leaf node, then a broadcast *range join* against the (small)
    hierarchy maps each row to all enclosing subtrees.  This replaces the
    reference's per-entity nested-set query loop with a single job; rolling
    up then becomes a plain ``groupBy(ancestor_alias)``.

    ``leaf_key`` lets facts match the hierarchy on an alternate key (the
    reference's ``ref_key`` external id, loaders/nested_set.py:147-185)
    while ancestors are still identified by ``node_key``.

    ``carry`` lists extra ancestor columns (level, name, rank) to attach
    in the SAME range join — callers needing ancestor metadata would
    otherwise re-probe every (already fanned-out) row against the
    hierarchy a third time (guide §2.4; r14: q08's meta re-join dropped).
    """
    from niamoto_spark.functions import hashed_dim_join

    leaf = nodes_with_sets.select(
        F.col(leaf_key or node_key).alias("_leaf_id"),
        F.col(lft_col).alias("_leaf_lft"),
    )
    anc = nodes_with_sets.select(
        F.col(node_key).alias(ancestor_alias),
        *(carry or []),
        F.col(lft_col).alias("_anc_lft"),
        F.col(rght_col).alias("_anc_rght"),
    )
    # the leaf equi-join probes once per FACT row — hashed_dim_join
    # keeps string ref keys on the fast single-long probe path
    tagged = hashed_dim_join(facts, leaf, fact_key, ["_leaf_lft"],
                             dim_key="_leaf_id")
    return (
        tagged
        .join(F.broadcast(anc),
              (F.col("_leaf_lft") >= F.col("_anc_lft"))
              & (F.col("_leaf_lft") <= F.col("_anc_rght")), "inner")
        .drop("_leaf_lft", "_anc_lft", "_anc_rght")
    )


# ---------------------------------------------------------------------------
# Ancestor closure / iterative recursion (adjacency-list strategy)
# ---------------------------------------------------------------------------

def ancestor_closure(nodes: DataFrame, id_col: str = "id",
                     parent_col: str = "parent_id",
                     max_depth: int = 32) -> DataFrame:
    """Transitive closure (node_id, ancestor_id, depth), depth 0 = self.

    Replaces the reference's recursive CTE (adjacency_list.py:184-205) with
    an iterative equi-join to fixpoint, bounded by ``max_depth``.  Fully
    distributed — each iteration is one broadcast-able join of the current
    frontier against the (small) parent map; real taxonomies are 4-6 levels
    deep so the loop runs a handful of times.
    """
    parent_map = nodes.select(
        F.col(id_col).alias("_pm_child"), F.col(parent_col).alias("_pm_parent")
    ).where(F.col(parent_col).isNotNull()).cache()

    closure = nodes.select(
        F.col(id_col).alias("node_id"),
        F.col(id_col).alias("ancestor_id"),
        F.lit(0).alias("depth"),
    )
    frontier = nodes.select(
        F.col(id_col).alias("node_id"),
        F.col(parent_col).alias("ancestor_id"),
        F.lit(1).alias("depth"),
    ).where(F.col(parent_col).isNotNull())

    depth = 1
    cached = []
    while depth <= max_depth:
        frontier = frontier.cache()
        cached.append(frontier)
        if frontier.isEmpty():
            break
        closure = closure.unionByName(frontier)
        depth += 1
        frontier = (
            frontier.join(F.broadcast(parent_map),
                          frontier["ancestor_id"] == F.col("_pm_child"), "inner")
            .select("node_id", F.col("_pm_parent").alias("ancestor_id"),
                    F.lit(depth).alias("depth"))
        )
    # materialize the union before releasing the per-level caches
    closure = closure.localCheckpoint(eager=True)
    for f in cached:
        f.unpersist()
    parent_map.unpersist()
    return closure
