"""Query catalog: every implemented operator exposed as a (spark, sf_dir) ->
DataFrame callable plus a DuckDB oracle SQL string (the driver's correctness
gate, see __spark_entry__.py).

Each query exercises the corresponding library operator from
niamoto_spark.operators — these are not hand-rolled Spark queries; they call
the same functions a user of the engine would.

Determinism rules applied throughout (so the DuckDB value-hash comparison is
stable):
- counts stay integer; every derived double is round()ed (2-4dp);
- top-k always breaks ties on the item/id column;
- LIMIT is only used under a unique ORDER BY key.

The module is its own registry: every top-level function named
``q<N>_<name>`` taking ``(spark, sf_dir)`` is a catalog query (ordered by N),
and the module constant ``O_Q<N>`` (same digits) is its oracle SQL.  Adding a
query means defining those two names, nothing else; a query with no
``O_Q<N>`` is rows-only (see ``build_oracles``).
"""

from __future__ import annotations

import inspect
import os
import re
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from niamoto_spark.operators import aggregation as agg_ops
from niamoto_spark.operators import class_objects as co_ops
from niamoto_spark.operators import dedup as dedup_ops
from niamoto_spark.operators import extraction as ex_ops
from niamoto_spark.operators import loaders as loader_ops
from niamoto_spark.operators import similarity as sim_ops
from niamoto_spark.operators import text as text_ops
from niamoto_spark.operators.ecological import shannon_pielou
from niamoto_spark.operators.geospatial import (fragmentation_analysis,
                                                points_in_polygons)
from niamoto_spark.exporters.dwc import to_dwc_occurrence
from niamoto_spark.hierarchy import add_nested_sets, ancestor_closure, subtree_join
from niamoto_spark.plans.explorer import explore
from niamoto_spark.operators.text import LANG_MARKERS


def _link_parquet_source(src: str, stream_dir: str,
                         name: str = "src") -> None:
    """Expose a parquet source inside a FileStreamSource directory.

    At real scale every table is a DIRECTORY of part files, and the
    file stream source lists plain FILES only — a symlinked directory
    is invisible to it.  Single files symlink as before; directories
    symlink each part file under a stable sorted name (found by
    tools/split_probe.py, the multi-file gate mutation)."""
    # remove stale links first: stream dirs persist in /tmp across
    # runs, and a source-layout change (testdata regenerated with a
    # different part count, or single-file <-> directory) would leave
    # dangling or EXTRA part links — os.path.exists is False on a
    # dangling symlink, so re-linking raised FileExistsError, and a
    # leftover extra part silently double-fed the stream
    for f in os.listdir(stream_dir):
        p = os.path.join(stream_dir, f)
        if (f == f"{name}.parquet" or f.startswith(f"{name}_")) \
                and os.path.islink(p):
            os.remove(p)
    if os.path.isdir(src):
        parts = sorted(f for f in os.listdir(src)
                       if f.endswith(".parquet"))
        for i, f in enumerate(parts):
            os.symlink(os.path.join(src, f),
                       os.path.join(stream_dir,
                                    f"{name}_{i:05d}.parquet"))
    else:
        os.symlink(src, os.path.join(stream_dir, f"{name}.parquet"))


def _src_fingerprint(path: str) -> tuple:
    """(relative path, mtime_ns, size) of the source file / every file
    below it, nested partition directories (``k=v/``) included.

    A memoized table handle pins the file listing Spark resolved at
    first read; if the files under ``path`` are ever rewritten
    mid-session the handle would silently serve the OLD listing.  This
    stat-level fingerprint is recomputed on every ``_t`` hit (µs against
    the ~0.1-0.2s py4j resolve it guards) so a mutated source
    invalidates the handle instead of going stale."""
    try:
        if os.path.isdir(path):
            parts = []
            for root, dirs, files in os.walk(path):
                dirs.sort()
                for f in sorted(files):
                    full = os.path.join(root, f)
                    st = os.stat(full)
                    parts.append((os.path.relpath(full, path),
                                  st.st_mtime_ns, st.st_size))
            return tuple(parts)
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        # missing path: let spark.read.parquet raise its own error
        return ("<unreadable>",)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Per-SESSION table-handle catalog (guide §7.3 driver latency): a
    # fresh `spark.read.parquet` costs ~0.1-0.2s of driver-side py4j +
    # footer/schema resolution PER CALL, and the 369 `_t` call sites
    # re-paid it on every query build — measured ~0.2s of q38's build
    # and ~0.4s of q12's (3 tables).  A real engine resolves a table
    # through its catalog once; this memo holds only the base
    # DataFrame/plan handle — no data, no results: every action still
    # scans the parquet (the bench's clearCache() between queries
    # remains in force).  The handle is guarded by a stat fingerprint
    # of the source files: a caller that rewrites a table mid-session
    # gets a fresh resolve, never the pinned old listing.
    cache = getattr(spark, "_ns_table_handles", None)
    if cache is None:
        cache = {}
        spark._ns_table_handles = cache
    key = (sf_dir, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    fp = _src_fingerprint(path)
    hit = cache.get(key)
    if hit is not None and hit[1] == fp:
        return hit[0]
    df = spark.read.parquet(path)
    # Type-normalization guard (the events.ts lesson: testdata
    # regenerations have changed physical column types between rounds).
    # Date-function consumers (month/year/date_format) need a real
    # temporal type, so a string-shipped order date is coerced here once
    # instead of defensively at 16 call sites.
    if name == "orders" and dict(df.dtypes).get("o_orderdate") == "string":
        df = df.withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    cache[key] = (df, fp)
    return df


def _planted_dup(d: DataFrame, shift: int,
                 id_col: str = "doc_id") -> DataFrame:
    """Planted-duplicate fixture ``d UNION ALL shift_ids(d)`` in ONE pass.

    The naive ``d.unionByName(d.withColumn(id, id + shift))`` plans TWO
    parquet scans and computes every text-derived expression twice —
    Catalyst has no cross-branch CSE over a self-union.  Exploding the
    two ids per source row yields the identical multiset of rows (NULL
    ids produce two NULL-id rows either way, dtypes unchanged) from a
    single scan.  Guide §1.2: fix the algorithm before the config —
    measured plan diff on q23/q38: 2 scans -> 1."""
    other = [c for c in d.columns if c != id_col]
    return d.select(
        F.explode(F.array(F.col(id_col),
                          F.col(id_col) + F.lit(shift))).alias(id_col),
        *other)


# ---------------------------------------------------------------------------
# helpers shared by hierarchy queries: region/nation as a 2-level tree
# ---------------------------------------------------------------------------

def _region_nation_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    r = region.select(
        (F.col("r_regionkey").cast("bigint") + 1000).alias("id"),
        F.lit(None).cast("bigint").alias("parent_id"),
        F.lit(0).alias("level"),
        F.col("r_name").alias("name"))
    n = nation.select(
        F.col("n_nationkey").cast("bigint").alias("id"),
        (F.col("n_regionkey").cast("bigint") + 1000).alias("parent_id"),
        F.lit(1).alias("level"),
        F.col("n_name").alias("name"))
    return r.unionByName(n)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """Flagship: TPC-H Q1-style pricing summary (classic relational surface,
    SURVEY §2.4 aggregations)."""
    li = _t(spark, sf_dir, "lineitem")
    px, d, t = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum(px), 2).alias("sum_base_price"),
        F.round(F.sum(px * (1 - d)), 2).alias("sum_disc_price"),
        F.round(F.sum(px * (1 - d) * (1 + t)), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
        F.round(F.avg(px), 2).alias("avg_price"),
        F.round(F.avg(d), 2).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order")))


O_Q01 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 2) AS avg_qty,
       round(avg(l_extendedprice), 2) AS avg_price,
       round(avg(l_discount), 2) AS avg_disc,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q02_stat_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return agg_ops.statistical_summary(li, ["l_returnflag"], "l_quantity")


O_Q02 = """
SELECT l_returnflag,
       round(min(l_quantity), 2) AS "min",
       round(avg(l_quantity), 2) AS mean,
       round(max(l_quantity), 2) AS "max",
       round(round(median(l_quantity), 4), 2) AS median,
       round(stddev_samp(l_quantity), 2) AS std,
       count(l_quantity) AS "count"
FROM lineitem GROUP BY l_returnflag
"""


_EDGES = [1, 10, 20, 30, 40, 51]


def q03_binned_qty(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return agg_ops.binned_distribution(li, [], "l_quantity", _EDGES)


O_Q03 = """
WITH bins(bin_index, bin_label, lo, hi, is_last) AS (VALUES
  (0, '1-10', 1.0, 10.0, false), (1, '10-20', 10.0, 20.0, false),
  (2, '20-30', 20.0, 30.0, false), (3, '30-40', 30.0, 40.0, false),
  (4, '40-51', 40.0, 51.0, true)),
counts AS (
  SELECT b.bin_index, count(*) AS c
  FROM lineitem l JOIN bins b
    ON l.l_quantity >= b.lo AND (l.l_quantity < b.hi OR (b.is_last AND l.l_quantity <= b.hi))
  GROUP BY b.bin_index)
SELECT b.bin_index, b.bin_label, CAST(coalesce(c.c, 0) AS BIGINT) AS count
FROM bins b LEFT JOIN counts c USING (bin_index)
"""

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q04_categorical_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return agg_ops.categorical_distribution(o, [], "o_orderpriority",
                                            categories=_PRIORITIES,
                                            include_percentages=True)


O_Q04 = """
WITH cats(category) AS (VALUES ('1-URGENT'), ('2-HIGH'), ('3-MEDIUM'),
                               ('4-NOT SPECIFIED'), ('5-LOW')),
counts AS (SELECT o_orderpriority AS category, count(*) AS c FROM orders
           WHERE o_orderpriority IN (SELECT category FROM cats) GROUP BY 1),
tot AS (SELECT sum(c) AS t FROM counts)
SELECT category, CAST(coalesce(c, 0) AS BIGINT) AS count,
       round(coalesce(c, 0) * 100.0 / t, 2) AS pct
FROM cats LEFT JOIN counts USING (category) CROSS JOIN tot
"""


def q05_binary_discount(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem") \
        .withColumn("high_disc", (F.col("l_discount") > 0.05).cast("int"))
    return agg_ops.binary_counter(li, [], "high_disc",
                                  true_label="high", false_label="low")


O_Q05 = """
-- NULL flags belong to NEITHER count (the reference binary_counter
-- dropna()s before counting, binary_counter.py:157)
SELECT CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS true_count,
       CAST(sum(CASE WHEN l_discount <= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS false_count,
       'high' AS true_label, 'low' AS false_label
FROM lineitem
"""


def q06_boolean_flags(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return agg_ops.boolean_comparison(o, [], {
        "high_value": F.col("o_totalprice") > 150000,
        "urgent": F.col("o_orderpriority") == "1-URGENT",
    })


O_Q06 = """
-- NULL flags belong to NEITHER count (dropna semantics, as q05)
SELECT 'high_value' AS category,
       CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS true_count,
       CAST(sum(CASE WHEN o_totalprice <= 150000 THEN 1 ELSE 0 END) AS BIGINT) AS false_count
FROM orders
UNION ALL
SELECT 'urgent',
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
"""


def q07_top_brands(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return agg_ops.top_ranking(joined, [], "p_brand", limit=10)


O_Q07 = """
WITH counts AS (
  -- NULL items are dropped before ranking (reference top_ranking
  -- value_counts() semantics; Spark top_ranking pins the same)
  SELECT p_brand AS item, count(*) AS value
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p_brand IS NOT NULL GROUP BY 1),
ranked AS (
  SELECT item, value,
         CAST(row_number() OVER (ORDER BY value DESC, item ASC) AS INT) AS rank
  FROM counts)
SELECT item, value, rank FROM ranked WHERE rank <= 10
"""


def q08_region_rollup_nested_set(spark, sf_dir):
    """nested_set loader: customer counts rolled up to region subtrees via
    the lft/rght range join (SURVEY §2.2 nested_set)."""
    nodes = add_nested_sets(_region_nation_nodes(spark, sf_dir),
                            "id", "parent_id", order_col="id")
    # Pre-aggregate per nation BELOW the range join (guide §2.3, r15):
    # counts are additive over subtree membership, so the range join
    # fans out 25 count rows instead of every customer row, and the
    # final rollup sums per-leaf counts — identical values (each
    # customer contributes 1 to its nation's enclosing region either
    # way; NULL/unmatched keys drop in the same inner equi-join).
    # carry level+name through the subtree range join itself — the old
    # separate broadcast(meta) join was a third probe pass over the
    # (ancestor-fanned-out) fact rows (guide §2.4; one join removed).
    per_nation = (_t(spark, sf_dir, "customer")
                  .withColumn("node_id", F.col("c_nationkey").cast("bigint"))
                  .groupBy("node_id")
                  .agg(F.count(F.lit(1)).alias("__n")))
    tagged = subtree_join(per_nation, "node_id", nodes, "id", "ancestor_id",
                          carry=["level", "name"])
    return (tagged.where(F.col("level") == 0)
            .withColumnRenamed("name", "r_name")
            .groupBy("r_name").agg(F.sum("__n").alias("n_customers")))


O_Q08 = """
SELECT r_name, count(*) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r_name
"""


def q09_adjacency_rollup(spark, sf_dir):
    """adjacency_list loader: same roll-up through the iterative ancestor
    closure (recursive-CTE replacement, SURVEY §2.2 adjacency_list)."""
    nodes = _region_nation_nodes(spark, sf_dir)
    closure = ancestor_closure(nodes, "id", "parent_id", max_depth=4)
    cust = _t(spark, sf_dir, "customer") \
        .withColumn("node_id", F.col("c_nationkey").cast("bigint"))
    meta = nodes.select(F.col("id").alias("ancestor_id"), "level",
                        F.col("name").alias("node_name"))
    # dim-side pre-join: closure JOIN meta is tiny x tiny; probing the
    # fact table once against the combined frame replaces the old two
    # successive broadcast probes over every fact row (guide §2.4).
    closure_meta = closure.join(meta, "ancestor_id")
    return (cust.join(F.broadcast(closure_meta), "node_id")
            .groupBy("node_name", "level")
            .agg(F.count(F.lit(1)).alias("n_customers")))


O_Q09 = """
SELECT n_name AS node_name, 1 AS level, count(*) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY 1
UNION ALL
SELECT r_name, 0, count(*)
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY 1
"""


def q10_nested_descendants(spark, sf_dir):
    from niamoto_spark.hierarchy import descendants

    nodes = add_nested_sets(_region_nation_nodes(spark, sf_dir),
                            "id", "parent_id", order_col="id")
    ids = [r.id for r in
           nodes.where(F.col("name") == "ASIA").select("id").collect()]
    # no ASIA (its name may be NULL under the probe): empty result,
    # exactly like the oracle's WHERE r_name = 'ASIA'
    asia_id = ids[0] if ids else -1
    return descendants(nodes, asia_id).select("name", "level")


O_Q10 = """
SELECT r_name AS name, 0 AS level FROM region WHERE r_name = 'ASIA'
UNION ALL
SELECT n_name, 1 FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r_name = 'ASIA'
"""


def q11_customer_orders(spark, sf_dir):
    """direct_reference loader inverted, with the aggregate pushed BELOW
    the loader join (guide §2.3 "aggregate before you shuffle" / §3.3):
    orders collapse to one row per o_custkey first, then the loader join
    tags 15k aggregate rows instead of probing 150k fact rows.  Identical
    result because c_custkey is unique in customer (the join neither
    fans out nor regroups) and non-matching/NULL keys drop as whole
    groups either way.  At 100 TB this is the load-bearing shape: when
    the dim side outgrows broadcast, the join shuffles per-key aggregates
    rather than raw facts."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    pre = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
    tagged = loader_ops.direct_reference(pre, "o_custkey", cust, "c_custkey")
    return tagged.select("c_custkey", "n_orders", "total_spent")


O_Q11 = """
SELECT c_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_spent
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY 1
"""


def q12_bridge_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    # carry=n_name rides the loader's group join — the old separate
    # broadcast(nat) re-join was a THIRD probe pass over every fact row
    # for a column the second join already had in hand (guide §2.4;
    # plan diff: 3 BroadcastHashJoin -> 2).
    tagged = loader_ops.join_table(li, "l_suppkey", sup, "s_suppkey",
                                   "s_nationkey", nat, "n_nationkey",
                                   carry=["n_name"])
    return tagged.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
         .alias("revenue"))


O_Q12 = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n_name
"""


def q13_stats_lookup(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    # carry=n_name: same redundant-third-join removal as q12.
    tagged = loader_ops.stats_loader(sup, "s_nationkey", nat, "n_nationkey",
                                     carry=["n_name"])
    named = tagged
    cents = F.col("s_acctbal").cast("decimal(18,2)") * 100
    return (named.groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_suppliers"),
                 F.sum(cents).cast("long").alias("__c"),
                 F.count("s_acctbal").alias("__n"))
            # identical integer half-up formula on both engines: a
            # double-sum average flips its 2dp rounding with summation
            # order on exact-boundary groups
            .select("n_name", "n_suppliers",
                    (F.floor((2 * F.col("__c") + F.col("__n"))
                             / (2 * F.col("__n"))).cast("long")
                     / F.lit(100.0)).alias("avg_acctbal")))


O_Q13 = """
SELECT n_name, count(*) AS n_suppliers,
       CAST(floor((2 * CAST(sum(CAST(s_acctbal AS DECIMAL(18,2)) * 100)
                            AS BIGINT) + count(s_acctbal))
                  / (2 * count(s_acctbal))) AS BIGINT) / 100.0
         AS avg_acctbal
FROM supplier s JOIN nation n ON trim(CAST(s_nationkey AS VARCHAR)) = trim(CAST(n_nationkey AS VARCHAR))
GROUP BY n_name
"""


def q14_multi_column(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return ex_ops.multi_column_extractor(
        part, [], ["p_size", "p_retailprice"],
        derived={"margin": "p_retailprice - p_size"}, agg="sum")


O_Q14 = """
WITH w AS (SELECT round(CAST(sum(p_size) AS DOUBLE), 2) AS p_size,
                  round(sum(p_retailprice), 2) AS p_retailprice
           FROM part)
SELECT 'p_size' AS category, p_size AS value FROM w
UNION ALL SELECT 'p_retailprice', p_retailprice FROM w
UNION ALL SELECT 'margin', round(p_retailprice - p_size, 2) FROM w
"""


def q15_field_aggregator(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return agg_ops.field_aggregator(
        {"orders": orders, "customer": cust},
        [
            {"source": "orders", "field": "o_orderkey", "target": "n_orders",
             "transformation": "count"},
            {"source": "orders", "field": "o_totalprice", "target": "revenue_total",
             "transformation": "sum"},
            {"source": "customer", "field": "c_acctbal", "target": "acct_mean",
             "transformation": "mean"},
            {"source": "customer", "field": "c_acctbal", "target": "acct_min",
             "transformation": "min"},
            {"source": "customer", "field": "c_acctbal", "target": "acct_max",
             "transformation": "max"},
            {"source": "customer", "field": "c_acctbal", "target": "acct_std",
             "transformation": "std"},
        ])


O_Q15 = """
SELECT (SELECT count(o_orderkey) FROM orders) AS n_orders,
       (SELECT round(sum(o_totalprice), 2) FROM orders) AS revenue_total,
       (SELECT round(avg(c_acctbal), 2) FROM customer) AS acct_mean,
       (SELECT round(min(c_acctbal), 2) FROM customer) AS acct_min,
       (SELECT round(max(c_acctbal), 2) FROM customer) AS acct_max,
       (SELECT round(stddev_samp(c_acctbal), 2) FROM customer) AS acct_std
"""


def q16_time_series(spark, sf_dir):
    o = _t(spark, sf_dir, "orders") \
        .withColumn("month", F.month("o_orderdate"))
    return agg_ops.time_series_analysis(
        o, [], "month", {"hv": F.col("o_totalprice") > 100000})


O_Q16 = """
WITH m AS (SELECT CAST(unnest(range(1, 13)) AS INT) AS month),
a AS (SELECT CAST(month(o_orderdate) AS INT) AS month,
             round(avg(CASE WHEN o_totalprice > 100000 THEN 1.0 ELSE 0.0 END) * 100.0, 2) AS hv_pct
      FROM orders GROUP BY 1)
SELECT m.month, coalesce(a.hv_pct, 0.0) AS hv_pct FROM m LEFT JOIN a USING (month)
"""


def _lineitem_eav(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(F.lit("qty_by_flag").alias("class_object"),
                     F.col("l_returnflag").alias("class_name"),
                     F.col("l_quantity").alias("class_value"))


def q17_class_series(spark, sf_dir):
    return co_ops.series_extractor(_lineitem_eav(spark, sf_dir), [], "qty_by_flag")


O_Q17 = """
SELECT l_returnflag AS class_name, sum(l_quantity) AS class_value
FROM lineitem GROUP BY 1
"""


def q18_class_ratio(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sub = li.where(F.col("l_returnflag") == "R").select(
        F.lit("returned_qty").alias("class_object"),
        F.col("l_linestatus").alias("class_name"),
        F.col("l_quantity").alias("class_value"))
    tot = li.select(F.lit("total_qty").alias("class_object"),
                    F.col("l_linestatus").alias("class_name"),
                    F.col("l_quantity").alias("class_value"))
    return co_ops.series_ratio_aggregator(sub.unionByName(tot), [],
                                          "returned_qty", "total_qty")


O_Q18 = """
WITH t AS (SELECT l_linestatus AS class_name, sum(l_quantity) AS tot,
                  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS sub
           FROM lineitem GROUP BY 1)
SELECT class_name, round(CASE WHEN tot <> 0 THEN sub / tot END, 4) AS ratio FROM t
"""


def q19_shannon_brands(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    counts = part.groupBy("p_type", "p_brand").agg(F.count(F.lit(1)).alias("count"))
    return shannon_pielou(counts, ["p_type"])


O_Q19 = """
WITH c AS (SELECT p_type, p_brand, count(*) AS n FROM part GROUP BY 1, 2),
a AS (SELECT p_type,
             count(*) AS classes_count,
             CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS non_zero_classes,
             sum(CASE WHEN n > 0 THEN CAST(n AS DOUBLE) END) AS t,
             sum(CASE WHEN n > 0 THEN n * log2(CAST(n AS DOUBLE)) END) AS s
      FROM c GROUP BY 1),
b AS (SELECT p_type,
             round(CASE WHEN t > 0 THEN log2(t) - s / t ELSE 0.0 END, 4) AS shannon,
             CASE WHEN non_zero_classes > 0
                  THEN round(log2(CAST(non_zero_classes AS DOUBLE)), 4) ELSE 0.0 END AS max_entropy,
             classes_count, non_zero_classes
      FROM a)
SELECT p_type, shannon, max_entropy, classes_count, non_zero_classes,
       CASE WHEN max_entropy > 0 THEN round(shannon / max_entropy, 4) ELSE 0.0 END AS pielou
FROM b
"""


def q20_scatter(spark, sf_dir):
    # (l_orderkey, l_linenumber) is NOT unique in the gate data, so the
    # cap's order key needs (x, y) tiebreaks — remaining ties are then
    # identical points, interchangeable at the LIMIT boundary (found by
    # tools/order_probe.py at sf0.1); addressable rows only, matching
    # the doctrine for ranked populations
    li = (_t(spark, sf_dir, "lineitem")
          .where(F.col("l_orderkey").isNotNull()
                 & F.col("l_linenumber").isNotNull())
          .withColumn("__ord", F.struct(
              (F.col("l_orderkey") * 8 + F.col("l_linenumber"))
              .alias("o"),
              F.col("l_quantity").cast("double").alias("tx"),
              F.col("l_extendedprice").cast("double").alias("ty"))))
    return ex_ops.scatter_analysis(li, "l_quantity", "l_extendedprice",
                                   max_points=100, order_col="__ord")


O_Q20 = """
SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
  AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
ORDER BY l_orderkey * 8 + l_linenumber, l_quantity, l_extendedprice
LIMIT 100
"""


def q21_explorer(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    return explore(cust, "c_acctbal > 9000 AND c_mktsegment = 'BUILDING'",
                   order_by="c_custkey", limit=50)


O_Q21 = """
-- explorer contract: ordered pages rank only rows WITH the order key
SELECT * FROM customer
WHERE c_acctbal > 9000 AND c_mktsegment = 'BUILDING'
  AND c_custkey IS NOT NULL
ORDER BY c_custkey LIMIT 50
"""


def q22_dwc_projection(spark, sf_dir):
    # the id-source must exist: without a taxon key the generator's
    # fallback (monotonically_increasing_id) is partition-dependent and
    # no SQL oracle could replay it — the gate exercises the
    # deterministic path; the fallback is unit-tested (test_dwc_dsl)
    li = (_t(spark, sf_dir, "lineitem")
          .withColumn("__uid",
                      F.col("l_orderkey") * 8 + F.col("l_linenumber"))
          .where(F.col("__uid").isNotNull()))
    return to_dwc_occurrence(li, {
        "occurrenceID": {"generator": "unique_occurrence_id",
                         "params": {"prefix": "occ_", "source_field": "__uid"}},
        "catalogNumber": "@source.l_partkey",
        "individualCount": "@source.l_quantity",
        "basisOfRecord": "HumanObservation",
    })


O_Q22 = """
SELECT 'occ_' || CAST(l_orderkey * 8 + l_linenumber AS VARCHAR) AS occurrenceID,
       l_partkey AS catalogNumber, l_quantity AS individualCount,
       'HumanObservation' AS basisOfRecord
FROM lineitem
WHERE l_orderkey * 8 + l_linenumber IS NOT NULL
"""


def q23_dedup_exact(spark, sf_dir):
    # content_key is computed BEFORE the planted-dup explode: the two
    # logical copies share one md5 of the (identical) text, so the scan
    # runs once and the normalize+hash work halves (guide §1.2/§2.3;
    # plan diff: 2 scans + 2x md5 -> 1 scan + 1x md5).
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", dedup_ops.content_key("text").alias("__ck"))
    d2 = _planted_dup(d, 1000000)
    return dedup_ops.dedup_exact(d2, "doc_id", "__ck", key_col="__ck")


O_Q23 = r"""
WITH d2 AS (SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 1000000, text FROM documents)
SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
       min(doc_id) AS keep_id, count(*) AS n_docs
FROM d2 GROUP BY 1
"""


def q24_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text_ops.token_stats(d, ["lang"], "text")


O_Q24 = r"""
WITH t AS (SELECT lang, length(text) AS n_chars,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks
           FROM documents)
SELECT lang, count(*) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       round(avg(CAST(toks AS DOUBLE)), 2) AS avg_tokens,
       round(avg(CAST(n_chars AS DOUBLE)), 2) AS avg_chars
FROM t GROUP BY lang
"""


def q25_lang_confusion(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pred = text_ops.lang_id(d, "text")
    return pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))


def _o_q25() -> str:
    langs = sorted(LANG_MARKERS)
    hit_exprs = []
    for lang in langs:
        parts = [
            r"(len(regexp_split_to_array(' ' || lower(text) || ' ', '\b%s\b')) - 1)" % w
            for w in LANG_MARKERS[lang]]
        hit_exprs.append(f"({' + '.join(parts)}) AS hits_{lang}")
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN best > 0 AND hits_{lang} = best THEN '{lang}'" for lang in langs
    ) + " ELSE 'und' END"
    return f"""
WITH h AS (SELECT lang, {', '.join(hit_exprs)} FROM documents),
b AS (SELECT lang, {best} AS best, {', '.join('hits_' + lang for lang in langs)} FROM h),
p AS (SELECT lang, {case} AS lang_pred FROM b)
SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2
"""


O_Q25 = _o_q25()


def q26_quality_by_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    q = text_ops.text_quality(d, "text")
    return q.groupBy("source").agg(
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        F.round(F.avg("alpha_ratio"), 4).alias("avg_alpha"),
        F.round(F.avg("punct_ratio"), 4).alias("avg_punct"))


O_Q26 = r"""
WITH q AS (
  SELECT source,
         length(text) AS n_chars,
         CAST(greatest(length(text), 1) AS DOUBLE) AS nz,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
         length(text) - length(regexp_replace(text, '[\.,;:!\?''"()\[\]-]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '\s', '', 'g')) AS n_space,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks
  FROM documents),
s AS (
  SELECT source,
         round(n_alpha / nz, 4) AS alpha_ratio,
         round(n_punct / nz, 4) AS punct_ratio,
         CASE WHEN toks > 0 THEN (n_chars - n_space) / CAST(toks AS DOUBLE) ELSE 0.0 END AS mtl,
         n_chars, n_alpha, n_punct, nz, toks
  FROM q),
sc AS (
  SELECT source, alpha_ratio, punct_ratio,
         round(CASE WHEN n_chars = 0 THEN 0.0 ELSE
               (CASE WHEN toks >= 5 AND toks <= 100000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN n_alpha / nz >= 0.6 THEN 0.3 ELSE 0.0 END)
             + (CASE WHEN n_punct / nz <= 0.1 THEN 0.15 ELSE 0.0 END)
             + (CASE WHEN mtl >= 2.0 AND mtl <= 12.0 THEN 0.15 ELSE 0.0 END) END, 4) AS quality_score
  FROM s)
SELECT source, round(avg(quality_score), 4) AS avg_quality,
       round(avg(alpha_ratio), 4) AS avg_alpha,
       round(avg(punct_ratio), 4) AS avg_punct
FROM sc GROUP BY source
"""


def q27_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    fp = text_ops.doc_fingerprint(d, "text")
    return fp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_unique"))


O_Q27 = r"""
SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS n_unique
FROM documents GROUP BY source
"""


def q28_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    return sim_ops.cosine_topk(emb, queries, "vec_id", "embedding",
                               k=5, round_dp=4)


O_Q28 = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings
           WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4)
               AS similarity
      FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY similarity DESC, neighbor_id ASC) AS INT) AS rank
      FROM p)
SELECT query_id, neighbor_id, similarity, rank FROM r WHERE rank <= 5
"""


def q29_embedding_near_dup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.embedding_near_dup(emb, "vec_id", "embedding",
                                      threshold=0.42, round_dp=4)


O_Q29 = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings
           WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
         AS similarity
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.42
"""


def _events(spark, sf_dir):
    """events.ts has shipped in two physical shapes across testdata
    generations: parquet TIMESTAMP(NANOS) (Spark rejects it by default;
    with the nanosAsLong legacy flag it reads as a nanos long) and plain
    timestamp[us] (Spark reads TIMESTAMP_NTZ).  Normalize both to
    epoch-micros / epoch-seconds longs so every downstream query is
    independent of the physical type.  Session timezone is pinned to UTC
    so NTZ wall-clock values map to the same instants DuckDB's epoch()
    produces on naive timestamps."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type.startswith("timestamp"):
        us = F.unix_micros(F.col("ts").cast("timestamp"))
    else:  # nanos long
        us = F.floor(F.col("ts") / F.lit(1000)).cast("long")
    return (ev.withColumn("ts_us", us)
              .withColumn("ts_sec",
                          F.floor(F.col("ts_us") / F.lit(1_000_000)).cast("long")))


def _ts_to_timestamp(df):
    """Streaming counterpart of _events' normalization: coerce the events
    ts column to a true TIMESTAMP whether the parquet shipped nanos longs
    or timestamp[us] (read as TIMESTAMP_NTZ).

    Rows without a timestamp are DROPPED: every consumer is an
    event-time operator (watermarked windows, stream joins,
    sessionization), and Spark would otherwise pass them through in a
    NULL window that no oracle can mirror — the pinned semantic is
    'event-time operators are defined over timestamped events' (q31)."""
    ts_type = dict(df.dtypes)["ts"]
    if ts_type.startswith("timestamp"):
        out = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        out = df.withColumn("ts", F.timestamp_micros(
            (F.col("ts") / 1000).cast("long")))
    return out.where(F.col("ts").isNotNull())


def q30_events_hourly(spark, sf_dir):
    # Group on the LONG hour bucket and format AFTER aggregation: the
    # old plan formatted a 16-char datetime string per ROW and used it
    # as the group/shuffle key (string hashing + 2x key bytes); the
    # bucket<->string mapping is bijective in a fixed zone, so groups —
    # and the formatted output — are identical while the per-row work
    # drops to a floor-div and the formatter runs once per GROUP
    # (guide §2.3: narrower keys, project late).
    ev = _events(spark, sf_dir)
    bucket = F.floor(F.col("ts_sec") / F.lit(3600)).cast("long")
    return (ev.groupBy(bucket.alias("__hb"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("value_sum"))
            .select(F.from_unixtime(F.col("__hb") * 3600,
                                    "yyyy-MM-dd HH:00").alias("hour"),
                    "event_type", "n_events", "value_sum"))


O_Q30 = """
SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour, event_type,
       count(*) AS n_events, round(sum(value), 2) AS value_sum
FROM events GROUP BY 1, 2
"""


def q31_sessions(spark, sf_dir):
    from pyspark.sql import Window

    # Narrow the one window shuffle (guide §2.3: project before the
    # exchange, narrower keys): order by ts_us — the micros long _events
    # already derives, a monotone function of ts — instead of the raw
    # timestamp, and derive ts_sec AFTER the window from ts_us/lag(ts_us)
    # instead of carrying it.  The exchange shrinks from
    # (event_id, ts, user_id, ts_sec) = 4 cols to (event_id, user_id,
    # ts_us) = 3.  Events inside one shared microsecond may permute under
    # the (ts_us, event_id) order, but they share one ts_sec, so every
    # adjacent second-difference — and the session count — is unchanged.
    ev = _events(spark, sf_dir).where(F.col("ts_us").isNotNull()) \
        .select("user_id", "event_id", "ts_us")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev_us = F.lag("ts_us").over(w)
    sec = F.floor(F.col("ts_us") / F.lit(1_000_000))
    prev_sec = F.floor(prev_us / F.lit(1_000_000))
    new_session = F.when(prev_us.isNull() | ((sec - prev_sec) > 1800), 1).otherwise(0)
    return (ev.withColumn("__new", new_session)
            .groupBy("user_id").agg(F.sum("__new").alias("n_sessions")))


O_Q31 = """
WITH s AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         lag(CAST(floor(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE ts IS NOT NULL)
SELECT user_id,
       CAST(sum(CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sessions
FROM s GROUP BY user_id
"""


def _synthetic_shapes(spark):
    rows = [
        ("rect1", "POLYGON ((165.005 -22.505, 166.005 -22.505, 166.005 -21.505, "
                  "165.005 -21.505, 165.005 -22.505))"),
        ("rect2", "POLYGON ((166.505 -21.505, 167.505 -21.505, 167.505 -20.505, "
                  "166.505 -20.505, 166.505 -21.505))"),
        ("tri", "POLYGON ((164.205 -22.805, 165.205 -22.805, 164.705 -21.805, "
                "164.205 -22.805))"),
    ]
    return spark.createDataFrame(rows, "shape_id string, location string")


def q32_points_in_polygons(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(F.lit("POINT ("),
                 (F.lit(164.0) + (F.col("c_custkey") % 400) / 100.0).cast("string"),
                 F.lit(" "),
                 (F.lit(-23.0) + (F.col("c_custkey") % 300) / 100.0).cast("string"),
                 F.lit(")")).alias("geo_pt"))
    shapes = _synthetic_shapes(spark)
    hit = points_in_polygons(cust, "geo_pt", shapes, "shape_id", "location")
    return hit.select("c_custkey", "shape_id")


O_Q32 = """
WITH pts AS (SELECT c_custkey,
                    164.0 + (CAST(c_custkey AS BIGINT) % 400) / 100.0 AS lon,
                    -23.0 + (CAST(c_custkey AS BIGINT) % 300) / 100.0 AS lat
             FROM customer)
SELECT c_custkey, 'rect1' AS shape_id FROM pts
WHERE lon > 165.005 AND lon < 166.005 AND lat > -22.505 AND lat < -21.505
UNION ALL
SELECT c_custkey, 'rect2' FROM pts
WHERE lon > 166.505 AND lon < 167.505 AND lat > -21.505 AND lat < -20.505
UNION ALL
SELECT c_custkey, 'tri' FROM pts
WHERE lat > -22.805 AND lat < -21.805
  AND lon > 164.205 + (lat + 22.805) * 0.5
  AND lon < 165.205 - (lat + 22.805) * 0.5
"""


def q33_fragmentation(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    patches = part.select("p_brand", F.col("p_retailprice").alias("area_m2"))
    return fragmentation_analysis(patches, ["p_brand"])


O_Q33 = """
SELECT p_brand, count(*) AS patch_count,
       round(sum(p_retailprice), 2) AS total_area,
       round(sum(p_retailprice * p_retailprice) / sum(p_retailprice), 2) AS meff,
       round(max(p_retailprice) * 100.0 / sum(p_retailprice), 2) AS largest_patch_index,
       round(count(*) / sum(p_retailprice), 8) AS patch_density
FROM part GROUP BY p_brand
"""


def q34_geo_extract(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("POINT ("),
                 (F.lit(164) + F.col("c_nationkey") % 5).cast("string"),
                 F.lit(" "),
                 (F.lit(-23) + F.col("c_nationkey") % 3).cast("string"),
                 F.lit(")")).alias("geo_pt"))
    return ex_ops.geospatial_extractor(cust, [], "geo_pt",
                                       group_by_coordinates=True)


O_Q34 = """
-- a NULL nationkey renders no WKT point (the extractor parses and
-- drops NULL geometries)
SELECT 'POINT (' || CAST(164 + CAST(c_nationkey AS BIGINT) % 5 AS VARCHAR) || ' '
       || CAST(-23 + CAST(c_nationkey AS BIGINT) % 3 AS VARCHAR) || ')' AS geometry_wkt,
       count(*) AS point_count
FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 1
"""


def q35_direct_attribute(spark, sf_dir):
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    joined = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    return ex_ops.direct_attribute(joined, ["n_name"], "r_name")


O_Q35 = """
SELECT n_name, min(r_name) AS value
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY n_name
"""


def q36_class_categories(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    eav = (o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("__n"))
           .select(F.lit("status_count").alias("class_object"),
                   F.col("o_orderstatus").alias("class_name"),
                   F.col("__n").cast("double").alias("class_value")))
    return co_ops.categories_extractor(eav, [], "status_count", ["F", "O", "P"])


O_Q36 = """
WITH cats(class_name) AS (VALUES ('F'), ('O'), ('P')),
v AS (SELECT o_orderstatus AS class_name, CAST(count(*) AS DOUBLE) AS class_value
      FROM orders GROUP BY 1)
SELECT class_name, coalesce(class_value, 0.0) AS class_value
FROM cats LEFT JOIN v USING (class_name)
"""


def q37_class_binary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    eav = (li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("__q"))
           .select(F.lit("return_share").alias("class_object"),
                   F.col("l_returnflag").alias("class_name"),
                   F.col("__q").alias("class_value")))
    return co_ops.binary_aggregator(
        eav, [], "return_share",
        class_mapping={"R": "returned", "N": "not_returned", "A": "accepted"})


O_Q37 = """
WITH v AS (SELECT l_returnflag AS cn, sum(l_quantity) AS cv FROM lineitem GROUP BY 1),
t AS (SELECT sum(cv) AS tot FROM v)
SELECT coalesce(CASE cn WHEN 'R' THEN 'returned'
                        WHEN 'N' THEN 'not_returned'
                        WHEN 'A' THEN 'accepted' END, cn) AS label,
       round(cv * 100.0 / tot, 2) AS share
FROM v CROSS JOIN t
"""


def q63_curation_pipeline(spark, sf_dir):
    """End-to-end corpus curation: quality -> exact dedup -> minhash near-dup
    (cluster-exact) -> scrub -> pack, returning the per-stage retention
    record (rows-only: the near-dup stage is Spark-hash-seeded)."""
    from niamoto_spark.operators.curation import CurationConfig, curate_corpus

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d2 = _planted_dup(d, 1000000)
    _, stats = curate_corpus(
        d2, "doc_id", "text",
        CurationConfig(min_quality=0.3, near_dup_threshold=0.5, seq_len=512,
                       minhash_num_hashes=32, minhash_bands=8))
    return stats


def q64_stream_sessions(spark, sf_dir):
    """Stateful-streaming sessionization over the events table.

    FULL value oracle (upgraded from rows-only, VERDICT r8 next-#6):
    a single-file availableNow drain is one batch, so the emitted set
    is exactly the batch gaps-and-islands sessions MINUS each user's
    final (still-open) session — SQL-expressible, and deterministic
    because in-batch closes depend only on sorted event seconds
    (streaming/sessions.py _close_sessions), not on watermark timing."""
    import tempfile

    from niamoto_spark.streaming.sessions import sessionize_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")
    stream_dir = os.path.join(tempfile.gettempdir(),
                              "niamoto_sess_" + sf_dir.strip("/").replace("/", "_"))
    os.makedirs(stream_dir, exist_ok=True)
    _link_parquet_source(src, stream_dir, "events")
    schema = spark.read.parquet(src).schema
    stream = _ts_to_timestamp(spark.readStream.schema(schema).parquet(stream_dir))
    agg = sessionize_stream(stream, gap_s=1800)
    qname = "q64_sessions"
    q = (agg.writeStream.format("memory").queryName(qname)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(qname)
            .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_closed_sessions"),
                                    F.sum("n_events").alias("events_in_closed")))


O_Q64 = """
WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events WHERE ts IS NOT NULL
), o AS (
  SELECT user_id, sec,
         CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id
                                        ORDER BY sec, event_id) > 1800
              THEN 1 ELSE 0 END AS brk
  FROM e
), s AS (
  SELECT user_id, sec,
         sum(brk) OVER (PARTITION BY user_id ORDER BY sec, brk DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess
  FROM o
), agg AS (
  SELECT user_id, sess, count(*) AS n_events
  FROM s GROUP BY user_id, sess
), mx AS (
  SELECT user_id, max(sess) AS last_sess FROM agg GROUP BY user_id
)
SELECT agg.user_id,
       CAST(count(*) AS BIGINT) AS n_closed_sessions,
       CAST(sum(agg.n_events) AS BIGINT) AS events_in_closed
FROM agg JOIN mx ON agg.user_id IS NOT DISTINCT FROM mx.user_id
                AND agg.sess < mx.last_sess
GROUP BY agg.user_id
"""


# --- rows-only checks (non-SQL-expressible: hash-function dependent) --------

def q38_minhash_candidates(spark, sf_dir):
    """Rows-only (hash-seeded).  A shifted duplicate slice plants
    guaranteed near-dup pairs so the check is meaningful at EVERY SF —
    at sf0.1 the synthetic docs are long enough that no natural pair
    clears even a 0.1 Jaccard, which made this query return 0 rows."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200) \
        .select("doc_id", "text")
    # Signatures hoisted BELOW the planted-id explode: both planted
    # copies share one text, so shingle+hash+fold runs once per source
    # doc, not per copy (guide §1.2) — bit-identical sigs, identical
    # candidate pairs (test_sig_hoist_below_explode_identical).
    sigs = dedup_ops.minhash_signatures(d, "doc_id", "text",
                                        num_hashes=32, shingle_k=3)
    planted = _planted_dup(sigs, 100_000)
    return dedup_ops.minhash_lsh_candidates(planted, "doc_id", None,
                                            num_hashes=32, bands=8,
                                            jaccard_threshold=0.1,
                                            sig_col="sig")


def q39_simhash_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return dedup_ops.simhash_near_pairs(d, "doc_id", "text", max_hamming=3)


def q40_ngram_jaccard(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return dedup_ops.ngram_jaccard_pairs(d, "doc_id", "text", n=1,
                                         threshold=0.5, block_col="source")


O_Q40 = r"""
WITH g AS (SELECT doc_id, source,
                  list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
           FROM documents WHERE doc_id < 200),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.toks, b.toks)) AS inter,
             len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS uni
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id)
SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
FROM p WHERE uni > 0 AND round(CAST(inter AS DOUBLE) / uni, 4) >= 0.5
"""


def q41_ivf_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    return sim_ops.ivf_topk(emb, queries, "vec_id", "embedding",
                            k=5, n_centroids=8, nprobe=3, round_dp=4)


def q42_json_extraction(spark, sf_dir):
    """JSON dot-notation access (SURVEY §2.4 scalar functions): extract a
    key from the events props payload, aggregate per event type."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (ev.groupBy("event_type")
            .agg(F.round(F.avg(k), 2).alias("avg_k"),
                 F.max(k).alias("max_k"),
                 F.count(k).alias("n_with_k")))


O_Q42 = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 2) AS avg_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k,
       count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k
FROM events GROUP BY event_type
"""


def q43_top_ranking_join(spark, sf_dir):
    """top_ranking(agg="sum", name_join=...): top-5 nations by lineitem
    revenue through the supplier bridge, with name enrichment (the
    reference's join mode, top_ranking.py:434-565)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    joined = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
                .withColumn("rev", F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    return agg_ops.top_ranking(joined, [], "s_nationkey", limit=5,
                               agg="sum", value_field="rev",
                               name_join=(nat, "n_nationkey", "n_name")) \
        .withColumn("value", F.round("value", 2))


O_Q43 = """
WITH counts AS (
  -- item is the raw nationkey when the dim has no (non-NULL) name —
  -- Spark's name_join is a LEFT join with coalesce(name, key); NULL
  -- keys are dropped before ranking (top_ranking semantics)
  SELECT coalesce(n_name, CAST(s.s_nationkey AS VARCHAR)) AS item,
         sum(l_extendedprice * (1 - l_discount)) AS v
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE s.s_nationkey IS NOT NULL
  GROUP BY 1),
ranked AS (
  SELECT item, v,
         CAST(row_number() OVER (ORDER BY v DESC, item ASC) AS INT) AS rank
  FROM counts)
SELECT item, round(v, 2) AS value, rank FROM ranked WHERE rank <= 5
"""


def q44_hierarchical_top(spark, sf_dir):
    """hierarchical_top_ranking: roll customers up to region rank via the
    nested-set subtree join (the reference's hierarchical top_ranking
    mode, top_ranking.py:383-432)."""
    nodes = add_nested_sets(_region_nation_nodes(spark, sf_dir),
                            "id", "parent_id", order_col="id") \
        .withColumn("rank_name",
                    F.when(F.col("level") == 0, "region").otherwise("nation")) \
        .withColumn("rank_value", F.col("name"))
    cust = _t(spark, sf_dir, "customer") \
        .withColumn("node_id", F.col("c_nationkey").cast("bigint"))
    from niamoto_spark.operators.loaders import hierarchical_top_ranking

    return hierarchical_top_ranking(cust, "node_id", nodes, target_level=0,
                                    limit=3)


O_Q44 = """
WITH counts AS (
  -- NULL region names drop before ranking (top_ranking semantics)
  SELECT r_name AS item, count(*) AS value
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r_name IS NOT NULL
  GROUP BY 1),
ranked AS (
  SELECT item, value,
         CAST(row_number() OVER (ORDER BY value DESC, item ASC) AS INT) AS rank
  FROM counts)
SELECT item, value, rank FROM ranked WHERE rank <= 3
"""


def q45_hierarchy_derivation(spark, sf_dir):
    """Derived-reference import (SURVEY §1.4): derive a 2-level hierarchy
    from part's brand/type columns; emit node counts per level."""
    from niamoto_spark.hierarchy import derive_hierarchy

    part = _t(spark, sf_dir, "part")
    h = derive_hierarchy(part, ["p_brand", "p_type"])
    return h.groupBy("level").agg(F.count(F.lit(1)).alias("n_nodes"))


O_Q45 = """
SELECT 0 AS level, count(DISTINCT p_brand) AS n_nodes FROM part
WHERE p_brand IS NOT NULL
UNION ALL
SELECT 1, count(DISTINCT p_brand || '|' || p_type) FROM part
WHERE p_brand IS NOT NULL AND p_type IS NOT NULL
"""


def q46_database_aggregator(spark, sf_dir):
    """database_aggregator escape hatch: named SELECT-only queries through
    spark.sql + a safe-eval computed field, assembled to one row."""
    from niamoto_spark.operators.sql_aggregator import database_aggregator

    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    res = database_aggregator(
        spark,
        queries={
            "order_count": {"sql": "SELECT count(*) FROM v_orders",
                            "format": "scalar"},
            "revenue": {"template": "sum_of", "format": "scalar",
                        "params": {"col": "o_totalprice", "tbl": "v_orders"}},
        },
        templates={"sum_of": "SELECT round(sum({col}), 2) FROM {tbl}"},
        computed_fields={"avg_order_value":
                         "round(revenue / order_count, 2)"},
    )
    return spark.createDataFrame(
        [(int(res["order_count"]), float(res["revenue"]),
          float(res["avg_order_value"]))],
        "order_count bigint, revenue double, avg_order_value double")


O_Q46 = """
WITH s AS (SELECT count(*) AS order_count,
                  round(sum(o_totalprice), 2) AS revenue
           FROM orders)
SELECT order_count, revenue, round(revenue / order_count, 2) AS avg_order_value
FROM s
"""


def q47_enrichment_profile(spark, sf_dir):
    """reference_enrichment_profile: JSON payload -> typed display items."""
    from niamoto_spark.operators.enrichment import reference_enrichment_profile

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 100)
    prof = reference_enrichment_profile(ev, "props", {"k": "k"},
                                        {"k": "number"})
    return prof.select(
        "event_id",
        F.col("profile")[0]["value"].alias("k_value"),
        F.col("profile")[0]["type"].alias("k_type"))


O_Q47 = """
SELECT event_id, json_extract_string(props, '$.k') AS k_value,
       'number' AS k_type
FROM events WHERE event_id < 100
"""


def q48_anti_join(spark, sf_dir):
    """NOT EXISTS via left_anti (classic relational surface, SURVEY §2.4):
    per nation, customers with no high-value order."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    hv = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 250000) \
        .select(F.col("o_custkey").alias("c_custkey"))
    lonely = cust.join(hv, "c_custkey", "left_anti")
    return (lonely.join(F.broadcast(nat), lonely.c_nationkey == nat.n_nationkey)
            .groupBy("n_name").agg(F.count(F.lit(1)).alias("n_without_hv")))


O_Q48 = """
SELECT n_name, count(*) AS n_without_hv
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
GROUP BY n_name
"""


def q49_semi_join(spark, sf_dir):
    """EXISTS via left_semi: per-nation count of customers having at least
    one high-value order."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    hv = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 150000) \
        .select(F.col("o_custkey").alias("c_custkey"))
    active = cust.join(hv, "c_custkey", "left_semi")
    return (active.join(F.broadcast(nat),
                        active.c_nationkey == nat.n_nationkey)
            .groupBy("n_name").agg(F.count(F.lit(1)).alias("n_customers")))


O_Q49 = """
SELECT n_name, count(*) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
GROUP BY n_name
"""


def q50_rollup(spark, sf_dir):
    """ROLLUP grouping sets over the region->nation hierarchy (SURVEY §2.4
    notes the reference lacks grouping sets; Spark provides them natively)."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    joined = (cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
                  .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey))
    return (joined.rollup("r_name", "n_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.round(F.sum("c_acctbal"), 2).alias("acctbal_sum")))


O_Q50 = """
SELECT r_name, n_name, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS acctbal_sum
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q51_quantiles(spark, sf_dir):
    """Exact interpolated quantile family per group (parity-critical: exact
    percentile, not approx — SURVEY §7.3.2)."""
    li = _t(spark, sf_dir, "lineitem")
    # quantiles are defined over DOUBLE: a DECIMAL input (dtype probe)
    # would interpolate exactly where the oracle interpolates in binary
    q = F.col("l_extendedprice").cast("double")

    # Interpolated quantiles of 2dp data land EXACTLY on .xx5 midpoints;
    # the engines differ by 1 ULP there, so a single round(2) can flip.
    # Double rounding (4dp then 2dp) collapses both to the same double
    # first — mirrored in the oracle SQL.
    def r2(c):
        return F.round(F.round(c, 4), 2)

    return li.groupBy("l_returnflag").agg(
        r2(F.percentile(q, 0.25)).alias("p25"),
        r2(F.percentile(q, 0.5)).alias("p50"),
        r2(F.percentile(q, 0.75)).alias("p75"),
        r2(F.percentile(q, 0.9)).alias("p90"))


O_Q51 = """
SELECT l_returnflag,
       round(round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 4), 2) AS p25,
       round(round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4), 2) AS p50,
       round(round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75), 4), 2) AS p75,
       round(round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4), 2) AS p90
FROM lineitem GROUP BY l_returnflag
"""


def q52_running_total(spark, sf_dir):
    """Window running aggregate: cumulative monthly revenue per order
    priority (the Window surface, SURVEY §2.4)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    monthly = (o.groupBy("o_orderpriority",
                         F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
               .agg(F.round(F.sum("o_totalprice"), 2).alias("rev")))
    w = Window.partitionBy("o_orderpriority").orderBy("ym") \
              .rowsBetween(Window.unboundedPreceding, 0)
    return monthly.withColumn("cum_rev", F.round(F.sum("rev").over(w), 2))


O_Q52 = """
WITH m AS (SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS ym,
                  round(sum(o_totalprice), 2) AS rev
           FROM orders GROUP BY 1, 2)
SELECT o_orderpriority, ym, rev,
       round(sum(rev) OVER (PARTITION BY o_orderpriority
                            ORDER BY ym NULLS FIRST
                            ROWS UNBOUNDED PRECEDING), 2) AS cum_rev
FROM m
"""


def q53_dedup_keep(spark, sf_dir):
    """dedup_exact_keep end-to-end: corpus size before/after removing
    planted exact duplicates."""
    # content hash hoisted BELOW the planted-id explode (the q23 shape):
    # both copies of a text share one md5, and only (doc_id, 16-byte
    # digest) ever reaches the dedup shuffles — the agg reads doc_id only.
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", dedup_ops.content_key("text").alias("__ck"))
    d2 = _planted_dup(d, 1000000)
    kept = dedup_ops.dedup_exact_keep(d2, "doc_id", "__ck", key_col="__ck")
    return kept.agg(F.count(F.lit(1)).alias("n_kept"),
                    F.min("doc_id").alias("min_id"),
                    F.max("doc_id").alias("max_id"))


O_Q53 = r"""
WITH d2 AS (SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 1000000, text FROM documents),
keep AS (SELECT min(doc_id) AS doc_id
         FROM d2 GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
         -- a keeper must be addressable: a group whose every id is NULL
         -- keeps nothing (Spark's left_semi on id can never match NULL)
         HAVING min(doc_id) IS NOT NULL)
SELECT count(*) AS n_kept, min(doc_id) AS min_id, max(doc_id) AS max_id FROM keep
"""


def q54_stream_events(spark, sf_dir):
    """Structured Streaming surface: the tumbling-window event aggregate run
    incrementally (availableNow) — must equal the batch/oracle result."""
    from niamoto_spark.streaming.events import windowed_event_counts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(src).schema
    # streaming sources must be directories; expose the single file through
    # a symlink dir (testdata is read-only)
    import tempfile

    stream_dir = os.path.join(tempfile.gettempdir(),
                              "niamoto_stream_" + sf_dir.strip("/").replace("/", "_"))
    os.makedirs(stream_dir, exist_ok=True)
    _link_parquet_source(src, stream_dir, "events")
    stream = _ts_to_timestamp(spark.readStream.schema(schema)
                              .parquet(stream_dir))
    agg = windowed_event_counts(stream, "1 hour", watermark="2 hours")
    qname = "q54_events_windowed"
    q = (agg.writeStream.format("memory").queryName(qname)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(qname)
            .select(F.date_format("window_start", "yyyy-MM-dd HH:00").alias("hour"),
                    "event_type", "n_events", "value_sum"))


O_Q54 = """
-- watermarked event-time windows drop rows without a timestamp
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
       count(*) AS n_events, round(sum(value), 2) AS value_sum
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""


def q55_pivot(spark, sf_dir):
    """Pivot (wide reshape): revenue matrix month x order status."""
    o = _t(spark, sf_dir, "orders")
    return (o.withColumn("month", F.month("o_orderdate"))
            .groupBy("month").pivot("o_orderstatus", ["F", "O", "P"])
            .agg(F.round(F.sum("o_totalprice"), 2))
            .withColumnsRenamed({"F": "status_F", "O": "status_O",
                                 "P": "status_P"}))


O_Q55 = """
SELECT CAST(month(o_orderdate) AS INT) AS month,
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS status_F,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS status_O,
       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS status_P
FROM orders GROUP BY 1
"""


def q56_ann_blas(spark, sf_dir):
    """Brute-force ANN via Arrow-batched numpy matmul (the 100 TB scale
    path) — same semantics and oracle as q28; per-batch partial top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    return sim_ops.cosine_topk_blas(emb, queries, "vec_id", "embedding",
                                    k=5, round_dp=4)


# identical semantics to q28, BLAS execution
O_Q56 = O_Q28


def q57_scalar_functions(spark, sf_dir):
    """Scalar-function surface (SURVEY §2.4): LIKE, concat, trim/upper,
    date parts, COALESCE/NULLIF — one projection + aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return (joined
            .where(F.col("o_orderpriority").like("%URGENT%")
                   | F.col("c_mktsegment").like("BUILD%"))
            .groupBy(
                F.concat(F.upper(F.trim("c_mktsegment")), F.lit("|"),
                         F.substring("o_orderpriority", 1, 1)).alias("seg_prio"),
                F.year("o_orderdate").alias("yr"),
                F.quarter("o_orderdate").alias("qtr"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum(F.coalesce(F.nullif("o_totalprice", F.lit(0.0)),
                                          F.lit(0.0))), 2).alias("revenue")))


O_Q57 = """
SELECT upper(trim(c_mktsegment)) || '|' || substr(o_orderpriority, 1, 1) AS seg_prio,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       count(*) AS n_orders,
       round(sum(coalesce(nullif(o_totalprice, 0.0), 0.0)), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o_orderpriority LIKE '%URGENT%' OR c_mktsegment LIKE 'BUILD%'
GROUP BY 1, 2, 3
"""


def q58_sequence_packing(spark, sf_dir):
    """LLM-pretraining sequence packing: docs laid out in doc_id order, cut
    into 512-token windows (a doc may straddle two: pack_first/pack_last)."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.pack_sequences(d, "doc_id", "text", seq_len=512)


O_Q58 = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents WHERE doc_id IS NOT NULL),
c AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS "offset"
  FROM t)
SELECT doc_id, n_tokens, "offset",
       CAST(floor("offset" / 512.0) AS BIGINT) AS pack_first,
       CAST(floor(("offset" + greatest(n_tokens - 1, 0)) / 512.0) AS BIGINT) AS pack_last
FROM c
"""


def q59_vocabulary(spark, sf_dir):
    """Corpus vocabulary top-25 by total count (tiebreak token asc)."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.vocabulary(d, "text", top_k=25, id_col="doc_id")


O_Q59 = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0),
tot AS (SELECT token, count(*) AS total_count FROM tok GROUP BY 1),
docf AS (SELECT token, count(*) AS doc_freq
         FROM (SELECT DISTINCT doc_id, token FROM tok
               WHERE doc_id IS NOT NULL) GROUP BY 1)
-- doc_freq counts distinct ADDRESSABLE docs (count_distinct can't see
-- NULL ids); a token living only in NULL-id docs keeps doc_freq 0
SELECT token, coalesce(doc_freq, 0) AS doc_freq, total_count
FROM tot LEFT JOIN docf USING (token)
ORDER BY total_count DESC, token ASC LIMIT 25
"""


def q60_scrub(spark, sf_dir):
    """PII/URL scrubbing: plant synthetic URLs/emails deterministically,
    scrub, and aggregate counts + scrubbed length per source."""
    d = _t(spark, sf_dir, "documents")
    planted = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(F.col("text"), F.lit(" visit https://ex.org/a now")))
         .when(F.col("doc_id") % 10 == 5,
               F.concat(F.col("text"), F.lit(" mail a.b@ex.org please")))
         .when(F.col("doc_id") % 10 == 2,
               F.concat(F.col("text"), F.lit(" from 10.0.42.7 today")))
         .when(F.col("doc_id") % 10 == 7,
               F.concat(F.col("text"), F.lit(" call +687 123 456 now")))
         .otherwise(F.col("text")))
    s = text_ops.scrub_text(planted, "text")
    return s.groupBy("source").agg(
        F.sum("n_urls").alias("n_urls"),
        F.sum("n_emails").alias("n_emails"),
        F.sum("n_ips").alias("n_ips"),
        F.sum("n_phones").alias("n_phones"),
        F.sum(F.length("text_scrubbed")).alias("scrubbed_chars"))


O_Q60 = r"""
WITH planted AS (
  SELECT source,
         CASE WHEN doc_id % 10 = 0 THEN text || ' visit https://ex.org/a now'
              WHEN doc_id % 10 = 5 THEN text || ' mail a.b@ex.org please'
              WHEN doc_id % 10 = 2 THEN text || ' from 10.0.42.7 today'
              WHEN doc_id % 10 = 7 THEN text || ' call +687 123 456 now'
              ELSE text END AS text
  FROM documents),
st AS (
  SELECT source, text,
         regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t_url
  FROM planted),
st2 AS (
  SELECT source, text, t_url,
         regexp_replace(t_url,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS t_mail
  FROM st),
st3 AS (
  SELECT source, text, t_url, t_mail,
         regexp_replace(t_mail, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                        '<IP>', 'g') AS t_ip
  FROM st2),
s AS (
  SELECT source,
         len(regexp_split_to_array(text || ' ', 'https?://[^\s]+')) - 1 AS n_urls,
         len(regexp_split_to_array(t_url || ' ',
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS n_emails,
         len(regexp_split_to_array(t_mail || ' ',
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) - 1 AS n_ips,
         len(regexp_split_to_array(t_ip || ' ', '\+\d[\d -]{6,14}\d')) - 1
           AS n_phones,
         length(regexp_replace(t_ip, '\+\d[\d -]{6,14}\d', '<PHONE>', 'g'))
           AS scrubbed_len
  FROM st3)
SELECT source, CAST(sum(n_urls) AS BIGINT) AS n_urls,
       CAST(sum(n_emails) AS BIGINT) AS n_emails,
       CAST(sum(n_ips) AS BIGINT) AS n_ips,
       CAST(sum(n_phones) AS BIGINT) AS n_phones,
       CAST(sum(scrubbed_len) AS BIGINT) AS scrubbed_chars
FROM s GROUP BY source
"""


def q61_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: top-10 open-order revenue by (orderkey, orderdate,
    priority) with date predicates pushed to both scans."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
                .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey))
    agg = (joined.groupBy("l_orderkey",
                          F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                          "o_orderpriority")
           .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))
    return (agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
               .limit(10))


O_Q61 = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def q62_regional_revenue(spark, sf_dir):
    """TPC-H Q5 shape: five-table join (region-nation-customer-orders-
    lineitem) — revenue per nation within one region and date range;
    every dimension broadcast."""
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nat = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders") \
        .where((F.col("o_orderdate") >= "1994-01-01")
               & (F.col("o_orderdate") < "1996-01-01"))
    li = _t(spark, sf_dir, "lineitem")
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
                .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
                .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
                .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey))
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
         .alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"))


O_Q62 = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r_name = 'ASIA'
  AND o.o_orderdate >= DATE '1994-01-01' AND o.o_orderdate < DATE '1996-01-01'
GROUP BY n_name
"""


_VEC_ZONES = [
    (1, "alpha", "POLYGON ((0.0 0.0, 0.0 4.0, 3.0 4.0, 3.0 0.0, 0.0 0.0))"),
    (2, "beta", "POLYGON ((10.0 10.0, 10.0 12.0, 12.0 12.0, 12.0 10.0, 10.0 10.0))"),
    (3, "gamma", "POLYGON ((5.0 5.0, 5.0 9.0, 9.0 9.0, 9.0 5.0, 5.0 5.0), "
                 "(6.0 6.0, 7.0 6.0, 7.0 7.0, 6.0 7.0, 6.0 6.0))"),
    (4, "delta", "POLYGON ((20.0 0.0, 20.0 1.0, 21.0 1.0, 21.0 0.0, 20.0 0.0))"),
]


def q65_vector_import(spark, sf_dir):
    """Vector-file ingestion (.shp + .gpkg, pure-python parsers in
    sources/vector.py — reference engine.py:371-520 does the same via
    pyogrio): write a deterministic fixture, read it back through
    read_vector, count WKT vertices in Spark.  The constant-VALUES oracle
    hash-checks the whole parse chain (dbf attrs, GP blob, WKB->WKT)."""
    import tempfile

    from niamoto_spark.sources.files import read_vector
    from niamoto_spark.sources.vector import write_gpkg, write_shp

    d = tempfile.mkdtemp(prefix="niamoto_vec_")
    shp = os.path.join(d, "zones.shp")
    gpkg = os.path.join(d, "zones.gpkg")
    write_shp(shp, [{"zone_id": z, "name": n} for z, n, _ in _VEC_ZONES],
              [w for _, _, w in _VEC_ZONES])
    write_gpkg(gpkg, "zones",
               [{"zone_id": z, "name": n} for z, n, _ in _VEC_ZONES],
               [w for _, _, w in _VEC_ZONES])
    cols = ["zone_id", "name", "geometry_wkt"]
    both = (read_vector(spark, shp).select(*cols)
            .withColumn("fmt", F.lit("shp"))
            .unionByName(read_vector(spark, gpkg).select(*cols)
                         .withColumn("fmt", F.lit("gpkg"))))
    return both.select(
        "fmt", F.col("zone_id").cast("int").alias("zone_id"), "name",
        F.size(F.split("geometry_wkt", ",")).alias("n_pts"), "geometry_wkt")


O_Q65 = ("SELECT * FROM (VALUES "
         + ", ".join(
             f"('{fmt}', {z}, '{n}', {w.count(',') + 1}, '{w}')"
             for fmt in ("shp", "gpkg") for z, n, w in _VEC_ZONES)
         + ") AS t(fmt, zone_id, name, n_pts, geometry_wkt)")


_RASTER_ZONES = [
    (1, "POLYGON ((101.0 43.0, 101.0 48.0, 104.0 48.0, 104.0 43.0, 101.0 43.0))"),
    (2, "POLYGON ((110.0 36.0, 110.0 44.0, 118.0 44.0, 118.0 36.0, 110.0 36.0))"),
]


def q66_raster_zonal(spark, sf_dir):
    """Real-.tif zonal statistics: write a deterministic GeoTIFF (pure-numpy
    writer), explode zone pixels via raster_zone_values (each task opens the
    raster by path — reference raster_stats.py:260-330 does this with
    rasterio), aggregate with zonal_stats_from_arrays.  The DuckDB oracle
    regenerates the same pixel grid with generate_series and replicates the
    containment + stats, hash-checking reader, windowing, ray cast, and all
    14 SQL-side stats."""
    import tempfile

    import numpy as np
    import pandas as pd

    from niamoto_spark.operators.geospatial import (raster_zone_values,
                                                    zonal_stats_from_arrays)
    from niamoto_spark.sources.raster import write_geotiff

    d = tempfile.mkdtemp(prefix="niamoto_raster_")
    tif = os.path.join(d, "grid.tif")
    r, c = np.mgrid[0:30, 0:40]
    write_geotiff(tif, ((c * 7 + r * 13) % 97).astype(np.int32),
                  x0=100.0, y0=50.0, dx=0.5, dy=-0.5, compress=True)
    zones = spark.createDataFrame(
        pd.DataFrame(_RASTER_ZONES, columns=["zone_id", "geom"]))
    pixels = raster_zone_values(zones.select("zone_id", "geom"), "geom", tif) \
        .select("zone_id", "value")
    return zonal_stats_from_arrays(pixels, ["zone_id"])


O_Q66 = """
WITH px AS (
  SELECT CAST((c * 7 + r * 13) % 97 AS DOUBLE) AS value,
         100.0 + (c + 0.5) * 0.5 AS xc,
         50.0 - (r + 0.5) * 0.5 AS yc
  FROM generate_series(0, 29) t1(r), generate_series(0, 39) t2(c)),
z AS (SELECT 1 AS zone_id, 101.0 AS xmin, 104.0 AS xmax, 43.0 AS ymin, 48.0 AS ymax
      UNION ALL
      SELECT 2, 110.0, 118.0, 36.0, 44.0),
j AS (SELECT z.zone_id, px.value FROM z JOIN px
      ON px.xc > z.xmin AND px.xc < z.xmax AND px.yc > z.ymin AND px.yc < z.ymax),
base AS (
  SELECT zone_id,
         round(min(value), 2) AS "min", round(max(value), 2) AS "max",
         round(avg(value), 2) AS mean, round(median(value), 2) AS median,
         round(sum(value), 2) AS "sum", count(value) AS "count",
         round(stddev_pop(value), 2) AS std,
         round(var_pop(value), 2) AS variance,
         round(max(value) - min(value), 2) AS "range",
         round(quantile_cont(value, 0.05), 2) AS percentile_5,
         round(quantile_cont(value, 0.95), 2) AS percentile_95,
         count(DISTINCT value) AS "unique"
  FROM j GROUP BY zone_id),
counts AS (SELECT zone_id, value, count(*) AS n FROM j GROUP BY 1, 2),
maj AS (SELECT zone_id, value AS majority FROM
        (SELECT *, row_number() OVER (PARTITION BY zone_id
                   ORDER BY n DESC, value ASC) AS rn FROM counts) WHERE rn = 1),
mino AS (SELECT zone_id, value AS minority FROM
         (SELECT *, row_number() OVER (PARTITION BY zone_id
                    ORDER BY n ASC, value ASC) AS rn FROM counts) WHERE rn = 1)
SELECT base.*, maj.majority, mino.minority
FROM base JOIN maj USING (zone_id) JOIN mino USING (zone_id)
"""


def q67_dwc_mapping(spark, sf_dir):
    """Mapping-DSL Darwin Core export: @taxon refs resolved through ONE
    broadcast join (reference fetches occurrences per taxon,
    niamoto_to_dwc_occurrence.py:183-225), unique-id generators with the
    taxonId_index fallback, epithet/date extraction — all compiled to a
    single codegen projection (exporters/dwc.py)."""
    cust = _t(spark, sf_dir, "customer")
    taxon = cust.select(
        F.col("c_custkey").alias("id"),
        F.concat(F.col("c_mktsegment"), F.lit(" "), F.lower(F.col("c_name")),
                 F.when(F.col("c_custkey") % 3 == 0, F.lit(" var. alpha"))
                  .otherwise(F.lit("")),
                 F.lit(" (Anon 1901)")).alias("full_name"))
    # order_col must be a unique total order (operator contract) —
    # NULL orderkeys would tie inside the unknown-taxon index pool
    orders = (_t(spark, sf_dir, "orders")
              .where(F.col("o_orderkey").isNotNull()))
    return to_dwc_occurrence(
        orders, {
            "occurrenceID": {"generator": "unique_occurrence_id",
                             "params": {"prefix": "occ_",
                                        "source_field": "@source.o_orderkey"}},
            "identificationID": {"generator": "unique_identification_id"},
            "scientificName": "@taxon.full_name",
            "specificEpithet": {"generator": "extract_specific_epithet"},
            "infraspecificEpithet": {"generator": "extract_infraspecific_epithet"},
            "eventDate": {"generator": "format_event_date",
                          "params": {"source_field": "@source.o_orderdate"}},
            "year": {"generator": "extract_year",
                     "params": {"source_field": "@source.o_orderdate"}},
            "month": {"generator": "extract_month",
                      "params": {"source_field": "@source.month_obs",
                                 "date_field": "@source.o_orderdate"}},
            "day": {"generator": "extract_day",
                    "params": {"source_field": "@source.o_orderdate"}},
            "occurrenceStatus": {"generator": "map_occurrence_status"},
            "basisOfRecord": "HumanObservation",
            "occurrenceRemarks": "@source.o_orderpriority",
        },
        taxon=taxon, occ_taxon_col="o_custkey", taxon_id_col="id",
        order_col="o_orderkey")


O_Q67 = r"""
WITH tx AS (
  SELECT c_custkey AS id,
         c_mktsegment || ' ' || lower(c_name)
           || CASE WHEN CAST(c_custkey AS BIGINT) % 3 = 0 THEN ' var. alpha' ELSE '' END
           || ' (Anon 1901)' AS full_name
  FROM customer),
j AS (
  SELECT o.*, tx.id, tx.full_name,
         row_number() OVER (PARTITION BY tx.id
                            ORDER BY o.o_orderkey NULLS FIRST) - 1 AS idx
  FROM orders o LEFT JOIN tx ON o.o_custkey = tx.id
  -- the id-fallback index needs a TOTAL order: several NULL orderkeys
  -- in the unknown-taxon pool would tie and renumber arbitrarily
  WHERE o.o_orderkey IS NOT NULL)
-- id fallbacks mirror the reference's taxonId_index recipe: a NULL
-- source key falls back to prefix + (taxon id or 'unknown') + index
SELECT CASE WHEN o_orderkey IS NOT NULL
            THEN 'occ_' || CAST(o_orderkey AS VARCHAR)
            ELSE 'occ_' || coalesce(CAST(id AS VARCHAR), 'unknown')
                 || '_' || CAST(idx AS VARCHAR) END AS occurrenceID,
       'niaid_' || coalesce(CAST(id AS VARCHAR), 'unknown')
         || '_' || CAST(idx AS VARCHAR) AS identificationID,
       full_name AS scientificName,
       CASE WHEN full_name IS NOT NULL THEN
         split_part(regexp_replace(full_name, ' \([^)]+\)', ''), ' ', 2)
       END AS specificEpithet,
       nullif(regexp_extract(full_name,
              '(?:subsp\.|subvar\.|var\.|forma|f\.|race)\s+(\S+)', 1), '')
         AS infraspecificEpithet,
       strftime(o_orderdate, '%Y-%m-%d') AS eventDate,
       CAST(year(o_orderdate) AS INT) AS year,
       CAST(month(o_orderdate) AS INT) AS month,
       CAST(day(o_orderdate) AS INT) AS day,
       'present' AS occurrenceStatus,
       'HumanObservation' AS basisOfRecord,
       o_orderpriority AS occurrenceRemarks
FROM j
"""


def q68_decontamination(spark, sf_dir):
    """Benchmark decontamination: docs sharing >=1 distinct 5-gram with the
    'benchmark' slice (doc_id < 20) are flagged with their hit count — the
    standard LLM test-set-overlap rule (13-gram in production; 5 here so
    synthetic docs overlap)."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") < 20).select("text")
    return text_ops.decontaminate(d, "doc_id", "text", bench, "text", ngram=5)


O_Q68 = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents WHERE length(trim(text)) > 0),
idx AS (
  SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
  FROM tok WHERE len(t) >= 5),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 4), ' ') AS gram
  FROM idx),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 20)
SELECT g.doc_id, count(*) AS n_hits
FROM grams g JOIN bench USING (gram)
GROUP BY g.doc_id HAVING count(*) >= 1
"""


def q69_repetition_stats(spark, sf_dir):
    """Gopher repetition filters (dup-line/dup-paragraph/top-bigram
    fractions).  Docs with doc_id % 3 = 0 get their text doubled through a
    newline so the duplicate-line path is exercised on single-line
    synthetic text."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    d = d.withColumn(
        "text2",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit("\n"), F.col("text")))
         .otherwise(F.col("text")))
    return text_ops.repetition_stats(d.select("doc_id", "text2"), "text2",
                                     id_col="doc_id") \
        .select("doc_id", "dup_line_frac", "dup_para_frac", "top_bigram_frac")


O_Q69 = r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || text
              ELSE text END AS text2
  FROM documents WHERE doc_id < 200),
lines AS (
  SELECT doc_id,
         list_filter(string_split(text2, chr(10)),
                     l -> length(trim(l)) > 0) AS ls,
         list_filter(regexp_split_to_array(text2, '\n\s*\n'),
                     p -> length(trim(p)) > 0) AS ps
  FROM d),
fracs AS (
  SELECT doc_id,
         CASE WHEN len(ls) > 0
              THEN round(1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls), 4)
              ELSE 0.0 END AS dup_line_frac,
         CASE WHEN len(ps) > 0
              THEN round(1.0 - CAST(len(list_distinct(ps)) AS DOUBLE) / len(ps), 4)
              ELSE 0.0 END AS dup_para_frac
  FROM lines),
tok AS (
  SELECT doc_id,
         CASE WHEN length(trim(text2)) = 0 THEN []
              ELSE regexp_split_to_array(lower(trim(text2)), '\s+') END AS t
  FROM d),
bidx AS (
  SELECT doc_id, t, unnest(range(1, len(t))) AS i
  FROM tok WHERE len(t) >= 2),
big AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS gram
  FROM bidx),
top AS (
  SELECT doc_id, max(n) AS top_n FROM
    (SELECT doc_id, gram, count(*) AS n FROM big GROUP BY 1, 2)
  GROUP BY doc_id),
tf AS (
  SELECT tok.doc_id,
         CASE WHEN len(tok.t) >= 2
              THEN round(top.top_n * 2.0 / len(tok.t), 4) ELSE 0.0 END
           AS top_bigram_frac
  FROM tok LEFT JOIN top ON tok.doc_id = top.doc_id)
SELECT f.doc_id, f.dup_line_frac, f.dup_para_frac,
       coalesce(tf.top_bigram_frac, 0.0) AS top_bigram_frac
FROM fracs f JOIN tf ON f.doc_id = tf.doc_id
"""


def q70_stratified_sample(spark, sf_dir):
    """Deterministic domain-mixing sample: md5-bucket thresholds per source
    (src0 30%, src1 100%, default 50%) — the same rows select on ANY
    engine/partitioning, which is why the DuckDB oracle can replicate the
    exact selection (rand()-based sampleBy could never hash-match)."""
    d = _t(spark, sf_dir, "documents")
    out = text_ops.stratified_sample(d, "doc_id", "source",
                                     {"src0": 0.3, "src1": 1.0},
                                     default_rate=0.5)
    return out.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"),
                                     F.min("doc_id").alias("first_id"))


O_Q70 = """
WITH kept AS (
  SELECT * FROM documents
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        < CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 1.0
          ELSE 0.5 END * 4294967296.0)
SELECT source, count(*) AS n_kept, min(doc_id) AS first_id
FROM kept GROUP BY source
"""


def q71_chunk_documents(spark, sf_dir):
    """Fixed-size token chunking with overlap (RAG / long-context prep):
    64-token chunks every 48 tokens, pure slice+posexplode codegen."""
    d = _t(spark, sf_dir, "documents")
    return text_ops.chunk_documents(d, "doc_id", "text",
                                    chunk_tokens=64, overlap=16)


O_Q71 = r"""
WITH tok AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(trim(text), '\s+') END AS t
  FROM documents),
nc AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) = 0 THEN 0
              ELSE 1 + CAST(ceil(greatest(len(t) - 64, 0) / 48.0) AS INT)
         END AS n_chunks
  FROM tok),
idx AS (
  SELECT doc_id, t, n, unnest(range(0, n_chunks)) AS i
  FROM nc WHERE n_chunks > 0)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       CAST(least(i * 48 + 64, n) - i * 48 AS INT) AS n_chunk_tokens,
       array_to_string(list_slice(t, i * 48 + 1, least(i * 48 + 64, n)), ' ')
         AS chunk_text
FROM idx
"""


def q72_char_entropy(spark, sf_dir):
    """Per-document character Shannon entropy (bits/char) — gibberish /
    boilerplate signal; explode + two linear hash aggregates."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return text_ops.char_entropy(d.select("doc_id", "text"),
                                 "doc_id", "text") \
        .select("doc_id", "char_entropy")


O_Q72 = """
WITH d AS (SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 300),
ch AS (
  SELECT doc_id, length(t) AS len, t, unnest(range(1, length(t) + 1)) AS i
  FROM d WHERE length(t) > 0),
cc AS (
  SELECT doc_id, len, substr(t, CAST(i AS INT), 1) AS c, count(*) AS n
  FROM ch GROUP BY 1, 2, 3),
e AS (
  SELECT doc_id,
         round(-sum((n / CAST(len AS DOUBLE))
                    * log2(n / CAST(len AS DOUBLE))), 4) AS char_entropy
  FROM cc GROUP BY doc_id)
SELECT d.doc_id, coalesce(e.char_entropy, 0.0) AS char_entropy
FROM d LEFT JOIN e USING (doc_id)
"""


def q73_materialize_packs(spark, sf_dir):
    """Full sequence-pack MATERIALIZATION (not just assignment): every
    token feature-hashed (md5 -> id) and routed to its 512-token pack;
    packs collect ids in global-position order.  The token stream is the
    shuffle payload — the real pretraining packing job."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return text_ops.materialize_packs(d, "doc_id", "text",
                                      seq_len=512, vocab_size=32768)


O_Q73 = r"""
WITH tok AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS t
  FROM documents WHERE doc_id < 300),
off AS (
  SELECT doc_id, t,
         CAST(coalesce(sum(len(t)) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS ofs
  FROM tok),
placed AS (
  SELECT doc_id, ofs + i - 1 AS gpos,
         CAST(CAST(('0x' || substr(md5(t[i]), 1, 8)) AS UBIGINT) % 32768
              AS INT) AS token_id
  FROM (SELECT doc_id, t, ofs, unnest(range(1, len(t) + 1)) AS i FROM off))
SELECT CAST(floor(gpos / 512.0) AS BIGINT) AS pack_id,
       count(*) AS n_tokens,
       count(DISTINCT doc_id) AS n_docs,
       list(token_id ORDER BY gpos) AS token_ids
FROM placed GROUP BY 1
"""


# --- vector_overlay set-op parity (reference vector_overlay.py:568) -------
# Deterministic polygon fixtures at NC latitude: rectangles with known
# pairwise overlaps + one triangle fully inside b3 + one disjoint rect.
# Overlay features are mutually disjoint (the operator's documented
# assumption).  All areas use the pinned lat0=-22 equirectangular metric so
# the DuckDB oracle can reproduce them as K * deg_area analytically.

_OVL_A = [
    ("a1", "POLYGON ((165.0 -22.6, 165.8 -22.6, 165.8 -22.0, 165.0 -22.0, "
           "165.0 -22.6))"),
    ("a2", "POLYGON ((166.0 -22.4, 166.5 -22.4, 166.5 -21.9, 166.0 -21.9, "
           "166.0 -22.4))"),
    ("a3", "POLYGON ((164.0 -22.4, 164.4 -22.4, 164.0 -22.0, 164.0 -22.4))"),
    ("a4", "POLYGON ((168.0 -22.2, 168.3 -22.2, 168.3 -22.0, 168.0 -22.0, "
           "168.0 -22.2))"),
]
_OVL_B = [
    ("b1", "forest", "POLYGON ((164.9 -22.5, 165.3 -22.5, 165.3 -22.1, "
                     "164.9 -22.1, 164.9 -22.5))"),
    ("b2", "urban", "POLYGON ((165.5 -22.3, 166.2 -22.3, 166.2 -21.8, "
                    "165.5 -21.8, 165.5 -22.3))"),
    ("b3", "forest", "POLYGON ((163.9 -22.5, 164.5 -22.5, 164.5 -21.9, "
                     "163.9 -21.9, 163.9 -22.5))"),
]


def _overlay_setop_q(spark, operation, where=None):
    from niamoto_spark.operators.overlay import vector_overlay_setop

    a = spark.createDataFrame(_OVL_A, "a_id string, geom string")
    b = spark.createDataFrame(_OVL_B,
                              "b_id string, category string, geom string")
    res = vector_overlay_setop(a, "geom", "a_id", b, "geom", "b_id",
                               operation=operation, where=where,
                               lat0_deg=-22.0, min_area_m2=1.0)
    # hectares at 3dp: float noise from the projected shoelace is <1e-4 ha,
    # two orders under the rounding step (see overlay.py docstring)
    return res.select("a_id", "b_id", "part",
                      F.round(F.col("area_m2") / 1e4, 3).alias("area_ha"))


def q74_overlay_union(spark, sf_dir):
    """gpd.overlay(how='union') parity: both + a_only + b_only pieces."""
    return _overlay_setop_q(spark, "union")


def q75_overlay_difference(spark, sf_dir):
    """gpd.overlay(how='difference'): layer minus all overlay features."""
    return _overlay_setop_q(spark, "difference")


def q76_overlay_symdiff(spark, sf_dir):
    """gpd.overlay(how='symmetric_difference'): both residual sides."""
    return _overlay_setop_q(spark, "symmetric_difference")


def q77_overlay_identity_where(spark, sf_dir):
    """gpd.overlay(how='identity') + the reference's `where` overlay-layer
    filter (vector_overlay.py:477): only 'forest' overlay features play."""
    return _overlay_setop_q(spark, "identity", where="category = 'forest'")


# Shared analytic core: K = m^2 per deg^2 at lat0=-22 on the repo's
# equirectangular metric; pairwise intersections of the fixture rects are
# interval products; the a3 triangle sits fully inside b3 (ideg = its own
# area, residual exactly 0 -> excluded by the >1 m^2 floor on both sides).
_O_OVL_CORE = """
k AS (SELECT 6371008.8 * 6371008.8 * cos(radians(-22.0))
             * pi() * pi() / (180.0 * 180.0) AS v),
a(a_id, adeg) AS (VALUES
  ('a1', (165.8 - 165.0) * (22.6 - 22.0)),
  ('a2', (166.5 - 166.0) * (22.4 - 21.9)),
  ('a3', 0.5 * (164.4 - 164.0) * (22.4 - 22.0)),
  ('a4', (168.3 - 168.0) * (22.2 - 22.0))),
b(b_id, cat, bdeg) AS (VALUES
  ('b1', 'forest', (165.3 - 164.9) * (22.5 - 22.1)),
  ('b2', 'urban',  (166.2 - 165.5) * (22.3 - 21.8)),
  ('b3', 'forest', (164.5 - 163.9) * (22.5 - 21.9))),
inter(a_id, b_id, ideg) AS (VALUES
  ('a1', 'b1', (165.3 - 165.0) * (22.5 - 22.1)),
  ('a1', 'b2', (165.8 - 165.5) * (22.3 - 22.0)),
  ('a2', 'b2', (166.2 - 166.0) * (22.3 - 21.9)),
  ('a3', 'b3', 0.5 * (164.4 - 164.0) * (22.4 - 22.0))),
both_rows AS (
  SELECT i.a_id, i.b_id, 'both' AS part,
         round(i.ideg * k.v / 10000.0, 3) AS area_ha
  FROM inter i JOIN b ON i.b_id = b.b_id, k),
a_res AS (
  SELECT a.a_id, CAST(NULL AS VARCHAR) AS b_id, 'a_only' AS part,
         round((a.adeg * k.v
                - coalesce((SELECT sum(i.ideg) FROM inter i
                            JOIN b ON i.b_id = b.b_id
                            WHERE i.a_id = a.a_id), 0) * k.v)
               / 10000.0, 3) AS area_ha,
         a.adeg * k.v
           - coalesce((SELECT sum(i.ideg) FROM inter i
                       JOIN b ON i.b_id = b.b_id
                       WHERE i.a_id = a.a_id), 0) * k.v AS res_m2
  FROM a, k),
b_res AS (
  SELECT CAST(NULL AS VARCHAR) AS a_id, b.b_id, 'b_only' AS part,
         round((b.bdeg * k.v
                - coalesce((SELECT sum(ideg) FROM inter
                            WHERE b_id = b.b_id), 0) * k.v)
               / 10000.0, 3) AS area_ha,
         b.bdeg * k.v
           - coalesce((SELECT sum(ideg) FROM inter
                       WHERE b_id = b.b_id), 0) * k.v AS res_m2
  FROM b, k)
"""

O_Q74 = ("WITH " + _O_OVL_CORE + """
SELECT a_id, b_id, part, area_ha FROM both_rows
UNION ALL
SELECT a_id, b_id, part, area_ha FROM a_res WHERE res_m2 > 1.0
UNION ALL
SELECT a_id, b_id, part, area_ha FROM b_res WHERE res_m2 > 1.0
""")

O_Q75 = ("WITH " + _O_OVL_CORE + """
SELECT a_id, b_id, part, area_ha FROM a_res WHERE res_m2 > 1.0
""")

O_Q76 = ("WITH " + _O_OVL_CORE + """
SELECT a_id, b_id, part, area_ha FROM a_res WHERE res_m2 > 1.0
UNION ALL
SELECT a_id, b_id, part, area_ha FROM b_res WHERE res_m2 > 1.0
""")

# identity + where: the overlay layer is pre-filtered to cat='forest'
# (b1, b3), so a1's b2 overlap and a2's only overlap return to the residual.
O_Q77 = ("WITH " + _O_OVL_CORE.replace(
    "JOIN b ON i.b_id = b.b_id",
    "JOIN b ON i.b_id = b.b_id AND b.cat = 'forest'") + """
SELECT a_id, b_id, part, area_ha FROM both_rows
UNION ALL
SELECT a_id, b_id, part, area_ha FROM a_res WHERE res_m2 > 1.0
""")


def _media_fixture_rows():
    """Eight deterministic 32x24 test images: PNG (lossless), baseline
    4:4:4 JPEG, 4:2:0 JPEG with restart intervals, and PROGRESSIVE
    (SOF2) JPEGs in both samplings (VERDICT r6 #6) — the mixed-format
    corpus shape of a real multimodal pipeline, built with the repo's
    own pure-python encoders."""
    import numpy as np

    from niamoto_spark.sources.imagecodec import encode_png
    from niamoto_spark.sources.jpegcodec import (encode_jpeg,
                                                 encode_jpeg_progressive)

    rows = []
    for i in range(1, 9):
        y, x = np.mgrid[0:24, 0:32]
        img = np.stack([(x * (23 + 11 * i)) % 256,
                        (y * (31 + 7 * i) + x * 5 * i) % 256,
                        ((x * x + y * (17 + i)) * 3) % 256],
                       axis=2).astype(np.uint8)
        if i == 7:
            rows.append((i, "jpeg_prog444",
                         bytearray(encode_jpeg_progressive(img, quality=90))))
        elif i == 8:
            rows.append((i, "jpeg_prog420",
                         bytearray(encode_jpeg_progressive(img, quality=85,
                                                           subsample="420"))))
        elif i % 3 == 1:
            rows.append((i, "png", bytearray(encode_png(img))))
        elif i % 3 == 2:
            rows.append((i, "jpeg444", bytearray(encode_jpeg(img, quality=90))))
        else:
            rows.append((i, "jpeg420",
                         bytearray(encode_jpeg(img, quality=85,
                                               subsample="420",
                                               restart_interval=2))))
    return rows


def q78_media_dhash_jpeg(spark, sf_dir):
    """Multimodal decode + perceptual hash over a MIXED PNG/JPEG column
    (VERDICT r2 missing #3): baseline-JPEG decode (4:4:4 and 4:2:0 with
    restart markers) is the repo's own pure-python T.81 codec in
    sources/jpegcodec.py.  The constant-VALUES oracle freezes byte sizes
    and dHashes, pinning the whole encode -> decode -> grayscale ->
    resample -> gradient-bits chain (the q65 fixture approach)."""
    from niamoto_spark.operators.multimodal import image_dhash

    df = spark.createDataFrame(_media_fixture_rows(),
                               "media_id long, fmt string, payload binary")
    sizes = df.select("media_id", "fmt", F.length("payload").alias("n_bytes"))
    return (sizes.join(image_dhash(df), "media_id")
            .select("media_id", "fmt", "n_bytes", "dhash"))


O_Q78 = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'png', 2344, CAST(-2885165412765932043 AS BIGINT)),
  (2, 'jpeg444', 1910, -1538566499368048219),
  (3, 'jpeg420', 1248, -2689267608272396916),
  (4, 'png', 2328, -3556267219242078762),
  (5, 'jpeg444', 1913, -3770157640637963115),
  (6, 'jpeg420', 1244, -2712746235458629030),
  (7, 'jpeg_prog444', 2983, -3219100179083662742),
  (8, 'jpeg_prog420', 1650, -6148914691236517206)
) AS t(media_id, fmt, n_bytes, dhash)
"""


# --- UTM auto-zone metric areas (reference shape_processor.py:338-420) ----

_UTM_SHAPES = [
    ("nc_rect", "POLYGON ((165.0 -22.0, 165.5 -22.0, 165.5 -21.5, "
                "165.0 -21.5, 165.0 -22.0))"),
    ("nc_tri", "POLYGON ((164.2 -20.8, 164.8 -20.8, 164.2 -20.2, "
               "164.2 -20.8))"),
]


def q79_utm_area(spark, sf_dir):
    """Metric polygon areas measured in the shape's auto-selected UTM zone
    (both fixtures sit in zone 58).  The oracle RECOMPUTES the WGS84
    transverse-Mercator forward series in DuckDB SQL from the same public
    Snyder formulas, so projection + shoelace are verified analytically,
    not against frozen numbers.  1-dp rounding absorbs summation-order
    float noise (~1e-3 m2 on ~1e9 m2 areas)."""
    from niamoto_spark.operators.utm import polygon_area_utm

    shapes = spark.createDataFrame(_UTM_SHAPES, "shape_id string, wkt string")
    return (polygon_area_utm(shapes, "wkt")
            .select("shape_id", F.round("area_m2", 1).alias("area_m2")))


def _o_q79() -> str:
    from niamoto_spark.operators import utm as _u

    e2 = repr(_u._E2)
    e4 = repr(_u._E2 ** 2)
    e6 = repr(_u._E2 ** 3)
    ep2 = repr(_u._EP2)
    pts = []
    for sid, wkt in _UTM_SHAPES:
        body = wkt[wkt.index("((") + 2:wkt.index("))")]
        for i, pair in enumerate(body.split(",")):
            lon, lat = pair.split()
            pts.append(f"('{sid}', {i}, {lon}, {lat})")
    # zone 58 central meridian = 165 E; southern shapes carry no false
    # northing (area is translation-invariant, matching utm_forward)
    return f"""
WITH pts(shape_id, i, lon, lat) AS (VALUES {', '.join(pts)}),
t AS (
  SELECT shape_id, i, radians(lat) AS phi,
         (radians(lon) - radians(165.0)) * cos(radians(lat)) AS aa,
         sin(radians(lat)) AS sp, cos(radians(lat)) AS cp,
         tan(radians(lat)) AS tp
  FROM pts),
xy AS (
  SELECT shape_id, i,
    0.9996 * (6378137.0 / sqrt(1 - {e2} * sp * sp)) *
      (aa + (1 - tp*tp + {ep2}*cp*cp) * pow(aa, 3) / 6
          + (5 - 18*tp*tp + pow(tp, 4) + 72*{ep2}*cp*cp - 58*{ep2})
            * pow(aa, 5) / 120) + 500000.0 AS x,
    0.9996 * (
      6378137.0 * ((1 - {e2}/4 - 3*{e4}/64 - 5*{e6}/256) * phi
                   - (3*{e2}/8 + 3*{e4}/32 + 45*{e6}/1024) * sin(2*phi)
                   + (15*{e4}/256 + 45*{e6}/1024) * sin(4*phi)
                   - (35*{e6}/3072) * sin(6*phi))
      + (6378137.0 / sqrt(1 - {e2} * sp * sp)) * tp *
          (aa*aa/2 + (5 - tp*tp + 9*{ep2}*cp*cp
                      + 4*pow({ep2}*cp*cp, 2)) * pow(aa, 4) / 24
           + (61 - 58*tp*tp + pow(tp, 4) + 600*{ep2}*cp*cp - 330*{ep2})
             * pow(aa, 6) / 720)) AS y
  FROM t),
s AS (
  SELECT a.shape_id, a.x * b.y - b.x * a.y AS crossp
  FROM xy a JOIN xy b ON a.shape_id = b.shape_id AND b.i = a.i + 1)
SELECT shape_id, round(abs(sum(crossp)) / 2, 1) AS area_m2
FROM s GROUP BY shape_id
"""


O_Q79 = _o_q79()


def q80_video_frames(spark, sf_dir):
    """Video lane end-to-end (round-3 gap closure): two deterministic
    MJPEG-AVI fixtures built with the repo's own RIFF writer + T.81 JPEG
    encoder, frame-sampled (every 2nd), decoded, and featured (dims, mean
    luminance, dHash) — all pure python/numpy in mapInPandas.  The
    frozen-VALUES oracle pins the container parse + JPEG decode + feature
    chain (q78's approach)."""
    import numpy as np

    from niamoto_spark.operators.multimodal import video_frame_features
    from niamoto_spark.sources.avicodec import encode_avi_mjpeg

    def fixture(vid, n, h, w):
        frames = []
        for i in range(n):
            y, x = np.mgrid[0:h, 0:w]
            frames.append(np.stack([(x * (19 + 5 * i + vid)) % 256,
                                    (y * (23 + 3 * i) + vid * 7) % 256,
                                    ((x * y + i * 31) * (2 + vid)) % 256],
                                   axis=2).astype(np.uint8))
        return bytearray(encode_avi_mjpeg(frames, fps=12, quality=88))

    df = spark.createDataFrame(
        [(1, fixture(1, 6, 24, 32)), (2, fixture(2, 4, 16, 16))],
        "media_id long, payload binary")
    return video_frame_features(df, every_n=2)


O_Q80 = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 0, 32, 24, CAST(111.5942 AS DOUBLE),
   CAST(-1229791889668123186 AS BIGINT)),
  (1, 2, 32, 24, CAST(123.7374 AS DOUBLE), -2676657393058032934),
  (1, 4, 32, 24, CAST(125.2674 AS DOUBLE), -6151186299438829910),
  (2, 0, 16, 16, CAST(103.8047 AS DOUBLE), -72340181563282214),
  (2, 2, 16, 16, CAST(120.5807 AS DOUBLE), -325530786362398374)
) AS t(media_id, frame_idx, width, height, mean_luma, dhash)
"""


# q81: overlay coverage % (reference vector_overlay.py:686) — rect layer
# over two rect zones; the oracle recomputes both the equirectangular area
# constant (zone-ring mean latitude, closure point included — exactly what
# ring_area_m2 computes) and the interval-overlap arithmetic in SQL.

_COV_ZONES = [
    ("z1", "POLYGON ((165.0 -22.0, 165.4 -22.0, 165.4 -21.6, 165.0 -21.6, "
           "165.0 -22.0))"),
    ("z2", "POLYGON ((166.0 -22.0, 166.5 -22.0, 166.5 -21.5, 166.0 -21.5, "
           "166.0 -22.0))"),
]
_COV_LAYER = [
    ("f1", "POLYGON ((164.9 -21.9, 165.2 -21.9, 165.2 -21.7, 164.9 -21.7, "
           "164.9 -21.9))"),     # overlaps z1 by 0.2 x 0.2
    ("f2", "POLYGON ((166.2 -21.8, 166.8 -21.8, 166.8 -21.6, 166.2 -21.6, "
           "166.2 -21.8))"),     # overlaps z2 by 0.3 x 0.2
]


def q81_overlay_coverage(spark, sf_dir):
    from niamoto_spark.operators.overlay import coverage

    zones = spark.createDataFrame(_COV_ZONES, "zone_id string, zwkt string")
    layer = spark.createDataFrame(_COV_LAYER, "cat string, geom string")
    out = coverage(layer, "geom", zones, "zone_id", "zwkt")
    return out.select("zone_id",
                      F.round(F.col("covered_area_m2") / 1e4, 3)
                       .alias("covered_ha"),
                      F.round(F.col("zone_area_m2") / 1e4, 3)
                       .alias("zone_ha"),
                      "coverage_pct")


def _o_q81() -> str:
    import numpy as np

    from niamoto_spark.operators.geospatial import parse_polygon_wkt

    rows = []
    for zid, wkt in _COV_ZONES:
        ring = parse_polygon_wkt(wkt)[0]
        lat0 = repr(float(ring[:, 1].mean()))
        xs, ys = ring[:, 0], ring[:, 1]
        rows.append((zid, lat0, float(xs.min()), float(xs.max()),
                     float(ys.min()), float(ys.max())))
    vals = ", ".join(
        f"('{zid}', {lat0}, {x0}, {x1}, {y0}, {y1})"
        for zid, lat0, x0, x1, y0, y1 in rows)
    layer_vals = []
    for _, wkt in _COV_LAYER:
        ring = parse_polygon_wkt(wkt)[0]
        xs, ys = ring[:, 0], ring[:, 1]
        layer_vals.append((float(xs.min()), float(xs.max()),
                           float(ys.min()), float(ys.max())))
    lv = ", ".join(f"({x0}, {x1}, {y0}, {y1})"
                   for x0, x1, y0, y1 in layer_vals)
    return f"""
WITH z(zone_id, lat0, x0, x1, y0, y1) AS (VALUES {vals}),
f(fx0, fx1, fy0, fy1) AS (VALUES {lv}),
k AS (SELECT zone_id,
             6371008.8 * 6371008.8 * cos(radians(lat0))
               * pi() * pi() / (180.0 * 180.0) AS v,
             (x1 - x0) * (y1 - y0) AS zdeg, x0, x1, y0, y1
      FROM z),
cov AS (
  SELECT k.zone_id,
         sum(greatest(least(k.x1, f.fx1) - greatest(k.x0, f.fx0), 0)
             * greatest(least(k.y1, f.fy1) - greatest(k.y0, f.fy0), 0))
           AS cdeg
  FROM k, f
  WHERE least(k.x1, f.fx1) > greatest(k.x0, f.fx0)
    AND least(k.y1, f.fy1) > greatest(k.y0, f.fy0)
  GROUP BY k.zone_id)
SELECT k.zone_id,
       round(coalesce(cov.cdeg, 0) * k.v / 10000.0, 3) AS covered_ha,
       round(k.zdeg * k.v / 10000.0, 3) AS zone_ha,
       round(coalesce(cov.cdeg, 0) * 100.0 / k.zdeg, 2) AS coverage_pct
FROM k LEFT JOIN cov ON k.zone_id = cov.zone_id
"""


O_Q81 = _o_q81()


def q82_audio_spectral(spark, sf_dir):
    """Audio frequency-domain features over PCM WAV payloads: two pure
    tones (440 / 1320 Hz) and seeded uniform noise, encoded with the
    repo's own WAV writer.  The frozen-VALUES oracle pins the decode +
    rFFT + centroid/bandwidth/rolloff/flatness chain (q78's approach);
    the physics are separately pinned analytically in
    tests/test_multimodal.py (tone centroid == tone frequency, noise
    flatness >> tone flatness)."""
    import numpy as np

    from niamoto_spark.operators.multimodal import (audio_spectral_features,
                                                    encode_wav)

    rate = 8000
    t = np.arange(rate) / rate
    sigs = {
        1: (0.7 * np.sin(2 * np.pi * 440 * t)).astype(np.float32),
        2: (0.5 * np.sin(2 * np.pi * 1320 * t)).astype(np.float32),
        3: np.random.RandomState(9).uniform(-0.6, 0.6, rate)
             .astype(np.float32),
    }
    df = spark.createDataFrame(
        [(mid, bytearray(encode_wav(sig[:, None], rate)))
         for mid, sig in sigs.items()],
        "media_id long, payload binary")
    return audio_spectral_features(df)


O_Q82 = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), CAST(440.19 AS DOUBLE), CAST(21.4 AS DOUBLE),
   CAST(440.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
  (2, 1320.13, 18.7, 1320.0, 0.0),
  (3, 2007.07, 1156.42, 3436.0, 0.563937)
) AS t(media_id, spectral_centroid_hz, spectral_bandwidth_hz,
       spectral_rolloff_hz, spectral_flatness)
"""


def q83_forest_elevation(spark, sf_dir):
    """Eco-zonal composition (reference forest_elevation.py): a
    deterministic 30x30 DEM grid per zone built with pure arithmetic (no
    hash functions, so DuckDB can regenerate it with generate_series),
    bucketed into 300 m elevation classes and split by a forest mask.
    Hash-checks bin_index's np.histogram semantics (last bin
    right-inclusive) + the area/percentage arithmetic."""
    from niamoto_spark.operators.eco_zonal import forest_elevation_analysis

    z = spark.createDataFrame([("a", 0), ("b", 1)], "zone string, zidx int")
    px = z.select("zone", "zidx",
                  F.explode(F.sequence(F.lit(0), F.lit(899))).alias("i"))
    row = F.floor(F.col("i") / 30).cast("int")
    col = F.col("i") % 30
    elev = (row + col) / (2.0 * 29) * 1500.0
    forest = ((F.col("i") * 7 + F.col("zidx") * 13) % 10 < 6).cast("int")
    pixels = px.select("zone", elev.alias("elevation"),
                       forest.alias("forest"))
    out = forest_elevation_analysis(pixels, ["zone"], "elevation", "forest",
                                    edges=[0, 300, 600, 900, 1200, 1500])
    return out.orderBy("zone", "class_index")


O_Q83 = """
WITH z(zone, zidx) AS (VALUES ('a', 0), ('b', 1)),
px AS (SELECT zone, zidx, unnest(range(0, 900)) AS i FROM z),
p AS (SELECT zone,
             ((i // 30) + (i % 30)) / (2.0 * 29) * 1500.0 AS elev,
             CASE WHEN (i * 7 + zidx * 13) % 10 < 6 THEN 1 ELSE 0 END
               AS forest
      FROM px),
bins(class_index, class_label, lo, hi, is_last) AS (VALUES
  (0, '0-300', 0.0, 300.0, false), (1, '300-600', 300.0, 600.0, false),
  (2, '600-900', 600.0, 900.0, false),
  (3, '900-1200', 900.0, 1200.0, false),
  (4, '1200-1500', 1200.0, 1500.0, true)),
j AS (SELECT p.zone, b.class_index, b.class_label, p.forest
      FROM p JOIN bins b
        ON p.elev >= b.lo
       AND (p.elev < b.hi OR (b.is_last AND p.elev <= b.hi))),
a AS (SELECT zone, class_index, class_label,
             count(*) AS n, sum(forest) AS nf
      FROM j GROUP BY 1, 2, 3)
SELECT zone, class_index, class_label,
       round(nf * CAST(900.0 AS DOUBLE), 2) AS forest_area_m2,
       round((n - nf) * CAST(900.0 AS DOUBLE), 2) AS non_forest_area_m2,
       round(nf * CAST(100.0 AS DOUBLE) / n, 2) AS forest_pct
FROM a
"""


def q84_lm_quality(spark, sf_dir):
    """CCNet-style unigram LM quality proxy over documents (corpus-fit
    add-k model, mean token log-prob per doc).  Full SQL oracle — DuckDB
    refits the same model and reproduces every score."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return text_ops.unigram_logprob_score(d, "doc_id", "text")


O_Q84 = r"""
WITH d AS (SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 200),
tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(t), '\s+')) AS token
        FROM d WHERE length(trim(t)) > 0),
c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total,
               CAST(count(*) AS DOUBLE) AS vocab FROM c),
lp AS (SELECT token,
              ln((n + CAST(0.5 AS DOUBLE))
                 / (total + CAST(0.5 AS DOUBLE) * vocab)) AS lp
       FROM c, tot),
per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(lp), 4) AS mean_logprob
        FROM tok JOIN lp USING (token) GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(per.n_tokens, 0) AS BIGINT) AS n_tokens,
       per.mean_logprob
FROM d LEFT JOIN per USING (doc_id)
"""


def q85_stream_dedup(spark, sf_dir):
    """Streaming dedup surface: documents flow through
    dropDuplicatesWithinWatermark on the normalized-content fingerprint
    (streaming/dedup.py) under availableNow.  WHICH row of a duplicate
    group survives depends on arrival order, so the oracle checks the
    order-invariant part: the surviving cardinality equals the batch
    count of distinct fingerprints."""
    import tempfile

    from niamoto_spark.streaming.dedup import dedup_stream

    src = os.path.join(sf_dir, "documents.parquet")
    stream_dir = os.path.join(
        tempfile.gettempdir(),
        "niamoto_docstream_" + sf_dir.strip("/").replace("/", "_"))
    os.makedirs(stream_dir, exist_ok=True)
    _link_parquet_source(src, stream_dir, "documents")
    schema = spark.read.parquet(src).schema
    # +1 day: a synthetic event time of exactly epoch 0 (doc_id 0) sits ON
    # the initial watermark and is discarded as late — keep all rows above
    stream = (spark.readStream.schema(schema).parquet(stream_dir)
              .withColumn("ts", F.timestamp_seconds(
                  F.col("doc_id") + F.lit(86400))))
    kept = dedup_stream(stream, "text", "ts", watermark="1 hour")
    qname = "q85_stream_dedup"
    q = (kept.writeStream.format("memory").queryName(qname)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(qname).agg(
        F.count(F.lit(1)).alias("n_docs_surviving"))


O_Q85 = r"""
-- the NULL-text group survives as ONE doc (stream dedup keeps a single
-- row for it; count(DISTINCT) alone would skip the NULL key)
SELECT CAST(count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
            + max(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_docs_surviving
FROM documents
"""


def q86_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): for each click event, the most
    recent prior-or-same-instant purchase value for the same user.  The
    oracle is DuckDB's native ASOF LEFT JOIN — an independent
    implementation of the same temporal-nearest semantics."""
    from niamoto_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)  # ts normalized to epoch-micros long
    clicks = (ev.where((F.col("event_type") == "click")
                       & F.col("ts_us").isNotNull())
              .select("event_id", "user_id", F.col("ts_us").alias("ts")))
    # dedupe right side on (user, ts) so the match is deterministic
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .groupBy("user_id", F.col("ts_us").alias("ts"))
                 .agg(F.max("value").alias("purchase_value")))
    joined = asof_join(clicks, purchases, on="user_id", left_ts="ts",
                       value_cols=["purchase_value"],
                       matched_ts_col="purchase_ts")
    return joined.select(
        "event_id", "user_id",
        F.col("purchase_ts").cast("long").alias("purchase_epoch_us"),
        F.round("purchase_value", 6).alias("purchase_value"))


O_Q86 = """
-- non-NULL timestamps only: DuckDB's ASOF range search treats a NULL
-- right ts as matchable (value carried with NULL epoch) — pin the
-- event-time semantic (as q31/q113) on both sides instead
WITH clicks AS (
    SELECT event_id, user_id, ts FROM events
    WHERE event_type = 'click' AND ts IS NOT NULL
), purchases AS (
    SELECT user_id, ts, max(value) AS purchase_value
    FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_epoch_us,
       round(p.purchase_value, 6) AS purchase_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


_BM25_QUERIES = [
    ("k1", "spark window agg"),
    ("k2", "customer query table join"),
    ("k3", "vector stream batch merge"),
]


def q87_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval (operators/retrieval.py) over documents for
    three fixed keyword queries.  The oracle recomputes the full model —
    postings, df, idf, length norm, ranking — in DuckDB SQL."""
    from niamoto_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BM25_QUERIES,
                                    ["query_id", "query_text"])
    return bm25_topk(docs, queries, k=10, round_dp=4)


O_Q87 = r"""
WITH q(query_id, query_text) AS (
    VALUES ('k1', 'spark window agg'),
           ('k2', 'customer query table join'),
           ('k3', 'vector stream batch merge')
),
toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS tl
    FROM documents
    WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
postings AS (
    SELECT doc_id, dl, token, count(*) AS tf FROM (
        SELECT doc_id, len(tl) AS dl, unnest(tl) AS token FROM toks
    ) GROUP BY 1, 2, 3
),
corpus AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           avg(CAST(len(tl) AS DOUBLE)) AS avgdl
    FROM toks
),
qt AS (
    SELECT DISTINCT query_id, token FROM (
        SELECT query_id,
               unnest(list_filter(
                   regexp_split_to_array(lower(query_text), '[^a-z0-9]+'),
                   x -> x <> '')) AS token
        FROM q
    )
),
dfreq AS (
    SELECT token, CAST(count(*) AS DOUBLE) AS df
    FROM postings
    WHERE token IN (SELECT DISTINCT token FROM qt)
    GROUP BY token
),
scored AS (
    SELECT qt.query_id, p.doc_id,
           round(sum(
               ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
               * p.tf * 2.2
               / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / c.avgdl))
           ), 4) AS score
    FROM postings p
    JOIN qt ON p.token = qt.token
    JOIN dfreq d ON p.token = d.token
    CROSS JOIN corpus c
    GROUP BY 1, 2
)
SELECT query_id, doc_id, score, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
    FROM scored
) WHERE rank <= 10
"""


def q88_temperature_sample(spark, sf_dir):
    """Temperature-based domain rebalancing (text.temperature_sample,
    alpha=0.5) over documents stratified by language.  The oracle
    recomputes the closed-form keep rate (n_min/n_d)^(1-alpha) and the
    md5-threshold row selection entirely in SQL — same rows, any engine."""
    docs = _t(spark, sf_dir, "documents")
    kept = text_ops.temperature_sample(docs, "doc_id", "lang", alpha=0.5)
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.min("doc_id").alias("first_id"),
                 F.sum("doc_id").alias("id_sum")))


O_Q88 = """
WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n
           FROM documents GROUP BY lang),
m AS (SELECT min(n) AS nmin FROM c),
r AS (SELECT lang, round(pow(nmin / n, 0.5), 9) AS rate FROM c, m),
kept AS (
    SELECT d.lang, d.doc_id
    FROM documents d JOIN r USING (lang)
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS UBIGINT) < r.rate * 4294967296.0)
SELECT lang, count(*) AS n_kept, min(doc_id) AS first_id,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM kept GROUP BY lang
"""


def q89_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (similarity.semantic_dedup,
    min_neighbor strategy) at the q29 threshold.  Oracle: exact cosine
    pairs in SQL, survivors = ids with no smaller-id neighbor."""
    emb = _t(spark, sf_dir, "embeddings")
    kept = sim_ops.semantic_dedup(emb, "vec_id", "embedding",
                                  threshold=0.42, round_dp=4)
    return (kept.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.min("vec_id").alias("first_id"),
                 F.sum("vec_id").alias("id_sum")))


O_Q89 = """
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
dropped AS (
    SELECT DISTINCT b.vec_id
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.42)
SELECT label, count(*) AS n_kept, min(vec_id) AS first_id,
       CAST(sum(vec_id) AS BIGINT) AS id_sum
-- a row that cannot be paired (NULL id) survives by default; the bare
-- NOT IN would exclude it (NULL NOT IN ... is never true)
FROM e WHERE vec_id IS NULL
   OR vec_id NOT IN (SELECT vec_id FROM dropped)
GROUP BY label
"""


def q90_pq_adc_topk(spark, sf_dir):
    """Product-quantization ADC search (operators/quantization.py): M=4
    subspaces, K=16 centroids pinned to the subvectors of vec_id 0..15
    (deterministic, no kmeans) so the oracle can REBUILD the codebook,
    re-derive every code (rounded-argmin, ties to smallest id) and the
    full ADC ranking in SQL.  kmeans-trained codebooks are covered by the
    recall test instead (approximate by nature)."""
    from niamoto_spark.operators.quantization import pq_encode, pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    # codebook contract: the FIRST 16 identified rows WITH vectors
    # (not vec_id < 16 — a NULL id or NULL embedding there would feed
    # None into the codebook; rate-0.3 NULL probe find)
    cb_rows = (emb.where(F.col("vec_id").isNotNull()
                         & F.col("embedding").isNotNull())
               .orderBy("vec_id").limit(16)
               .select("embedding").collect())
    dsub = len(cb_rows[0]["embedding"]) // 4
    books = [[[float(x) for x in r["embedding"][m * dsub:(m + 1) * dsub]]
              for r in cb_rows] for m in range(4)]
    codes = pq_encode(emb, "vec_id", "embedding", books)
    queries = emb.where(F.col("vec_id") < 3)
    return pq_topk(codes, queries, "vec_id", "embedding", books, k=5)


O_Q90 = """
WITH e AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
sub AS (SELECT vec_id, m, list_slice(v, m * 16 + 1, m * 16 + 16) AS sv
        FROM e CROSS JOIN ms),
cbids AS (SELECT vec_id FROM embeddings
          WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
          ORDER BY vec_id LIMIT 16),
cb AS (SELECT m, vec_id AS j, sv AS cv FROM sub
       WHERE vec_id IN (SELECT vec_id FROM cbids)),
dists AS (
    SELECT s.vec_id, s.m, cb.j,
           round(list_dot_product(s.sv, s.sv)
                 - 2 * list_dot_product(s.sv, cb.cv)
                 + list_dot_product(cb.cv, cb.cv), 6) AS d
    FROM sub s JOIN cb ON s.m = cb.m),
dmin AS (SELECT vec_id, m, min(d) AS dm FROM dists GROUP BY 1, 2),
codes AS (
    SELECT d.vec_id, d.m, min(d.j) AS code
    FROM dists d JOIN dmin ON d.vec_id = dmin.vec_id AND d.m = dmin.m
    WHERE d.d = dmin.dm GROUP BY 1, 2),
qt AS (
    SELECT q.vec_id AS query_id, cb.m, cb.j,
           list_dot_product(q.sv, q.sv)
           - 2 * list_dot_product(q.sv, cb.cv)
           + list_dot_product(cb.cv, cb.cv) AS td
    FROM sub q JOIN cb ON q.m = cb.m
    -- queries are rows WITH vectors (pq_topk's r10 pin)
    WHERE q.vec_id < 3 AND q.sv IS NOT NULL),
adc AS (
    SELECT qt.query_id, c.vec_id AS neighbor_id,
           round(sum(qt.td), 4) AS adc_dist
    FROM codes c JOIN qt ON qt.m = c.m AND qt.j = c.code
    GROUP BY 1, 2)
SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
    FROM adc
) WHERE rank <= 5
"""


def q91_bpe_pair_counts(spark, sf_dir):
    """First BPE training iteration (operators/bpe.py): symbol-pair
    frequencies over the word-count table (chars + </w> segmentation),
    top-20 with full tie-break.  The oracle re-derives word counts,
    segmentation and pair explosion in SQL.  (The merge LOOP is driver-
    side over this same table — golden-tested in tests/test_bpe.py.)"""
    from niamoto_spark.operators.bpe import (bpe_pair_counts,
                                             bpe_word_counts,
                                             initial_segmentation)

    docs = _t(spark, sf_dir, "documents")
    pc = bpe_pair_counts(initial_segmentation(
        bpe_word_counts(docs, "text")))
    return (pc.orderBy(F.desc("pair_n"), "sym_a", "sym_b").limit(20))


O_Q91 = r"""
WITH w AS (
    SELECT word, count(*) AS n FROM (
        SELECT unnest(list_filter(
            regexp_split_to_array(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) AS word
        FROM documents) GROUP BY word
),
pairs AS (
    SELECT substr(word, i, 1) AS sym_a,
           CASE WHEN i < len(word) THEN substr(word, i + 1, 1)
                ELSE '</w>' END AS sym_b,
           n
    FROM (SELECT word, n, unnest(generate_series(1, len(word))) AS i
          FROM w)
)
SELECT sym_a, sym_b, CAST(sum(n) AS BIGINT) AS pair_n
FROM pairs GROUP BY 1, 2
ORDER BY pair_n DESC, sym_a, sym_b LIMIT 20
"""


def q92_cross_corpus_dedup(spark, sf_dir):
    """Cross-corpus ingestion dedup via the EXACT prefix-filtered Jaccard
    join (dedup.jaccard_similarity_join — AllPairs/PPJoin family): a new
    batch of 50 planted near-copies (source text + ' tail tail tail') and
    20 novel docs is matched against the full corpus.  The oracle brute-
    forces every (new, corpus) pair with list_intersect — agreement
    proves the prefix filter loses no pairs."""
    docs = _t(spark, sf_dir, "documents")
    planted = (docs.where(F.col("doc_id") < 50)
               .select((F.col("doc_id") + 10000).alias("doc_id"),
                       F.concat(F.col("text"),
                                F.lit(" tail tail tail")).alias("text")))
    novel = (docs.where(F.col("doc_id") < 20)
             .select((F.col("doc_id") + 20000).alias("doc_id"),
                     F.concat_ws(" ", *[
                         F.concat(F.lit("nv"),
                                  (F.col("doc_id") + F.lit(i)).cast("string"))
                         for i in range(8)]).alias("text")))
    new_batch = planted.union(novel)
    pairs = dedup_ops.jaccard_similarity_join(
        new_batch, docs, "doc_id", "text", "doc_id", "text",
        shingle_k=3, threshold=0.8)
    return (pairs.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_matches"),
                 F.max("jaccard").alias("best_jaccard"),
                 F.min("doc_id_right").alias("first_match")))


O_Q92 = r"""
WITH newb AS (
    SELECT doc_id + 10000 AS doc_id, text || ' tail tail tail' AS text
    FROM documents WHERE doc_id < 50
    UNION ALL
    SELECT doc_id + 20000 AS doc_id,
           concat_ws(' ', 'nv' || doc_id, 'nv' || (doc_id + 1),
                     'nv' || (doc_id + 2), 'nv' || (doc_id + 3),
                     'nv' || (doc_id + 4), 'nv' || (doc_id + 5),
                     'nv' || (doc_id + 6), 'nv' || (doc_id + 7)) AS text
    FROM documents WHERE doc_id < 20
),
ng AS (
    SELECT doc_id, list_distinct(list_transform(
               range(1, len(t) - 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
    FROM (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM newb
          WHERE length(trim(text)) > 0 AND doc_id IS NOT NULL)
    WHERE len(t) >= 3
),
cg AS (
    SELECT doc_id, list_distinct(list_transform(
               range(1, len(t) - 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g
    FROM (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents
          WHERE length(trim(text)) > 0 AND doc_id IS NOT NULL)
    WHERE len(t) >= 3
),
pairs AS (
    SELECT n.doc_id, c.doc_id AS rid,
           round(CAST(len(list_intersect(n.g, c.g)) AS DOUBLE)
                 / (len(n.g) + len(c.g) - len(list_intersect(n.g, c.g))),
                 4) AS jaccard
    FROM ng n CROSS JOIN cg c
)
SELECT doc_id, count(*) AS n_matches, max(jaccard) AS best_jaccard,
       min(rid) AS first_match
FROM pairs WHERE jaccard >= 0.8
GROUP BY doc_id
"""


def q93_substring_dup(spark, sf_dir):
    """Exact-substring duplication (operators/substrings.py — the Lee et
    al. 2022 substring-dedup lane): planted documents quote a 200-char
    slice of a source doc behind fresh prologue/epilogue text, so each
    (source, quoting) pair shares a long verbatim span without being a
    whole-document near-dup.  All-positions mode: the oracle regenerates
    every 30-char window as a STRING in DuckDB and joins on gram equality
    — agreement proves the xxhash64 fingerprint join finds exactly the
    string-equal windows and the span bounds are exact."""
    from niamoto_spark.operators.substrings import substring_dup_pairs

    docs = (_t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
            .select("doc_id", "text"))
    quoted = docs.select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat(F.lit("zq zq zq prologue "), F.substring("text", 10, 200),
                 F.lit(" epilogue zq zq")).alias("text"))
    corpus = docs.unionByName(quoted)
    return substring_dup_pairs(corpus, "doc_id", "text", gram_chars=30,
                               min_shared_grams=5, max_gram_df=None)


O_Q93 = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 50000 AS doc_id,
         'zq zq zq prologue ' || substr(text, 10, 200) || ' epilogue zq zq'
           AS text
  FROM documents WHERE doc_id < 100
),
norm AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM corpus
),
fp AS (
  SELECT doc_id, CAST(pos AS INT) AS pos,
         substr(t, CAST(pos AS INT), 30) AS gram
  FROM (SELECT doc_id, t, unnest(range(1, length(t) - 28)) AS pos
        FROM norm)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       count(DISTINCT a.gram) AS n_shared_grams,
       CAST(min(a.pos) AS INT) AS a_start,
       CAST(max(a.pos) + 29 AS INT) AS a_end,
       CAST(min(b.pos) AS INT) AS b_start,
       CAST(max(b.pos) + 29 AS INT) AS b_end
FROM fp a JOIN fp b ON a.gram = b.gram AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(DISTINCT a.gram) >= 5
"""


def q94_interval_join(spark, sf_dir):
    """Interval (point-in-range) join (operators/interval.py): every click
    landing inside a 30-minute attribution window opened by a purchase of
    the same user.  Granule co-partitioning (equi-join on user × hour
    bucket + range refine) — the oracle is DuckDB's native inequality
    join, an independent formulation of the same containment."""
    from niamoto_spark.operators.interval import interval_join

    ev = _events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts_sec").alias("win_start"),
        (F.col("ts_sec") + 1800).alias("win_end"))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_sec").alias("click_ts"),
        F.col("value").alias("click_value"))
    j = interval_join(clicks, purchases, on="user_id", point_ts="click_ts",
                      start_col="win_start", end_col="win_end",
                      granule_s=3600)
    return (j.groupBy("purchase_id")
            .agg(F.count(F.lit(1)).alias("n_clicks"),
                 F.round(F.sum("click_value"), 2).alias("click_value_sum")))


O_Q94 = """
WITH p AS (SELECT event_id AS purchase_id, user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS ws
           FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts, value
           FROM events WHERE event_type = 'click')
SELECT p.purchase_id, count(*) AS n_clicks,
       round(sum(c.value), 2) AS click_value_sum
FROM p JOIN c
  ON p.user_id = c.user_id AND p.ws <= c.ts AND c.ts < p.ws + 1800
GROUP BY 1
"""


def q95_cube_revenue(spark, sf_dir):
    """CUBE aggregation (SURVEY §2.4 relational surface — completes the
    rollup/pivot family of q50/q55): revenue over every subset of
    {returnflag, linestatus}, with the grouping bitmask distinguishing
    subtotal levels."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.grouping_id().alias("gid"),
                 F.count(F.lit(1)).alias("n_items"),
                 F.round(F.sum(rev), 2).alias("revenue")))


O_Q95 = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q96_profile_table(spark, sf_dir):
    """Single-job column profiling (operators/profiling.py): null counts,
    exact distinct counts, numeric min/max/avg and string-length bounds
    for every customer column, computed in ONE wide aggregate (the
    reference's per-field statistical_summary queries collapsed into one
    pass) and reshaped with stack."""
    from niamoto_spark.operators.profiling import profile_table

    return profile_table(_t(spark, sf_dir, "customer"))


def _q96_col_block(col: str) -> str:
    """One O_Q96 UNION branch, stat roles driven by LIVE dtype: numeric
    min/max/avg only for non-string columns, length bounds only for
    strings — mirroring profile_table's dtype dispatch so the oracle
    stays correct when tools/dtype_probe.py rewrites column types
    (strkeys turns c_custkey into VARCHAR, decimal turns c_acctbal
    into DECIMAL(18,4)).  TRY_CAST keeps the un-taken branch bindable."""
    dt = f"(SELECT dtype FROM meta WHERE column_name = '{col}')"
    return f"""
SELECT '{col}' AS col_name, {dt} AS dtype, n_rows,
       (SELECT count(*) - count({col}) FROM customer) AS n_nulls,
       (SELECT count(DISTINCT {col}) FROM customer) AS n_distinct,
       CASE WHEN {dt} <> 'string' THEN
         (SELECT round(min(TRY_CAST({col} AS DOUBLE)), 4) FROM customer)
       END AS num_min,
       CASE WHEN {dt} <> 'string' THEN
         (SELECT round(max(TRY_CAST({col} AS DOUBLE)), 4) FROM customer)
       END AS num_max,
       CASE WHEN {dt} <> 'string' THEN
         (SELECT round(avg(TRY_CAST({col} AS DOUBLE)), 4) FROM customer)
       END AS num_avg,
       CASE WHEN {dt} = 'string' THEN
         (SELECT CAST(min(length(CAST({col} AS VARCHAR))) AS INT)
          FROM customer)
       END AS len_min,
       CASE WHEN {dt} = 'string' THEN
         (SELECT CAST(max(length(CAST({col} AS VARCHAR))) AS INT)
          FROM customer)
       END AS len_max
FROM base"""


O_Q96 = """
WITH meta AS (
  -- dtype from live metadata, not literals: the dtype probe rewrites
  -- the gate parquet under int32/strkeys/decimal mutations and the
  -- profiler must report what the file actually holds (DuckDB names
  -- -> Spark simpleString names)
  SELECT column_name, CASE data_type
    WHEN 'BIGINT' THEN 'bigint' WHEN 'INTEGER' THEN 'int'
    WHEN 'SMALLINT' THEN 'smallint' WHEN 'TINYINT' THEN 'tinyint'
    WHEN 'DOUBLE' THEN 'double' WHEN 'FLOAT' THEN 'float'
    WHEN 'VARCHAR' THEN 'string' WHEN 'TIMESTAMP' THEN 'timestamp_ntz'
    ELSE lower(data_type) END AS dtype
  FROM information_schema.columns WHERE table_name = 'customer'
),
base AS (SELECT count(*) AS n_rows FROM customer)
""" + "\nUNION ALL\n".join(_q96_col_block(c) for c in (
    "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))


def q97_tfidf_cosine(spark, sf_dir):
    """Sparse lexical similarity (operators/tfidf.py): TF-IDF postings
    self-join on token -> per-pair dot product (inverted-index cosine).
    The oracle refits the identical sklearn-default smooth-idf model in
    DuckDB SQL end-to-end: tokenize, df, idf, L2 norm, join, threshold."""
    from niamoto_spark.operators.tfidf import tfidf_cosine_pairs

    docs = (_t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
            .select("doc_id", "text"))
    return tfidf_cosine_pairs(docs, "doc_id", "text", threshold=0.3,
                              max_df_frac=0.5)


O_Q97 = r"""
WITH d AS (SELECT doc_id, trim(lower(text)) AS t
           FROM documents WHERE doc_id < 200),
tok AS (SELECT doc_id, unnest(regexp_split_to_array(t, '\s+')) AS token
        FROM d WHERE length(t) > 0),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM d),
dfq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY 1),
idf AS (SELECT token, ln((1.0 + n) / (dfc + 1)) + 1 AS idf
        FROM dfq, nd WHERE dfc <= 0.5 * n),
w AS (SELECT tf.doc_id, tf.token, tf.tf * idf.idf AS w_raw
      FROM tf JOIN idf USING (token)),
nw AS (SELECT doc_id, token,
              w_raw / sqrt(sum(w_raw * w_raw)
                           OVER (PARTITION BY doc_id)) AS weight
       FROM w),
dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                sum(a.weight * b.weight) AS dot
         FROM nw a JOIN nw b ON a.token = b.token AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
SELECT id_a, id_b, round(dot, 4) AS cosine
FROM dots WHERE round(dot, 4) >= 0.3
"""


def q98_scd2_history(spark, sf_dir):
    """SCD type-2 history (operators/history.py): each user's event_type
    state as validity intervals — consecutive re-statements collapse into
    one episode, valid_to chains to the next episode's start, the last
    episode per user is flagged current.  One window shuffle; the oracle
    rebuilds the same episodes with lag/lead in DuckDB."""
    from niamoto_spark.operators.history import scd2_history

    # SCD2 episodes are defined over timestamped, ADDRESSABLE events:
    # a NULL ts or NULL event_id breaks the total order the episode
    # collapse depends on (ties collapse differently per engine —
    # found by the sf0.1 NULL probe, 4-row episode-count drift)
    ev = (_events(spark, sf_dir)
          .select("user_id", "event_type", "ts_sec", "event_id")
          .where(F.col("ts_sec").isNotNull()
                 & F.col("event_id").isNotNull()))
    return scd2_history(ev, ["user_id"], "ts_sec", ["event_type"],
                        order_cols=["event_id"]) \
        .select("user_id", "event_type", "valid_from", "valid_to",
                "is_current")


O_Q98 = """
WITH e AS (SELECT user_id, event_type, event_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS sec
           FROM events
           WHERE ts IS NOT NULL AND event_id IS NOT NULL),
m AS (SELECT *,
          row_number() OVER (PARTITION BY user_id
                             ORDER BY sec NULLS FIRST,
                                      event_id NULLS FIRST) AS rn,
          lag(event_type) OVER
          (PARTITION BY user_id ORDER BY sec NULLS FIRST,
                                         event_id NULLS FIRST) AS prev
      FROM e),
-- rn=1 (not "prev IS NULL") detects the first row: lag() also returns
-- NULL when the PREVIOUS STATE ITSELF is NULL, and a NULL state is a
-- legal episode value (IS DISTINCT FROM compares it null-safely)
ep AS (SELECT user_id, event_type, sec, event_id FROM m
       WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
iv AS (SELECT user_id, event_type, sec AS valid_from,
              lead(sec) OVER
                  (PARTITION BY user_id ORDER BY sec NULLS FIRST,
                                                 event_id NULLS FIRST)
                  AS valid_to
       FROM ep)
SELECT user_id, event_type, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM iv
"""


def q99_stream_stream_join(spark, sf_dir):
    """Stream-stream event-time join (streaming/joins.py): the SAME
    purchase->click attribution as batch q94, but as two live streams
    joined in Structured Streaming state with watermarks.  availableNow
    drains the static events dir in one pass; the raw joined pairs land
    in a memory sink and a batch aggregate reduces them to q94's exact
    output shape — so the DuckDB inequality-join oracle doubles as a
    stream==batch parity check."""
    import os
    import tempfile

    from niamoto_spark.streaming.joins import stream_interval_join

    src = os.path.join(sf_dir, "events.parquet")
    stream_dir = os.path.join(
        tempfile.gettempdir(),
        "niamoto_ssj_" + sf_dir.strip("/").replace("/", "_"))
    os.makedirs(stream_dir, exist_ok=True)
    _link_parquet_source(src, stream_dir, "events")
    schema = spark.read.parquet(src).schema

    def _stream():
        return _ts_to_timestamp(
            spark.readStream.schema(schema).parquet(stream_dir))

    purchases = (_stream().where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"), "user_id",
                         F.col("ts").alias("p_ts")))
    clicks = (_stream().where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts"),
                      F.col("value").alias("click_value")))
    joined = stream_interval_join(
        clicks.withColumnRenamed("c_user", "user_id"), purchases,
        on="user_id", point_ts="c_ts", interval_ts="p_ts", span_s=1800)
    qname = "q99_ssj_pairs"
    q = (joined.select("purchase_id", "click_value")
         .writeStream.format("memory").queryName(qname)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(qname)
            .groupBy("purchase_id")
            .agg(F.count(F.lit(1)).alias("n_clicks"),
                 F.round(F.sum("click_value"), 2).alias("click_value_sum")))


# identical semantics to q94, streaming execution
O_Q99 = O_Q94


def q100_kmeans(spark, sf_dir):
    """Deterministic distributed k-means (operators/clustering.py):
    min-id init, 2 Lloyd's iterations, final assignment — the oracle
    REPLAYS the identical iterations unrolled in DuckDB SQL (init ->
    assign -> update -> assign -> update -> assign), so the whole
    iterative algorithm is pinned, not just row counts."""
    from niamoto_spark.operators.clustering import kmeans_cluster_profile

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_cluster_profile(emb, "vec_id", "embedding", k=8, iters=2)


O_Q100 = """
WITH e AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
dims AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS val,
                CAST(unnest(range(len(embedding))) AS INT) AS dim
         FROM e),
init AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                    AS cid, vec_id
         FROM e ORDER BY vec_id LIMIT 8),
c0 AS (SELECT i.cid, d.dim, d.val FROM init i
       JOIN dims d ON i.vec_id = d.vec_id),
d1 AS (SELECT d.vec_id, c.cid,
              sum((d.val - c.val) * (d.val - c.val)) AS d2
       FROM dims d JOIN c0 c ON d.dim = c.dim GROUP BY 1, 2),
a1 AS (SELECT vec_id, cid FROM (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cid) AS rk
           FROM d1) WHERE rk = 1),
c1 AS (SELECT a.cid, d.dim, avg(d.val) AS val
       FROM a1 a JOIN dims d ON a.vec_id = d.vec_id GROUP BY 1, 2),
d2_ AS (SELECT d.vec_id, c.cid,
               sum((d.val - c.val) * (d.val - c.val)) AS d2
        FROM dims d JOIN c1 c ON d.dim = c.dim GROUP BY 1, 2),
a2 AS (SELECT vec_id, cid FROM (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cid) AS rk
           FROM d2_) WHERE rk = 1),
c2 AS (SELECT a.cid, d.dim, avg(d.val) AS val
       FROM a2 a JOIN dims d ON a.vec_id = d.vec_id GROUP BY 1, 2),
d3 AS (SELECT d.vec_id, c.cid,
              sum((d.val - c.val) * (d.val - c.val)) AS d2
       FROM dims d JOIN c2 c ON d.dim = c.dim GROUP BY 1, 2),
a3 AS (SELECT vec_id, cid, d2 FROM (
           SELECT vec_id, cid, d2,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cid) AS rk
           FROM d3) WHERE rk = 1)
SELECT cid AS cluster_id, count(*) AS n_members,
       round(avg(d2), 3) AS mean_d2
FROM a3 GROUP BY 1
"""


def q101_quality_dedup_clusters(spark, sf_dir):
    """Quality-aware duplicate-cluster resolution
    (operators/components.py:cluster_representatives): unigram-Jaccard
    pairs -> label-propagation connected components -> per cluster elect
    the LONGEST member (n_chars, ties min id) as keeper.  The oracle
    rebuilds the clusters with a WITH RECURSIVE transitive closure and
    the same argmax — pinning the iterative component labels themselves."""
    from niamoto_spark.operators.components import cluster_representatives

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = dedup_ops.ngram_jaccard_pairs(d, "doc_id", "text", n=1,
                                          threshold=0.6, block_col="source")
    return cluster_representatives(d, pairs.select("id_a", "id_b"),
                                   "doc_id", "n_chars")


O_Q101 = r"""
WITH g AS (SELECT doc_id, source,
                  list_distinct(regexp_split_to_array(lower(trim(text)),
                                                      '\s+')) AS toks
           FROM documents WHERE doc_id < 200),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
              > 0
        AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks))), 4) >= 0.6),
edges AS (SELECT id_a AS a, id_b AS b FROM p
          UNION SELECT id_b, id_a FROM p),
reach AS (
    WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
    SELECT * FROM r),
comp AS (SELECT a AS node_id, least(a, min(b)) AS component_id
         FROM reach GROUP BY a),
scored AS (SELECT c.component_id, c.node_id, d.n_chars,
                  row_number() OVER (PARTITION BY c.component_id
                                     ORDER BY d.n_chars DESC,
                                              c.node_id ASC) AS rk
           FROM comp c JOIN documents d ON c.node_id = d.doc_id)
SELECT component_id, count(*) AS n_docs,
       max(CASE WHEN rk = 1 THEN node_id END) AS kept_id
FROM scored GROUP BY component_id
"""


def q102_pagerank(spark, sf_dir):
    """PageRank centrality (operators/graph.py) over the unigram-Jaccard
    similarity graph: 3 deterministic power iterations, undirected
    edges, uniform init — the oracle unrolls the identical iterations in
    DuckDB SQL (r0 -> i1/r1 -> i2/r2 -> i3/r3), pinning the full
    iterative computation like q100 does for k-means."""
    from niamoto_spark.operators.graph import pagerank

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = dedup_ops.ngram_jaccard_pairs(d, "doc_id", "text", n=1,
                                          threshold=0.6, block_col="source")
    return pagerank(pairs.select("id_a", "id_b"), iters=3)


O_Q102 = r"""
WITH g AS (SELECT doc_id, source,
                  list_distinct(regexp_split_to_array(lower(trim(text)),
                                                      '\s+')) AS toks
           FROM documents WHERE doc_id < 200),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
              > 0
        AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks))), 4) >= 0.6),
edges AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
nodes AS (SELECT DISTINCT src AS node_id FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
-- integer pico-unit rank mass: exact bigint inflow sums, same recipe
-- as the engine (operators/graph.py:pagerank, composed-probe r12)
r0 AS (SELECT node_id,
              CAST(round(1000000000000.0 / n) AS BIGINT) AS rank_pu
       FROM nodes CROSS JOIN nn),
i1 AS (SELECT e.dst AS node_id,
              sum(CAST(round(CAST(r.rank_pu AS DOUBLE) / d.deg) AS BIGINT))
                AS inflow
       FROM edges e JOIN r0 r ON e.src = r.node_id
       JOIN deg d ON e.src = d.src GROUP BY 1),
r1 AS (SELECT nodes.node_id,
              CAST(round((1.0 - 0.85) * (1000000000000.0 / n)
                         + 0.85 * coalesce(i1.inflow, 0)) AS BIGINT)
                AS rank_pu
       FROM nodes CROSS JOIN nn
       LEFT JOIN i1 ON nodes.node_id = i1.node_id),
i2 AS (SELECT e.dst AS node_id,
              sum(CAST(round(CAST(r.rank_pu AS DOUBLE) / d.deg) AS BIGINT))
                AS inflow
       FROM edges e JOIN r1 r ON e.src = r.node_id
       JOIN deg d ON e.src = d.src GROUP BY 1),
r2 AS (SELECT nodes.node_id,
              CAST(round((1.0 - 0.85) * (1000000000000.0 / n)
                         + 0.85 * coalesce(i2.inflow, 0)) AS BIGINT)
                AS rank_pu
       FROM nodes CROSS JOIN nn
       LEFT JOIN i2 ON nodes.node_id = i2.node_id),
i3 AS (SELECT e.dst AS node_id,
              sum(CAST(round(CAST(r.rank_pu AS DOUBLE) / d.deg) AS BIGINT))
                AS inflow
       FROM edges e JOIN r2 r ON e.src = r.node_id
       JOIN deg d ON e.src = d.src GROUP BY 1),
r3 AS (SELECT nodes.node_id,
              CAST(round((1.0 - 0.85) * (1000000000000.0 / n)
                         + 0.85 * coalesce(i3.inflow, 0)) AS BIGINT)
                AS rank_pu
       FROM nodes CROSS JOIN nn
       LEFT JOIN i3 ON nodes.node_id = i3.node_id)
SELECT node_id,
       round(CAST(rank_pu AS DOUBLE) / 1000000000000.0, 6) AS rank
FROM r3
"""


def q103_weighted_sample(spark, sf_dir):
    """Weight-proportional sampling without replacement (operators/
    text.py:weighted_sample — Efraimidis–Spirakis A-Res with the
    md5-derived engine-independent uniform): 20 documents sampled
    proportionally to length.  The oracle recomputes the identical
    -ln(u)/w keys in DuckDB and takes the same top-k — the SELECTION
    itself is verified, not just aggregate shape."""
    from niamoto_spark.operators.text import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(d, "doc_id", "n_chars", k=20) \
        .select("doc_id", "n_chars", "source")


O_Q103 = """
SELECT doc_id, n_chars, source FROM documents
WHERE doc_id IS NOT NULL AND n_chars > 0
ORDER BY -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS UBIGINT) + 0.5) / 4294967296.0) / n_chars ASC,
         doc_id ASC
LIMIT 20
"""


def q104_dsir_importance(spark, sf_dir):
    """DSIR importance weights (operators/text.py:dsir_importance):
    hashed-unigram log-likelihood ratio of the src1 slice vs the rest.
    The oracle REFITS both smoothed bucket models and the per-doc means
    in DuckDB — model fit, hashing, smoothing and scoring all pinned."""
    from niamoto_spark.operators.text import dsir_importance

    d = _t(spark, sf_dir, "documents")
    return dsir_importance(d, "doc_id", "text",
                           is_target=F.col("source") == "src1")


O_Q104 = r"""
WITH d AS (SELECT doc_id, lower(trim(text)) AS t,
                  source = 'src1' AS is_t
           FROM documents),
tok AS (SELECT doc_id, is_t,
               unnest(regexp_split_to_array(t, '\s+')) AS token
        FROM d WHERE length(t) > 0),
b AS (SELECT doc_id, is_t,
             CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS UBIGINT)
                  % 1024 AS BIGINT) AS bucket
      FROM tok),
tc AS (SELECT bucket,
              CAST(count(*) FILTER (is_t) AS DOUBLE) AS ct,
              CAST(count(*) FILTER (NOT is_t) AS DOUBLE) AS cs
       FROM b GROUP BY 1),
tot AS (SELECT sum(ct) AS tt, sum(cs) AS ts FROM tc),
lr AS (SELECT bucket,
              ln(((ct + 0.5) / (tt + 0.5 * 1024)) /
                 ((cs + 0.5) / (ts + 0.5 * 1024))) AS logratio
       FROM tc CROSS JOIN tot),
per_doc AS (SELECT b.doc_id, count(*) AS n_tokens,
                   round(avg(lr.logratio), 4) AS importance
            FROM b JOIN lr USING (bucket) GROUP BY 1)
SELECT docs.doc_id,
       coalesce(per_doc.n_tokens, 0) AS n_tokens,
       per_doc.importance
FROM (SELECT DISTINCT doc_id FROM documents) docs
LEFT JOIN per_doc ON docs.doc_id = per_doc.doc_id
"""


def q105_fuzzy_linkage(spark, sf_dir):
    """Blocked record linkage (operators/linkage.py): customer pairs in
    the same nation whose names are within edit distance 1.  DuckDB's
    native levenshtein is the oracle's scorer — an independent
    implementation of the same metric."""
    from niamoto_spark.operators.linkage import fuzzy_pairs

    c = _t(spark, sf_dir, "customer")
    return fuzzy_pairs(c, "c_custkey", "c_name", "c_nationkey",
                       max_edit_distance=1)


O_Q105 = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_distance,
       round(1.0 - levenshtein(a.c_name, b.c_name)
             / greatest(length(a.c_name), length(b.c_name)), 4) AS name_sim
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


def q106_rolling_window(spark, sf_dir):
    """RANGE-frame rolling aggregate (completes the window-function
    surface beyond q52's ROWS frame): per event, the count and value-sum
    of the same user's events in the preceding hour — a true range
    frame, so simultaneous events enter each other's windows regardless
    of row order."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts_sec")
         .rangeBetween(-3600, 0))
    return (ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 2).alias("value_last_hour")))


O_Q106 = """
SELECT event_id, user_id,
       count(*) OVER w AS n_last_hour,
       round(sum(value) OVER w, 2) AS value_last_hour
FROM (SELECT event_id, user_id, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


def q107_funnel(spark, sf_dir):
    """Ordered funnel (operators/funnel.py): sessions (30-min gap) that
    saw view -> click -> purchase in strict order.  The oracle rebuilds
    sessionization AND the staged strictly-after first-reach joins in
    SQL."""
    from niamoto_spark.operators.funnel import funnel

    ev = (_events(spark, sf_dir)
          .where(F.col("ts_sec").isNotNull()
                 & F.col("event_id").isNotNull())
          .select("user_id", "event_type", "ts_sec", "event_id"))
    return funnel(ev, "user_id", "ts_sec", "event_type",
                  stages=["view", "click", "purchase"],
                  gap_s=1800, order_cols=["event_id"])


O_Q107 = """
WITH e AS (SELECT user_id, event_type, event_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS sec
           FROM events
           WHERE ts IS NOT NULL AND event_id IS NOT NULL),
m AS (SELECT *, lag(sec) OVER (PARTITION BY user_id
                               ORDER BY sec, event_id) AS prev
      FROM e),
s AS (SELECT *, sum(CASE WHEN prev IS NULL OR sec - prev > 1800
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY sec, event_id
                      ROWS UNBOUNDED PRECEDING) AS sid
      FROM m),
v AS (SELECT user_id, sid, min(sec) AS t0 FROM s
      WHERE event_type = 'view' GROUP BY 1, 2),
c AS (SELECT s.user_id, s.sid, min(s.sec) AS t1
      FROM s JOIN v ON s.user_id = v.user_id AND s.sid = v.sid
      WHERE s.event_type = 'click' AND s.sec > v.t0 GROUP BY 1, 2),
p AS (SELECT s.user_id, s.sid, min(s.sec) AS t2
      FROM s JOIN c ON s.user_id = c.user_id AND s.sid = c.sid
      WHERE s.event_type = 'purchase' AND s.sec > c.t1 GROUP BY 1, 2)
SELECT CAST(0 AS INT) AS stage_idx, 'view' AS stage,
       (SELECT count(*) FROM v) AS n_sessions
UNION ALL
SELECT 1, 'click', (SELECT count(*) FROM c)
UNION ALL
SELECT 2, 'purchase', (SELECT count(*) FROM p)
"""


def q108_gap_filling(spark, sf_dir):
    """Time-series densification (operators/timeseries.py): per-user
    hourly event counts with explicit zero rows for every empty hour
    between the user's first and last activity."""
    from niamoto_spark.operators.timeseries import fill_time_gaps

    ev = _events(spark, sf_dir)
    hourly = (ev.groupBy("user_id",
                         F.floor(F.col("ts_sec") / 3600).cast("long")
                          .alias("hour_bucket"))
              .agg(F.count(F.lit(1)).alias("n_events")))
    return fill_time_gaps(hourly, "user_id", "hour_bucket",
                          fill={"n_events": 0})


O_Q108 = """
WITH a AS (SELECT user_id,
                  CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hb,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
s AS (SELECT user_id, min(hb) AS b0, max(hb) AS b1 FROM a GROUP BY 1),
d AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS hb FROM s)
SELECT d.user_id, d.hb AS hour_bucket, coalesce(a.n, 0) AS n_events
FROM d LEFT JOIN a ON d.user_id = a.user_id AND d.hb = a.hb
"""


def q109_cohort_retention(spark, sf_dir):
    """Cohort retention triangle (operators/timeseries.py): users
    bucketed by first-activity day, counted at each later-activity day
    offset."""
    from niamoto_spark.operators.timeseries import cohort_retention

    ev = _events(spark, sf_dir)
    return cohort_retention(ev, "user_id", "ts_sec", granule_s=86_400)


O_Q109 = """
WITH act AS (SELECT DISTINCT user_id,
                    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS b
             FROM events),
f AS (SELECT user_id, min(b) AS cohort FROM act GROUP BY 1)
SELECT f.cohort AS cohort_bucket, act.b - f.cohort AS bucket_offset,
       count(DISTINCT act.user_id) AS n_users
FROM act JOIN f ON act.user_id = f.user_id
GROUP BY 1, 2
"""


def q110_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composite ANN (operators/quantization.py:ivfpq_topk): the
    production index shape — coarse IVF bucket pruning over PQ-ADC
    scoring.  Approximate on two axes, so rows-only in the gate; the
    bucketing loss vs a full-scan ADC is pinned by bench telemetry
    (ivfpq_recall_at_5), matching the q41/q90 policy."""
    from niamoto_spark.operators.quantization import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    # same first-16-identified-vectors codebook contract as q90
    cb_rows = (emb.where(F.col("vec_id").isNotNull()
                         & F.col("embedding").isNotNull())
               .orderBy("vec_id").limit(16)
               .select("embedding").collect())
    dsub = len(cb_rows[0]["embedding"]) // 4
    books = [[[float(x) for x in r["embedding"][m * dsub:(m + 1) * dsub]]
              for r in cb_rows] for m in range(4)]
    queries = emb.where(F.col("vec_id") < 20)
    return ivfpq_topk(emb, queries, "vec_id", "embedding", books, k=5,
                      n_centroids=8, nprobe=3, replication=2)


def q111_setops(spark, sf_dir):
    """INTERSECT / EXCEPT set operations (SURVEY §2.4 — completes the
    set-op family beyond q45's UNION and q27's DISTINCT): nations having
    both AUTOMOBILE and BUILDING customers, minus nations holding a
    high-balance FURNITURE customer (the balance cut keeps the result
    non-empty at every SF — a 0-row check verifies nothing)."""
    c = _t(spark, sf_dir, "customer")
    auto = c.where(F.col("c_mktsegment") == "AUTOMOBILE") \
        .select("c_nationkey")
    bld = c.where(F.col("c_mktsegment") == "BUILDING") \
        .select("c_nationkey")
    furn = c.where((F.col("c_mktsegment") == "FURNITURE") &
                   (F.col("c_acctbal") > 9900)).select("c_nationkey")
    return (auto.intersect(bld).exceptAll(furn.distinct())
            .withColumnRenamed("c_nationkey", "nationkey"))


O_Q111 = """
SELECT c_nationkey AS nationkey FROM customer
WHERE c_mktsegment = 'AUTOMOBILE'
INTERSECT
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT c_nationkey FROM customer
WHERE c_mktsegment = 'FURNITURE' AND c_acctbal > 9900
"""


def q112_ntile_quartiles(spark, sf_dir):
    """ntile window function: customers split into account-balance
    quartiles per market segment (unique (balance, custkey) ordering so
    the tiling is deterministic), then per-quartile stats."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return (c.withColumn("quartile", F.ntile(4).over(w))
            .groupBy("c_mktsegment", "quartile")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.round(F.min("c_acctbal"), 2).alias("bal_min"),
                 F.round(F.max("c_acctbal"), 2).alias("bal_max")))


O_Q112 = """
SELECT c_mktsegment, quartile, count(*) AS n_customers,
       round(min(c_acctbal), 2) AS bal_min,
       round(max(c_acctbal), 2) AS bal_max
FROM (SELECT c_mktsegment, c_acctbal,
             ntile(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal ASC NULLS FIRST,
                                     c_custkey ASC NULLS FIRST)
                 AS quartile
      FROM customer)
GROUP BY 1, 2
"""


def q113_native_session_window(spark, sf_dir):
    """Spark's built-in session_window (gap-based grouping aggregate,
    the engine-native counterpart of q31's manual lag/flag
    sessionization): per-user session count and event total.  The
    oracle is the MANUAL formulation in SQL — agreement proves the
    native operator implements the same gap semantics."""
    ev = _events(spark, sf_dir).where(F.col("ts_sec").isNotNull())
    tsev = ev.withColumn("__ts", F.timestamp_seconds("ts_sec"))
    sess = (tsev.groupBy("user_id",
                         F.session_window("__ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events")))
    return (sess.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum("n_events").alias("n_events")))


O_Q113 = """
WITH e AS (SELECT user_id, event_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS sec
           FROM events WHERE ts IS NOT NULL),
m AS (SELECT *, lag(sec) OVER (PARTITION BY user_id
                               ORDER BY sec, event_id) AS prev
      FROM e),
s AS (SELECT user_id,
             -- Spark's session_window MERGES an event landing exactly
             -- at the previous session's end (gap boundary inclusive),
             -- so a new session needs diff STRICTLY > gap
             sum(CASE WHEN prev IS NULL OR sec - prev > 1800
                      THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY sec, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
SELECT user_id, CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM s GROUP BY user_id
"""


def q114_sliding_windows(spark, sf_dir):
    """Hopping (sliding) windows — completes the window-aggregate family
    beyond q54's tumbling windows: 1-hour windows every 30 minutes, so
    each event lands in exactly two.  The oracle enumerates both
    candidate window starts per event and filters by containment."""
    ev = _events(spark, sf_dir).where(F.col("ts_sec").isNotNull())
    tsev = ev.withColumn("__ts", F.timestamp_seconds("ts_sec"))
    return (tsev.groupBy(F.window("__ts", "1 hour", "30 minutes")
                         .alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("value_sum"))
            .select(F.unix_seconds(F.col("w.start"))
                    .alias("window_start"),
                    "event_type", "n_events", "value_sum"))


O_Q114 = """
WITH e AS (SELECT event_type, value,
                  CAST(floor(epoch(ts)) AS BIGINT) AS sec
           FROM events),
w AS (SELECT event_type, value, sec,
             unnest([(sec // 1800) * 1800,
                     (sec // 1800) * 1800 - 1800]) AS wstart
      FROM e)
SELECT wstart AS window_start, event_type, count(*) AS n_events,
       round(sum(value), 2) AS value_sum
FROM w WHERE sec >= wstart AND sec < wstart + 3600
GROUP BY 1, 2
"""


def q115_split_assign(spark, sf_dir):
    """Deterministic dataset splitting (operators/text.py:split_assign):
    90/5/5 train/val/test from the md5 uniform, reported per (split,
    source).  The oracle recomputes the identical cumulative-interval
    assignment, so the exact membership — not just the proportions — is
    verified."""
    from niamoto_spark.operators.text import split_assign

    d = _t(spark, sf_dir, "documents")
    out = split_assign(d, "doc_id",
                       {"train": 0.9, "val": 0.05, "test": 0.05})
    return (out.groupBy("split", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("first_id")))


O_Q115 = """
WITH u AS (
  SELECT doc_id, source,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS UBIGINT) + 0.5) / 4294967296.0 AS uval
  FROM documents)
SELECT CASE WHEN uval < 0.9 THEN 'train'
            WHEN uval < 0.95 THEN 'val' ELSE 'test' END AS split,
       source, count(*) AS n_docs, min(doc_id) AS first_id
FROM u GROUP BY 1, 2
"""


def q116_contrastive_pairs(spark, sf_dir):
    """Contrastive pair mining (operators/contrastive.py): positives =
    unigram-Jaccard near-dups, negatives = deterministic same-hash-bucket
    picks ranked by the pair hash (never an all-pairs scan).  The oracle
    replays the positives, the bucket assignment, the anti-join and the
    ranked negative selection — the exact pair set is verified."""
    from niamoto_spark.operators.contrastive import contrastive_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pos = dedup_ops.ngram_jaccard_pairs(d, "doc_id", "text", n=1,
                                        threshold=0.6, block_col="source")
    return contrastive_pairs(d, "doc_id", "text", pos.select(
        "id_a", "id_b", "jaccard"))


O_Q116 = r"""
WITH g AS (SELECT doc_id, source,
                  list_distinct(regexp_split_to_array(lower(trim(text)),
                                                      '\s+')) AS toks
           FROM documents WHERE doc_id < 200),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / (len(a.toks) + len(b.toks)
                  - len(list_intersect(a.toks, b.toks))), 4) AS jaccard
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
              > 0
        AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks))), 4) >= 0.6),
posx AS (SELECT id_a AS anchor_id, id_b AS other_id, jaccard AS score
         FROM p
         UNION ALL
         SELECT id_b, id_a, jaccard FROM p),
docs AS (SELECT doc_id,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS UBIGINT) % 32 AS b
         FROM documents WHERE doc_id < 200),
anch AS (SELECT DISTINCT anchor_id FROM posx),
anchb AS (SELECT anchor_id,
                 CAST(('0x' || substr(md5(CAST(anchor_id AS VARCHAR)),
                                      1, 8)) AS UBIGINT) % 32 AS b
          FROM anch),
cand AS (SELECT a.anchor_id, d.doc_id AS other_id
         FROM anchb a JOIN docs d
           ON a.b = d.b AND a.anchor_id != d.doc_id
         WHERE NOT EXISTS (SELECT 1 FROM posx px
                           WHERE px.anchor_id = a.anchor_id
                             AND px.other_id = d.doc_id)),
negs AS (SELECT anchor_id, other_id FROM (
           SELECT anchor_id, other_id,
                  row_number() OVER (PARTITION BY anchor_id
                    ORDER BY CAST(('0x' || substr(
                        md5(CAST(anchor_id AS VARCHAR) || '|'
                            || CAST(other_id AS VARCHAR)), 1, 8))
                        AS UBIGINT) ASC, other_id ASC) AS rk
           FROM cand) WHERE rk <= 3)
SELECT anchor_id, other_id, 'pos' AS label, score FROM posx
UNION ALL
SELECT anchor_id, other_id, 'neg', CAST(NULL AS DOUBLE) FROM negs
"""


def q117_triangles(spark, sf_dir):
    """Per-node triangle counts (operators/graph.py:triangle_count) over
    the unigram-Jaccard similarity graph, via the degree-ordered
    orientation (each triangle a<b<c found exactly once)."""
    from niamoto_spark.operators.graph import triangle_count

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = dedup_ops.ngram_jaccard_pairs(d, "doc_id", "text", n=1,
                                          threshold=0.6, block_col="source")
    return triangle_count(pairs.select("id_a", "id_b"))


O_Q117 = r"""
WITH g AS (SELECT doc_id, source,
                  list_distinct(regexp_split_to_array(lower(trim(text)),
                                                      '\s+')) AS toks
           FROM documents WHERE doc_id < 200),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
              > 0
        AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks))), 4) >= 0.6),
e AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
      FROM p WHERE id_a != id_b),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1 JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT node_id, count(*) AS n_triangles FROM (
    SELECT x AS node_id FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri)
GROUP BY 1
"""


def q118_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape (completes the multi-join analytics family of
    q61/q62): top-20 customers by lost revenue from returned items in
    1995H1, with nation enrichment — two broadcast dims + one fact
    shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.where(F.col("l_returnflag") == "R")
            .join(o.where((F.col("o_orderdate") >= "1995-01-01") &
                          (F.col("o_orderdate") < "1995-07-01")),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(c),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(n),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.round(F.sum(rev), 2).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
            .limit(20))


O_Q118 = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '1995-01-01'
  AND o_orderdate < DATE '1995-07-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q119_imputation(spark, sf_dir):
    """Group-mean imputation (operators/cleaning.py): account balances
    nulled on a deterministic slice (custkey % 10 = 0), refilled with
    the segment mean; per-segment stats verify both the fill values and
    the flag accounting."""
    from niamoto_spark.operators.cleaning import impute

    c = _t(spark, sf_dir, "customer")
    holey = c.withColumn(
        "bal", F.when(F.col("c_custkey") % 10 == 0, None)
                .otherwise(F.col("c_acctbal")))
    fixed = impute(holey, "bal", strategy="mean",
                   group_cols=["c_mktsegment"], flag_col="was_null")
    return (fixed.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.when(F.col("was_null"), 1).otherwise(0))
                  .alias("n_imputed"),
                 F.round(F.sum("bal"), 2).alias("bal_sum")))


O_Q119 = """
WITH h AS (SELECT c_mktsegment,
                  CASE WHEN CAST(c_custkey AS BIGINT) % 10 = 0 THEN NULL
                       ELSE c_acctbal END AS bal
           FROM customer),
m AS (SELECT c_mktsegment, avg(bal) AS seg_mean
      FROM h GROUP BY 1)
SELECT h.c_mktsegment, count(*) AS n_rows,
       CAST(sum(CASE WHEN h.bal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_imputed,
       round(sum(coalesce(h.bal, m.seg_mean)), 2) AS bal_sum
FROM h JOIN m ON h.c_mktsegment IS NOT DISTINCT FROM m.c_mktsegment
GROUP BY 1
"""


def q120_rolling_anomalies(spark, sf_dir):
    """Rolling z-score anomaly detection (builds on q106's RANGE frame):
    events whose value deviates > 2 sample-stddevs from their user's
    preceding-24-hour window (windows with < 5 events can't alarm —
    too little evidence).  Pure window expressions; the oracle repeats
    them with DuckDB's stddev_samp."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts_sec")
         .rangeBetween(-86400, -1))  # strictly-before so v isn't in its
    #                                  own baseline
    mean, sd = F.avg("value").over(w), F.stddev_samp("value").over(w)
    n = F.count(F.lit(1)).over(w)
    z = (F.col("value") - mean) / sd
    return (ev.select("event_id", "user_id", "value",
                      n.alias("__n"), F.round(z, 4).alias("zscore"))
            .where((F.col("__n") >= 5) & (F.abs("zscore") > 2))
            .select("event_id", "user_id",
                    F.round("value", 2).alias("value"), "zscore"))


O_Q120 = """
WITH e AS (SELECT event_id, user_id, value,
                  CAST(floor(epoch(ts)) AS BIGINT) AS sec
           FROM events),
z AS (SELECT event_id, user_id, value,
             count(*) OVER w AS n,
             round((value - avg(value) OVER w)
                   / stddev_samp(value) OVER w, 4) AS zscore
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY sec
                   RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING))
SELECT event_id, user_id, round(value, 2) AS value, zscore
FROM z WHERE n >= 5 AND abs(zscore) > 2
"""


def q121_proximity_join(spark, sf_dir):
    """Grid-bucketed point-proximity join (operators/proximity.py):
    customer points synthesized on a deterministic 1-degree box, all
    pairs within 2 km.  The oracle brute-forces the same haversine over
    every pair — agreement proves the 3x3 grid neighborhood loses no
    boundary pair."""
    from niamoto_spark.operators.proximity import proximity_join

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    lat = F.lit(-22.5) + (F.col("c_custkey") % 97) / F.lit(97.0)
    lon = F.lit(165.0) + (F.col("c_custkey") % 89) / F.lit(89.0)
    left = c.select(F.col("c_custkey").alias("id_a"),
                    lat.alias("lat"), lon.alias("lon"))
    right = c.select(F.col("c_custkey").alias("id_b"),
                     lat.alias("lat_r"), lon.alias("lon_r"))
    out = proximity_join(left, right, radius_m=2000.0)
    return (out.where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "distance_m"))


O_Q121 = """
WITH pts AS (SELECT c_custkey AS id,
                    -22.5 + (CAST(c_custkey AS BIGINT) % 97) / 97.0 AS lat,
                    165.0 + (CAST(c_custkey AS BIGINT) % 89) / 89.0 AS lon
             FROM customer),
d AS (SELECT a.id AS id_a, b.id AS id_b,
             round(2 * 6371000.0 * asin(sqrt(
                 pow(sin(radians(b.lat - a.lat) / 2), 2)
                 + cos(radians(a.lat)) * cos(radians(b.lat))
                 * pow(sin(radians(b.lon - a.lon) / 2), 2))), 2)
                 AS distance_m
      FROM pts a JOIN pts b ON a.id < b.id)
SELECT id_a, id_b, distance_m FROM d WHERE distance_m <= 2000
"""


def q122_manifest_roundtrip(spark, sf_dir):
    """Lakehouse-lite lane end-to-end (sources/manifest.py): documents
    committed into a manifest table with doc_id zone maps, compacted
    with sort clustering, then range-read through file skipping — the
    result must equal a plain SQL range scan, proving commits, stats,
    clustering and pruning lose nothing."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest as M

    docs = _t(spark, sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(),
        "niamoto_manifest_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(path):
        shutil.rmtree(path)
    M.append_with_stats(docs.repartition(4), path, stats_cols=["doc_id"])
    M.compact(spark, path, target_files=4, sort_by=["doc_id"])
    pruned, _, _ = M.read_table_pruned(spark, path, "doc_id", 100, 299)
    return (pruned.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("min_id"),
                 F.max("doc_id").alias("max_id")))


O_Q122 = """
SELECT source, count(*) AS n_docs, min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM documents WHERE doc_id BETWEEN 100 AND 299
GROUP BY source
"""


def q123_exists_late_orders(spark, sf_dir):
    """Correlated EXISTS through the SQL surface (TPC-H Q4 shape —
    exercises Spark's subquery decorrelation into a left-semi join):
    orders in 1995H1 with at least one line shipped > 60 days after the
    order date, counted per priority."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v123_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v123_lineitem")
    return spark.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM v123_orders o
        WHERE o.o_orderdate >= '1995-01-01'
          AND o.o_orderdate < '1995-07-01'
          AND EXISTS (SELECT 1 FROM v123_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority""")


O_Q123 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= '1995-01-01' AND o.o_orderdate < '1995-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q124_antijoin_scalar_subquery(spark, sf_dir):
    """Scalar subquery + NOT EXISTS (TPC-H Q22 shape): customers with an
    above-average positive balance who never placed an URGENT order,
    per segment — decorrelates into an anti join against an aggregated
    scalar (the priority cut keeps the result non-empty at every SF)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v124_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v124_orders")
    return spark.sql("""
        SELECT c_mktsegment AS segment, count(*) AS n_cust,
               round(sum(c_acctbal), 2) AS bal_total
        FROM v124_customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM v124_customer
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM v124_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment""")


O_Q124 = """
SELECT c_mktsegment AS segment, count(*) AS n_cust,
       round(sum(c_acctbal), 2) AS bal_total
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                   WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


def q125_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix
    (operators/timeseries.py:transition_matrix): P(next event type |
    current) per user sequence, tie-broken by event id — the
    sequential-pattern surface.  Oracle repeats the lag bigrams and the
    per-row normalization in SQL."""
    from niamoto_spark.operators.timeseries import transition_matrix

    # the bigram sequence needs a TOTAL per-user order: NULL event_ids
    # tie at equal seconds and the engines step them in different
    # orders (sf0.1 NULL probe: off-by-one transition counts)
    ev = (_events(spark, sf_dir)
          .where(F.col("ts_sec").isNotNull()
                 & F.col("event_id").isNotNull())
          .select("user_id", "event_type", "ts_sec", "event_id"))
    return transition_matrix(ev, "user_id", "ts_sec", "event_type",
                             order_cols=("event_id",))


O_Q125 = """
WITH e AS (SELECT user_id, event_type, event_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS sec
           FROM events
           WHERE ts IS NOT NULL AND event_id IS NOT NULL),
b AS (SELECT lag(event_type) OVER
          (PARTITION BY user_id ORDER BY sec, event_id) AS from_state,
             event_type AS to_state
      FROM e),
m AS (SELECT from_state, to_state, count(*) AS n FROM b
      WHERE from_state IS NOT NULL GROUP BY 1, 2)
SELECT from_state, to_state, n,
       round(n / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE),
             4) AS p
FROM m
"""


def q126_heavy_hitters(spark, sf_dir):
    """Misra-Gries heavy hitters (operators/sketches.py) over the
    documents token stream, with k chosen >= the distinct-token count so
    the sketch is provably exact (MG never decrements when counters
    never overflow) — which makes the one-pass mapInArrow sketch
    oracle-checkable against a plain GROUP BY.  Tokens are
    whitespace-split lowercased words; ties broken by token asc."""
    from niamoto_spark.operators.sketches import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"))
    n_distinct = toks.select("tok").distinct().count()
    items = heavy_hitters(toks, "tok", k=max(64, n_distinct + 1))
    top = [(str(item), int(freq)) for item, freq in items][:25]
    return spark.createDataFrame(top, "item string, freq bigint")


O_Q126 = """
SELECT item, freq FROM (
  SELECT tok AS item, count(*) AS freq
  FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents)
  GROUP BY tok
) ORDER BY freq DESC, item ASC LIMIT 25
"""


def q127_tfidf_prefiltered(spark, sf_dir):
    """Rows-only (hash-seeded LSH).  The 100 TB lane of
    tfidf_cosine_pairs (operators/tfidf.py, prefilter='minhash'):
    MinHash-LSH candidates first, exact TF-IDF cosine computed only for
    candidate pairs — join cardinality bounded by the banded LSH
    equi-join instead of token document-frequency.  Same planted
    duplicate slice as q38 so candidate pairs exist at every SF;
    reported cosines are exact (tests pin prefiltered ⊆ exact and
    recall on the planted pairs)."""
    from niamoto_spark.operators.tfidf import tfidf_cosine_pairs

    d = (_t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
         .select("doc_id", "text"))
    planted = _planted_dup(d, 100_000)
    # Prefilter signatures hoisted BELOW the planted-id explode (the
    # q38 shape, guide §1.2): both planted copies share one text, so
    # the signature kernel runs once per source doc; the candidate set
    # is bit-identical (test_tfidf_sig_df_candidates_identical).
    sigs = _planted_dup(
        dedup_ops.minhash_signatures(d, "doc_id", "text"), 100_000)
    return tfidf_cosine_pairs(planted, "doc_id", "text", threshold=0.3,
                              max_df_frac=0.5, prefilter="minhash",
                              sig_df=sigs)


def q128_bloom_semi_join(spark, sf_dir):
    """Bloom-filter join pruning (operators/bloomjoin.py): lineitems of
    high-value orders via bloom_semi_join — the m-bit bitmap built from
    the dim keys prunes the fact scan BEFORE the join's exchange; the
    follow-up semi join removes false positives, so the result is
    exactly the plain semi join (the oracle)."""
    from niamoto_spark.operators.bloomjoin import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    big_orders = (_t(spark, sf_dir, "orders")
                  .where(F.col("o_totalprice") > 450000)
                  .select("o_orderkey"))
    hits = bloom_semi_join(li, big_orders, "l_orderkey", "o_orderkey")
    return (hits.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


O_Q128 = """
SELECT l_returnflag, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_totalprice > 450000)
GROUP BY l_returnflag
"""


def q129_bigram_lm(spark, sf_dir):
    """Add-k-smoothed bigram language-model scoring (operators/lm.py):
    the model is FIT on the corpus (two count aggregations + vocab) and
    every document scored by its mean bigram log-probability — the
    CCNet perplexity-bucket signal.  The oracle refits the identical
    model in SQL (counts, vocabulary, smoothing and all)."""
    from niamoto_spark.operators.lm import lm_perplexity_score

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scores = lm_perplexity_score(d, "text", "doc_id", add_k=0.5)
    return scores.select("doc_id", "n_bigrams",
                         F.round("avg_logprob", 4).alias("avg_lp"))


O_Q129 = """
WITH toks AS (
  SELECT doc_id,
         list_prepend(chr(2), string_split_regex(lower(text), '\\s+')) AS t
  FROM documents),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)),
                        i -> t[i] || chr(1) || t[i+1])) AS b
  FROM toks),
bgc AS (SELECT b, count(*) AS c12 FROM bg GROUP BY b),
ugc AS (SELECT split_part(b, chr(1), 1) AS w1, count(*) AS c1
        FROM bg GROUP BY 1),
v AS (SELECT count(DISTINCT split_part(b, chr(1), 2)) AS vocab FROM bg)
SELECT bg.doc_id, count(*) AS n_bigrams,
       round(avg(ln((bgc.c12 + 0.5) /
                    (ugc.c1 + 0.5 * v.vocab))), 4) AS avg_lp
FROM bg
JOIN bgc USING (b)
JOIN ugc ON ugc.w1 = split_part(bg.b, chr(1), 1)
CROSS JOIN v
GROUP BY bg.doc_id
"""


def q130_line_dedup(spark, sf_dir):
    """Corpus-wide duplicate-line removal (text.dedup_corpus_lines, the
    C4/RefinedWeb boilerplate-stripping recipe).  Fixture wraps each
    document in a shared header line and a per-language footer line —
    the dedup keeps each line's global first occurrence (by doc_id,
    line_no) and strips the other ~400 copies, plus any cross-doc
    duplicate body lines the synthetic corpus plants."""
    d = (_t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
         .select("doc_id",
                 F.concat(F.lit("shared header line\n"), F.col("text"),
                          F.lit("\nshared footer "), F.col("lang"))
                 .alias("text")))
    out = text_ops.dedup_corpus_lines(d, "doc_id", "text")
    return out.select("doc_id", "n_lines_kept", "n_lines_dropped",
                      F.md5("text").alias("text_hash"))


O_Q130 = """
WITH d AS (
  SELECT doc_id, 'shared header line' || chr(10) || text || chr(10)
         || 'shared footer ' || lang AS text
  FROM documents WHERE doc_id < 400),
lines AS (
  SELECT doc_id,
         unnest(generate_series(1, len(string_split(text, chr(10))))) - 1
           AS line_no,
         unnest(string_split(text, chr(10))) AS line
  FROM d),
marked AS (
  SELECT *, len(trim(line)) >= 1 AS content,
         doc_id * 1048576 + line_no AS rnk
  FROM lines),
firsts AS (
  SELECT line, min(rnk) AS first_rnk FROM marked WHERE content
  GROUP BY line),
kept AS (
  SELECT m.* FROM marked m LEFT JOIN firsts f USING (line)
  WHERE NOT m.content OR m.rnk = f.first_rnk)
SELECT doc_id,
       sum(CASE WHEN content THEN 1 ELSE 0 END) AS n_lines_kept,
       (SELECT sum(CASE WHEN content THEN 1 ELSE 0 END)
        FROM marked t WHERE t.doc_id = kept.doc_id)
         - sum(CASE WHEN content THEN 1 ELSE 0 END) AS n_lines_dropped,
       md5(string_agg(line, chr(10) ORDER BY line_no)) AS text_hash
FROM kept
GROUP BY doc_id
HAVING sum(CASE WHEN content THEN 1 ELSE 0 END) > 0
"""


def q131_count_min(spark, sf_dir):
    """Count-min sketch (operators/sketches.py): d=4 x w=512 sketch of
    the documents token stream built as ONE bounded aggregation, then
    the top-25 tokens by CMS estimate.  The bucket hash is md5-based so
    the oracle refits the ENTIRE sketch in SQL — estimates match
    exactly, demonstrating the sketch is deterministic, not just
    approximately right."""
    from niamoto_spark.operators.sketches import (cms_estimate_df,
                                                  count_min_sketch)

    toks = (_t(spark, sf_dir, "documents")
            .select(F.explode(F.split(F.lower(F.col("text")), r"\s+"))
                    .alias("tok")))
    sketch = count_min_sketch(toks, "tok", width=512, depth=4)
    return (cms_estimate_df(toks.distinct(), "tok", sketch)
            .orderBy(F.col("cms_est").desc(), F.col("tok").asc())
            .limit(25)
            .select("tok", F.col("cms_est").cast("long").alias("cms_est")))


O_Q131 = """
WITH tok AS (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents),
sk AS (
  SELECT s.seed,
         CAST(('0x' || substr(md5(s.seed || '|' || tok), 1, 8)) AS BIGINT)
           % 512 AS b,
         count(*) AS c
  FROM tok, (VALUES (0), (1), (2), (3)) s(seed)
  GROUP BY 1, 2)
SELECT d.tok, min(sk.c) AS cms_est
FROM (SELECT DISTINCT tok FROM tok) d
JOIN sk ON sk.b = CAST(('0x' || substr(md5(sk.seed || '|' || d.tok), 1, 8))
                       AS BIGINT) % 512
GROUP BY d.tok
ORDER BY cms_est DESC, tok ASC
LIMIT 25
"""


def q132_salted_join(spark, sf_dir):
    """Skew-mitigated join (operators/skew.py): lineitem joined to a
    3-row dim on l_returnflag — the textbook hot-key shape (every row
    carries one of 3 keys).  salted_join spreads each key across 8
    salt buckets; the result is EXACTLY the plain join, which is what
    the oracle computes."""
    from niamoto_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    dim = (li.select("l_returnflag").distinct()
           .withColumn("flag_label",
                       F.concat(F.lit("flag_"), F.col("l_returnflag"))))
    joined = salted_join(li.select("l_returnflag", "l_extendedprice",
                                   "l_discount"),
                         dim, on="l_returnflag", buckets=8)
    return (joined.groupBy("flag_label")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


O_Q132 = """
-- the Spark side is an INNER equi-join against the distinct-flag dim:
-- NULL flags never match (SQL join semantics), so no NULL group here
SELECT 'flag_' || l_returnflag AS flag_label, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_returnflag IS NOT NULL
GROUP BY l_returnflag
"""


def q133_incremental_agg(spark, sf_dir):
    """Materialized-view maintenance (operators/incremental.py): the
    orders table lands in THREE manifest commits; after each commit the
    aggregate state folds in only that commit's CDC delta
    (manifest.table_changes).  The final state must equal the one-shot
    batch aggregate over everything — the oracle — proving incremental
    combine loses nothing."""
    import shutil
    import tempfile

    from niamoto_spark.operators.incremental import (maintain_aggregate,
                                                     read_aggregate)
    from niamoto_spark.sources import manifest as M

    orders = _t(spark, sf_dir, "orders")
    base = os.path.join(
        tempfile.gettempdir(),
        "niamoto_incr_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(base):
        shutil.rmtree(base)
    src = os.path.join(base, "src")
    state = os.path.join(base, "state")
    for i in range(3):
        # coalesce: the split must be EXHAUSTIVE — NULL % 3 is NULL and
        # a bare == would silently drop NULL-key orders from every commit
        M.append(orders.where(
            F.coalesce(F.col("o_orderkey") % 3, F.lit(0)) == i), src)
        maintain_aggregate(spark, src, state, ["o_orderpriority"],
                          [("sum", "o_totalprice"), ("count", "o_orderkey"),
                           ("min", "o_orderkey"), ("max", "o_orderkey")])
    st = read_aggregate(spark, state)
    return st.select(
        "o_orderpriority",
        F.round("sum_o_totalprice", 2).alias("sum_total"),
        F.col("count_o_orderkey").alias("n_orders"),
        F.col("min_o_orderkey").alias("min_key"),
        F.col("max_o_orderkey").alias("max_key"))


O_Q133 = """
SELECT o_orderpriority, round(sum(o_totalprice), 2) AS sum_total,
       CAST(count(o_orderkey) AS BIGINT) AS n_orders,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders GROUP BY o_orderpriority
"""


def q134_distinct_rollup(spark, sf_dir):
    """Sketch-column pattern (operators/sketches.py): per-(event_type,
    day) HLL user sketches built ONCE, then the per-type distinct-user
    counts come from UNIONING the small binary sketches — the raw
    events are never rescanned for the coarser grouping, which is the
    point at 100 TB.

    FULL value oracle via the exact-regime design (the q126
    Misra-Gries k>distinct analog, VERDICT r8 next-#6): DataSketches
    HLL stays in its sparse coupon mode — where the estimate is the
    exact distinct count — until promotion at ~3/4*2^lg_k; lg_k=14
    keeps every gate SF (<=1500 distinct users at sf0.1, verified
    exact at all three) far inside it, so the oracle is DuckDB's exact
    count(DISTINCT).  The estimating-regime error band stays pinned in
    tests + bench telemetry (lg_k=12 at sf0.1 measures 1488 vs 1500)."""
    from niamoto_spark.operators.sketches import (distinct_sketches,
                                                  rollup_sketches)

    ev = _events(spark, sf_dir).withColumn(
        "day", (F.col("ts_sec") / 86400).cast("long"))
    daily = distinct_sketches(ev, ["event_type", "day"], "user_id",
                              lg_k=14)
    per_type = rollup_sketches(daily, ["event_type"])
    return (per_type.select("event_type",
                            F.col("approx_distinct").cast("long")
                            .alias("approx_users"))
            .orderBy("event_type"))


O_Q134 = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS approx_users
FROM events GROUP BY event_type ORDER BY event_type
"""


def q135_shard_corpus(spark, sf_dir):
    """Deterministic hash sharding for training-data delivery
    (text.shard_corpus): every document's shard is a pure function of
    (seed, doc_id), so the oracle refits the full assignment in SQL.
    Returns per-shard count + id checksum (balance and membership are
    both pinned)."""
    d = _t(spark, sf_dir, "documents")
    sharded = text_ops.shard_corpus(d, "doc_id", n_shards=16, seed=7)
    return (sharded.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("id_sum")))


O_Q135 = """
SELECT CAST(CAST(('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)),
                  1, 8)) AS BIGINT) % 16 AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents GROUP BY 1
"""


def q136_grouping_sets(spark, sf_dir):
    """GROUPING SETS through the SQL surface (the explicit-lattice
    companion to q50 ROLLUP / q95 CUBE): revenue at (region, nation),
    (region), and grand-total granularities in one pass, with
    grouping_id disambiguating NULL-as-total from NULL-as-value."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q136_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("q136_customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("q136_nation")
    _t(spark, sf_dir, "region").createOrReplaceTempView("q136_region")
    return spark.sql("""
        SELECT r_name, n_name,
               CAST(grouping_id(r_name, n_name) AS BIGINT) AS gid,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM q136_orders
        JOIN q136_customer ON o_custkey = c_custkey
        JOIN q136_nation ON c_nationkey = n_nationkey
        JOIN q136_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    """)


O_Q136 = """
SELECT r_name, n_name,
       CAST(grouping(r_name) * 2 + grouping(n_name) AS BIGINT) AS gid,
       round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
"""


def q137_stream_static_join(spark, sf_dir):
    """Stream-static enrichment: the event STREAM joins the static
    customer dimension (broadcast — no stream-side shuffle, the
    canonical dimension-enrichment shape) and aggregates per market
    segment.  availableNow + complete mode makes the streaming result
    equal the batch join, which the oracle computes directly."""
    import tempfile

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(src).schema
    stream_dir = os.path.join(
        tempfile.gettempdir(),
        "niamoto_stream_" + sf_dir.strip("/").replace("/", "_"))
    os.makedirs(stream_dir, exist_ok=True)
    _link_parquet_source(src, stream_dir, "events")
    stream = _ts_to_timestamp(spark.readStream.schema(schema)
                              .parquet(stream_dir))
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment"))
    joined = stream.join(F.broadcast(dim),
                         stream["user_id"] == dim["c_custkey"])
    agg = (joined.groupBy("c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("value_sum")))
    qname = "q137_stream_static"
    q = (agg.writeStream.format("memory").queryName(qname)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(qname)


O_Q137 = """
-- streaming sources drop rows without a timestamp (_ts_to_timestamp)
SELECT c_mktsegment, count(*) AS n_events,
       round(sum(value), 2) AS value_sum
FROM events JOIN customer ON user_id = c_custkey
WHERE ts IS NOT NULL
GROUP BY c_mktsegment
"""


def q138_bucketed_join(spark, sf_dir):
    """Bucketed-table join (sources/bucketed.py): orders and customer
    written bucketBy(8, custkey) through the catalog, then joined with
    broadcast disabled — compatible HashPartitioning on both sides, so
    the join plans with NO Exchange (the write paid the shuffle once;
    tests pin join_has_no_exchange).  Result must equal the plain
    join — the oracle."""
    from niamoto_spark.sources.bucketed import bucketed_join, write_bucketed

    tag = re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.strip("/"))
    t_o, t_c = f"q138_orders_{tag}", f"q138_cust_{tag}"
    write_bucketed(_t(spark, sf_dir, "orders")
                   .select("o_custkey", "o_totalprice"),
                   t_o, ["o_custkey"], 8, sort_cols=["o_custkey"])
    write_bucketed(_t(spark, sf_dir, "customer")
                   .select(F.col("c_custkey").alias("o_custkey"),
                           "c_mktsegment"),
                   t_c, ["o_custkey"], 8, sort_cols=["o_custkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, t_o, t_c, "o_custkey")
        return (j.groupBy("c_mktsegment")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.round(F.sum("o_totalprice"), 2).alias("revenue")))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


O_Q138 = """
SELECT c_mktsegment, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q139_melt_metrics(spark, sf_dir):
    """Wide -> long reshape (extraction.melt over Spark's native
    unpivot/Expand): lineitem's four numeric measures unpivoted to
    (metric, value) rows, then per-metric summary stats — the lossless
    inverse of the pivot surface."""
    from niamoto_spark.operators.extraction import melt

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
    long = melt(li, ["l_orderkey"],
                ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
                var_name="metric", value_name="val")
    return (long.groupBy("metric")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("val"), 4).alias("avg_val"),
                 F.round(F.max("val"), 2).alias("max_val")))


O_Q139 = """
WITH long AS (
  SELECT l_orderkey, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_orderkey, 'l_tax', l_tax FROM lineitem)
SELECT metric, count(*) AS n, round(avg(val), 4) AS avg_val,
       round(max(val), 2) AS max_val
FROM long GROUP BY metric
"""


def q140_table_dml(spark, sf_dir):
    """Row-level DML on a manifest table (sources/manifest.py
    delete_where / update_where, copy-on-write): orders committed,
    low-value rows deleted, one priority rewritten, then aggregated.
    The oracle applies the same DELETE + UPDATE as SQL predicates over
    the source table — the rewritten table must agree exactly."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest as M

    path = os.path.join(
        tempfile.gettempdir(),
        "niamoto_dml_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(path):
        shutil.rmtree(path)
    M.append_with_stats(_t(spark, sf_dir, "orders")
                        .select("o_orderkey", "o_custkey", "o_totalprice",
                                "o_orderpriority"),
                        path, stats_cols=["o_orderkey"])
    M.compact(spark, path, target_files=4, sort_by=["o_orderkey"])
    M.delete_where(spark, path, "o_totalprice < 50000")
    M.update_where(spark, path, "o_orderpriority = '1-URGENT'",
                   {"o_orderpriority": F.lit("0-ESCALATED")})
    return (M.read_table(spark, path)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


O_Q140 = """
SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN '0-ESCALATED'
            ELSE o_orderpriority END AS o_orderpriority,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
-- SQL DELETE keeps NULL-predicate rows (delete_where pin)
FROM orders WHERE o_totalprice >= 50000 OR o_totalprice IS NULL
GROUP BY 1
"""


def q141_bloom_point_lookup(spark, sf_dir):
    """Manifest file-level Bloom index (sources/manifest.py
    append_with_blooms / read_table_point): orders committed range-
    clustered with a Bloom per (file, o_orderkey); point lookups then
    skip files without opening them (zone maps answer ranges, Blooms
    answer equality).  Result must equal the plain WHERE — the
    oracle."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest as M

    path = os.path.join(
        tempfile.gettempdir(),
        "niamoto_bloomidx_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(path):
        shutil.rmtree(path)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    M.append_with_blooms(orders.repartitionByRange(8, "o_orderkey"),
                         path, bloom_cols=["o_orderkey"])
    # a NULL key is not point-look-up-able (and Spark's asc NULLS FIRST
    # would hand us None before any real key)
    keys = [r["o_orderkey"] for r in
            orders.where(F.col("o_orderkey").isNotNull())
            .orderBy("o_orderkey").limit(5).collect()]
    parts = []
    for k in keys:
        hit, _, _ = M.read_table_point(spark, path, "o_orderkey", int(k))
        parts.append(hit)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("o_orderkey", "o_custkey",
                      F.round("o_totalprice", 2).alias("total"))


O_Q141 = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders
WHERE o_orderkey IN (SELECT o_orderkey FROM orders
                     ORDER BY o_orderkey LIMIT 5)
"""


def q142_expectations(spark, sf_dir):
    """Data-quality contract check (operators/quality.py): five rule
    kinds over lineitem — row-local rules in ONE aggregate, uniqueness
    via count-distinct, referential integrity via broadcast anti join.
    The oracle recomputes every violation count in SQL (TPC-H data is
    clean, so the interesting assertions are the exact zeros plus the
    deliberately-tight range rule that DOES fire)."""
    from niamoto_spark.operators.quality import expect

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return expect(li, [
        {"rule": "not_null", "col": "l_orderkey"},
        {"rule": "accepted_values", "col": "l_returnflag",
         "values": ["A", "N", "R"]},
        {"rule": "in_range", "col": "l_discount", "lo": 0.0, "hi": 0.05},
        {"rule": "unique", "cols": ["l_orderkey", "l_linenumber"]},
        {"rule": "foreign_key", "col": "l_orderkey", "ref": orders,
         "ref_col": "o_orderkey"},
    ])


O_Q142 = """
SELECT 'not_null(l_orderkey)' AS rule,
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations FROM lineitem
UNION ALL
SELECT 'accepted_values(l_returnflag)',
       CAST(sum(CASE WHEN l_returnflag IS NOT NULL
                      AND l_returnflag NOT IN ('A','N','R')
                     THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'in_range(l_discount)',
       CAST(sum(CASE WHEN l_discount IS NOT NULL
                      AND (l_discount < 0.0 OR l_discount > 0.05)
                     THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'unique(l_orderkey,l_linenumber)',
       -- rows with ANY NULL key column sit outside the duplicate
       -- arithmetic (Spark's countDistinct drops them; the CASE->NULL
       -- makes count(DISTINCT ...) do the same here)
       CAST(count(*)
            - sum(CASE WHEN l_orderkey IS NULL OR l_linenumber IS NULL
                       THEN 1 ELSE 0 END)
            - count(DISTINCT CASE WHEN l_orderkey IS NULL
                                    OR l_linenumber IS NULL THEN NULL
                                  ELSE (l_orderkey, l_linenumber) END)
            AS BIGINT) FROM lineitem
UNION ALL
SELECT 'foreign_key(l_orderkey)',
       -- the ref-key set is the NON-NULL referenced keys (a NULL ref
       -- row references nothing; plain NOT IN would collapse to 0 the
       -- moment the subquery contains one NULL)
       CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_orderkey IS NOT NULL
  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
                         WHERE o_orderkey IS NOT NULL)
"""


def q143_epoch_order(spark, sf_dir):
    """Deterministic global epoch shuffle (text.epoch_order): every doc
    gets its exact position under the md5(seed|id) permutation via the
    two-phase distributed prefix sum (no single-partition window — the
    plan-contract test pins that).  The oracle replays the permutation
    with a SQL row_number over the same md5 key."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return text_ops.epoch_order(d, "doc_id", seed=5).select("doc_id", "pos")


O_Q143 = """
SELECT doc_id,
       CAST(row_number() OVER (
           ORDER BY md5('5|' || CAST(doc_id AS VARCHAR)), doc_id) - 1
         AS BIGINT) AS pos
FROM documents
WHERE doc_id IS NOT NULL
"""


def q144_grouped_split(spark, sf_dir):
    """Leakage-safe splits (text.split_assign_grouped): the split is a
    function of the GROUP (source domain), so near-duplicates from one
    website can never straddle train/test.  Returns per-(source, split)
    counts; the leakage guarantee shows as exactly one split per
    source, and the oracle replays the md5 interval assignment."""
    d = _t(spark, sf_dir, "documents")
    out = text_ops.split_assign_grouped(
        d, "source", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="s7")
    return (out.groupBy("source", "split")
            .agg(F.count(F.lit(1)).alias("n_docs")))


O_Q144 = """
SELECT source,
       CASE WHEN u < 0.8 THEN 'train'
            WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs
FROM (SELECT source,
             (CAST(('0x' || substr(md5(source || 's7'), 1, 8)) AS BIGINT)
              + 0.5) / 4294967296.0 AS u
      FROM documents)
GROUP BY 1, 2
"""


def q145_trigram_match(spark, sf_dir):
    """Blocked trigram-Jaccard entity matching (linkage.trigram_pairs,
    the pg_trgm similarity): customer names matched within their nation
    block; set overlap computed JVM-side on distinct padded 3-gram
    arrays.  The oracle rebuilds the same trigram sets with DuckDB list
    functions."""
    from niamoto_spark.operators.linkage import trigram_pairs

    c = (_t(spark, sf_dir, "customer").where(F.col("c_custkey") < 300)
         .select("c_custkey", "c_name", "c_nationkey"))
    return trigram_pairs(c, "c_custkey", "c_name", "c_nationkey",
                         min_similarity=0.8)


O_Q145 = """
WITH t AS (
  SELECT c_custkey AS id, c_nationkey AS blk,
         list_distinct(list_transform(
             range(1, greatest(length(s) - 2, 1) + 1),
             i -> s[i:i+2])) AS tg
  FROM (SELECT c_custkey, c_nationkey,
               '##' || lower(trim(c_name)) || '$' AS s
        FROM customer WHERE CAST(c_custkey AS BIGINT) < 300))
SELECT a.id AS id_a, b.id AS id_b,
       round(CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
             / greatest(len(a.tg) + len(b.tg)
                        - len(list_intersect(a.tg, b.tg)), 1),
             4) AS similarity
FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id
WHERE CAST(len(list_intersect(a.tg, b.tg)) AS DOUBLE)
      / greatest(len(a.tg) + len(b.tg)
                 - len(list_intersect(a.tg, b.tg)), 1) >= 0.8
"""


def q146_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlations between lineitem measures per
    return flag (Spark's corr aggregate — one pass, all pairs)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.corr("l_quantity", "l_extendedprice"), 4)
                 .alias("corr_qty_price"),
                 F.round(F.corr("l_quantity", "l_discount"), 4)
                 .alias("corr_qty_disc"),
                 F.round(F.corr("l_extendedprice", "l_tax"), 4)
                 .alias("corr_price_tax")))


O_Q146 = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       round(corr(l_quantity, l_discount), 4) AS corr_qty_disc,
       round(corr(l_extendedprice, l_tax), 4) AS corr_price_tax
FROM lineitem GROUP BY l_returnflag
"""


def q147_mode_per_group(spark, sf_dir):
    """Deterministic mode (most frequent value, ties -> smallest
    value): built from count + rank rather than engines' mode()
    aggregates, whose tie behavior is unspecified on BOTH sides —
    determinism rules beat builtins here."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    counts = (orders.groupBy("o_orderstatus", "o_orderpriority")
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority").asc())
    return (counts.withColumn("r", F.row_number().over(w))
            .where(F.col("r") == 1)
            .select("o_orderstatus",
                    F.col("o_orderpriority").alias("mode_priority"),
                    F.col("n").alias("n_rows")))


O_Q147 = """
SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS n_rows
FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY count(*) DESC,
                                         o_orderpriority ASC) AS r
      FROM orders GROUP BY o_orderstatus, o_orderpriority)
WHERE r = 1
"""


def q148_sorted_listagg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG / string_agg ... ORDER BY):
    per region, the comma-joined sorted nation list — Spark side is
    array_sort(collect_list) + concat_ws, deterministic regardless of
    partitioning."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .groupBy("r_name")
            .agg(F.concat_ws(",", F.array_sort(F.collect_list("n_name")))
                 .alias("nations"),
                 F.count(F.lit(1)).alias("n_nations")))


O_Q148 = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q149_text_classifier(spark, sf_dir):
    """Distributed logistic-regression text classifier
    (operators/classifier.py, the fastText-style quality/domain filter):
    hashed bag-of-words, 2 full-batch GD iterations (label: lang=='en'),
    then per-doc scores.  The oracle unrolls the ENTIRE training loop in
    SQL — init, gradient, step, gradient, step, score — the same
    replay-the-algorithm standard as the k-means/PageRank oracles."""
    from niamoto_spark.operators.classifier import (score_text_classifier,
                                                    train_text_classifier)

    # training needs identified, labeled, non-empty docs: a NULL label
    # poisons residuals into NULL (silently dropped from gradients but
    # still counted in n), and NULL ids break the feature join
    d = (_t(spark, sf_dir, "documents")
         .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull()
                & F.col("lang").isNotNull())
         .select("doc_id", "text",
                 (F.col("lang") == "en").cast("int").alias("y")))
    w, b = train_text_classifier(d, "doc_id", "text", "y",
                                 n_buckets=1024, iters=2, lr=0.5)
    scored = score_text_classifier(d, "doc_id", "text", w, b,
                                   n_buckets=1024)
    return scored.select("doc_id", F.round("p", 4).alias("p_en"))


O_Q149 = """
WITH docs AS (
  SELECT doc_id, lower(text) AS t,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL),
tok AS (SELECT doc_id, unnest(string_split_regex(t, '\\s+')) AS tk
        FROM docs),
feats AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % 1024 AS bucket,
         count(*) AS c
  FROM tok GROUP BY 1, 2),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM docs),
r1 AS (SELECT doc_id, 0.5 - y AS r FROM docs),
g1 AS (SELECT f.bucket, sum(r1.r * f.c) / (SELECT n FROM nn) AS g
       FROM feats f JOIN r1 USING (doc_id) GROUP BY 1),
gb1 AS (SELECT sum(r) / (SELECT n FROM nn) AS g FROM r1),
w1 AS (SELECT bucket, -0.5 * g AS w FROM g1),
z2 AS (SELECT f.doc_id,
              -0.5 * (SELECT g FROM gb1)
              + sum(f.c * COALESCE(w1.w, 0)) AS z
       FROM feats f LEFT JOIN w1 USING (bucket) GROUP BY f.doc_id),
r2 AS (SELECT d.doc_id,
              1.0 / (1.0 + exp(-COALESCE(z2.z, 0))) - d.y AS r
       FROM docs d LEFT JOIN z2 USING (doc_id)),
g2 AS (SELECT f.bucket, sum(r2.r * f.c) / (SELECT n FROM nn) AS g
       FROM feats f JOIN r2 USING (doc_id) GROUP BY 1),
gb2 AS (SELECT sum(r) / (SELECT n FROM nn) AS g FROM r2),
w2 AS (SELECT w1.bucket, w1.w - 0.5 * g2.g AS w
       FROM w1 JOIN g2 USING (bucket)),
z3 AS (SELECT f.doc_id,
              -0.5 * (SELECT g FROM gb1) - 0.5 * (SELECT g FROM gb2)
              + sum(f.c * COALESCE(w2.w, 0)) AS z
       FROM feats f LEFT JOIN w2 USING (bucket) GROUP BY f.doc_id)
SELECT d.doc_id,
       round(1.0 / (1.0 + exp(-COALESCE(z3.z, 0))), 4) AS p_en
FROM docs d LEFT JOIN z3 USING (doc_id)
"""


def q150_table_diff(spark, sf_dir):
    """Row-level semantic diff between snapshots (manifest.table_diff):
    orders committed, DML applied (delete + update), then the diff of
    v0 -> head classifies every key as removed / changed (COW rewrites
    make file-level CDC insufficient — rewritten files are mostly
    unchanged rows).  The oracle recomputes each class from the DML
    predicates directly."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest as M

    path = os.path.join(
        tempfile.gettempdir(),
        "niamoto_diff_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(path):
        shutil.rmtree(path)
    orders = (_t(spark, sf_dir, "orders")
              .where(F.col("o_orderkey") % 2 == 0)
              .select("o_orderkey", "o_totalprice", "o_orderpriority"))
    M.append(orders, path)
    v0 = M.current_version(path)
    M.delete_where(spark, path, "o_totalprice < 100000")
    M.update_where(spark, path, "o_orderpriority = '1-URGENT'",
                   {"o_orderpriority": F.lit("0-ESCALATED")})
    diff = M.table_diff(spark, path, v0, key_cols=["o_orderkey"])
    return (diff.groupBy("change")
            .agg(F.count(F.lit(1)).alias("n_keys"),
                 F.sum("o_orderkey").alias("key_sum")))


O_Q150 = """
WITH base AS (SELECT * FROM orders
              WHERE o_orderkey % 2 = 0 AND o_orderkey IS NOT NULL),
cls AS (
  SELECT o_orderkey,
         CASE WHEN o_totalprice < 100000 THEN 'removed'
              WHEN o_orderpriority = '1-URGENT' THEN 'changed'
         END AS change
  FROM base)
SELECT change, count(*) AS n_keys,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM cls WHERE change IS NOT NULL
GROUP BY change
"""


def q151_stream_topk(spark, sf_dir):
    """Streaming top-k: hourly event-type counts computed INCREMENTALLY
    (availableNow) and ranked per window in complete mode — the
    leaderboard-per-window shape.  Must equal the batch ranking, which
    the oracle computes; rank ties broken by event_type so the top-3
    cut is deterministic."""
    import tempfile

    from pyspark.sql import Window

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(src).schema
    stream_dir = os.path.join(
        tempfile.gettempdir(),
        "niamoto_stream_" + sf_dir.strip("/").replace("/", "_"))
    os.makedirs(stream_dir, exist_ok=True)
    _link_parquet_source(src, stream_dir, "events")
    stream = _ts_to_timestamp(spark.readStream.schema(schema)
                              .parquet(stream_dir))
    agg = (stream
           .withWatermark("ts", "2 hours")
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events")))
    qname = "q151_stream_topk"
    q = (agg.writeStream.format("memory").queryName(qname)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    win = Window.partitionBy("w").orderBy(F.col("n_events").desc(),
                                          F.col("event_type").asc())
    return (spark.table(qname)
            .withColumn("rnk", F.row_number().over(win))
            .where(F.col("rnk") <= 3)
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00")
                    .alias("hour"),
                    "event_type", "n_events", "rnk"))


O_Q151 = """
WITH counts AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         event_type, count(*) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY hour
                                    ORDER BY n_events DESC,
                                             event_type ASC NULLS FIRST)
                   AS INT)
              AS rnk
  FROM counts)
SELECT hour, event_type, n_events, rnk FROM ranked WHERE rnk <= 3
"""


def q152_winsorize(spark, sf_dir):
    """Winsorization at exact [p05, p95] per return flag
    (cleaning.winsorize): mean before vs after clipping shows the
    outlier treatment working; percentile interpolation matches
    DuckDB's quantile_cont."""
    from niamoto_spark.operators.cleaning import winsorize

    li = _t(spark, sf_dir, "lineitem")
    w = winsorize(li, "l_extendedprice", ["l_returnflag"],
                  lower=0.05, upper=0.95)
    return (w.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("l_extendedprice"), 2).alias("mean_raw"),
                 F.round(F.avg("l_extendedprice_wins"), 2)
                 .alias("mean_wins")))


O_Q152 = """
WITH cuts AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY 1)
SELECT l.l_returnflag, count(*) AS n,
       round(avg(l.l_extendedprice), 2) AS mean_raw,
       round(avg(least(greatest(l.l_extendedprice, c.lo), c.hi)), 2)
         AS mean_wins
FROM lineitem l JOIN cuts c USING (l_returnflag)
GROUP BY 1
"""


def q153_robust_outliers(spark, sf_dir):
    """Median/MAD modified-z outlier flags (cleaning.robust_outliers,
    Iglewicz-Hoaglin): per event type, how many event values sit beyond
    3.5 robust z — both medians EXACT, so the oracle recomputes the
    identical flags."""
    from niamoto_spark.operators.cleaning import robust_outliers

    ev = _events(spark, sf_dir)
    flagged = robust_outliers(ev.select("event_type", "value"),
                              "value", ["event_type"], threshold=3.5)
    return (flagged.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
                 .alias("n_outliers")))


O_Q153 = """
WITH med AS (
  SELECT event_type, median(value) AS m FROM events GROUP BY 1),
mad AS (
  SELECT e.event_type, median(abs(e.value - med.m)) AS mad
  FROM events e JOIN med USING (event_type) GROUP BY 1)
SELECT e.event_type, count(*) AS n,
       CAST(sum(CASE WHEN mad.mad <> 0
                      AND abs(e.value - med.m) / (1.4826 * mad.mad) > 3.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e
JOIN med USING (event_type)
JOIN mad USING (event_type)
GROUP BY 1
"""


def q154_regression_aggs(spark, sf_dir):
    """Closed-form linear-regression aggregates per group (Spark's
    regr_slope / regr_intercept / regr_r2 — one pass, no ML library):
    extended price explained by quantity within each return flag."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4)
                 .alias("slope"),
                 F.round(F.regr_intercept("l_extendedprice",
                                          "l_quantity"), 2)
                 .alias("intercept"),
                 F.round(F.regr_r2("l_extendedprice", "l_quantity"), 4)
                 .alias("r2"),
                 F.regr_count("l_extendedprice", "l_quantity")
                 .alias("n_pairs")))


O_Q154 = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# Round-7 continuation: q155+ (mining / drift / skyline / audit lanes)
# --------------------------------------------------------------------------

def q155_association_rules(spark, sf_dir):
    """Market-basket association rules (operators/itemsets.py): brand
    co-occurrence across orders with support/confidence/lift.  The
    Apriori frequent-item prune runs BEFORE the quadratic pair join;
    the oracle refits the whole mining pass in SQL."""
    from niamoto_spark.operators.itemsets import association_rules

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    baskets = (li.join(F.broadcast(p),
                       F.col("l_partkey") == F.col("p_partkey"))
               .select("l_orderkey", "p_brand"))
    rules = association_rules(baskets, "l_orderkey", "p_brand",
                              min_support=0.01)
    return (rules.orderBy(F.col("lift").desc(), "antecedent", "consequent")
            .limit(50))


O_Q155 = """
WITH b AS (SELECT DISTINCT l_orderkey AS basket, p_brand AS item
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_orderkey IS NOT NULL AND p_brand IS NOT NULL),
n AS (SELECT count(DISTINCT basket) AS n_baskets FROM b),
mc AS (SELECT GREATEST(1, CAST(floor(0.01 * n_baskets) AS BIGINT)) AS c,
              n_baskets FROM n),
ic AS (SELECT item, count(*) AS n_item FROM b GROUP BY 1),
freq AS (SELECT item, n_item FROM ic, mc WHERE n_item >= mc.c),
pb AS (SELECT b.* FROM b JOIN freq ON b.item = freq.item),
pc AS (SELECT a.item AS ia, bb.item AS ib, count(*) AS pair_count
       FROM pb a JOIN pb bb ON a.basket = bb.basket AND a.item < bb.item
       GROUP BY 1, 2),
fp AS (SELECT * FROM pc, mc WHERE pair_count >= mc.c),
both_dir AS (SELECT ia, ib, pair_count, n_baskets FROM fp
             UNION ALL
             SELECT ib, ia, pair_count, n_baskets FROM fp)
SELECT d.ia AS antecedent, d.ib AS consequent,
       CAST(d.pair_count AS BIGINT) AS pair_count,
       round(d.pair_count / CAST(d.n_baskets AS DOUBLE), 4) AS support,
       round(d.pair_count / CAST(fa.n_item AS DOUBLE), 4) AS confidence,
       round(d.pair_count * CAST(d.n_baskets AS DOUBLE)
             / (fa.n_item * fb.n_item), 4) AS lift
FROM both_dir d
JOIN freq fa ON d.ia = fa.item
JOIN freq fb ON d.ib = fb.item
ORDER BY lift DESC, antecedent, consequent
LIMIT 50
"""


def q156_cusum_drift(spark, sf_dir):
    """CUSUM drift detection (operators/timeseries.py:cusum_changepoints)
    on per-user event values — the clamped recurrence computed via the
    prefix-sum minus running-min identity, i.e. two running aggregates
    over one window sort, no sequential driver loop.  The oracle replays
    the identical identity with DuckDB windows."""
    from niamoto_spark.operators.timeseries import cusum_changepoints

    ev = (_events(spark, sf_dir).where(F.col("user_id") < 200)
          .where(F.col("event_id").isNotNull()
                 & F.col("value").isNotNull()))
    flagged = cusum_changepoints(ev, "user_id", "event_id", "value",
                                 target=50.0, slack=5.0, threshold=200.0)
    return (flagged.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.when(F.col("alarm"), 1).otherwise(0))
                  .alias("n_alarms"),
                 F.round(F.max("cusum_pos"), 2).alias("max_pos"),
                 F.round(F.max("cusum_neg"), 2).alias("max_neg"))
            .where(F.col("n_alarms") > 0))


O_Q156 = """
WITH e AS (SELECT user_id, event_id, value FROM events
           WHERE user_id < 200 AND event_id IS NOT NULL
             AND value IS NOT NULL),
p AS (SELECT user_id, event_id, value,
             sum(value - 55.0) OVER w AS p_pos,
             sum(value - 45.0) OVER w AS p_neg
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
s AS (SELECT user_id,
             round(p_pos - LEAST(0.0, min(p_pos) OVER w), 4) AS cusum_pos,
             round(GREATEST(0.0, max(p_neg) OVER w) - p_neg, 4) AS cusum_neg
      FROM p
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, count(*) AS n_events,
       CAST(sum(CASE WHEN cusum_pos > 200.0 OR cusum_neg > 200.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       round(max(cusum_pos), 2) AS max_pos,
       round(max(cusum_neg), 2) AS max_neg
FROM s
GROUP BY 1
HAVING sum(CASE WHEN cusum_pos > 200.0 OR cusum_neg > 200.0
               THEN 1 ELSE 0 END) > 0
"""


def q157_ewma_smoothing(spark, sf_dir):
    """EWMA smoothing (operators/timeseries.py:ewma): the pandas
    adjust=True weighting as a finite lag-sum — one window sort per
    user, 41 lag terms in one WindowExec pass, no recurrence.  Oracle
    replays the identical term sum (generated below)."""
    from niamoto_spark.operators.timeseries import ewma

    # README cross-engine rule 7: the lag chain needs a TOTAL per-user
    # order — rows with a NULL order key are excluded on both engines
    # (composed-probe find: a NULL event_id block sorts arbitrarily and
    # the lag terms diverge cross-engine)
    ev = (_events(spark, sf_dir).where(F.col("user_id") < 50)
          .where(F.col("event_id").isNotNull()))
    sm = ewma(ev, "user_id", "event_id", "value",
              alpha=0.3, lookback=40)
    return sm.select("event_id", "user_id",
                     F.round("value", 2).alias("value"), "ewma")


def _ewma_oracle_sql(alpha: float = 0.3, lookback: int = 40) -> str:
    # the d = 0 term must be NULL-guarded exactly like the lags: a NULL
    # current value contributes nothing to num and 0 weight to den (and
    # an all-NULL window -> den 0 -> ewma NULL, never a division)
    r = 1.0 - alpha
    num = " + ".join(
        f"coalesce(lag(value, {d}) OVER w * {r ** d!r}, 0.0)"
        if d else "coalesce(value * 1.0, 0.0)"
        for d in range(lookback + 1))
    den = " + ".join(
        f"(CASE WHEN lag(value, {d}) OVER w IS NOT NULL "
        f"THEN {r ** d!r} ELSE 0.0 END)"
        if d else "(CASE WHEN value IS NOT NULL THEN 1.0 ELSE 0.0 END)"
        for d in range(lookback + 1))
    return f"""
SELECT event_id, user_id, round(value, 2) AS value,
       CASE WHEN ({den}) > 0
            THEN round(({num}) / ({den}), 4) END AS ewma
FROM events
WHERE user_id < 50 AND event_id IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
"""


O_Q157 = _ewma_oracle_sql()


def q158_bfs_hops(spark, sf_dir):
    """Multi-source BFS (operators/graph.py:bfs_hops) over the
    unigram-Jaccard similarity graph: min hop distance from seed docs
    (doc_id < 5) within 3 hops.  Frontier-expansion joins in Spark; the
    oracle is a DuckDB recursive CTE over the same edge SQL as q117."""
    from niamoto_spark.operators.graph import bfs_hops

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = dedup_ops.ngram_jaccard_pairs(d, "doc_id", "text", n=1,
                                          threshold=0.6, block_col="source")
    seeds = d.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("node_id"))
    return bfs_hops(pairs.select("id_a", "id_b"), seeds, max_hops=3)


O_Q158 = r"""
WITH RECURSIVE
g AS (SELECT doc_id, source,
             list_distinct(regexp_split_to_array(lower(trim(text)),
                                                 '\s+')) AS toks
      FROM documents WHERE doc_id < 200),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
              > 0
        AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks))), 4) >= 0.6),
e AS (SELECT id_a AS a, id_b AS b FROM p WHERE id_a != id_b
      UNION SELECT id_b, id_a FROM p WHERE id_a != id_b),
walk(node_id, hops) AS (
    SELECT doc_id, 0 FROM documents WHERE doc_id < 5
    UNION
    SELECT e.b, w.hops + 1 FROM walk w JOIN e ON e.a = w.node_id
    WHERE w.hops < 3)
SELECT node_id, CAST(min(hops) AS INTEGER) AS hops
FROM walk GROUP BY 1
"""


def q159_pareto_frontier(spark, sf_dir):
    """Skyline query (operators/pareto.py): parts on the
    (min retailprice, max size) Pareto frontier.  Local Arrow-batch
    skylines prune the scan with no shuffle; the exact dominance
    anti-join runs only over the surviving candidates.  Oracle is the
    textbook NOT EXISTS dominance test."""
    from niamoto_spark.operators.pareto import pareto_frontier

    p = (_t(spark, sf_dir, "part").where(F.col("p_partkey") <= 5000)
         .select("p_partkey", "p_retailprice", "p_size"))
    front = pareto_frontier(p, {"p_retailprice": "min", "p_size": "max"})
    return front.select("p_partkey",
                        F.round("p_retailprice", 2).alias("p_retailprice"),
                        "p_size")


O_Q159 = """
-- rows missing EITHER objective sit outside the frontier (they can
-- neither dominate nor be compared; pareto_frontier dropna's them)
WITH p AS (SELECT p_partkey, p_retailprice, p_size FROM part
           WHERE CAST(p_partkey AS BIGINT) <= 5000
             AND p_retailprice IS NOT NULL AND p_size IS NOT NULL)
SELECT a.p_partkey, round(a.p_retailprice, 2) AS p_retailprice, a.p_size
FROM p a
WHERE NOT EXISTS (
    SELECT 1 FROM p b
    WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
      AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
"""


def q160_benford_audit(spark, sf_dir):
    """Benford first-digit audit (operators/quality.py:benford_audit)
    over extended prices — digit extracted in closed numeric form (no
    string formatting), one 9-group aggregate."""
    from niamoto_spark.operators.quality import benford_audit

    li = _t(spark, sf_dir, "lineitem")
    return benford_audit(li, "l_extendedprice")


O_Q160 = """
WITH d AS (SELECT CAST(floor(abs(l_extendedprice)
                  / pow(10, floor(log10(abs(l_extendedprice)))))
                  AS INTEGER) AS digit
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND abs(l_extendedprice) > 0),
per AS (SELECT digit, count(*) AS n FROM d GROUP BY 1)
SELECT digit, n,
       round(n / CAST(sum(n) OVER () AS DOUBLE), 4) AS observed,
       round(log10(1 + 1.0 / digit), 4) AS expected,
       round(n / CAST(sum(n) OVER () AS DOUBLE)
             - log10(1 + 1.0 / digit), 4) AS deviation
FROM per
"""


def q161_table_fingerprint(spark, sf_dir):
    """Order-independent table fingerprint
    (operators/quality.py:table_fingerprint) of customer key columns:
    commutative XOR + DECIMAL sum over md5-derived row hashes, so the
    result is partitioning- and engine-independent.  The oracle rebuilds
    the identical hashes digit-by-digit from DuckDB's md5."""
    from niamoto_spark.operators.quality import table_fingerprint

    c = _t(spark, sf_dir, "customer")
    return table_fingerprint(
        c, ["c_custkey", "c_name", "c_mktsegment", "c_nationkey"])


def _fingerprint_oracle_sql() -> str:
    def hex_to_int(nchars: int) -> str:
        terms = [
            f"(strpos('0123456789abcdef', substr(h, {k + 1}, 1)) - 1)"
            f" * {16 ** (nchars - 1 - k)}"
            for k in range(nchars)]
        return "(" + " + ".join(terms) + ")"

    return f"""
WITH r AS (SELECT md5(concat_ws('|',
                coalesce(CAST(c_custkey AS VARCHAR), '<NULL>'),
                coalesce(c_name, '<NULL>'),
                coalesce(c_mktsegment, '<NULL>'),
                coalesce(CAST(c_nationkey AS VARCHAR), '<NULL>'))) AS h
           FROM customer),
v AS (SELECT CAST({hex_to_int(15)} AS BIGINT) AS v60,
             CAST({hex_to_int(8)} AS BIGINT) AS v32
      FROM r)
SELECT count(*) AS n_rows, bit_xor(v60) AS xor_fp,
       CAST(sum(v32) AS DECIMAL(38,0)) AS sum_fp
FROM v
"""


O_Q161 = _fingerprint_oracle_sql()


def q162_kn_bigram_lm(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (operators/lm.py:
    kn_logprob_score): discounted ML estimate backed off to the
    continuation distribution.  The model is three aggregations over
    the bigram-type table; the oracle refits ALL of it in SQL —
    discounts, continuation counts, interpolation weights."""
    from niamoto_spark.operators.lm import kn_logprob_score

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scores = kn_logprob_score(d, "text", "doc_id", discount=0.75)
    return scores.select("doc_id", "n_bigrams",
                         F.round("avg_logprob", 4).alias("avg_lp"))


O_Q162 = """
WITH toks AS (
  SELECT doc_id,
         list_prepend(chr(2), string_split_regex(lower(text), '\\s+')) AS t
  FROM documents),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)),
                        i -> t[i] || chr(1) || t[i+1])) AS b
  FROM toks),
bgc AS (SELECT b, count(*) AS c12 FROM bg GROUP BY b),
c1t AS (SELECT split_part(b, chr(1), 1) AS w1,
               sum(c12) AS c1, count(*) AS n1p_fw
        FROM bgc GROUP BY 1),
cont AS (SELECT split_part(b, chr(1), 2) AS w2, count(*) AS n1p_bw
         FROM bgc GROUP BY 1),
bt AS (SELECT count(*) AS nb FROM bgc)
SELECT bg.doc_id, count(*) AS n_bigrams,
       round(avg(ln(greatest(bgc.c12 - 0.75, 0.0) / c1t.c1
                    + (0.75 * c1t.n1p_fw / c1t.c1)
                      * (cont.n1p_bw / bt.nb))), 4) AS avg_lp
FROM bg
JOIN bgc USING (b)
JOIN c1t ON c1t.w1 = split_part(bg.b, chr(1), 1)
JOIN cont ON cont.w2 = split_part(bg.b, chr(1), 2)
CROSS JOIN bt
GROUP BY bg.doc_id
"""


def q163_attribution(spark, sf_dir):
    """First/last-touch conversion attribution (operators/timeseries.py:
    touch_attribution): per channel, how many purchases it initiated
    (first preceding touch) vs closed (last preceding touch) — pure
    ignorenulls window expressions, one sort per user."""
    from niamoto_spark.operators.timeseries import touch_attribution

    ev = _events(spark, sf_dir).where(F.col("event_id").isNotNull())
    return touch_attribution(ev, "user_id", "event_id", "event_type",
                             F.col("event_type") == "purchase")


O_Q163 = """
WITH t AS (
  SELECT user_id, event_id, event_type,
         first_value(CASE WHEN event_type != 'purchase'
                          THEN event_type END IGNORE NULLS) OVER w AS f,
         last_value(CASE WHEN event_type != 'purchase'
                         THEN event_type END IGNORE NULLS) OVER w AS l
  FROM events WHERE event_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
conv AS (SELECT coalesce(f, '(direct)') AS fch,
                coalesce(l, '(direct)') AS lch
         FROM t WHERE event_type = 'purchase'),
fc AS (SELECT fch AS channel, count(*) AS nf FROM conv GROUP BY 1),
lc AS (SELECT lch AS channel, count(*) AS nl FROM conv GROUP BY 1)
SELECT coalesce(fc.channel, lc.channel) AS channel,
       coalesce(nf, 0) AS n_first_touch,
       coalesce(nl, 0) AS n_last_touch
FROM fc FULL OUTER JOIN lc ON fc.channel = lc.channel
"""


def q164_morton_density(spark, sf_dir):
    """Z-order geo binning (operators/geospatial.py:morton_grid):
    customer points on the q121 synthetic 1-degree box snapped to a
    2^8 grid, density + mean balance per Morton cell.  The interleave
    is pure shift/mask codegen; the oracle re-derives every bit."""
    from niamoto_spark.operators.geospatial import morton_grid

    c = _t(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey", "c_acctbal",
        (F.lit(-22.5) + (F.col("c_custkey") % 97) / F.lit(97.0))
        .alias("lat"),
        (F.lit(165.0) + (F.col("c_custkey") % 89) / F.lit(89.0))
        .alias("lon"))
    cells = morton_grid(pts, "lat", "lon", bits=8)
    return (cells.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("c_acctbal"), 2).alias("avg_bal"))
            .orderBy(F.col("n").desc(), F.col("cell").asc())
            .limit(40))


def _morton_oracle_sql(bits: int = 8) -> str:
    terms = []
    for k in range(bits):
        terms.append(f"(((gx >> {k}) & 1) << {2 * k})")
        terms.append(f"(((gy >> {k}) & 1) << {2 * k + 1})")
    interleave = " + ".join(terms)
    n = 1 << bits
    return f"""
WITH pts AS (
  SELECT c_custkey, c_acctbal,
         -22.5 + (CAST(c_custkey AS BIGINT) % 97) / 97.0 AS lat,
         165.0 + (CAST(c_custkey AS BIGINT) % 89) / 89.0 AS lon
  FROM customer),
g AS (
  -- the lat/lon guard mirrors morton_grid: NULL coords -> NULL cell
  -- (DuckDB's GREATEST/LEAST skip NULLs and would clamp them to 0)
  SELECT c_acctbal,
         CASE WHEN lon IS NOT NULL THEN
           LEAST(GREATEST(CAST(floor((lon + 180.0) / 360.0 * {n})
                               AS BIGINT), 0), {n - 1}) END AS gx,
         LEAST(GREATEST(CAST(floor((lat + 90.0) / 180.0 * {n})
                             AS BIGINT), 0), {n - 1}) AS gy
  FROM pts)
SELECT (CASE WHEN gx IS NOT NULL THEN {interleave} END) AS cell,
       count(*) AS n,
       round(avg(c_acctbal), 2) AS avg_bal
FROM g
GROUP BY 1
ORDER BY n DESC, cell ASC
LIMIT 40
"""


O_Q164 = _morton_oracle_sql()


def q165_pca_scree(spark, sf_dir):
    """Distributed PCA (operators/pca.py): d-dim Gram/mean partials per
    Arrow batch, an O(d^2)-row shuffle, spectral step on the driver's
    d x d covariance only.  Rows-only gate (eigen-decomposition has no
    SQL equivalent); numpy parity + partition invariance are pinned in
    tests/test_pca_annindex_kn.py."""
    from niamoto_spark.operators.pca import pca_variance_report

    emb = _t(spark, sf_dir, "embeddings")
    return pca_variance_report(emb, "embedding", k=8)


def q166_ann_index_query(spark, sf_dir):
    """Persisted IVF index (operators/annindex.py): build once into
    manifest tables (bucket-clustered assignments + zone maps), then
    serve top-k with NO corpus pass.  Rows-only gate like q41
    (approximate ANN); loaded-index == direct-ivf equality is pinned in
    tests/test_pca_annindex_kn.py."""
    import shutil
    import tempfile

    from niamoto_spark.operators.annindex import (query_ivf_index,
                                                  save_ivf_index)

    emb = _t(spark, sf_dir, "embeddings")
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"niamoto_q166_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    save_ivf_index(emb, path, "vec_id", "embedding",
                   n_centroids=16, replication=2)
    queries = emb.where(F.col("vec_id") % 25 == 0)
    return query_ivf_index(spark, path, queries, "vec_id", "embedding",
                           k=5, nprobe=4)


def q167_multi_table_txn(spark, sf_dir):
    """Atomic multi-table transaction (sources/transactions.py): two
    derived manifest tables (customer dims + per-customer order counts)
    committed in ONE transaction — a single marker file flips both
    visible — then read back and joined.  The oracle recomputes the
    same join from the source tables, so the whole
    stage->commit->resolve->read path is value-checked."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest as M
    from niamoto_spark.sources.transactions import MultiTableTransaction

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    dims = c.select("c_custkey", "c_mktsegment")
    counts = (o.groupBy("o_custkey")
              .agg(F.count(F.lit(1)).alias("n_orders"),
                   F.round(F.sum("o_totalprice"), 2).alias("spend")))

    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), f"niamoto_q167_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    txn = MultiTableTransaction(os.path.join(root, "_txn"))
    txn.stage(dims, os.path.join(root, "dims"))
    txn.stage(counts, os.path.join(root, "counts"))
    txn.commit()

    dims_t = M.read_table(spark, os.path.join(root, "dims"))
    counts_t = M.read_table(spark, os.path.join(root, "counts"))
    return (dims_t.join(counts_t,
                        dims_t["c_custkey"] == counts_t["o_custkey"])
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("n_orders").alias("n_orders"),
                 F.round(F.sum("spend"), 2).alias("spend")))


O_Q167 = """
WITH counts AS (
  SELECT o_custkey, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS spend
  FROM orders GROUP BY 1)
SELECT c_mktsegment, count(*) AS n_customers,
       CAST(sum(n_orders) AS BIGINT) AS n_orders,
       round(sum(spend), 2) AS spend
FROM customer JOIN counts ON c_custkey = o_custkey
GROUP BY 1
"""


def q168_manifest_datasource(spark, sf_dir):
    """Spark-4 Python Data Source for manifest tables
    (sources/pyds.py): the table format plugged into the format()
    surface — spark.read.format("manifest_table") — with one Arrow
    partition per committed file.  A supplier slice is committed to a
    manifest table, read back THROUGH the data source, and aggregated;
    the oracle recomputes from the source table, value-checking the
    whole register->commit->scan path."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest as M
    from niamoto_spark.sources import pyds

    pyds.register(spark)
    s = _t(spark, sf_dir, "supplier")
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"niamoto_q168_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    M.append(s.select("s_suppkey", "s_nationkey", "s_acctbal")
              .repartition(4), path)

    t = (spark.read.format("manifest_table").option("path", path).load())
    return (t.groupBy("s_nationkey")
            .agg(F.count(F.lit(1)).alias("n_suppliers"),
                 F.round(F.sum("s_acctbal"), 2).alias("bal_sum"))
            .orderBy("s_nationkey"))


O_Q168 = """
SELECT s_nationkey, count(*) AS n_suppliers,
       round(sum(s_acctbal), 2) AS bal_sum
FROM supplier
GROUP BY 1
ORDER BY 1
"""


def q169_psi_drift(spark, sf_dir):
    """Population stability index (operators/drift.py) between the
    even- and odd-event_id halves of the events stream — equal-width
    bins over the reference min/max, add-half smoothing, per-bin
    contributions.  The oracle replays the identical binning and log
    arithmetic."""
    from niamoto_spark.operators.drift import population_stability

    ev = _events(spark, sf_dir)
    ref = ev.where(F.col("event_id") % 2 == 0)
    cur = ev.where(F.col("event_id") % 2 == 1)
    return population_stability(ref, cur, "value", n_bins=10)


O_Q169 = """
WITH ref AS (SELECT value FROM events WHERE event_id % 2 = 0
             AND value IS NOT NULL),
cur AS (SELECT value FROM events WHERE event_id % 2 = 1
        AND value IS NOT NULL),
span AS (SELECT min(value) AS mn,
                CASE WHEN max(value) > min(value)
                     THEN max(value) - min(value) ELSE 1.0 END AS sp
         FROM ref),
hr AS (SELECT LEAST(GREATEST(CAST(floor((value - mn) / sp * 10)
                    AS INTEGER), 0), 9) AS bin, count(*) AS n_ref
       FROM ref, span GROUP BY 1),
hc AS (SELECT LEAST(GREATEST(CAST(floor((value - mn) / sp * 10)
                    AS INTEGER), 0), 9) AS bin, count(*) AS n_cur
       FROM cur, span GROUP BY 1),
bins AS (SELECT CAST(range AS INTEGER) AS bin FROM range(10)),
j AS (SELECT b.bin, coalesce(n_ref, 0) AS n_ref,
             coalesce(n_cur, 0) AS n_cur
      FROM bins b LEFT JOIN hr ON b.bin = hr.bin
      LEFT JOIN hc ON b.bin = hc.bin)
SELECT bin, n_ref, n_cur,
       round((n_ref + 0.5) / (sum(n_ref) OVER () + 5.0), 4) AS p_ref,
       round((n_cur + 0.5) / (sum(n_cur) OVER () + 5.0), 4) AS p_cur,
       round(((n_ref + 0.5) / (sum(n_ref) OVER () + 5.0)
              - (n_cur + 0.5) / (sum(n_cur) OVER () + 5.0))
             * ln(((n_ref + 0.5) / (sum(n_ref) OVER () + 5.0))
                  / ((n_cur + 0.5) / (sum(n_cur) OVER () + 5.0))), 4)
           AS contrib
FROM j
"""


def q170_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic (operators/drift.py)
    between returned and delivered line items' quantities — exact
    sup-norm over the merged empirical CDFs, computed on per-value
    counts (the ordered pass touches the aggregated value domain, not
    the rows)."""
    from niamoto_spark.operators.drift import ks_statistic

    li = _t(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_returnflag") == "R").select("l_quantity")
    b = li.where(F.col("l_returnflag") == "N").select("l_quantity")
    return ks_statistic(a, b, "l_quantity")


O_Q170 = """
WITH ca AS (SELECT l_quantity AS v, count(*) AS ca FROM lineitem
            WHERE l_returnflag = 'R' AND l_quantity IS NOT NULL
            GROUP BY 1),
cb AS (SELECT l_quantity AS v, count(*) AS cb FROM lineitem
       WHERE l_returnflag = 'N' AND l_quantity IS NOT NULL GROUP BY 1),
m AS (SELECT coalesce(ca.v, cb.v) AS v, coalesce(ca, 0) AS ca,
             coalesce(cb, 0) AS cb
      FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
c AS (SELECT sum(ca) OVER (ORDER BY v) / CAST(sum(ca) OVER () AS DOUBLE)
             AS fa,
             sum(cb) OVER (ORDER BY v) / CAST(sum(cb) OVER () AS DOUBLE)
             AS fb,
             sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
      FROM m)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(max(abs(fa - fb)), 4) AS ks_stat
FROM c GROUP BY 1, 2
"""


def q171_chi_square(spark, sf_dir):
    """Chi-square independence test (operators/drift.py) between order
    priority and order status — contingency aggregate + broadcast
    margins, one summed statistic."""
    from niamoto_spark.operators.drift import chi_square_independence

    o = _t(spark, sf_dir, "orders")
    return chi_square_independence(o, "o_orderpriority", "o_orderstatus")


O_Q171 = """
WITH obs AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
                    count(*) AS o
             FROM orders
             WHERE o_orderpriority IS NOT NULL
               AND o_orderstatus IS NOT NULL
             GROUP BY 1, 2),
ra AS (SELECT a, sum(o) AS ra FROM obs GROUP BY 1),
rb AS (SELECT b, sum(o) AS rb FROM obs GROUP BY 1),
nt AS (SELECT sum(o) AS n FROM obs),
dof AS (SELECT (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS d
        FROM obs)
SELECT round(nt.n * (sum(obs.o * obs.o / (ra.ra * rb.rb)) - 1), 4)
         AS chi2,
       CAST(dof.d AS INTEGER) AS dof, CAST(nt.n AS INTEGER) AS n
FROM obs JOIN ra USING (a) JOIN rb USING (b)
CROSS JOIN nt CROSS JOIN dof
GROUP BY dof.d, nt.n
"""


def q172_prefix_jaccard_join(spark, sf_dir):
    """Prefix-filtered EXACT Jaccard join (operators/dedup.py:
    jaccard_join_prefix, the AllPairs/PPJoin family): complete recall
    with no blocking key and no LSH recall loss — candidates must share
    a rare-token prefix, everything else is provably below threshold.
    The oracle is the brute-force all-pairs join, so a hash match
    proves BOTH complete recall and exact precision."""
    from niamoto_spark.operators.dedup import jaccard_join_prefix

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return jaccard_join_prefix(d, "doc_id", "text", n=1, threshold=0.85)


O_Q172 = r"""
WITH g AS (SELECT doc_id,
                  list_distinct(regexp_split_to_array(lower(trim(text)),
                                                      '\s+')) AS toks
           FROM documents WHERE doc_id < 300)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks)
                - len(list_intersect(a.toks, b.toks))), 4) AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) > 0
  AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / (len(a.toks) + len(b.toks)
               - len(list_intersect(a.toks, b.toks))), 4) >= 0.85
"""


def q173_target_encoding(spark, sf_dir):
    """Leave-one-out target encoding (operators/features.py): order
    priority encoded against total price with additive smoothing —
    per-segment means that exclude each row's own label (the leakage
    guard).  Aggregated per (priority, status) for a bounded output;
    the oracle refits the encoding row-by-row in SQL."""
    from niamoto_spark.operators.features import target_encode_loo

    o = _t(spark, sf_dir, "orders")
    enc = target_encode_loo(o, "o_orderpriority", "o_totalprice",
                            prior_weight=10.0)
    return (enc.groupBy("o_orderpriority", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("te"), 4).alias("avg_te"),
                 F.round(F.min("te"), 4).alias("min_te"),
                 F.round(F.max("te"), 4).alias("max_te")))


O_Q173 = """
WITH o0 AS (SELECT o_orderpriority, o_orderstatus,
                   CAST(o_totalprice AS DOUBLE) AS o_totalprice
            FROM orders),
prior AS (SELECT avg(o_totalprice) AS p FROM o0),
per AS (SELECT o_orderpriority, sum(o_totalprice) AS s,
               count(o_totalprice) AS n
        FROM o0 WHERE o_orderpriority IS NOT NULL GROUP BY 1),
enc AS (SELECT o.o_orderpriority, o.o_orderstatus,
               -- NULL category -> prior; NULL target -> plain smoothed
               -- mean (it was never in the sums); else leave-one-out
               round(CASE
                 WHEN per.n IS NULL THEN prior.p
                 WHEN o.o_totalprice IS NULL
                   THEN (per.s + 10.0 * prior.p) / (per.n + 10.0)
                 ELSE (per.s - o.o_totalprice + 10.0 * prior.p)
                      / (per.n - 1 + 10.0) END, 4) AS te
        FROM o0 o
        LEFT JOIN per ON o.o_orderpriority = per.o_orderpriority
        CROSS JOIN prior)
SELECT o_orderpriority, o_orderstatus, count(*) AS n,
       round(avg(te), 4) AS avg_te, round(min(te), 4) AS min_te,
       round(max(te), 4) AS max_te
FROM enc
GROUP BY 1, 2
"""


def q174_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes language tagging (operators/
    classifier.py: naive_bayes_fit/predict): fit on the documents
    corpus, predict every doc, emit the confusion matrix.  The fit is
    two hash aggregations (no iteration, no driver weight state) and
    the oracle refits the ENTIRE model — priors, Laplace-smoothed
    token likelihoods, vocabulary, argmax with the rounded-score tie
    rule — in SQL."""
    from niamoto_spark.operators.classifier import (naive_bayes_fit,
                                                    naive_bayes_predict)

    d = _t(spark, sf_dir, "documents")
    model = naive_bayes_fit(d, "doc_id", "text", "lang", alpha=1.0)
    pred = naive_bayes_predict(d, "doc_id", "text", model)
    truth = d.select("doc_id", F.col("lang").alias("true_lang"))
    return (pred.join(truth, "doc_id")
            .groupBy("true_lang", F.col("label").alias("pred_lang"))
            .agg(F.count(F.lit(1)).alias("n")))


O_Q174 = r"""
WITH tok AS (
  SELECT doc_id, lang, t FROM (
    SELECT doc_id, lang,
           unnest(regexp_split_to_array(lower(text), '\s+')) AS t
    FROM documents) WHERE t <> ''),
nd AS (SELECT count(*) AS n FROM documents),
cls AS (SELECT lang AS label, count(*) AS ndc FROM documents GROUP BY 1),
ct AS (SELECT lang AS label, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
tot AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot FROM ct GROUP BY 1),
voc AS (SELECT count(DISTINCT t) AS v FROM tok),
pri AS (SELECT cls.label, ln(ndc) - ln(n) AS logprior, tot.tot
        FROM cls JOIN tot USING (label) CROSS JOIN nd),
tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
sc AS (SELECT tc.doc_id, pri.label,
              any_value(pri.logprior)
              + sum(tc.c * (ln(coalesce(ct.cnt, 0) + 1.0)
                            - ln(pri.tot + 1.0 * voc.v))) AS score
       FROM tc CROSS JOIN pri CROSS JOIN voc
       LEFT JOIN ct ON ct.label = pri.label AND ct.t = tc.t
       GROUP BY 1, 2),
pred AS (SELECT doc_id, label,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY round(score, 4) DESC,
                                            label) AS rk
         FROM sc)
SELECT d.lang AS true_lang, p.label AS pred_lang, count(*) AS n
FROM pred p JOIN documents d USING (doc_id)
WHERE p.rk = 1
GROUP BY 1, 2
"""


def q175_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curves per order priority (operators/
    timeseries.py: kaplan_meier): duration = months since 1992-01,
    event = order reached final status, censored otherwise.  The
    product-limit estimator runs as one aggregation + two windows per
    group (reverse cumulative at-risk counts, exp-sum-ln running
    product); the oracle replays the identical algebra in SQL."""
    from niamoto_spark.operators.timeseries import kaplan_meier

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull())
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")
         - F.lit(1992 * 12)).alias("dur"),
        (F.col("o_orderstatus") == "F").cast("int").alias("ev"))
    km = kaplan_meier(base, "dur", "ev", group_col="grp")
    return km.select("grp", F.col("t").cast("long").alias("t"),
                     "n_at_risk", "d",
                     F.round("survival", 4).alias("survival"))


O_Q175 = """
WITH base AS (
  SELECT o_orderpriority AS grp,
         (year(o_orderdate) * 12 + month(o_orderdate)) - 1992 * 12 AS t,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS e
  FROM orders WHERE o_orderdate IS NOT NULL),
g AS (SELECT grp, t, CAST(sum(e) AS BIGINT) AS d, count(*) AS total
      FROM base GROUP BY 1, 2),
r AS (SELECT grp, t, d,
             CAST(sum(total) OVER (PARTITION BY grp ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_at_risk
      FROM g),
ev AS (SELECT * FROM r WHERE d > 0),
s AS (SELECT grp, t, n_at_risk, d,
             max(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END) OVER w AS died,
             sum(CASE WHEN d < n_at_risk
                      THEN ln(1 - CAST(d AS DOUBLE) / n_at_risk) END)
               OVER w AS lns
      FROM ev
      WINDOW w AS (PARTITION BY grp ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT grp, t, n_at_risk, d,
       round(CASE WHEN died = 1 THEN 0.0 ELSE exp(lns) END, 4) AS survival
FROM s
"""


def q176_pmi_collocations(spark, sf_dir):
    """PMI collocation mining (operators/lm.py: pmi_collocations):
    top-20 highest-PMI frequent bigrams in the documents corpus.
    The oracle recomputes unigram/bigram counts and the PMI algebra
    from scratch in SQL; LIMIT rides a unique (pmi, a, b) order."""
    from niamoto_spark.operators.lm import pmi_collocations

    d = _t(spark, sf_dir, "documents")
    pmi = pmi_collocations(d, "doc_id", "text", min_count=5)
    return (pmi.select("a", "b", "cab",
                       F.round("pmi", 4).alias("pmi"))
            .orderBy(F.col("pmi").desc(), "a", "b").limit(20))


O_Q176 = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     t -> t <> '') AS toks
  FROM documents),
uni AS (
  SELECT t, count(*) AS cu
  FROM (SELECT unnest(toks) AS t FROM toks) GROUP BY 1),
bi AS (
  SELECT a, b, count(*) AS cab FROM (
    SELECT toks[i] AS a, toks[i + 1] AS b
    FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i))
  GROUP BY 1, 2),
nu AS (SELECT CAST(sum(cu) AS BIGINT) AS nu FROM uni),
nb AS (SELECT CAST(sum(cab) AS BIGINT) AS nb FROM bi)
SELECT a, b, cab,
       round(ln(CAST(cab AS DOUBLE) / nb.nb)
             - ln(CAST(ua.cu AS DOUBLE) / nu.nu)
             - ln(CAST(ub.cu AS DOUBLE) / nu.nu), 4) AS pmi
FROM bi
JOIN uni ua ON ua.t = bi.a
JOIN uni ub ON ub.t = bi.b
CROSS JOIN nu CROSS JOIN nb
WHERE cab >= 5
ORDER BY pmi DESC, a, b
LIMIT 20
"""


def q177_json_flatten(spark, sf_dir):
    """Semi-structured lane (operators/semistructured.py): infer the
    schema of the events.props JSON column from a bounded sample,
    parse + flatten it to typed columns (JVM Jackson inside codegen —
    no Python), and aggregate the extracted value per event type.
    The oracle re-extracts with DuckDB's JSON functions."""
    from niamoto_spark.operators.semistructured import flatten_json

    e = _events(spark, sf_dir)
    flat = flatten_json(e.select("event_type", "props"), "props")
    return (flat.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.round(F.avg("k"), 4).alias("avg_k"),
                 F.countDistinct((F.col("k") % 10)).alias("k_mod_buckets")))


O_Q177 = """
WITH x AS (SELECT event_type,
                  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events)
SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
       round(avg(k), 4) AS avg_k,
       count(DISTINCT k % 10) AS k_mod_buckets
FROM x GROUP BY 1
"""


def q178_quantile_buckets(spark, sf_dir):
    """Equal-frequency discretization (operators/features.py:
    quantile_bucket): lineitem prices into 10 exactly-balanced buckets
    via the two-phase distributed prefix-sum rank (no single-partition
    window).  The oracle replays rank -> floor bucket algebra with
    row_number."""
    from niamoto_spark.operators.features import quantile_bucket

    li = _t(spark, sf_dir, "lineitem")
    b = quantile_bucket(li, "l_extendedprice", 10,
                        ["l_orderkey", "l_linenumber"])
    return (b.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("l_extendedprice"), 2).alias("lo"),
                 F.round(F.max("l_extendedprice"), 2).alias("hi"),
                 F.round(F.avg("l_extendedprice"), 2).alias("avg_price")))


O_Q178 = """
WITH r AS (
  SELECT l_extendedprice,
         row_number() OVER (ORDER BY l_extendedprice,
                            l_orderkey NULLS FIRST,
                            l_linenumber NULLS FIRST) AS rn,
         count(*) OVER () AS n
  FROM lineitem WHERE l_extendedprice IS NOT NULL)
SELECT CAST(floor((rn - 1) * 10 / n) AS INT) + 1 AS bucket,
       count(*) AS n,
       round(min(l_extendedprice), 2) AS lo,
       round(max(l_extendedprice), 2) AS hi,
       round(avg(l_extendedprice), 2) AS avg_price
FROM r GROUP BY 1
UNION ALL
-- the NULL bucket: rows whose value is not discretizable
SELECT NULL, count(*), NULL, NULL, NULL
FROM lineitem WHERE l_extendedprice IS NULL
HAVING count(*) > 0
"""


def q179_nucleus_vocab(spark, sf_dir):
    """Top-p (nucleus) vocabulary selection (operators/text.py:
    nucleus_vocab): the minimal frequency-ranked token set covering
    50% of corpus mass, cumulative shares computed by the two-phase
    prefix sum.  The oracle is a window cumsum over the same rank
    order."""
    from niamoto_spark.operators.text import nucleus_vocab

    d = _t(spark, sf_dir, "documents")
    v = nucleus_vocab(d, "text", p=0.5)
    return v.select("t", "cnt", F.round("share", 6).alias("share"),
                    F.round("cum_before", 6).alias("cum_before"))


O_Q179 = r"""
WITH freq AS (
  SELECT t, count(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS t
    FROM documents)
  WHERE t <> '' GROUP BY 1),
c AS (
  SELECT t, cnt,
         CAST(sum(cnt) OVER (ORDER BY cnt DESC, t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - cnt AS DOUBLE) AS before_mass,
         CAST(sum(cnt) OVER () AS DOUBLE) AS total
  FROM freq)
SELECT t, cnt, round(cnt / total, 6) AS share,
       round(before_mass / total, 6) AS cum_before
FROM c
WHERE before_mass / total < 0.5
"""


def q180_locf_fill(spark, sf_dir):
    """LOCF gap filling (operators/timeseries.py: locf_fill): only
    purchase events expose their value; every other event carries the
    user's most recent purchase value forward.  Per-event-type sums of
    the densified series; the oracle is DuckDB's IGNORE NULLS window."""
    from niamoto_spark.operators.timeseries import locf_fill

    e = (_events(spark, sf_dir)
         .where(F.col("event_id").isNotNull())
         .select("user_id", "event_id", "event_type",
                 F.when(F.col("event_type") == "purchase",
                        F.col("value")).alias("pv")))
    filled = locf_fill(e, "user_id", "event_id", ["pv"])
    return (filled.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count("pv").alias("n_filled"),
                 F.round(F.sum("pv"), 2).alias("sum_filled")))


O_Q180 = """
WITH t AS (
  SELECT event_type,
         last_value(CASE WHEN event_type = 'purchase' THEN value END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv
  FROM events WHERE event_id IS NOT NULL)
SELECT event_type, count(*) AS n_events, count(pv) AS n_filled,
       round(sum(pv), 2) AS sum_filled
FROM t GROUP BY 1
"""


def q181_mutual_information(spark, sf_dir):
    """Mutual information between order priority and status
    (operators/features.py: mutual_information): one contingency
    aggregation + window marginals.  The oracle recomputes the full
    I(A;B) sum in SQL."""
    from niamoto_spark.operators.features import mutual_information

    o = _t(spark, sf_dir, "orders")
    mi = mutual_information(o, "o_orderpriority", "o_orderstatus")
    return mi.select(F.round("mi_nats", 6).alias("mi_nats"), "n")


O_Q181 = """
WITH j AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
                  count(*) AS c
           FROM orders
           WHERE o_orderpriority IS NOT NULL
             AND o_orderstatus IS NOT NULL
           GROUP BY 1, 2),
m AS (SELECT a, b, c,
             CAST(sum(c) OVER (PARTITION BY a) AS DOUBLE) AS ca,
             CAST(sum(c) OVER (PARTITION BY b) AS DOUBLE) AS cb,
             CAST(sum(c) OVER () AS DOUBLE) AS n
      FROM j)
SELECT round(sum((c / n) * (ln(c) + ln(n) - ln(ca) - ln(cb))), 6)
         AS mi_nats,
       CAST(sum(c) AS BIGINT) AS n
FROM m
"""


def q182_histogram_quantiles(spark, sf_dir):
    """Mergeable equi-width histogram quantile sketch (operators/
    sketches.py: histogram_quantiles) over lineitem prices: p50/p90/
    p99 as first-bin-reaching-mass lower edges.  Bin counts ADD across
    shards (rollup-able); the oracle refits the identical sketch in
    SQL, so estimates match bit-for-bit, not approximately."""
    from niamoto_spark.operators.sketches import histogram_quantiles

    li = _t(spark, sf_dir, "lineitem")
    hq = histogram_quantiles(li, "l_extendedprice", n_bins=128,
                             qs=(0.5, 0.9, 0.99))
    return hq.select("q", F.round("estimate", 4).alias("estimate"),
                     "bin")


O_Q182 = """
WITH v AS (SELECT l_extendedprice AS val FROM lineitem
           WHERE l_extendedprice IS NOT NULL),
rng AS (SELECT min(val) AS lo, max(val) AS hi FROM v),
b AS (SELECT least(CAST(floor((val - rng.lo) / (rng.hi - rng.lo)
                              * 128) AS INT), 127) AS bin,
             count(*) AS c
      FROM v CROSS JOIN rng GROUP BY 1),
cum AS (SELECT bin, c,
               CAST(sum(c) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
               CAST(sum(c) OVER () AS BIGINT) AS n
        FROM b),
qs AS (SELECT CAST(x AS DOUBLE) AS q
       FROM (VALUES (0.5), (0.9), (0.99)) t(x)),
picked AS (SELECT q, min(bin) AS bin
           FROM cum CROSS JOIN qs
           WHERE cum >= q * n GROUP BY 1)
SELECT q, round(rng.lo + bin * (rng.hi - rng.lo) / 128, 4) AS estimate,
       bin
FROM picked CROSS JOIN rng
"""


def q183_rrf_hybrid(spark, sf_dir):
    """Reciprocal-rank fusion (operators/retrieval.py: rrf_fuse):
    BM25 keyword ranking fused with a document-length prior ranking —
    the hybrid-search merge that needs no score calibration.  The
    oracle refits BOTH rankings (the full BM25 model and the prior
    window) and the 1/(60+rank) sum in SQL."""
    from pyspark.sql import Window

    from niamoto_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BM25_QUERIES,
                                    ["query_id", "query_text"])
    lex = bm25_topk(docs, queries, k=10, round_dp=4)
    w = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    prior_docs = (docs.select("doc_id", "n_chars")
                  .where(F.col("doc_id").isNotNull()
                         & F.col("n_chars").isNotNull())
                  .withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= 10))
    prior = queries.select("query_id").crossJoin(
        F.broadcast(prior_docs.select("doc_id", "rank")))
    fused = rrf_fuse([lex, prior], topk=5)
    return fused.select("query_id", "doc_id",
                        F.round("rrf", 6).alias("rrf"),
                        "n_lists", "fused_rank")


O_Q183 = r"""
WITH q(query_id, query_text) AS (
    VALUES ('k1', 'spark window agg'),
           ('k2', 'customer query table join'),
           ('k3', 'vector stream batch merge')
),
toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS tl
    FROM documents
    WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
postings AS (
    SELECT doc_id, dl, token, count(*) AS tf FROM (
        SELECT doc_id, len(tl) AS dl, unnest(tl) AS token FROM toks
    ) GROUP BY 1, 2, 3
),
corpus AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           avg(CAST(len(tl) AS DOUBLE)) AS avgdl
    FROM toks
),
qt AS (
    SELECT DISTINCT query_id, token FROM (
        SELECT query_id,
               unnest(list_filter(
                   regexp_split_to_array(lower(query_text), '[^a-z0-9]+'),
                   x -> x <> '')) AS token
        FROM q
    )
),
dfreq AS (
    SELECT token, CAST(count(*) AS DOUBLE) AS df
    FROM postings
    WHERE token IN (SELECT DISTINCT token FROM qt)
    GROUP BY token
),
scored AS (
    SELECT qt.query_id, p.doc_id,
           round(sum(
               ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
               * p.tf * 2.2
               / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / c.avgdl))
           ), 4) AS score
    FROM postings p
    JOIN qt ON p.token = qt.token
    JOIN dfreq d ON p.token = d.token
    CROSS JOIN corpus c
    GROUP BY 1, 2
),
lex AS (
    SELECT query_id, doc_id, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        FROM scored
    ) WHERE rank <= 10
),
prior_docs AS (
    SELECT doc_id, row_number() OVER (
        ORDER BY n_chars DESC, doc_id) AS rank
    FROM documents
    WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
    QUALIFY rank <= 10
),
prior AS (
    SELECT q.query_id, p.doc_id, p.rank
    FROM (SELECT DISTINCT query_id FROM q) q CROSS JOIN prior_docs p
),
unioned AS (
    SELECT query_id, doc_id, 1.0 / (60 + rank) AS s FROM lex
    UNION ALL
    SELECT query_id, doc_id, 1.0 / (60 + rank) AS s FROM prior
),
fused AS (
    SELECT query_id, doc_id, round(sum(s), 6) AS rrf,
           count(*) AS n_lists
    FROM unioned GROUP BY 1, 2
)
SELECT query_id, doc_id, round(rrf, 6) AS rrf, n_lists,
       CAST(fused_rank AS INT) AS fused_rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS fused_rank
    FROM fused
) WHERE fused_rank <= 5
"""


def q184_cap_per_group(spark, sf_dir):
    """Per-domain quota cap (operators/text.py: cap_per_group): at
    most 15 documents per source, elected in md5 order so the kept set
    is a stable uniform sample.  The oracle replays the md5 election
    with row_number; id-sum makes membership exact."""
    from niamoto_spark.operators.text import cap_per_group

    d = _t(spark, sf_dir, "documents")
    kept = cap_per_group(d, "source", "doc_id", cap=15, seed="r7")
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("doc_id").alias("id_sum"),
                 F.min("doc_id").alias("min_id")))


O_Q184 = """
WITH r AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('r7' || '|' || CAST(doc_id AS VARCHAR)),
                    doc_id) AS rk
  FROM documents WHERE doc_id IS NOT NULL)
SELECT source, count(*) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       min(doc_id) AS min_id
FROM r WHERE rk <= 15 GROUP BY 1
"""


def q185_seasonal_anomalies(spark, sf_dir):
    """Hour-of-day seasonal anomaly detection (operators/
    timeseries.py: seasonal_residuals): each event scored against its
    own hour's mean/stddev profile; per-hour anomaly counts.  The
    oracle refits the profile and the z algebra in SQL."""
    from niamoto_spark.operators.timeseries import seasonal_residuals

    # profile over integer CENTS: integer-valued doubles sum exactly
    # in ANY order, so the per-hour mean is partition-order-independent
    # (the multi-file split probe flipped avg(double) at a 4dp
    # boundary); scaled back in the projection
    e = (_events(spark, sf_dir).where(F.col("ts_sec").isNotNull())
         .withColumn(
             "hod", (F.floor(F.col("ts_sec") / 3600) % 24).cast("int"))
         .withColumn("value",
                     F.round(F.col("value") * 100).cast("long")
                     .cast("double")))
    r = seasonal_residuals(e, "hod", "value", z_threshold=2.5)
    return (r.groupBy("hod")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.first("season_mean") / 100.0, 4)
                 .alias("season_mean"),
                 F.round(F.first("season_std") / 100.0, 4)
                 .alias("season_std"),
                 F.sum(F.col("is_anomaly").cast("long"))
                 .alias("n_anomalies")))


O_Q185 = """
WITH e AS (SELECT CAST(floor(epoch(ts) / 3600) % 24 AS INT) AS hod,
                  CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE)
                    AS value
           FROM events WHERE ts IS NOT NULL),
prof AS (SELECT hod, avg(value) AS mu, stddev_pop(value) AS sigma
         FROM e GROUP BY 1)
SELECT e.hod, count(*) AS n,
       round(any_value(prof.mu) / 100.0, 4) AS season_mean,
       round(any_value(prof.sigma) / 100.0, 4) AS season_std,
       CAST(sum(CASE WHEN prof.sigma > 0
                      AND abs((e.value - prof.mu) / prof.sigma) > 2.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM e JOIN prof USING (hod)
GROUP BY 1
"""


def q186_ab_test(spark, sf_dir):
    """A/B experiment readout (operators/experiments.py): users split
    by parity of user_id, success = purchase event; pooled
    two-proportion z plus Welch z on the value metric — every number
    closed-form, the whole readout refit in SQL."""
    from niamoto_spark.operators.experiments import (ab_mean_test,
                                                     ab_proportion_test)

    e = _events(spark, sf_dir).select(
        F.when(F.col("user_id") % 2 == 0, "control")
         .otherwise("treatment").alias("variant"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
        "value")
    prop = ab_proportion_test(e, "variant", "conv",
                              "control", "treatment")
    mean = ab_mean_test(e, "variant", "value", "control", "treatment")
    return (prop.select(F.lit("conversion").alias("metric"),
                        "n_c", "n_t",
                        F.round("rate_c", 6).alias("stat_c"),
                        F.round("rate_t", 6).alias("stat_t"),
                        F.round("z", 4).alias("z"))
            .unionByName(
                mean.select(F.lit("value_mean").alias("metric"),
                            "n_c", "n_t",
                            F.round("mean_c", 6).alias("stat_c"),
                            F.round("mean_t", 6).alias("stat_t"),
                            F.round("z", 4).alias("z"))))


O_Q186 = """
WITH e AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                       ELSE 'treatment' END AS variant,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                       END AS conv,
                  value
           FROM events),
agg AS (SELECT variant, count(*) AS n,
               CAST(sum(conv) AS BIGINT) AS s,
               avg(value) AS m, var_pop(value) AS v
        FROM e GROUP BY 1),
wide AS (SELECT
  CAST(sum(CASE WHEN variant = 'control' THEN n END) AS BIGINT) AS n_c,
  CAST(sum(CASE WHEN variant = 'control' THEN s END) AS BIGINT) AS s_c,
  sum(CASE WHEN variant = 'control' THEN m END) AS m_c,
  sum(CASE WHEN variant = 'control' THEN v END) AS v_c,
  CAST(sum(CASE WHEN variant = 'treatment' THEN n END) AS BIGINT) AS n_t,
  CAST(sum(CASE WHEN variant = 'treatment' THEN s END) AS BIGINT) AS s_t,
  sum(CASE WHEN variant = 'treatment' THEN m END) AS m_t,
  sum(CASE WHEN variant = 'treatment' THEN v END) AS v_t
  FROM agg)
SELECT 'conversion' AS metric, n_c, n_t,
       round(CAST(s_c AS DOUBLE) / n_c, 6) AS stat_c,
       round(CAST(s_t AS DOUBLE) / n_t, 6) AS stat_t,
       round((CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c)
             / sqrt((CAST(s_c + s_t AS DOUBLE) / (n_c + n_t))
                    * (1 - CAST(s_c + s_t AS DOUBLE) / (n_c + n_t))
                    * (1.0 / n_c + 1.0 / n_t)), 4) AS z
FROM wide
UNION ALL
SELECT 'value_mean', n_c, n_t, round(m_c, 6), round(m_t, 6),
       round((m_t - m_c) / sqrt(v_c / n_c + v_t / n_t), 4)
FROM wide
"""


def q187_text_index(spark, sf_dir):
    """Persisted full-text index (operators/retrieval.py:
    save_text_index/query_text_index): postings materialized ONCE as a
    token-clustered manifest table with token zone maps, then BM25
    top-k served with per-term file-pruned reads and NO corpus pass.
    Same output contract as q87, so the oracle refits the whole BM25
    model in SQL — the stored index must reproduce it exactly."""
    import shutil
    import tempfile

    from niamoto_spark.operators.retrieval import (query_text_index,
                                                   save_text_index)

    docs = _t(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"niamoto_q187_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    save_text_index(docs, path)
    queries = spark.createDataFrame(_BM25_QUERIES,
                                    ["query_id", "query_text"])
    return query_text_index(spark, path, queries, k=10, round_dp=4)


# identical semantics to q87, served from the persisted index
O_Q187 = O_Q87


def q188_k_anonymity(spark, sf_dir):
    """K-anonymity audit (operators/quality.py: k_anonymity) over the
    customer quasi-identifier (nation, segment, balance-bin): exact
    risky-group and at-risk-row counts, refit 1:1 in SQL."""
    from niamoto_spark.operators.quality import k_anonymity

    c = _t(spark, sf_dir, "customer").withColumn(
        "bal_bin", F.floor(F.col("c_acctbal") / 1000).cast("long"))
    return k_anonymity(c, ["c_nationkey", "c_mktsegment", "bal_bin"],
                       k=5)


O_Q188 = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bin,
         count(*) AS n
  FROM customer GROUP BY 1, 2, 3)
SELECT count(*) AS n_groups,
       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_risky_groups,
       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       min(n) AS min_group_size,
       sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) = 0 AS satisfies_k,
       5 AS k_required
FROM g
"""


def q189_item_similarity(spark, sf_dir):
    """Item-item collaborative filtering (operators/recsys.py):
    cosine over order-basket incidence of part brands — in-basket
    C(n,2) pair expansion with higher-order functions (never a raw
    self-join on the basket key).  The oracle recomputes incidence,
    pair counts and the cosine algebra with a SQL self-join."""
    from niamoto_spark.operators.recsys import item_similarity

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    baskets = (li.join(F.broadcast(p),
                       li.l_partkey == p.p_partkey)
               .select("l_orderkey", "p_brand"))
    return item_similarity(baskets, "l_orderkey", "p_brand",
                           min_cooccur=2)


O_Q189 = """
WITH inc AS (
  SELECT DISTINCT l_orderkey AS b, p.p_brand AS it
  FROM lineitem JOIN part p ON l_partkey = p.p_partkey
  WHERE p.p_brand IS NOT NULL AND l_orderkey IS NOT NULL),
pairs AS (
  SELECT x.it AS a, y.it AS b, count(*) AS n_ab
  FROM inc x JOIN inc y ON x.b = y.b AND x.it < y.it
  GROUP BY 1, 2
  HAVING count(*) >= 2),
ic AS (SELECT it, count(*) AS c FROM inc GROUP BY 1)
SELECT pairs.a AS item_a, pairs.b AS item_b,
       CAST(n_ab AS BIGINT) AS n_ab,
       round(n_ab / sqrt(CAST(ca.c AS DOUBLE) * cb.c), 6) AS cosine
FROM pairs
JOIN ic ca ON ca.it = pairs.a
JOIN ic cb ON cb.it = pairs.b
"""


def q190_ppmi_similarity(spark, sf_dir):
    """Distributional word similarity from sparse PPMI skip-gram
    vectors (operators/lm.py: ppmi_vectors + ppmi_token_similarity):
    ±2-window co-occurrence, PPMI weighting, inverted-index cosine —
    count-based embeddings with no ML runtime.  The oracle refits the
    whole pipeline (pair stream, marginals, PPMI, norms, top-15) in
    SQL."""
    from niamoto_spark.operators.lm import (ppmi_token_similarity,
                                            ppmi_vectors)

    d = _t(spark, sf_dir, "documents")
    vec = ppmi_vectors(d, "doc_id", "text", window=2, min_count=10)
    return ppmi_token_similarity(vec, topk=15)


O_Q190 = r"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
                     t -> t <> '') AS tl
  FROM documents),
pos AS (SELECT tl, unnest(range(1, len(tl) + 1)) AS i
        FROM toks WHERE len(tl) > 0),
prs AS (
  SELECT tl[i] AS w, tl[j] AS c
  FROM pos, LATERAL (
    SELECT unnest(range(greatest(i - 2, 1),
                        least(i + 2, len(tl)) + 1)) AS j)
  WHERE j <> i),
pc AS (SELECT w, c, count(*) AS n_wc FROM prs GROUP BY 1, 2),
wm AS (SELECT w, CAST(sum(n_wc) AS BIGINT) AS n_w FROM pc GROUP BY 1),
cm AS (SELECT c, CAST(sum(n_wc) AS BIGINT) AS n_c FROM pc GROUP BY 1),
tot AS (SELECT CAST(sum(n_wc) AS BIGINT) AS s FROM pc),
vec AS (
  SELECT pc.w, pc.c,
         greatest(ln(CAST(pc.n_wc AS DOUBLE)) + ln(tot.s)
                  - ln(wm.n_w) - ln(cm.n_c), 0.0) AS ppmi
  FROM pc JOIN wm USING (w) JOIN cm USING (c) CROSS JOIN tot
  WHERE pc.n_wc >= 10),
nz AS (SELECT * FROM vec WHERE ppmi > 0),
norms AS (SELECT w, sqrt(sum(ppmi * ppmi)) AS norm
          FROM nz GROUP BY 1),
dots AS (
  SELECT a.w AS w_a, b.w AS w_b, sum(a.ppmi * b.ppmi) AS dot
  FROM nz a JOIN nz b ON a.c = b.c AND a.w < b.w
  GROUP BY 1, 2),
sim AS (
  SELECT w_a, w_b, round(dot / (na.norm * nb.norm), 4) AS cosine
  FROM dots
  JOIN norms na ON na.w = dots.w_a
  JOIN norms nb ON nb.w = dots.w_b)
SELECT w_a, w_b, cosine FROM sim
ORDER BY cosine DESC, w_a, w_b
LIMIT 15
"""


def q191_dp_counts(spark, sf_dir):
    """Differentially-private release counts (operators/privacy.py:
    dp_counts): per-priority order counts with seeded Laplace(1/eps)
    noise derived from md5(seed|group) — deterministic, so the oracle
    replays the ENTIRE mechanism (uniform draw, inverse-CDF Laplace)
    in SQL and the released table matches exactly."""
    from niamoto_spark.operators.privacy import dp_counts

    o = _t(spark, sf_dir, "orders")
    return dp_counts(o, ["o_orderpriority"], epsilon=0.5, seed="rel7")


O_Q191 = """
WITH g AS (SELECT o_orderpriority, count(*) AS n
           FROM orders GROUP BY 1),
u AS (SELECT o_orderpriority, n,
             (CAST(('0x' || substr(md5('rel7' || '|' ||
                                       coalesce(o_orderpriority,
                                                '<NULL>')), 1, 13))
                   AS UBIGINT) + 0.5) / power(16, 13) AS uni
      FROM g)
SELECT o_orderpriority,
       round(n + (-2.0) * sign(uni - 0.5)
                 * ln(1 - 2 * abs(uni - 0.5)), 4) AS noisy_count
FROM u
"""


def q192_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficients (operators/graph.py:
    clustering_coefficient) over the brand co-purchase graph (edges =
    brand pairs co-occurring in >= 2 orders): triangle counts via the
    degree-ordered orientation + one degree aggregation.  The oracle
    rebuilds edges, triangles and the 2T/d(d-1) algebra in SQL."""
    from niamoto_spark.operators.graph import clustering_coefficient
    from niamoto_spark.operators.recsys import item_similarity

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    baskets = (li.join(F.broadcast(p),
                       li.l_partkey == p.p_partkey)
               .select("l_orderkey", "p_brand"))
    edges = (item_similarity(baskets, "l_orderkey", "p_brand",
                             min_cooccur=2)
             .select(F.col("item_a").alias("id_a"),
                     F.col("item_b").alias("id_b")))
    return clustering_coefficient(edges)


O_Q192 = """
WITH inc AS (
  SELECT DISTINCT l_orderkey AS bk, p.p_brand AS it
  FROM lineitem JOIN part p ON l_partkey = p.p_partkey
  WHERE p.p_brand IS NOT NULL AND l_orderkey IS NOT NULL),
e AS (
  SELECT x.it AS a, y.it AS b
  FROM inc x JOIN inc y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2
  HAVING count(*) >= 2),
deg AS (SELECT node_id, count(*) AS degree FROM (
          SELECT a AS node_id FROM e
          UNION ALL SELECT b FROM e) GROUP BY 1),
tri AS (
  SELECT w.x, w.y, w.z FROM (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM e e1 JOIN e e2 ON e1.b = e2.a) w
  JOIN e e3 ON e3.a = w.x AND e3.b = w.z),
pert AS (SELECT node_id, count(*) AS n_triangles FROM (
           SELECT x AS node_id FROM tri
           UNION ALL SELECT y FROM tri
           UNION ALL SELECT z FROM tri) GROUP BY 1)
SELECT deg.node_id, deg.degree,
       CAST(coalesce(pert.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.degree >= 2
            THEN round(2.0 * coalesce(pert.n_triangles, 0)
                       / (deg.degree * (deg.degree - 1.0)), 6)
            ELSE 0.0 END AS lcc
FROM deg LEFT JOIN pert USING (node_id)
"""


def q193_binary_auc(spark, sf_dir):
    """Exact ROC-AUC (operators/mleval.py: binary_auc): the
    Mann-Whitney rank-sum identity with midrank tie handling over a
    synthetic scoring (first embedding component) of the binary label
    parity.  The oracle replays per-score aggregation, midranks and
    the rank-sum algebra in SQL."""
    from niamoto_spark.operators.mleval import binary_auc

    e = _t(spark, sf_dir, "embeddings").select(
        F.round(F.element_at("embedding", 1).cast("double"), 3)
        .alias("score"),
        (F.col("label") % 2).alias("y"))
    r = binary_auc(e, "score", "y")
    return r.select(F.round("auc", 6).alias("auc"), "n_pos", "n_neg")


O_Q193 = """
WITH s AS (SELECT round(CAST(embedding[1] AS DOUBLE), 3) AS sc,
                  CAST(label % 2 AS BIGINT) AS y
           FROM embeddings
           WHERE embedding IS NOT NULL AND label IS NOT NULL),
per AS (SELECT sc, count(*) AS n, CAST(sum(y) AS BIGINT) AS np
        FROM s GROUP BY 1),
rk AS (SELECT sc, n, np,
              CAST(sum(n) OVER (ORDER BY sc
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) - n AS cum_before
       FROM per),
agg AS (SELECT sum(np * (cum_before + (n + 1) / 2.0)) AS r_pos,
               CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(n - np) AS BIGINT) AS n_neg
        FROM rk)
SELECT round((r_pos - n_pos * (n_pos + 1) / 2.0)
             / (n_pos * CAST(n_neg AS DOUBLE)), 6) AS auc,
       n_pos, n_neg
FROM agg
"""


def q194_calibration(spark, sf_dir):
    """Calibration / reliability bins + Brier contributions
    (operators/mleval.py: calibration_bins) for a sigmoid-squashed
    embedding score against label parity — one aggregation pass,
    fully refit in SQL."""
    from niamoto_spark.operators.mleval import calibration_bins

    e = _t(spark, sf_dir, "embeddings").select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(
            -F.element_at("embedding", 1).cast("double") * 3)))
        .alias("p"),
        (F.col("label") % 2).alias("y"))
    cb = calibration_bins(e, "p", "y", n_bins=10)
    return cb.select("bin", "n",
                     F.round("avg_prob", 6).alias("avg_prob"),
                     F.round("frac_pos", 6).alias("frac_pos"),
                     F.round("brier_sum", 6).alias("brier_sum"))


O_Q194 = """
WITH s AS (SELECT 1.0 / (1.0 + exp(-CAST(embedding[1] AS DOUBLE) * 3))
             AS p,
           CAST(label % 2 AS DOUBLE) AS y
           FROM embeddings WHERE embedding IS NOT NULL)
SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin,
       count(*) AS n,
       round(avg(p), 6) AS avg_prob,
       round(avg(y), 6) AS frac_pos,
       round(sum((p - y) * (p - y)), 6) AS brier_sum
FROM s GROUP BY 1
"""


def q195_rank_metrics(spark, sf_dir):
    """Retrieval quality metrics (operators/mleval.py: rank_metrics):
    NDCG@10 / MRR / P@10 for the q87 BM25 rankings against a
    deterministic relevance rule (document contains the query's first
    keyword).  The oracle refits BM25, the relevance labels, and the
    log2 ranking algebra end-to-end."""
    from niamoto_spark.operators.mleval import rank_metrics
    from niamoto_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BM25_QUERIES,
                                    ["query_id", "query_text"])
    ranking = bm25_topk(docs, queries, k=10, round_dp=4)
    first_tok = queries.select(
        "query_id", F.split("query_text", " ")[0].alias("tok"))
    relevance = (docs.crossJoin(F.broadcast(first_tok))
                 .select("query_id", "doc_id",
                         F.array_contains(
                             F.split(F.lower("text"), r"\s+"),
                             F.col("tok")).cast("int").alias("rel"))
                 .where(F.col("rel") > 0))
    m = rank_metrics(ranking, relevance, k=10)
    return m.select("query_id", F.round("ndcg", 6).alias("ndcg"),
                    F.round("mrr", 6).alias("mrr"),
                    F.round("p_at_k", 6).alias("p_at_k"))


O_Q195 = O_Q87.replace(
    "SELECT query_id, doc_id, score, CAST(rank AS INTEGER) AS rank FROM (",
    """, ranked AS (
SELECT query_id, doc_id, score, CAST(rank AS INTEGER) AS rank FROM (""") \
    .replace(") WHERE rank <= 10", """) WHERE rank <= 10),
first_tok AS (
  SELECT query_id,
         regexp_split_to_array(query_text, ' ')[1] AS tok FROM q),
rel AS (
  SELECT ft.query_id, d.doc_id
  FROM documents d CROSS JOIN first_tok ft
  WHERE list_contains(list_filter(
          regexp_split_to_array(lower(d.text), '\\s+'), t -> t <> ''),
        ft.tok)),
joined AS (
  SELECT r.query_id, r.rank,
         CASE WHEN rel.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END AS rl
  FROM ranked r LEFT JOIN rel
    ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id),
perq AS (
  SELECT query_id,
         sum(rl / log2(rank + 1.0)) AS dcg,
         max(CASE WHEN rl > 0 THEN 1.0 / rank ELSE 0.0 END) AS mrr,
         sum(rl) / 10.0 AS p_at_k
  FROM joined GROUP BY 1),
tot AS (
  SELECT query_id, least(count(*), 10) AS n_rel
  FROM rel GROUP BY 1),
idcg AS (
  SELECT query_id,
         sum(1.0 / log2(i + 1.0)) AS v
  FROM (SELECT query_id, unnest(range(1, n_rel + 1)) AS i FROM tot)
  GROUP BY 1)
SELECT p.query_id,
       round(CASE WHEN idcg.v > 0 THEN p.dcg / idcg.v ELSE 0.0 END, 6)
         AS ndcg,
       round(p.mrr, 6) AS mrr,
       round(p.p_at_k, 6) AS p_at_k
FROM perq p LEFT JOIN idcg USING (query_id)""")


def q196_ols_normal_equations(spark, sf_dir):
    """Two-feature OLS per group (operators/regression.py: ols_fit2):
    price ~ quantity + discount per return flag, solved by the
    CENTERED normal equations (numerically safe, one sufficient-
    statistics aggregation).  The oracle replays means, centered
    cross-products and the 2x2 Cramer solve in SQL."""
    from niamoto_spark.operators.regression import ols_fit2

    # regression is defined over DOUBLE (dtype probe: decimal sums
    # are exact where the oracle's double arithmetic rounds)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        *[F.col(c).cast("double").alias(c)
          for c in ("l_extendedprice", "l_quantity", "l_discount")])
    return ols_fit2(li, "l_extendedprice", "l_quantity", "l_discount",
                    "l_returnflag", round_dp=4)


O_Q196 = """
WITH li0 AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
         CAST(l_quantity AS DOUBLE) AS l_quantity,
         CAST(l_discount AS DOUBLE) AS l_discount
  FROM lineitem),
m AS (
  SELECT l_returnflag, avg(l_extendedprice) AS my,
         avg(l_quantity) AS m1, avg(l_discount) AS m2
  FROM li0 GROUP BY 1),
s AS (
  SELECT li.l_returnflag, count(*) AS n,
         any_value(m.my) AS my, any_value(m.m1) AS m1,
         any_value(m.m2) AS m2,
         sum((l_quantity - m.m1) * (l_quantity - m.m1)) AS s11,
         sum((l_quantity - m.m1) * (l_discount - m.m2)) AS s12,
         sum((l_discount - m.m2) * (l_discount - m.m2)) AS s22,
         sum((l_quantity - m.m1) * (l_extendedprice - m.my)) AS s1y,
         sum((l_discount - m.m2) * (l_extendedprice - m.my)) AS s2y,
         sum((l_extendedprice - m.my) * (l_extendedprice - m.my)) AS syy
  FROM li0 li JOIN m ON li.l_returnflag = m.l_returnflag
  GROUP BY 1),
b AS (
  SELECT l_returnflag, n, my, m1, m2, s1y, s2y, syy,
         (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1,
         (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) AS b2
  FROM s)
SELECT l_returnflag, round(my - b1 * m1 - b2 * m2, 4) AS b0,
       round(b1, 4) AS b1, round(b2, 4) AS b2,
       round(CASE WHEN syy > 0
                  THEN (b1 * s1y + b2 * s2y) / syy END, 4) AS r2,
       n
FROM b
"""


def q197_weighted_median(spark, sf_dir):
    """Exact weighted median (operators/cleaning.py: weighted_median):
    quantity-weighted median price per return flag — cumulative weight
    over distinct values, lower-median rule, refit 1:1 in SQL."""
    from niamoto_spark.operators.cleaning import weighted_median

    li = _t(spark, sf_dir, "lineitem")
    wm = weighted_median(li, "l_extendedprice", "l_quantity",
                         "l_returnflag")
    return wm.select("l_returnflag",
                     F.round("weighted_median", 2).alias("wmedian"),
                     F.round("total_weight", 2).alias("total_weight"))


O_Q197 = """
WITH pv AS (
  SELECT l_returnflag, l_extendedprice AS v,
         sum(CAST(l_quantity AS DOUBLE)) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2),
c AS (
  SELECT l_returnflag, v,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM pv)
SELECT l_returnflag, round(min(v), 2) AS wmedian,
       round(any_value(tw), 2) AS total_weight
FROM c WHERE cw >= tw / 2
GROUP BY 1
"""


def q198_position_attribution(spark, sf_dir):
    """U-shaped (position-based) attribution (operators/
    timeseries.py: position_attribution): 40/20/40 credit over each
    converting user's pre-purchase touches.  The oracle replays the
    conversion cutoff, touch ranking and the piecewise credit rule in
    SQL windows."""
    from niamoto_spark.operators.timeseries import position_attribution

    e = _events(spark, sf_dir)
    conv = F.col("event_type") == "purchase"
    return position_attribution(e, "user_id", "event_id",
                                "event_type", conv)


O_Q198 = """
WITH fc AS (
  SELECT user_id, event_id, event_type,
         min(CASE WHEN event_type = 'purchase' THEN event_id END)
           OVER (PARTITION BY user_id) AS first_conv
  FROM events),
touches AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id)
           AS rk,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM fc
  WHERE first_conv IS NOT NULL AND event_id < first_conv
    AND event_type <> 'purchase')
SELECT event_type AS channel, count(*) AS n_touches,
       round(sum(CASE WHEN n = 1 THEN 1.0
                      WHEN n = 2 THEN 0.5
                      WHEN rk = 1 THEN 0.4
                      WHEN rk = n THEN 0.4
                      ELSE 0.2 / (n - 2) END), 6) AS credit
FROM touches
GROUP BY 1
"""


def q199_good_turing(spark, sf_dir):
    """Good-Turing frequency smoothing (operators/lm.py:
    good_turing_counts): the counts-of-counts table with r* adjusted
    counts for r <= 10 over the documents vocabulary.  Pure counting +
    scalar algebra, refit 1:1 in SQL."""
    from niamoto_spark.operators.lm import good_turing_counts

    d = _t(spark, sf_dir, "documents")
    gt = good_turing_counts(d, "doc_id", "text", max_r=10)
    return gt.select("r", "s_r", F.round("r_star", 6).alias("r_star"))


O_Q199 = r"""
WITH freq AS (
  SELECT t, count(*) AS r FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS t
    FROM documents)
  WHERE t <> '' GROUP BY 1),
s AS (SELECT r, count(*) AS s_r FROM freq GROUP BY 1),
j AS (SELECT s.r, s.s_r, n.s_r AS s_r1
      FROM s LEFT JOIN s n ON n.r = s.r + 1)
SELECT r, s_r,
       round(CASE WHEN r <= 10 AND s_r1 IS NOT NULL
                  THEN (r + 1) * s_r1 / CAST(s_r AS DOUBLE)
                  ELSE CAST(r AS DOUBLE) END, 6) AS r_star
FROM j
"""


def q200_duplicate_weights(spark, sf_dir):
    """Soft dedup weighting (operators/dedup.py: duplicate_weights):
    every document weighted 1/cluster_size over exact normalized-text
    clusters — coverage preserved, duplicate mass equalized.  The
    oracle rebuilds clusters with a SQL group count."""
    from niamoto_spark.operators.dedup import duplicate_weights

    d = _t(spark, sf_dir, "documents")
    w = duplicate_weights(d, "doc_id", "text")
    return (w.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.sum("weight"), 6).alias("effective_docs"),
                 F.sum((F.col("dup_count") > 1).cast("long"))
                 .alias("n_in_dup_clusters")))


O_Q200 = """
WITH k AS (SELECT source, md5(lower(trim(text))) AS fp
           FROM documents),
c AS (SELECT fp, count(*) AS dc FROM k GROUP BY 1)
SELECT k.source, count(*) AS n_docs,
       round(sum(1.0 / c.dc), 6) AS effective_docs,
       CAST(sum(CASE WHEN c.dc > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_dup_clusters
FROM k JOIN c USING (fp)
GROUP BY 1
"""


def q201_lexical_stats(spark, sf_dir):
    """Per-source lexical profile (operators/text.py: lexical_stats):
    tokens, types, type-token ratio, hapax fraction — two hash
    aggregations, refit 1:1 in SQL."""
    from niamoto_spark.operators.text import lexical_stats

    d = _t(spark, sf_dir, "documents")
    ls = lexical_stats(d, "text", "source")
    return ls.select("source", "n_tokens", "n_types",
                     F.round("ttr", 6).alias("ttr"),
                     F.round("hapax_frac", 6).alias("hapax_frac"))


O_Q201 = r"""
WITH tok AS (
  SELECT source, t FROM (
    SELECT source,
           unnest(regexp_split_to_array(lower(text), '\s+')) AS t
    FROM documents) WHERE t <> ''),
pt AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2)
SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS hapax_frac
FROM pt GROUP BY 1
"""


def q202_keywords(spark, sf_dir):
    """TF-IDF keyword extraction (operators/tfidf.py:
    keywords_per_doc): top-3 terms per document for a doc_id slice;
    the oracle refits tf, df, ln(N/df) and the per-doc ranking."""
    from niamoto_spark.operators.tfidf import keywords_per_doc

    d = _t(spark, sf_dir, "documents")
    kw = keywords_per_doc(d.where(F.col("doc_id") < 100),
                          "doc_id", "text", top_k=3)
    return kw


O_Q202 = r"""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
tok AS (
  SELECT doc_id, t FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\s+')) AS t
    FROM base) WHERE t <> ''),
tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM base),
sc AS (SELECT tf.doc_id, tf.t, tf.tf, dfq.df,
              round(tf.tf * ln(nd.n / dfq.df), 6) AS score
       FROM tf JOIN dfq USING (t) CROSS JOIN nd)
SELECT doc_id, t AS keyword, tf, df, score,
       CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, t) AS rank
  FROM sc) WHERE rank <= 3
"""


def q203_gains_table(spark, sf_dir):
    """Decile gains/lift table (operators/mleval.py: gains_table) for
    the sigmoid embedding score vs label parity; cumulative capture
    and lift per score decile, all closed-form, refit in SQL."""
    from niamoto_spark.operators.mleval import gains_table

    e = _t(spark, sf_dir, "embeddings").select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(
            -F.element_at("embedding", 1).cast("double") * 3)))
        .alias("p"),
        (F.col("label") % 2).alias("y"))
    g = gains_table(e, "p", "y", n_bins=10)
    return g.select("bin", "n", "n_pos",
                    F.round("capture_rate", 6).alias("capture_rate"),
                    F.round("cum_capture", 6).alias("cum_capture"),
                    F.round("cum_lift", 6).alias("cum_lift"))


O_Q203 = """
WITH s AS (SELECT 1.0 / (1.0 + exp(-CAST(embedding[1] AS DOUBLE) * 3))
             AS p,
           CAST(label % 2 AS DOUBLE) AS y
           FROM embeddings WHERE embedding IS NOT NULL),
pb AS (SELECT 10 - least(CAST(floor(p * 10) AS INT), 9) AS bin,
              count(*) AS n, sum(y) AS n_pos
       FROM s GROUP BY 1),
c AS (SELECT bin, n, n_pos,
             sum(n_pos) OVER () AS tot_pos,
             sum(n) OVER () AS tot_n,
             sum(n_pos) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_pos,
             sum(n) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_n
      FROM pb)
SELECT bin, n, CAST(n_pos AS BIGINT) AS n_pos,
       round(CASE WHEN tot_pos > 0 THEN n_pos / tot_pos
                  ELSE 0.0 END, 6) AS capture_rate,
       round(CASE WHEN tot_pos > 0 THEN cum_pos / tot_pos
                  ELSE 0.0 END, 6) AS cum_capture,
       round(CASE WHEN tot_pos > 0 AND cum_n > 0
                  THEN (cum_pos / cum_n) / (tot_pos / tot_n)
             END, 6) AS cum_lift
FROM c
"""


def q204_sliced_auc(spark, sf_dir):
    """Subgroup (sliced) AUC (operators/mleval.py: binary_auc with
    group_col): the fairness-eval readout — exact midrank AUC per
    label slice, one extra column in the same shuffle.  Oracle refits
    the per-group rank-sum."""
    from niamoto_spark.operators.mleval import binary_auc

    e = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 3).alias("slice"),
        F.round(F.element_at("embedding", 1).cast("double"), 3)
        .alias("score"),
        (F.col("label") % 2).alias("y"))
    r = binary_auc(e, "score", "y", group_col="slice")
    return r.select("slice", F.round("auc", 6).alias("auc"),
                    "n_pos", "n_neg")


O_Q204 = """
WITH s AS (SELECT vec_id % 3 AS slc,
                  round(CAST(embedding[1] AS DOUBLE), 3) AS sc,
                  CAST(label % 2 AS BIGINT) AS y
           FROM embeddings
           WHERE embedding IS NOT NULL AND label IS NOT NULL),
per AS (SELECT slc, sc, count(*) AS n, CAST(sum(y) AS BIGINT) AS np
        FROM s GROUP BY 1, 2),
rk AS (SELECT slc, sc, n, np,
              CAST(sum(n) OVER (PARTITION BY slc ORDER BY sc
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) - n AS cum_before
       FROM per),
agg AS (SELECT slc, sum(np * (cum_before + (n + 1) / 2.0)) AS r_pos,
               CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(n - np) AS BIGINT) AS n_neg
        FROM rk GROUP BY 1)
SELECT slc AS slice,
       round((r_pos - n_pos * (n_pos + 1) / 2.0)
             / (n_pos * CAST(n_neg AS DOUBLE)), 6) AS auc,
       n_pos, n_neg
FROM agg
"""


def q205_zipf_fit(spark, sf_dir):
    """Zipf's-law fit (operators/text.py: zipf_fit): log-log OLS of
    the corpus frequency spectrum via regr_* aggregates; the oracle
    refits rank, logs and the regression in SQL."""
    from niamoto_spark.operators.text import zipf_fit

    d = _t(spark, sf_dir, "documents")
    z = zipf_fit(d, "text")
    return z.select(F.round("zipf_slope", 6).alias("zipf_slope"),
                    F.round("zipf_intercept", 6).alias("zipf_intercept"),
                    F.round("r2", 6).alias("r2"), "n_types")


O_Q205 = r"""
WITH freq AS (
  SELECT t, count(*) AS c FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS t
    FROM documents)
  WHERE t <> '' GROUP BY 1),
rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS r
       FROM freq)
SELECT round(regr_slope(ln(CAST(c AS DOUBLE)),
                        ln(CAST(r AS DOUBLE))), 6) AS zipf_slope,
       round(regr_intercept(ln(CAST(c AS DOUBLE)),
                            ln(CAST(r AS DOUBLE))), 6) AS zipf_intercept,
       round(regr_r2(ln(CAST(c AS DOUBLE)),
                     ln(CAST(r AS DOUBLE))), 6) AS r2,
       count(*) AS n_types
FROM rk
"""


def q206_burstiness(spark, sf_dir):
    """Traffic burstiness (operators/text.py: burstiness): Fano
    factor of per-hour event counts per user, summarized per event
    volume band.  The oracle refits both aggregation levels."""
    from niamoto_spark.operators.text import burstiness

    e = _events(spark, sf_dir).withColumn(
        "hour_bucket", F.floor(F.col("ts_sec") / 3600))
    b = burstiness(e, "user_id", "hour_bucket")
    band = F.when(F.col("n_buckets") >= 20, "high") \
        .when(F.col("n_buckets") >= 10, "mid").otherwise("low")
    return (b.groupBy(band.alias("volume_band"))
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.round(F.avg("fano"), 6).alias("avg_fano"),
                 F.round(F.avg("mean_rate"), 6).alias("avg_rate")))


O_Q206 = """
WITH pb AS (
  SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hb,
         count(*) AS n
  FROM events GROUP BY 1, 2),
per_user AS (
  SELECT user_id, count(*) AS n_buckets, avg(n) AS mean_rate,
         CASE WHEN avg(n) > 0 THEN var_pop(n) / avg(n) END AS fano
  FROM pb GROUP BY 1)
SELECT CASE WHEN n_buckets >= 20 THEN 'high'
            WHEN n_buckets >= 10 THEN 'mid' ELSE 'low' END
         AS volume_band,
       count(*) AS n_users,
       round(avg(fano), 6) AS avg_fano,
       round(avg(mean_rate), 6) AS avg_rate
FROM per_user GROUP BY 1
"""


def q207_vocab_overlap(spark, sf_dir):
    """Cross-source vocabulary Jaccard (operators/text.py:
    vocabulary_overlap): the 20x20 source-similarity matrix via a
    type-postings self-join (never a vocab cross join).  Top-25 pairs;
    the oracle refits type sets and the Jaccard algebra."""
    from niamoto_spark.operators.text import vocabulary_overlap

    d = _t(spark, sf_dir, "documents")
    ov = vocabulary_overlap(d, "text", "source")
    return (ov.orderBy(F.col("jaccard").desc(), "group_a", "group_b")
            .limit(25))


O_Q207 = r"""
WITH types AS (
  SELECT DISTINCT source AS g, t FROM (
    SELECT source,
           unnest(regexp_split_to_array(lower(text), '\s+')) AS t
    FROM documents) WHERE t <> ''),
sizes AS (SELECT g, count(*) AS n FROM types GROUP BY 1),
shared AS (
  SELECT a.g AS ga, b.g AS gb, count(*) AS n_shared
  FROM types a JOIN types b ON a.t = b.t AND a.g < b.g
  GROUP BY 1, 2)
SELECT ga AS group_a, gb AS group_b, n_shared,
       round(n_shared / CAST(sa.n + sb.n - n_shared AS DOUBLE), 6)
         AS jaccard
FROM shared
JOIN sizes sa ON sa.g = ga
JOIN sizes sb ON sb.g = gb
ORDER BY jaccard DESC, group_a, group_b
LIMIT 25
"""


def q208_compact_where(spark, sf_dir):
    """Partial compaction (sources/manifest.py: compact_where —
    OPTIMIZE WHERE): append orders in unsorted chunks, range-cluster
    ONLY the files intersecting a hot key range (others carry by
    reference), then read the hot range through zone-map pruning.
    The oracle is the plain SQL range scan — identity across the
    partial rewrite is the correctness claim."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest

    o = _t(spark, sf_dir, "orders")
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"niamoto_q208_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    # 4 appends of interleaved key ranges -> wide, overlapping zone maps
    for i in range(4):
        manifest.append_with_stats(
            o.where(F.col("o_orderkey") % 4 == i).repartition(2),
            path, stats_cols=["o_orderkey"])
    hi = 2000
    manifest.compact_where(spark, path, "o_orderkey", 0, hi,
                           target_files=4)
    pruned, _read, _skipped = manifest.read_table_pruned(
        spark, path, "o_orderkey", 0, hi)
    return (pruned.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("key_sum"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


O_Q208 = """
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
WHERE o_orderkey BETWEEN 0 AND 2000
GROUP BY 1
"""


def q209_next_event_baseline(spark, sf_dir):
    """Majority-successor baseline (operators/timeseries.py:
    next_event_baseline): per event type, the most likely next event
    and its conditional probability from per-user transitions.  The
    oracle replays lead(), the transition counts and the argmax."""
    from niamoto_spark.operators.timeseries import next_event_baseline

    e = _events(spark, sf_dir).where(F.col("event_id").isNotNull())
    return next_event_baseline(e, "user_id", "event_id", "event_type")


O_Q209 = """
WITH t AS (
  SELECT event_type AS state,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY event_id) AS nxt
  FROM events WHERE event_id IS NOT NULL),
c AS (SELECT state, nxt, count(*) AS c FROM t
      WHERE nxt IS NOT NULL GROUP BY 1, 2),
r AS (SELECT state, nxt, c,
             CAST(sum(c) OVER (PARTITION BY state) AS BIGINT) AS tot,
             row_number() OVER (PARTITION BY state
                                ORDER BY c DESC, nxt) AS rk
      FROM c)
SELECT state, nxt AS predicted_next,
       round(c / CAST(tot AS DOUBLE), 6) AS p_next,
       tot AS n_transitions
FROM r WHERE rk = 1
"""


def q210_time_to_convert(spark, sf_dir):
    """Time-to-convert medians (operators/cleaning.py:
    weighted_median with unit weights): per user-cohort lower median
    of the first-view -> first-purchase delay.  The oracle replays the
    firsts, the deltas and the cumulative-weight median rule."""
    from niamoto_spark.operators.cleaning import weighted_median

    e = _events(spark, sf_dir)
    firsts = (e.groupBy("user_id")
              .agg(F.min(F.when(F.col("event_type") == "view",
                                F.col("ts_sec"))).alias("first_view"),
                   F.min(F.when(F.col("event_type") == "purchase",
                                F.col("ts_sec"))).alias("first_buy")))
    deltas = (firsts
              .where(F.col("first_view").isNotNull()
                     & F.col("first_buy").isNotNull()
                     & (F.col("first_buy") >= F.col("first_view")))
              .select((F.col("user_id") % 4).alias("cohort"),
                      (F.col("first_buy") - F.col("first_view"))
                      .alias("delay_s"),
                      F.lit(1.0).alias("w")))
    wm = weighted_median(deltas, "delay_s", "w", "cohort")
    return wm.select("cohort",
                     F.col("weighted_median").alias("median_delay_s"),
                     F.col("total_weight").cast("long")
                     .alias("n_users"))


O_Q210 = """
WITH f AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END)
           AS first_view,
         min(CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END)
           AS first_buy
  FROM events GROUP BY 1),
d AS (SELECT user_id % 4 AS cohort,
             first_buy - first_view AS delay_s
      FROM f
      WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
        AND first_buy >= first_view),
pv AS (SELECT cohort, delay_s, CAST(count(*) AS DOUBLE) AS w
       FROM d GROUP BY 1, 2),
c AS (SELECT cohort, delay_s,
             sum(w) OVER (PARTITION BY cohort ORDER BY delay_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(w) OVER (PARTITION BY cohort) AS tw
      FROM pv)
SELECT cohort, min(delay_s) AS median_delay_s,
       CAST(any_value(tw) AS BIGINT) AS n_users
FROM c WHERE cw >= tw / 2
GROUP BY 1
"""


def q211_variant_extract(spark, sf_dir):
    """Spark 4 VARIANT lane (operators/semistructured.py:
    to_variant/variant_extract): events.props parsed to the VARIANT
    type (no fixed schema) with typed path extraction at access time;
    per-type stats over the extracted field.  The oracle uses DuckDB's
    JSON path functions on the raw strings."""
    from niamoto_spark.operators.semistructured import (to_variant,
                                                        variant_extract)

    e = _events(spark, sf_dir).select("event_type", "props")
    v = to_variant(e, "props", out_col="pv")
    x = variant_extract(v, "pv", {"k": ("$.k", "bigint"),
                                  "missing": ("$.nope", "bigint")})
    return (x.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.max("k").alias("max_k"),
                 F.count("missing").alias("n_missing_path")))


O_Q211 = """
WITH x AS (SELECT event_type,
                  CAST(json_extract_string(props, '$.k') AS BIGINT)
                    AS k
           FROM events)
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k, max(k) AS max_k,
       0 AS n_missing_path
FROM x GROUP BY 1
"""


def q212_quantile_normalize(spark, sf_dir):
    """Quantile normalization (operators/cleaning.py:
    quantile_normalize): map the R-flag price distribution onto the
    N-flag reference by rank — both ranks via the shared two-phase
    prefix sum (operators/ranks.py).  The oracle replays both rank
    ladders and the ceil-index mapping in SQL."""
    from niamoto_spark.operators.cleaning import quantile_normalize

    li = _t(spark, sf_dir, "lineitem")
    src = li.where(F.col("l_returnflag") == "R") \
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    ref = li.where(F.col("l_returnflag") == "N") \
        .select(F.col("l_extendedprice").alias("ref_price"))
    qn = quantile_normalize(src, "l_extendedprice", ref, "ref_price")
    return (qn.agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("qnorm"), 2).alias("sum_mapped"),
                   F.round(F.min("qnorm"), 2).alias("min_mapped"),
                   F.round(F.max("qnorm"), 2).alias("max_mapped"),
                   F.round(F.corr("l_extendedprice", "qnorm"), 6)
                   .alias("rank_corr")))


O_Q212 = """
-- NULL source values stay NULL (never ranked — they'd map onto the
-- reference minimum); NULL reference values are ignored.  They still
-- count as ROWS of the output (Spark keeps them with NULL qnorm).
WITH src AS (
  SELECT l_extendedprice AS v,
         row_number() OVER (ORDER BY l_extendedprice) AS rk,
         count(*) OVER () AS n
  FROM lineitem
  WHERE l_returnflag = 'R' AND l_extendedprice IS NOT NULL),
ref AS (
  SELECT l_extendedprice AS refv,
         row_number() OVER (ORDER BY l_extendedprice) AS ri,
         count(*) OVER () AS nr
  FROM lineitem
  WHERE l_returnflag = 'N' AND l_extendedprice IS NOT NULL),
nulls AS (
  SELECT count(*) AS c FROM lineitem
  WHERE l_returnflag = 'R' AND l_extendedprice IS NULL),
mapped AS (
  SELECT src.v,
         ref.refv AS qnorm
  FROM src JOIN ref
    ON ref.ri = greatest(1, CAST(ceil((src.rk - 0.5)
                                      / src.n * ref.nr) AS BIGINT)))
SELECT count(*) + (SELECT c FROM nulls) AS n,
       round(sum(qnorm), 2) AS sum_mapped,
       round(min(qnorm), 2) AS min_mapped,
       round(max(qnorm), 2) AS max_mapped,
       round(corr(v, qnorm), 6) AS rank_corr
FROM mapped
"""


def q213_rfm_segments(spark, sf_dir):
    """RFM segmentation (operators/features.py: rfm_segment):
    recency/frequency/monetary quintiles per customer with the
    deterministic floor-rank rule; segment-level rollup.  The oracle
    replays all three rank ladders and the tiling algebra."""
    from niamoto_spark.operators.features import rfm_segment

    o = _t(spark, sf_dir, "orders")
    rfm = rfm_segment(o, "o_custkey",
                      F.unix_date(F.col("o_orderdate").cast("date")),
                      "o_totalprice", n_tiles=5)
    return (rfm.groupBy("rfm_code")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(F.col("monetary").cast("decimal(18,2)"))
                 .cast("decimal(38,2)").alias("sum_monetary"),
                 F.round(F.avg("frequency"), 4).alias("avg_frequency")))


O_Q213 = """
WITH per AS (
  SELECT o_custkey AS cust,
         max(CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT))
           AS recency,
         count(*) AS frequency, sum(o_totalprice) AS monetary
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
  HAVING max(o_orderdate) IS NOT NULL
     AND sum(o_totalprice) IS NOT NULL),
n AS (SELECT count(*) AS n FROM per),
t AS (
  SELECT cust, recency, frequency, monetary,
         CAST(floor((row_number() OVER (ORDER BY recency, cust) - 1)
                    * 5 / n.n) AS INT) + 1 AS r_tile,
         CAST(floor((row_number() OVER (ORDER BY frequency, cust) - 1)
                    * 5 / n.n) AS INT) + 1 AS f_tile,
         CAST(floor((row_number() OVER (ORDER BY monetary, cust) - 1)
                    * 5 / n.n) AS INT) + 1 AS m_tile
  FROM per CROSS JOIN n)
SELECT CAST(r_tile AS VARCHAR) || CAST(f_tile AS VARCHAR)
         || CAST(m_tile AS VARCHAR) AS rfm_code,
       count(*) AS n_customers,
       CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DECIMAL(38,2))
         AS sum_monetary,
       round(avg(frequency), 4) AS avg_frequency
FROM t GROUP BY 1
"""


def q214_cohort_ltv(spark, sf_dir):
    """Cohort LTV curves (operators/timeseries.py: cohort_ltv):
    first-order-month cohorts, cumulative revenue per customer by
    cohort age.  The oracle replays cohort election, age bucketing
    and the cumulative window."""
    from niamoto_spark.operators.timeseries import cohort_ltv

    o = _t(spark, sf_dir, "orders")
    month = (F.year("o_orderdate") * 12
             + F.month("o_orderdate")).cast("long")
    ltv = cohort_ltv(o, "o_custkey", month, "o_totalprice",
                     max_age=12)
    return (ltv.where(F.col("age_months") <= 6)
            .select("cohort_month", "age_months", "cohort_size",
                    F.col("revenue").cast("decimal(38,2)")
                    .alias("revenue"),
                    F.col("cum_revenue_per_customer")
                    .cast("double").alias("cum_rpc")))


O_Q214 = """
WITH base AS (
  SELECT o_custkey AS cust,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
           AS m,
         o_totalprice AS amt
  FROM orders),
firsts AS (SELECT cust, min(m) AS cohort FROM base GROUP BY 1),
sizes AS (SELECT cohort, count(DISTINCT cust) AS cohort_size
          FROM firsts GROUP BY 1),
pa AS (
  SELECT f.cohort, CAST(b.m - f.cohort AS INT) AS age,
         CAST(sum(CAST(b.amt AS DECIMAL(18,2))) AS DECIMAL(38,2))
           AS revenue
  FROM base b JOIN firsts f USING (cust)
  WHERE b.m - f.cohort <= 12
  GROUP BY 1, 2)
SELECT pa.cohort AS cohort_month, pa.age AS age_months,
       s.cohort_size, pa.revenue,
       CAST(floor((CAST(sum(pa.revenue) OVER (PARTITION BY pa.cohort
               ORDER BY pa.age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(38,2)) * 200 + s.cohort_size)
             / (s.cohort_size * 2)) AS BIGINT) / 100.0 AS cum_rpc
FROM pa JOIN sizes s ON s.cohort = pa.cohort
QUALIFY pa.age <= 6
"""


def q215_woe_iv(spark, sf_dir):
    """WOE / Information Value scorecard screen (operators/features.py:
    woe_iv): discount-percent bins vs the returned-flag target.  Exact
    integer event counts per bin; the oracle replays the smoothed
    WOE/IV algebra end-to-end."""
    from niamoto_spark.operators.features import woe_iv

    li = (_t(spark, sf_dir, "lineitem")
          .withColumn("is_return",
                      (F.col("l_returnflag") == "R").cast("int"))
          .withColumn("disc_pct",
                      F.round(F.col("l_discount") * 100)
                      .cast("int")))
    return (woe_iv(li, "disc_pct", "is_return")
            .withColumnRenamed("bin", "disc_pct"))


O_Q215 = """
WITH per AS (
  SELECT CAST(round(l_discount * 100) AS INT) AS disc_pct,
         count(*) AS n,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS events
  FROM lineitem GROUP BY 1),
t AS (
  SELECT *, sum(events) OVER () AS et, sum(n) OVER () AS nt FROM per),
c AS (
  SELECT disc_pct, n, events,
         (events + 0.5) / (CAST(et AS DOUBLE) + 1.0) AS pe,
         (n - events + 0.5) / (CAST(nt - et AS DOUBLE) + 1.0) AS pne
  FROM t)
SELECT disc_pct, n, events,
       round(ln(pe / pne), 6) AS woe,
       round((pe - pne) * ln(pe / pne), 6) AS iv_contrib,
       round(sum((pe - pne) * ln(pe / pne)) OVER (), 6) AS iv
FROM c
"""


def q216_stump_split(spark, sf_dir):
    """Histogram decision-stump split finding (operators/trees.py:
    stump_split): 16-bin Gini-gain scan over four lineitem features
    against the returned-flag target — the distributed GBDT split
    kernel.  The oracle rebuilds every histogram and every candidate
    gain from the same frozen (min, max) bin algebra."""
    from niamoto_spark.operators.trees import stump_split

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "is_return", (F.col("l_returnflag") == "R").cast("int"))
    return stump_split(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "is_return", n_bins=16)


O_Q216 = """
WITH mm AS (
  SELECT min(l_quantity) AS mn_q, max(l_quantity) AS mx_q,
         min(l_extendedprice) AS mn_p, max(l_extendedprice) AS mx_p,
         min(l_discount) AS mn_d, max(l_discount) AS mx_d,
         min(l_tax) AS mn_t, max(l_tax) AS mx_t
  FROM lineitem),
triples AS (
  SELECT 'l_quantity' AS feature,
         CASE WHEN l_quantity IS NOT NULL THEN CAST(least(floor((l_quantity - mn_q) * 16 / (mx_q - mn_q)), 15) AS INT) END AS bin,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         mn_q AS mn, mx_q AS mx
  FROM lineitem CROSS JOIN mm
  UNION ALL
  SELECT 'l_extendedprice',
         CASE WHEN l_extendedprice IS NOT NULL THEN CAST(least(floor((l_extendedprice - mn_p) * 16 / (mx_p - mn_p)), 15) AS INT) END,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END,
         mn_p, mx_p
  FROM lineitem CROSS JOIN mm
  UNION ALL
  SELECT 'l_discount',
         CASE WHEN l_discount IS NOT NULL THEN CAST(least(floor((l_discount - mn_d) * 16 / (mx_d - mn_d)), 15) AS INT) END,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END,
         mn_d, mx_d
  FROM lineitem CROSS JOIN mm
  UNION ALL
  SELECT 'l_tax',
         CASE WHEN l_tax IS NOT NULL THEN CAST(least(floor((l_tax - mn_t) * 16 / (mx_t - mn_t)), 15) AS INT) END,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END,
         mn_t, mx_t
  FROM lineitem CROSS JOIN mm),
hist AS (
  -- NULL feature values get NO bin (Spark drops them; DuckDB's least()
  -- also skips NULLs, which would silently file them in the top bin)
  SELECT feature, bin, any_value(mn) AS mn, any_value(mx) AS mx,
         count(*) AS n, sum(y) AS e
  FROM triples WHERE bin IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT *,
         sum(n) OVER (PARTITION BY feature ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS nl,
         sum(e) OVER (PARTITION BY feature ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS el,
         sum(n) OVER (PARTITION BY feature) AS nt,
         sum(e) OVER (PARTITION BY feature) AS et,
         max(bin) OVER (PARTITION BY feature) AS maxb
  FROM hist),
cand AS (
  SELECT feature, bin, nl, el, nt, et, mn, mx,
         round((1.0 - (CAST(et AS DOUBLE) / nt)
                      * (CAST(et AS DOUBLE) / nt)
                    - (CAST(nt - et AS DOUBLE) / nt)
                      * (CAST(nt - et AS DOUBLE) / nt))
               - (CAST(nl AS DOUBLE) / nt
                  * (CASE WHEN nl > 0 THEN
                       1.0 - (CAST(el AS DOUBLE) / nl)
                             * (CAST(el AS DOUBLE) / nl)
                           - (CAST(nl - el AS DOUBLE) / nl)
                             * (CAST(nl - el AS DOUBLE) / nl)
                     ELSE 0.0 END)
                  + CAST(nt - nl AS DOUBLE) / nt
                    * (CASE WHEN nt - nl > 0 THEN
                         1.0 - (CAST(et - el AS DOUBLE) / (nt - nl))
                               * (CAST(et - el AS DOUBLE) / (nt - nl))
                             - (CAST((nt - nl) - (et - el) AS DOUBLE)
                                / (nt - nl))
                               * (CAST((nt - nl) - (et - el) AS DOUBLE)
                                  / (nt - nl))
                       ELSE 0.0 END)), 8) AS gain
  FROM cum WHERE bin < maxb)
SELECT feature, bin AS split_bin,
       round(mn + (bin + 1) * ((mx - mn) / 16), 6) AS threshold,
       gain, nl AS n_left, nt - nl AS n_right
FROM cand
QUALIFY row_number() OVER (PARTITION BY feature
                           ORDER BY gain DESC, bin ASC) = 1
"""


def q217_shallow_clone(spark, sf_dir):
    """Zero-copy shallow clone (sources/manifest.py: shallow_clone):
    orders committed, cloned by reference (no bytes move), then the
    CLONE alone takes an append of the high-value slice.  The result
    unions source and clone aggregates to pin both that the clone saw
    the append and that the source did not.  Oracle: orders vs
    orders + its high-value slice."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest as M

    base = os.path.join(
        tempfile.gettempdir(),
        "niamoto_clone_" + sf_dir.strip("/").replace("/", "_"))
    src, dst = base + "_src", base + "_dst"
    for p in (src, dst):
        if os.path.exists(p):
            shutil.rmtree(p)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    M.append(o, src)
    M.shallow_clone(src, dst)
    M.append(M.read_table(spark, dst)
             .where(F.col("o_totalprice") > 400000), dst)

    def agg(df, tag):
        return (df.groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.round(F.sum("o_totalprice"), 2).alias("revenue"))
                .withColumn("tbl", F.lit(tag)))

    return agg(M.read_table(spark, src), "source").unionByName(
        agg(M.read_table(spark, dst), "clone"))


O_Q217 = """
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue, 'source' AS tbl
FROM orders GROUP BY 1
UNION ALL
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue, 'clone' AS tbl
FROM (SELECT * FROM orders
      UNION ALL
      SELECT * FROM orders WHERE o_totalprice > 400000)
GROUP BY 1
"""


def q218_wap_publish(spark, sf_dir):
    """Write-Audit-Publish (sources/manifest.py: wap_stage /
    read_branch / wap_publish / wap_abandon): a poisoned batch
    (negated totals) is staged on a branch, fails its range audit
    against the REAL staged files, and is abandoned without ever
    touching the table; the clean batch is staged, audited, and
    atomically published.  Oracle: base + clean batch only — the
    poisoned rows must be invisible."""
    import shutil
    import tempfile

    from niamoto_spark.operators.quality import expect
    from niamoto_spark.sources import manifest as M

    path = os.path.join(
        tempfile.gettempdir(),
        "niamoto_wap_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(path):
        shutil.rmtree(path)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    M.append(o, path)

    rules = [{"rule": "in_range", "col": "o_totalprice",
              "lo": 0.0, "hi": 1e9}]
    bad = (o.where(F.col("o_orderkey") % 97 == 0)
           .withColumn("o_totalprice", -F.col("o_totalprice")))
    M.wap_stage(bad, path, "audit")
    n_bad = (expect(M.read_branch(spark, path, "audit"), rules)
             .agg(F.sum("n_violations")).first()[0])
    assert n_bad and n_bad > 0, "audit should have caught the poison"
    M.wap_abandon(path, "audit")

    clean = o.where(F.col("o_orderkey") % 101 == 0)
    M.wap_stage(clean, path, "audit")
    n_bad = (expect(M.read_branch(spark, path, "audit"), rules)
             .agg(F.sum("n_violations")).first()[0])
    assert not n_bad, "clean batch must audit green"
    M.wap_publish(path, "audit")

    return (M.read_table(spark, path)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


O_Q218 = """
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM (SELECT * FROM orders
      UNION ALL
      SELECT * FROM orders WHERE o_orderkey % 101 = 0)
GROUP BY 1
"""


def q219_label_propagation(spark, sf_dir):
    """LPA community detection (operators/graph.py: label_propagation)
    over the unigram-Jaccard similarity graph, 2 synchronous rounds,
    min-label tie rule.  The oracle unrolls both rounds in SQL —
    the full iterative computation is pinned, like q100/q102."""
    from niamoto_spark.operators.graph import label_propagation

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = dedup_ops.ngram_jaccard_pairs(d, "doc_id", "text", n=1,
                                          threshold=0.6,
                                          block_col="source")
    lp = label_propagation(pairs.select("id_a", "id_b"), iters=2)
    return (lp.groupBy("community")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.min("node_id").alias("min_node"),
                 F.max("node_id").alias("max_node")))


O_Q219 = r"""
WITH g AS (SELECT doc_id, source,
                  list_distinct(regexp_split_to_array(lower(trim(text)),
                                                      '\s+')) AS toks
           FROM documents WHERE doc_id < 200),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
              > 0
        AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks))), 4) >= 0.6),
edges AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
l0 AS (SELECT DISTINCT src AS node_id, src AS lbl FROM edges),
c1 AS (SELECT e.dst AS node_id, l.lbl, count(*) AS c
       FROM edges e JOIN l0 l ON e.src = l.node_id GROUP BY 1, 2),
l1 AS (SELECT node_id, lbl FROM c1
       QUALIFY row_number() OVER (PARTITION BY node_id
                                  ORDER BY c DESC, lbl ASC) = 1),
c2 AS (SELECT e.dst AS node_id, l.lbl, count(*) AS c
       FROM edges e JOIN l1 l ON e.src = l.node_id GROUP BY 1, 2),
l2 AS (SELECT node_id, lbl FROM c2
       QUALIFY row_number() OVER (PARTITION BY node_id
                                  ORDER BY c DESC, lbl ASC) = 1)
SELECT lbl AS community, count(*) AS n_members,
       min(node_id) AS min_node, max(node_id) AS max_node
FROM l2 GROUP BY 1
"""


def q220_stream_outer_join(spark, sf_dir):
    """Watermarked stream-stream LEFT OUTER join (streaming/joins.py:
    stream_left_outer_join): every purchase joined to its same-user
    clicks within 30 minutes; purchases with NO such click are emitted
    exactly once with nulls when the watermark closes their window.
    A far-future flush row appended to both streams (end-of-stream
    marker) guarantees every real purchase resolves, so the DuckDB
    LEFT JOIN oracle doubles as a stream==batch parity gate —
    including the never-matched rows an inner join would drop."""
    import shutil
    import tempfile

    from niamoto_spark.streaming.joins import stream_left_outer_join

    src = os.path.join(sf_dir, "events.parquet")
    stream_dir = os.path.join(
        tempfile.gettempdir(),
        "niamoto_soj_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(stream_dir):
        shutil.rmtree(stream_dir)
    os.makedirs(stream_dir)
    _link_parquet_source(src, stream_dir, "events")
    # End-of-stream flush, TWO staged batches: availableNow never runs
    # a trailing no-data batch, and watermark advances take effect one
    # batch late — so flush #1 moves the watermark past all real data
    # and flush #2's batch performs the final eviction that emits the
    # last unmatched purchases.  mtimes are bumped so the file source
    # schedules them after the data and in order.
    # Replay-horizon lateness (composed-probe find): with multi-file
    # sources whose files are NOT time-ordered (shuffled rows split
    # across parts), the first batch can advance the watermark past
    # later files' rows and silently drop them.  A bounded REPLAY gets
    # exact stream==batch parity by allowing lateness across the whole
    # historical span; live deployments keep the configured lateness.
    # The flush rows sit one horizon past the real maximum so their
    # batch still advances the watermark beyond every join window.
    stats = (spark.read.parquet(src)
             .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
             .collect()[0])
    if isinstance(stats["hi"], (int, float)):
        span_us = int(stats["hi"] - stats["lo"])
        max_us = int(stats["hi"])
    else:  # timestamp-typed source
        span_us = int((stats["hi"] - stats["lo"]).total_seconds() * 1e6)
        max_us = int(stats["hi"].timestamp() * 1e6)
    horizon_s = span_us // 1_000_000 + 7200
    flush_us = max_us + (horizon_s + 7200) * 1_000_000
    schema = spark.read.parquet(src).schema
    for i in (1, 2):
        tmp = os.path.join(stream_dir, f".mk_flush{i}")
        ts = flush_us + i * 86_400_000_000
        # FileStreamSource reads every file with ONE fixed schema and the
        # vectorized parquet reader won't narrow (int64 file vs int32
        # schema) — cast the literal-built flush rows to the SOURCE
        # file's actual column types so the flush file always matches.
        (spark.createDataFrame(
            [(-1, ts, -1, "purchase", 0.0, "{}"),
             (-2, ts, -1, "click", 0.0, "{}")],
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string")
         .withColumn("ts", F.timestamp_micros("ts"))
         .select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])
         .coalesce(1).write.mode("overwrite").parquet(tmp))
        # FileStreamSource lists plain files, not writer directories:
        # promote the part file to a sibling of events.parquet
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dest = os.path.join(stream_dir, f"zz_flush{i}.parquet")
        os.replace(os.path.join(tmp, part), dest)
        import shutil as _sh
        _sh.rmtree(tmp)
        future = time.time() + i * 86400
        os.utime(dest, (future, future))

    def _stream():
        return _ts_to_timestamp(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(stream_dir))

    purchases = (_stream().where((F.col("event_type") == "purchase")
                                 & F.col("event_id").isNotNull())
                 .select(F.col("event_id").alias("purchase_id"),
                         "user_id", F.col("ts").alias("p_ts")))
    clicks = (_stream().where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("user_id"),
                      F.col("ts").alias("c_ts"),
                      F.col("value").alias("click_value")))
    joined = stream_left_outer_join(
        purchases, clicks, on="user_id",
        left_ts="p_ts", right_ts="c_ts", span_s=1800,
        watermark=f"{horizon_s} seconds")
    qname = "q220_soj_pairs"
    for (q_,) in [(q_,) for q_ in spark.streams.active
                  if q_.name == qname]:
        q_.stop()
    q = (joined.select("purchase_id", "c_ts", "click_value")
         .writeStream.format("memory").queryName(qname)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(qname)
            .where(F.col("purchase_id") >= 0)   # drop the flush marker
            .groupBy("purchase_id")
            .agg(F.count("c_ts").alias("n_clicks"),
                 F.round(F.sum("click_value"), 2)
                 .alias("click_value_sum")))


O_Q220 = """
SELECT p.event_id AS purchase_id, count(c.ts) AS n_clicks,
       round(sum(c.value), 2) AS click_value_sum
FROM events p
LEFT JOIN events c
  ON c.event_type = 'click' AND c.user_id = p.user_id
 AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1800 SECONDS
WHERE p.event_type = 'purchase' AND p.ts IS NOT NULL
  AND p.event_id IS NOT NULL
GROUP BY 1
"""


def q221_permutation_test(spark, sf_dir):
    """Deterministic randomization test (operators/experiments.py:
    permutation_test): urgent-vs-high order totals, 49 md5-seeded
    pseudo-experiments.  The oracle replays every permutation's coin
    flips and the add-one p-value in SQL — the full null distribution
    is pinned, not just the verdict."""
    from niamoto_spark.operators.experiments import permutation_test

    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")))
    return permutation_test(o, "o_orderpriority", "o_totalprice",
                            "o_orderkey", treatment="1-URGENT",
                            n_perms=49)


O_Q221 = """
WITH two AS (
  SELECT o_orderpriority AS arm, CAST(o_totalprice AS DOUBLE) AS v,
         CAST(o_orderkey AS VARCHAR) AS id
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    AND o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL),
obs AS (
  SELECT round(avg(CASE WHEN arm = '1-URGENT' THEN v END)
               - avg(CASE WHEN arm <> '1-URGENT' THEN v END), 6)
           AS obs_diff
  FROM two),
ex AS (
  SELECT p.p, t.v,
         CASE WHEN (CAST(('0x' || substr(md5('perm|'
                                             || CAST(p.p AS VARCHAR)
                                             || '|' || t.id), 1, 13))
                         AS UBIGINT) + 0.5) / power(16, 13) < 0.5
              THEN 1 ELSE 0 END AS g
  FROM two t CROSS JOIN (SELECT unnest(range(1, 50)) AS p) p),
stats AS (
  SELECT p, avg(CASE WHEN g = 1 THEN v END)
            - avg(CASE WHEN g = 0 THEN v END) AS diff
  FROM ex GROUP BY 1)
SELECT 49 AS n_perms, obs.obs_diff,
       CAST(sum(CASE WHEN abs(round(stats.diff, 6)) >= abs(obs.obs_diff)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
       round((sum(CASE WHEN abs(round(stats.diff, 6))
                            >= abs(obs.obs_diff)
                       THEN 1 ELSE 0 END) + 1) / 50.0, 6) AS p_value
FROM stats CROSS JOIN obs
GROUP BY obs.obs_diff
"""


def q222_sequence_pairs(spark, sf_dir):
    """Gap-constrained sequential patterns (operators/itemsets.py:
    sequence_pairs): "A then B within an hour" per user over the
    events stream, cross-user support.  The oracle replays the
    windowed self-join and once-per-user distinct in SQL."""
    from niamoto_spark.operators.itemsets import sequence_pairs

    ev = _events(spark, sf_dir).where(F.col("ts_sec").isNotNull())
    return sequence_pairs(ev, "user_id", "ts_sec", "event_type",
                          window_s=3600, min_users=2)


O_Q222 = """
WITH ev AS (
  SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         event_type AS ty
  FROM events WHERE ts IS NOT NULL),
tot AS (SELECT count(DISTINCT u) AS nu FROM ev),
pairs AS (
  SELECT DISTINCT a.u, a.ty AS type_a, b.ty AS type_b
  FROM ev a JOIN ev b
    ON a.u = b.u AND a.t < b.t AND b.t <= a.t + 3600)
SELECT type_a, type_b, count(*) AS n_users,
       round(count(*) / CAST(tot.nu AS DOUBLE), 6) AS support
FROM pairs CROSS JOIN tot
GROUP BY type_a, type_b, tot.nu
HAVING count(*) >= 2
"""


def q223_l_diversity(spark, sf_dir):
    """L-diversity audit (operators/quality.py: l_diversity):
    nation × market-segment quasi-groups against the account-balance
    sign as the sensitive attribute — the homogeneity-attack profile
    k-anonymity misses.  Oracle: the same two-level aggregation."""
    from niamoto_spark.operators.quality import l_diversity

    c = (_t(spark, sf_dir, "customer")
         .withColumn("bal_sign",
                     F.when(F.col("c_acctbal") < 0, "neg")
                     .otherwise("nonneg")))
    return l_diversity(c, ["c_nationkey", "c_mktsegment"], "bal_sign")


O_Q223 = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS n,
         count(DISTINCT CASE WHEN c_acctbal < 0
                             THEN 'neg' ELSE 'nonneg' END) AS l
  FROM customer GROUP BY 1, 2)
SELECT l, count(*) AS n_groups, CAST(sum(n) AS BIGINT) AS n_rows,
       min(n) AS min_group_size
FROM g GROUP BY 1
"""


def q224_skew_report(spark, sf_dir):
    """Hot-key diagnosis (operators/skew.py: skew_report): the
    lineitem→part join key profiled before choosing a join strategy —
    top-5 heaviest keys, their shares, and the straggler multiplier a
    plain shuffle would suffer.  Oracle: the same key aggregation and
    deterministic top-k election."""
    from niamoto_spark.operators.skew import skew_report

    li = _t(spark, sf_dir, "lineitem")
    return skew_report(li, "l_partkey", top_k=5)


O_Q224 = """
WITH per AS (
  SELECT coalesce(CAST(l_partkey AS VARCHAR), '<NULL>') AS key,
         count(*) AS n
  FROM lineitem GROUP BY 1),
t AS (
  SELECT key, n, sum(n) OVER () AS total,
         count(*) OVER () AS nkeys, max(n) OVER () AS mx,
         row_number() OVER (ORDER BY n DESC, key ASC) AS rank
  FROM per)
SELECT rank, key, n, round(n / CAST(total AS DOUBLE), 6) AS share,
       round(mx / (total / CAST(nkeys AS DOUBLE)), 6) AS skew_ratio,
       nkeys AS n_keys
FROM t WHERE rank <= 5
"""


def q225_kcore(spark, sf_dir):
    """K-core extraction (operators/graph.py: kcore_peel) on the
    unigram-Jaccard similarity graph: 2 deterministic peel rounds at
    k=2 strip the hanger-on nodes; the oracle unrolls both rounds
    (degree -> keep -> edge restriction, twice) plus the final core
    filter in SQL."""
    from niamoto_spark.operators.graph import kcore_peel

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = dedup_ops.ngram_jaccard_pairs(d, "doc_id", "text", n=1,
                                          threshold=0.6,
                                          block_col="source")
    return kcore_peel(pairs.select("id_a", "id_b"), k=2, rounds=2)


O_Q225 = r"""
WITH g AS (SELECT doc_id, source,
                  list_distinct(regexp_split_to_array(lower(trim(text)),
                                                      '\s+')) AS toks
           FROM documents WHERE doc_id < 200),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
              > 0
        AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks))), 4) >= 0.6),
e0 AS (SELECT id_a AS src, id_b AS dst FROM p
       UNION SELECT id_b, id_a FROM p),
d1 AS (SELECT src, count(*) AS deg FROM e0 GROUP BY 1),
k1 AS (SELECT src FROM d1 WHERE deg >= 2),
e1 AS (SELECT e.src, e.dst FROM e0 e
       JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
d2 AS (SELECT src, count(*) AS deg FROM e1 GROUP BY 1),
k2 AS (SELECT src FROM d2 WHERE deg >= 2),
e2 AS (SELECT e.src, e.dst FROM e1 e
       JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src)
SELECT src AS node_id, count(*) AS degree
FROM e2 GROUP BY 1 HAVING count(*) >= 2
"""


def q226_readability(spark, sf_dir):
    """Flesch readability screen (operators/text.py: readability):
    three regexp counts per document, zero UDFs; per-language
    aggregate.  The oracle reruns the identical patterns and algebra
    in SQL."""
    from niamoto_spark.operators.text import readability

    d = _t(spark, sf_dir, "documents")
    r = readability(d, "text")
    return (r.where(F.col("flesch").isNotNull())
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("flesch"), 4).alias("avg_flesch"),
                 F.min("n_syllables").alias("min_syll"),
                 F.max("n_words").alias("max_words")))


O_Q226 = r"""
WITH r AS (
  SELECT lang,
         len(regexp_extract_all(text, '\S+')) AS n_words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
           AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+'))
           AS n_syllables
  FROM documents),
f AS (
  SELECT lang, n_words, n_syllables,
         round(206.835
               - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
               - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
           AS flesch
  FROM r WHERE n_words > 0)
SELECT lang, count(*) AS n_docs, round(avg(flesch), 4) AS avg_flesch,
       min(n_syllables) AS min_syll, max(n_words) AS max_words
FROM f GROUP BY 1
"""


def q227_sampled_counts(spark, sf_dir):
    """Approximate-query-processing GROUP BY (operators/sketches.py:
    sampled_group_count): md5-deterministic 10% Bernoulli sample with
    Horvitz-Thompson scaling.  The sample is an expression, so the
    oracle reproduces the EXACT member set and estimates — and the
    query also reports each group's true count to pin the estimator's
    error on real data."""
    from niamoto_spark.operators.sketches import sampled_group_count

    o = _t(spark, sf_dir, "orders")
    est = sampled_group_count(o, ["o_orderpriority"], "o_orderkey",
                              frac=0.1, seed="aqp7")
    true = (o.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("true_count")))
    return est.join(true, "o_orderpriority")


O_Q227 = """
WITH s AS (
  SELECT o_orderpriority
  FROM orders
  WHERE (CAST(('0x' || substr(md5('aqp7' || '|'
                              || CAST(o_orderkey AS VARCHAR)), 1, 13))
              AS UBIGINT) + 0.5) / power(16, 13) < 0.1),
est AS (
  SELECT o_orderpriority, count(*) AS n_sampled,
         round(count(*) / 0.1, 2) AS est_count
  FROM s GROUP BY 1),
t AS (SELECT o_orderpriority, count(*) AS true_count
      FROM orders GROUP BY 1)
SELECT est.o_orderpriority, est.n_sampled, est.est_count, t.true_count
FROM est JOIN t USING (o_orderpriority)
"""


def q228_gazetteer(spark, sf_dir):
    """Gazetteer entity tagging (operators/text.py: gazetteer_tag):
    a small term->tag dictionary broadcast against the tokenized
    corpus; per-tag document hit profile.  The oracle replays the
    tokenization and dictionary join with unnest."""
    from niamoto_spark.operators.text import gazetteer_tag

    d = _t(spark, sf_dir, "documents")
    gaz = spark.createDataFrame(
        [("data", "TECH"), ("model", "TECH"), ("system", "TECH"),
         ("market", "BIZ"), ("price", "BIZ"), ("report", "BIZ")],
        "term string, tag string")
    tags = gazetteer_tag(d, "doc_id", "text", gaz)
    return (tags.groupBy("tag")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_hits").alias("total_hits"),
                 F.max("n_terms").alias("max_terms_in_doc")))


O_Q228 = """
WITH gaz(term, tag) AS (
  VALUES ('data', 'TECH'), ('model', 'TECH'), ('system', 'TECH'),
         ('market', 'BIZ'), ('price', 'BIZ'), ('report', 'BIZ')),
toks AS (
  SELECT doc_id AS id, unnest(regexp_split_to_array(lower(text),
                                                    '[^a-z0-9]+')) AS tok
  FROM documents),
hits AS (
  SELECT t.id, g.tag, t.tok
  FROM toks t JOIN gaz g ON t.tok = g.term
  WHERE t.tok <> ''),
per AS (
  SELECT id, tag, count(*) AS n_hits,
         count(DISTINCT tok) AS n_terms
  FROM hits GROUP BY 1, 2)
SELECT tag, count(*) AS n_docs, CAST(sum(n_hits) AS BIGINT) AS total_hits,
       max(n_terms) AS max_terms_in_doc
FROM per GROUP BY 1
"""


def q229_hidden_partitioning(spark, sf_dir):
    """Iceberg-style hidden partitioning (sources/manifest.py:
    append_hidden_partitioned / read_hidden_range): events laid out by
    day(ts) with per-file partition values in the commit doc; a raw
    timestamp range query prunes to the covered days' files without
    opening the rest, then applies the exact residual filter.  The
    query asserts real pruning happened; the oracle is the plain
    range filter."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest as M

    path = os.path.join(
        tempfile.gettempdir(),
        "niamoto_hidp_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(path):
        shutil.rmtree(path)
    ev = (_events(spark, sf_dir)
          .select("event_id", "user_id", "event_type", "value",
                  F.timestamp_micros(F.col("ts_us")).alias("ts")))
    M.append_hidden_partitioned(ev, path, ("day", "ts"))
    df, kept, total = M.read_hidden_range(
        spark, path, "2024-01-10", "2024-01-14 23:59:59.999999")
    assert kept < total, "day pruning must skip files"
    return (df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("value_sum")))


O_Q229 = """
SELECT event_type, count(*) AS n_events,
       round(sum(value), 2) AS value_sum
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <= TIMESTAMP '2024-01-14 23:59:59.999999'
GROUP BY 1
"""


def q230_stl_decompose(spark, sf_dir):
    """Classical seasonal-trend decomposition (operators/timeseries.py:
    stl_decompose): per-event-type daily value series split into
    trend (±3-day centered MA), weekly seasonal, residual — every
    window partitioned by series key.  The oracle replays the MA,
    phase means and centering exactly."""
    from niamoto_spark.operators.timeseries import stl_decompose

    ev = _events(spark, sf_dir).where(F.col("ts_sec").isNotNull())
    daily = (ev.groupBy("event_type",
                        F.floor(F.col("ts_sec") / 86400)
                        .cast("long").alias("day"))
             .agg(F.round(F.sum("value"), 4).alias("v")))
    out = stl_decompose(daily, "event_type", "day", "v",
                        period=7, trend_window=3)
    return out.select("event_type", "day", "v", "trend",
                      "seasonal", "residual")


O_Q230 = """
WITH daily AS (
  SELECT event_type, CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT)
           AS day,
         round(sum(value), 4) AS v
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
t AS (
  SELECT event_type, day, v,
         avg(v) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS trend,
         day % 7 AS phase
  FROM daily),
s AS (
  SELECT *, avg(v - trend) OVER (PARTITION BY event_type, phase)
              AS sraw
  FROM t),
c AS (
  SELECT *, sraw - avg(sraw) OVER (PARTITION BY event_type) AS seas
  FROM s)
SELECT event_type, day, v, round(trend, 4) AS trend,
       round(seas, 4) AS seasonal,
       round(v - trend - seas, 4) AS residual
FROM c
"""


def q231_conformal(spark, sf_dir):
    """Split-conformal prediction intervals (operators/mleval.py:
    conformal_interval): a per-priority mean model, md5 calibration
    split, exact order-statistic q̂, and test-split coverage ≥ 1−α by
    the conformal guarantee.  The oracle replays the split, the rank
    selection and the coverage aggregate."""
    from niamoto_spark.operators.mleval import conformal_interval

    o = _t(spark, sf_dir, "orders")
    model = (o.groupBy("o_orderpriority")
             .agg(F.round(F.avg("o_totalprice"), 4).alias("pred")))
    scored = o.join(model, "o_orderpriority")
    return conformal_interval(scored, "pred", "o_totalprice",
                              "o_orderkey", alpha=0.1)


O_Q231 = """
WITH model AS (
  SELECT o_orderpriority, round(avg(o_totalprice), 4) AS pred
  FROM orders GROUP BY 1),
-- NULL ids can't be coined; NULL actuals have no conformity score
scored AS (
  SELECT o.o_orderkey AS id, m.pred, o.o_totalprice AS actual,
         (CAST(('0x' || substr(md5('conf' || '|'
                               || CAST(o.o_orderkey AS VARCHAR)), 1, 13))
               AS UBIGINT) + 0.5) / power(16, 13) < 0.5 AS is_cal,
         abs(o.o_totalprice - m.pred) AS r
  FROM orders o JOIN model m USING (o_orderpriority)
  WHERE o.o_orderkey IS NOT NULL AND o.o_totalprice IS NOT NULL),
cal AS (SELECT * FROM scored WHERE is_cal),
nc AS (SELECT count(*) AS n_cal FROM cal),
q AS (
  SELECT r AS qhat FROM (
    SELECT r, row_number() OVER (ORDER BY r ASC, id ASC) AS rn
    FROM cal) x CROSS JOIN nc
  WHERE rn = least(CAST(ceil((nc.n_cal + 1) * 0.9) AS BIGINT),
                   nc.n_cal))
SELECT nc.n_cal, count(*) AS n_test, round(q.qhat, 4) AS qhat,
       round(avg(CASE WHEN t.r <= q.qhat THEN 1.0 ELSE 0.0 END), 4)
         AS coverage,
       CAST(0.1 AS DOUBLE) AS alpha
FROM scored t CROSS JOIN q CROSS JOIN nc
WHERE NOT t.is_cal
GROUP BY nc.n_cal, q.qhat
"""


def q232_uplift(spark, sf_dir):
    """Segment-level uplift (operators/experiments.py:
    uplift_by_segment): urgent-priority orders as the pseudo-treatment
    arm, high-value outcome, customer market segment as the subgroup
    axis — the heterogeneous-effect readout behind every targeting
    decision.  The oracle replays the (segment, arm) aggregation and
    rate algebra."""
    from niamoto_spark.operators.experiments import uplift_by_segment

    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")))
    c = _t(spark, sf_dir, "customer")
    df = (o.join(c, o.o_custkey == c.c_custkey)
          .withColumn("converted",
                      (F.col("o_totalprice") > 200000).cast("int")))
    return uplift_by_segment(df, "o_orderpriority", "1-URGENT",
                             "converted", "c_mktsegment")


O_Q232 = """
WITH base AS (
  SELECT c.c_mktsegment AS segment,
         o.o_orderpriority = '1-URGENT' AS is_t,
         CASE WHEN o.o_totalprice > 200000 THEN 1.0 ELSE 0.0 END AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')),
per AS (
  SELECT segment,
         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
           AS n_treat,
         CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT)
           AS n_ctrl,
         sum(CASE WHEN is_t THEN y ELSE 0 END) AS st,
         sum(CASE WHEN is_t THEN 0 ELSE y END) AS sc
  FROM base GROUP BY 1)
SELECT segment, n_treat, n_ctrl,
       round(st / n_treat, 6) AS rate_treat,
       round(sc / n_ctrl, 6) AS rate_ctrl,
       round(st / n_treat - sc / n_ctrl, 6) AS uplift
FROM per WHERE n_treat > 0 AND n_ctrl > 0
"""


def q233_maintain_join(spark, sf_dir):
    """Incremental JOIN-view maintenance (operators/incremental.py:
    maintain_join): orders⋈customer kept up to date across two append
    rounds on BOTH sides via the delta algebra ΔA⋈B_new ∪ A_old⋈ΔB —
    the fact history is never rejoined.  The oracle is the one-shot
    full join: the maintained state must agree exactly."""
    import shutil
    import tempfile

    from niamoto_spark.operators.incremental import maintain_join
    from niamoto_spark.sources import manifest as M

    base = os.path.join(
        tempfile.gettempdir(),
        "niamoto_mj_" + sf_dir.strip("/").replace("/", "_"))
    lp, rp, sp = base + "_l", base + "_r", base + "_s"
    for p in (lp, rp, sp):
        if os.path.exists(p):
            shutil.rmtree(p)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"),
        "o_totalprice")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment")

    # coalesce: splits must be EXHAUSTIVE (NULL % k is NULL and a bare
    # comparison silently drops NULL-key rows from every commit — q133)
    o_slice = F.coalesce(F.col("o_orderkey") % 3, F.lit(1))
    c_slice = F.coalesce(F.col("custkey") % 2, F.lit(0))
    M.append(o.where(o_slice != 0), lp)
    M.append(c.where(c_slice == 0), rp)
    maintain_join(spark, lp, rp, sp, on="custkey")
    M.append(o.where(o_slice == 0), lp)
    M.append(c.where(c_slice == 1), rp)
    maintain_join(spark, lp, rp, sp, on="custkey")

    return (M.read_table(spark, sp)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


O_Q233 = """
SELECT c.c_mktsegment, count(*) AS n_rows,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
"""


def q234_audience_overlap(spark, sf_dir):
    """Segment overlap matrix (operators/recsys.py: audience_overlap):
    customers grouped into priority-based audiences; pairwise
    intersection sizes and Jaccard via the user-keyed self-join (the
    set-intersection query bitmap indexes exist for).  Oracle: the
    same distinct-membership self-join in SQL."""
    from niamoto_spark.operators.recsys import audience_overlap

    o = _t(spark, sf_dir, "orders")
    return audience_overlap(o, "o_custkey", "o_orderpriority")


O_Q234 = """
WITH m AS (SELECT DISTINCT o_custkey AS u, o_orderpriority AS s
           FROM orders),
sizes AS (SELECT s, count(*) AS n FROM m GROUP BY 1),
pairs AS (
  SELECT a.s AS seg_a, b.s AS seg_b, count(*) AS n_both
  FROM m a JOIN m b ON a.u = b.u AND a.s <= b.s
  GROUP BY 1, 2)
SELECT p.seg_a, p.seg_b, p.n_both, sa.n AS n_a, sb.n AS n_b,
       round(p.n_both / CAST(sa.n + sb.n - p.n_both AS DOUBLE), 6)
         AS jaccard
FROM pairs p JOIN sizes sa ON p.seg_a = sa.s
             JOIN sizes sb ON p.seg_b = sb.s
"""


def q235_trending(spark, sf_dir):
    """Exponentially decayed trending leaderboard
    (operators/timeseries.py: decayed_trending): value-weighted event
    scores with a 3-day half-life against a pinned reference instant;
    deterministic top-10 users.  Oracle: the same decay expression
    and ranked selection."""
    from niamoto_spark.operators.timeseries import decayed_trending

    ev = _events(spark, sf_dir)
    ref = 1706745600.0  # 2024-02-01 00:00 UTC, seconds
    return decayed_trending(ev, "user_id", "ts_sec",
                            half_life_s=259200.0, ref_ts=ref,
                            top_k=10, weight_col="value")


O_Q235 = """
WITH scored AS (
  SELECT user_id AS key, count(*) AS n_events,
         round(sum(value * power(2.0,
               -(1706745600.0 - floor(epoch(ts))) / 259200.0)), 6)
           AS score
  FROM events GROUP BY 1)
SELECT rank, key, n_events, score FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, key ASC) AS rank
  FROM scored) x
WHERE rank <= 10
"""


def q236_deletion_vectors(spark, sf_dir):
    """Merge-on-read DELETE via deletion vectors (sources/manifest.py:
    delete_where_mor): two stacked deletes recorded as (file,
    row_index) vectors — the query asserts ZERO data files were
    rewritten — applied at read as a broadcast anti join.  Oracle:
    the equivalent SQL DELETEs as predicates."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest as M

    path = os.path.join(
        tempfile.gettempdir(),
        "niamoto_dv_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(path):
        shutil.rmtree(path)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    M.append(o.repartition(8), path)
    files_v0 = sorted(M._read_manifest(path, 0)["files"])
    M.delete_where_mor(spark, path, "o_totalprice < 50000")
    v, _ = M.delete_where_mor(spark, path,
                              "o_orderpriority = '5-LOW'")
    assert sorted(M._read_manifest(path, v)["files"]) == files_v0, \
        "MOR delete must not rewrite data files"
    return (M.read_table(spark, path)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


O_Q236 = """
-- MOR DELETE marks rows where pred is TRUE: NULL-predicate rows stay
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
WHERE (o_totalprice >= 50000 OR o_totalprice IS NULL)
  AND (o_orderpriority <> '5-LOW' OR o_orderpriority IS NULL)
GROUP BY 1
"""


def q237_interval_allocate(spark, sf_dir):
    """Interval-to-grid proportional allocation
    (operators/timeseries.py: interval_allocate): per-user activity
    spans (first..last event, value-summed) spread across the days
    they cover by exact overlap seconds; daily totals.  The oracle
    replays the bucket explosion and overlap algebra with unnest."""
    from niamoto_spark.operators.timeseries import interval_allocate

    ev = _events(spark, sf_dir)
    spans = (ev.groupBy("user_id")
             .agg(F.min("ts_sec").alias("t0"),
                  (F.max("ts_sec") + 1).alias("t1"),
                  F.round(F.sum("value"), 4).alias("v")))
    alloc = interval_allocate(spans, "t0", "t1", "v", granule_s=86400)
    return (alloc.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.round(F.sum("allocated"), 2).alias("allocated")))


O_Q237 = """
WITH spans AS (
  SELECT user_id, CAST(min(floor(epoch(ts))) AS BIGINT) AS t0,
         CAST(max(floor(epoch(ts))) AS BIGINT) + 1 AS t1,
         round(sum(value), 4) AS v
  FROM events GROUP BY 1),
alloc AS (
  SELECT s.user_id, b.bucket,
         least(s.t1, (b.bucket + 1) * 86400)
           - greatest(s.t0, b.bucket * 86400) AS overlap_s,
         s.v, s.t1 - s.t0 AS dur
  FROM spans s,
       LATERAL (SELECT unnest(range(CAST(floor(s.t0 / 86400) AS BIGINT),
                                    CAST(floor((s.t1 - 1) / 86400)
                                         AS BIGINT) + 1)) AS bucket) b
  WHERE s.t1 > s.t0)
SELECT bucket, count(*) AS n_users,
       round(sum(round(v * overlap_s / CAST(dur AS DOUBLE), 6)), 2)
         AS allocated
FROM alloc GROUP BY 1
"""


def q238_golden_record(spark, sf_dir):
    """Survivorship merge (operators/cleaning.py: golden_record):
    per-customer order history consolidated most-recent-wins per
    attribute, where low totals are nulled to exercise the
    null-never-erases rule.  The oracle replays last_value IGNORE
    NULLS over the identical deterministic order."""
    from niamoto_spark.operators.cleaning import golden_record

    # survivorship needs a TOTAL per-customer order: NULL orderkeys
    # tie and the engines pick different "most recent" rows (rate-0.3
    # NULL probe find) — records are addressable by contract
    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderkey").isNotNull())
         .withColumn("day", F.unix_date(F.col("o_orderdate")
                                        .cast("date")))
         .withColumn("big_total",
                     F.when(F.col("o_totalprice") >= 100000,
                            F.round("o_totalprice", 2))))
    g = golden_record(o, "o_custkey", "day", "o_orderkey",
                      ["o_orderpriority", "big_total"])
    return (g.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.round(F.sum("big_total"), 2).alias("sum_latest_big"),
                 F.sum("n_records").alias("records_covered")))


O_Q238 = """
WITH o AS (
  SELECT o_custkey,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
         o_orderkey, o_orderpriority,
         CASE WHEN o_totalprice >= 100000
              THEN round(o_totalprice, 2) END AS big_total
  FROM orders WHERE o_orderkey IS NOT NULL),
g AS (
  SELECT o_custkey,
         count(*) OVER (PARTITION BY o_custkey) AS n_records,
         last_value(o_orderpriority IGNORE NULLS)
           OVER (PARTITION BY o_custkey
                 ORDER BY day NULLS FIRST, o_orderkey NULLS FIRST
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS o_orderpriority,
         last_value(big_total IGNORE NULLS)
           OVER (PARTITION BY o_custkey
                 ORDER BY day NULLS FIRST, o_orderkey NULLS FIRST
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS big_total,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY day NULLS FIRST,
                                     o_orderkey NULLS FIRST) AS rn
  FROM o)
SELECT o_orderpriority, count(*) AS n_customers,
       round(sum(big_total), 2) AS sum_latest_big,
       CAST(sum(n_records) AS BIGINT) AS records_covered
FROM g WHERE rn = 1
GROUP BY 1
"""


def q239_mutual_best_match(spark, sf_dir):
    """1:1 record linkage by mutual argmax (operators/linkage.py:
    mutual_best_match) over the trigram-similarity candidate pairs of
    customer names against themselves across nations (blocked), ties
    to the smaller id.  The oracle replays both window argmaxes and
    the agreement filter."""
    from niamoto_spark.operators.linkage import mutual_best_match

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 500)
    a = c.select(F.col("c_custkey").alias("id_a"),
                 F.col("c_name").alias("name_a"),
                 F.col("c_nationkey").alias("nk"))
    b = c.select(F.col("c_custkey").alias("id_b"),
                 F.col("c_name").alias("name_b"),
                 F.col("c_nationkey").alias("nk"))
    pairs = (a.join(b, "nk")
             .where(F.col("id_a") < F.col("id_b"))
             .withColumn("score",
                         -F.levenshtein("name_a", "name_b"))
             .where(F.col("score") >= -8)
             .select("id_a", "id_b", "score"))
    m = mutual_best_match(pairs)
    return (m.groupBy("score")
            .agg(F.count(F.lit(1)).alias("n_matches"),
                 F.min("id_a").alias("min_a"),
                 F.max("id_b").alias("max_b")))


O_Q239 = """
WITH c AS (SELECT c_custkey, c_name, c_nationkey FROM customer
           WHERE CAST(c_custkey AS BIGINT) < 500),
pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         -levenshtein(a.c_name, b.c_name) AS score
  FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey
                    AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 8),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY id_a
                            ORDER BY score DESC, id_b ASC) AS rl,
         row_number() OVER (PARTITION BY id_b
                            ORDER BY score DESC, id_a ASC) AS rr
  FROM pairs)
SELECT score, count(*) AS n_matches, min(id_a) AS min_a,
       max(id_b) AS max_b
FROM ranked WHERE rl = 1 AND rr = 1
GROUP BY 1
"""


def q240_cumulative_unique(spark, sf_dir):
    """Entity growth curve (operators/timeseries.py:
    cumulative_unique): exact cumulative distinct users by day via
    the first-seen identity (no quadratic DISTINCT-over-frame), with
    gap days densified.  The oracle replays first-seen election,
    densification and the running sum."""
    from niamoto_spark.operators.timeseries import cumulative_unique

    ev = _events(spark, sf_dir)
    return cumulative_unique(ev, "user_id", "ts_sec",
                             granule_s=86400)


O_Q240 = """
WITH firsts AS (
  SELECT user_id,
         CAST(min(floor(floor(epoch(ts)) / 86400)) AS BIGINT) AS fb
  FROM events GROUP BY 1),
news AS (SELECT fb AS bucket, count(*) AS new_entities
         FROM firsts GROUP BY 1),
span AS (SELECT min(bucket) AS b0, max(bucket) AS b1 FROM news),
dense AS (SELECT unnest(range(b0, b1 + 1)) AS bucket FROM span),
filled AS (
  SELECT d.bucket, coalesce(n.new_entities, 0) AS new_entities
  FROM dense d LEFT JOIN news n USING (bucket))
SELECT bucket, new_entities,
       CAST(sum(new_entities) OVER (ORDER BY bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_entities
FROM filled
"""


def q241_poisson_bootstrap(spark, sf_dir):
    """Poisson bootstrap CI for the mean (operators/experiments.py:
    poisson_bootstrap): 50 md5-deterministic Poisson(1)-weighted
    replicates of mean(o_totalprice), CI as exact order statistics of
    the replicate means.  The oracle replays every replicate weight
    and both rank selections."""
    from niamoto_spark.operators.experiments import poisson_bootstrap

    o = _t(spark, sf_dir, "orders")
    return poisson_bootstrap(o, "o_totalprice", "o_orderkey",
                             n_boot=50)


O_Q241 = """
WITH base AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v,
         CAST(o_orderkey AS VARCHAR) AS id
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL),
n AS (SELECT count(*) AS n_rows, round(avg(v), 4) AS mean FROM base),
ex AS (
  SELECT b.b, t.v,
         (CAST(('0x' || substr(md5('boot' || '|'
                || CAST(b.b AS VARCHAR) || '|' || t.id), 1, 13))
               AS UBIGINT) + 0.5) / power(16, 13) AS u
  FROM base t CROSS JOIN (SELECT unnest(range(1, 51)) AS b) b),
reps AS (
  SELECT b,
         sum((CASE WHEN u < 0.3679 THEN 0 WHEN u < 0.7358 THEN 1
                   WHEN u < 0.9197 THEN 2 WHEN u < 0.9810 THEN 3
                   ELSE 4 END) * v)
         / sum(CASE WHEN u < 0.3679 THEN 0 WHEN u < 0.7358 THEN 1
                    WHEN u < 0.9197 THEN 2 WHEN u < 0.9810 THEN 3
                    ELSE 4 END) AS m
  FROM ex GROUP BY 1),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m ASC, b ASC) AS r FROM reps)
SELECT n.n_rows, 50 AS n_boot, n.mean,
       round(min(CASE WHEN r = 1 THEN m END), 4) AS ci_lo,
       round(min(CASE WHEN r = 49 THEN m END), 4) AS ci_hi
FROM ranked CROSS JOIN n
GROUP BY n.n_rows, n.mean
"""


def q242_sole_blame_suppliers(spark, sf_dir):
    """TPC-H Q21-shaped correlated multi-semi-join: in multi-supplier
    orders, suppliers with a returned line where NO other supplier in
    the same order had a returned line (the "solely to blame" shape:
    EXISTS another-supplier line AND NOT EXISTS another-supplier
    returned line).  Exercises chained semi + anti joins on a
    composite correlation key — the classic plan the reference's
    per-entity loops cannot express.  Top 10 by count."""
    li = _t(spark, sf_dir, "lineitem")
    l1 = li.select("l_orderkey", "l_suppkey", "l_returnflag")
    ret = l1.where(F.col("l_returnflag") == "R")
    other = (l1.select(F.col("l_orderkey").alias("o2"),
                       F.col("l_suppkey").alias("s2")).distinct())
    other_ret = (ret.select(F.col("l_orderkey").alias("o3"),
                            F.col("l_suppkey").alias("s3")).distinct())
    blamed = (ret.select("l_orderkey", "l_suppkey").distinct()
              .join(other, (F.col("l_orderkey") == F.col("o2"))
                    & (F.col("l_suppkey") != F.col("s2")),
                    "left_semi")
              .join(other_ret,
                    (F.col("l_orderkey") == F.col("o3"))
                    & (F.col("l_suppkey") != F.col("s3")),
                    "left_anti"))
    return (blamed.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .orderBy(F.col("n_orders").desc(),
                     F.col("l_suppkey").asc())
            .limit(10))


O_Q242 = """
WITH ret AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
  WHERE l_returnflag = 'R')
SELECT r.l_suppkey, count(*) AS n_orders
FROM ret r
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = r.l_orderkey
                AND l2.l_suppkey <> r.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = r.l_orderkey
                    AND l3.l_suppkey <> r.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY 1
ORDER BY n_orders DESC, l_suppkey ASC
LIMIT 10
"""


def q243_top_paths(spark, sf_dir):
    """Session path analysis (Sankey source): sessionize by 30-min
    inactivity (the q31 rule), take each session's first 4 event
    types in (ts, event_id) order, count path signatures.  One
    session window + one ordered aggregation; the oracle replays
    sessionization and the ordered string_agg.  Top 15 paths."""
    ev = _events(spark, sf_dir).where(F.col("ts_sec").isNotNull())
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts_sec", "event_id")
    prev = F.lag("ts_sec").over(w)
    new_s = F.when(prev.isNull()
                   | ((F.col("ts_sec") - prev) > 1800), 1).otherwise(0)
    sess = ev.withColumn(
        "__sid", F.sum(new_s).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    ws = W.partitionBy("user_id", "__sid").orderBy("ts_sec", "event_id")
    ranked = (sess.withColumn("__rn", F.row_number().over(ws))
              .where(F.col("__rn") <= 4))
    paths = (ranked.groupBy("user_id", "__sid")
             .agg(F.concat_ws(
                 ">", F.array_sort(
                     F.collect_list(F.struct("__rn", "event_type")))
                 .getField("event_type")).alias("path")))
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_sessions"))
            .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
            .limit(15))


O_Q243 = """
WITH ev AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events WHERE ts IS NOT NULL),
s AS (
  SELECT *, CASE WHEN lag(t) OVER w IS NULL
                   OR t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS ns
  FROM ev WINDOW w AS (PARTITION BY user_id
                       ORDER BY t, event_id NULLS FIRST)),
sid AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id
                          ORDER BY t, event_id NULLS FIRST
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM s),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, sid
                               ORDER BY t, event_id NULLS FIRST) AS rn
  FROM sid),
paths AS (
  -- coalesce: an all-NULL-type session renders the EMPTY path, the
  -- same string concat_ws produces (string_agg alone yields NULL)
  SELECT user_id, sid,
         coalesce(string_agg(event_type, '>' ORDER BY rn), '') AS path
  FROM ranked WHERE rn <= 4 GROUP BY 1, 2)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path ASC
LIMIT 15
"""


def q244_orc_roundtrip(spark, sf_dir):
    """ORC source/sink (sources/files.py: write_orc / read_any):
    lineitem written to ORC (Spark-native vectorized writer), read
    back through the extension-dispatched scanner, aggregated.  The
    oracle reads the original parquet — the interchange must be
    lossless."""
    import shutil
    import tempfile

    from niamoto_spark.sources.files import read_any, write_orc

    path = os.path.join(
        tempfile.gettempdir(),
        "niamoto_orc_" + sf_dir.strip("/").replace("/", "_"),
        "lineitem.orc")
    if os.path.exists(os.path.dirname(path)):
        shutil.rmtree(os.path.dirname(path))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
    write_orc(li, path)
    back = read_any(spark, path)
    return (back.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("l_quantity").cast("double").alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2)
                 .alias("sum_price")))


O_Q244 = """
SELECT l_returnflag, count(*) AS n_rows,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem GROUP BY 1
"""


def q245_result_cache(spark, sf_dir):
    """Version-keyed result caching (resultcache.py: cached_query):
    the same aggregate requested three times over a manifest orders
    table — miss, hit (asserted), then an append FORCES a miss because
    the cache key embeds the dependency's committed version.  The
    final read reflects the appended rows; oracle = orders plus its
    urgent slice."""
    import shutil
    import tempfile

    from niamoto_spark.resultcache import cached_query
    from niamoto_spark.sources import manifest as M

    base = os.path.join(
        tempfile.gettempdir(),
        "niamoto_rc_" + sf_dir.strip("/").replace("/", "_"))
    tbl, cache = base + "_tbl", base + "_cache"
    for p in (tbl, cache):
        if os.path.exists(p):
            shutil.rmtree(p)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority")
    M.append(o, tbl)

    def build():
        return (M.read_table(spark, tbl)
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.round(F.sum("o_totalprice"), 2)
                     .alias("revenue")))

    _, hit0 = cached_query(spark, cache, "rev_by_prio", [tbl], build)
    _, hit1 = cached_query(spark, cache, "rev_by_prio", [tbl], build)
    assert (hit0, hit1) == (False, True), "second call must hit"
    M.append(o.where(F.col("o_orderpriority") == "1-URGENT"), tbl)
    df, hit2 = cached_query(spark, cache, "rev_by_prio", [tbl], build)
    assert not hit2, "append must invalidate via the version key"
    return df


O_Q245 = """
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM (SELECT * FROM orders
      UNION ALL
      SELECT * FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY 1
"""


def q246_augment_text(spark, sf_dir):
    """Deterministic text augmentation (operators/text.py:
    augment_text): one md5-positioned interior character deleted per
    document; per-language change profile.  The oracle replays every
    edit position and the substring surgery."""
    from niamoto_spark.operators.text import augment_text

    d = _t(spark, sf_dir, "documents")
    a = augment_text(d, "doc_id", "text", op="char_delete",
                     seed="aug7")
    return (a.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("augmented") != F.col("text"))
                       .cast("long")).alias("n_changed"),
                 F.sum(F.length("text")).alias("len_orig"),
                 F.sum(F.length("augmented")).alias("len_aug")))


O_Q246 = """
WITH a AS (
  -- identified docs with text only (augment_text md5-coin pin)
  SELECT lang, text,
         CASE WHEN length(text) >= 3 THEN
           substr(text, 1,
                  CAST(floor(((CAST(('0x' || substr(md5('aug7' || '|'
                        || CAST(doc_id AS VARCHAR)), 1, 13)) AS UBIGINT)
                        + 0.5) / power(16, 13))
                       * (length(text) - 2)) + 2 AS INT) - 1)
           || substr(text,
                  CAST(floor(((CAST(('0x' || substr(md5('aug7' || '|'
                        || CAST(doc_id AS VARCHAR)), 1, 13)) AS UBIGINT)
                        + 0.5) / power(16, 13))
                       * (length(text) - 2)) + 2 AS INT) + 1,
                  length(text))
         ELSE text END AS augmented
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN augmented <> text THEN 1 ELSE 0 END)
            AS BIGINT) AS n_changed,
       CAST(sum(length(text)) AS BIGINT) AS len_orig,
       CAST(sum(length(augmented)) AS BIGINT) AS len_aug
FROM a GROUP BY 1
"""


def q247_leakage_audit(spark, sf_dir):
    """Cross-split contamination audit (operators/text.py:
    leakage_audit): an 80/20 md5 split of the q219 near-dup fixture
    scored for pairs straddling train/val — the report a release
    publishes to prove (or here, expose) split leakage.  The oracle
    replays the split coin and both membership joins."""
    from niamoto_spark.operators.text import leakage_audit

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = dedup_ops.ngram_jaccard_pairs(d, "doc_id", "text", n=1,
                                          threshold=0.6,
                                          block_col="source")
    h = F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit("split7"),
                          F.col("doc_id").cast("string"))), 1, 13),
        16, 10).cast("double")
    uni = (h + 0.5) / F.lit(float(16 ** 13))
    assign = d.select("doc_id",
                      F.when(uni < 0.8, "train").otherwise("val")
                      .alias("split"))
    return leakage_audit(assign, pairs.select("id_a", "id_b"),
                         "doc_id", "split")


O_Q247 = r"""
WITH g AS (SELECT doc_id, source,
                  list_distinct(regexp_split_to_array(lower(trim(text)),
                                                      '\s+')) AS toks
           FROM documents WHERE doc_id < 200),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
              > 0
        AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks))), 4) >= 0.6),
assign AS (
  SELECT doc_id,
         CASE WHEN (CAST(('0x' || substr(md5('split7' || '|'
                    || CAST(doc_id AS VARCHAR)), 1, 13)) AS UBIGINT)
                    + 0.5) / power(16, 13) < 0.8
              THEN 'train' ELSE 'val' END AS split
  FROM documents WHERE doc_id < 200)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       count(*) AS n_pairs,
       least(sa.split, sb.split) <> greatest(sa.split, sb.split)
         AS is_leak
FROM p JOIN assign sa ON p.id_a = sa.doc_id
       JOIN assign sb ON p.id_b = sb.doc_id
GROUP BY 1, 2
"""


def q248_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank (operators/graph.py:
    personalized_pagerank): seed-teleport walks over the
    unigram-Jaccard graph, seeds = doc_id < 20 that appear in the
    graph; 2 rounds fully unrolled in the oracle."""
    from niamoto_spark.operators.graph import personalized_pagerank

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = dedup_ops.ngram_jaccard_pairs(d, "doc_id", "text", n=1,
                                          threshold=0.6,
                                          block_col="source")
    seeds = d.where(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("node_id"))
    ppr = personalized_pagerank(pairs.select("id_a", "id_b"), seeds,
                                iters=2)
    return ppr.where(F.col("rank") > 0)


O_Q248 = r"""
WITH g AS (SELECT doc_id, source,
                  list_distinct(regexp_split_to_array(lower(trim(text)),
                                                      '\s+')) AS toks
           FROM documents WHERE doc_id < 200),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
              > 0
        AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks))), 4) >= 0.6),
edges AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
nodes AS (SELECT DISTINCT src AS node_id FROM edges),
s AS (SELECT node_id FROM nodes WHERE node_id < 20),
ns AS (SELECT count(*) AS n FROM s),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
-- rank mass rides as integer PICO-UNITS so each inflow sum is exact
-- bigint arithmetic (order-independent — same recipe as the engine,
-- operators/graph.py:personalized_pagerank); damping terms use the
-- literal (1.0 - 0.85) so both engines evaluate the identical double
r0 AS (SELECT n.node_id,
              CASE WHEN s.node_id IS NOT NULL
                   THEN CAST(round(1000000000000.0 / ns.n) AS BIGINT)
                   ELSE 0 END AS rank_pu
       FROM nodes n LEFT JOIN s ON n.node_id = s.node_id
       CROSS JOIN ns),
i1 AS (SELECT e.dst,
              sum(CAST(round(CAST(r.rank_pu AS DOUBLE) / d.deg) AS BIGINT))
                AS inflow
       FROM edges e JOIN r0 r ON e.src = r.node_id
                    JOIN deg d ON e.src = d.src
       GROUP BY 1),
r1 AS (SELECT n.node_id,
              CAST(round((1.0 - 0.85)
                         * (CASE WHEN s.node_id IS NOT NULL
                            THEN CAST(round(1000000000000.0 / ns.n)
                                      AS BIGINT) ELSE 0 END)
                         + 0.85 * coalesce(i1.inflow, 0)) AS BIGINT)
                AS rank_pu
       FROM nodes n LEFT JOIN s ON n.node_id = s.node_id
       LEFT JOIN i1 ON n.node_id = i1.dst CROSS JOIN ns),
i2 AS (SELECT e.dst,
              sum(CAST(round(CAST(r.rank_pu AS DOUBLE) / d.deg) AS BIGINT))
                AS inflow
       FROM edges e JOIN r1 r ON e.src = r.node_id
                    JOIN deg d ON e.src = d.src
       GROUP BY 1),
r2 AS (SELECT n.node_id,
              CAST(round((1.0 - 0.85)
                         * (CASE WHEN s.node_id IS NOT NULL
                            THEN CAST(round(1000000000000.0 / ns.n)
                                      AS BIGINT) ELSE 0 END)
                         + 0.85 * coalesce(i2.inflow, 0)) AS BIGINT)
                AS rank_pu
       FROM nodes n LEFT JOIN s ON n.node_id = s.node_id
       LEFT JOIN i2 ON n.node_id = i2.dst CROSS JOIN ns)
SELECT node_id,
       round(CAST(rank_pu AS DOUBLE) / 1000000000000.0, 6) AS rank
FROM r2
WHERE round(CAST(rank_pu AS DOUBLE) / 1000000000000.0, 6) > 0
"""


def q249_autocorrelation(spark, sf_dir):
    """Per-series ACF (operators/timeseries.py: autocorrelation):
    daily value sums per event type, lags 1-3 — the periodicity
    detector.  Oracle: corr() over the identical lag alignment."""
    from niamoto_spark.operators.timeseries import autocorrelation

    ev = _events(spark, sf_dir).where(F.col("ts_sec").isNotNull())
    daily = (ev.groupBy("event_type",
                        F.floor(F.col("ts_sec") / 86400)
                        .cast("long").alias("day"))
             .agg(F.round(F.sum("value"), 4).alias("v")))
    return autocorrelation(daily, "event_type", "day", "v", max_lag=3)


O_Q249 = """
WITH daily AS (
  SELECT event_type AS key,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
         round(sum(value), 4) AS v
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
lagged AS (
  SELECT key, v,
         lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
         lag(v, 3) OVER w AS l3
  FROM daily WINDOW w AS (PARTITION BY key ORDER BY day))
SELECT key, 1 AS lag, round(corr(v, l1), 4) AS acf,
       count(l1) AS n_pairs FROM lagged GROUP BY key
UNION ALL
SELECT key, 2, round(corr(v, l2), 4), count(l2) FROM lagged GROUP BY key
UNION ALL
SELECT key, 3, round(corr(v, l3), 4), count(l3) FROM lagged GROUP BY key
"""


def q250_growth_accounting(spark, sf_dir):
    """Growth accounting (operators/timeseries.py:
    growth_accounting): daily active users decomposed into new /
    retained / resurrected with churn — active ≡ new + retained +
    resurrected by construction.  Oracle: the same first-seen +
    previous-period joins."""
    from niamoto_spark.operators.timeseries import growth_accounting

    ev = _events(spark, sf_dir)
    return growth_accounting(ev, "user_id", "ts_sec",
                             granule_s=86400)


O_Q250 = """
WITH act AS (
  SELECT DISTINCT user_id AS u,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS b
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
firsts AS (SELECT u, min(b) AS fb FROM act GROUP BY 1),
cur AS (
  SELECT a.b, a.u, f.fb,
         p.u IS NOT NULL AS was_prev
  FROM act a JOIN firsts f USING (u)
  LEFT JOIN act p ON p.u = a.u AND p.b = a.b - 1),
per AS (
  SELECT b, count(*) AS active,
         CAST(sum(CASE WHEN fb = b THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users,
         CAST(sum(CASE WHEN fb < b AND was_prev THEN 1 ELSE 0 END)
              AS BIGINT) AS retained,
         CAST(sum(CASE WHEN fb < b AND NOT was_prev THEN 1 ELSE 0 END)
              AS BIGINT) AS resurrected
  FROM cur GROUP BY 1),
churn AS (
  SELECT a.b + 1 AS b,
         CAST(sum(CASE WHEN n.u IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS churned
  FROM act a LEFT JOIN act n ON n.u = a.u AND n.b = a.b + 1
  GROUP BY 1)
SELECT per.b AS period, per.active, per.new_users, per.retained,
       per.resurrected, coalesce(churn.churned, 0) AS churned
FROM per LEFT JOIN churn ON per.b = churn.b
"""


def q251_stream_upsert(spark, sf_dir):
    """Streaming CDC-apply (sources/manifest.py:
    stream_upsert_to_table): a base snapshot batch then an updates
    batch MERGE into a keyed manifest table through foreachBatch with
    batch-id idempotence; within-batch duplicates resolve last-wins.
    Oracle: orders with the update slice's doubled totals applied."""
    import shutil
    import tempfile
    import time as _time

    from niamoto_spark.sources import manifest as M

    base = os.path.join(
        tempfile.gettempdir(),
        "niamoto_su_" + sf_dir.strip("/").replace("/", "_"))
    src_dir, ckpt, tbl = (base + "_src", base + "_ckpt", base + "_tbl")
    for p in (src_dir, ckpt, tbl):
        if os.path.exists(p):
            shutil.rmtree(p)
    os.makedirs(src_dir)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority")

    def write_batch(df, name, bump):
        tmp = os.path.join(src_dir, ".mk")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp)
                    if f.endswith(".parquet"))
        dest = os.path.join(src_dir, name)
        os.replace(os.path.join(tmp, part), dest)
        shutil.rmtree(tmp)
        os.utime(dest, (_time.time() + bump, _time.time() + bump))

    write_batch(o, "b1.parquet", 0)
    # cast the doubled column back to the source dtype: arithmetic
    # widens decimals (dtype probe), and the FileStreamSource reads
    # every batch file with o.schema
    write_batch(o.where(F.col("o_orderkey") % 7 == 0)
                .withColumn("o_totalprice",
                            F.round(F.col("o_totalprice") * 2, 2)
                            .cast(o.schema["o_totalprice"].dataType)),
                "b2.parquet", 60)
    stream = (spark.readStream.schema(o.schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = M.stream_upsert_to_table(stream, tbl, ckpt, "o_orderkey")
    q.awaitTermination()
    return (M.read_table(spark, tbl)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


O_Q251 = """
-- a keyed MERGE drops NULL-key rows (stream_upsert_to_table guard)
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(CASE WHEN o_orderkey % 7 = 0
                      THEN round(o_totalprice * 2, 2)
                      ELSE o_totalprice END), 2) AS revenue
FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1
"""


def q252_contamination_score(spark, sf_dir):
    """Graded benchmark contamination (operators/text.py:
    contamination_score): every 17th document stands in as the
    benchmark; per-source mean severity over 5-gram overlap.  The
    oracle replays shingling, the broadcast hit join, and the
    fraction."""
    from niamoto_spark.operators.text import contamination_score

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 17 == 0)
    scores = contamination_score(d, "doc_id", "text", bench, "text",
                                 ngram=5)
    with_src = scores.join(d.select("doc_id", "source"), "doc_id")
    return (with_src.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("score") >= 0.5).cast("long"))
                 .alias("n_contaminated"),
                 F.round(F.avg("score"), 6).alias("avg_score")))


O_Q252 = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents WHERE length(trim(text)) > 0),
idx AS (
  SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
  FROM tok WHERE len(t) >= 5),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + 4), ' ') AS gram
  FROM idx),
totals AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 17 = 0),
hits AS (SELECT g.doc_id, count(*) AS n_hits
         FROM grams g JOIN bench USING (gram) GROUP BY 1),
scores AS (
  SELECT t.doc_id, t.n_grams, coalesce(h.n_hits, 0) AS n_hits,
         round(coalesce(h.n_hits, 0) / CAST(t.n_grams AS DOUBLE), 6)
           AS score
  FROM totals t LEFT JOIN hits h USING (doc_id))
SELECT d.source, count(*) AS n_docs,
       CAST(sum(CASE WHEN s.score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       round(avg(s.score), 6) AS avg_score
FROM scores s JOIN documents d USING (doc_id)
GROUP BY 1
"""


def q253_als_rank1(spark, sf_dir):
    """Rank-1 ALS matrix factorization (operators/recsys.py:
    als_factorize): customers × order-priorities rating matrix
    (avg totalprice scaled), 2 alternating iterations, exact scalar
    normal equations.  The oracle unrolls BOTH half-steps of BOTH
    iterations in SQL — the full alternating optimization is pinned.
    Output: per-item factor plus reconstruction stats."""
    from niamoto_spark.operators.recsys import als_factorize

    o = _t(spark, sf_dir, "orders")
    ratings = (o.groupBy(F.col("o_custkey").alias("cust"),
                         F.col("o_orderpriority").alias("prio"))
               .agg(F.round(F.avg("o_totalprice") / 100000.0, 4)
                    .alias("rating"))
               .where(F.col("cust") < 300))
    users, items = als_factorize(ratings, "cust", "prio", "rating",
                                 rank=1, iters=2)
    return (items.select("id", F.col("factors")[0].alias("v"))
            .orderBy("id"))


O_Q253 = """
WITH r AS (
  SELECT o_custkey AS u, o_orderpriority AS i,
         round(avg(o_totalprice) / 100000.0, 4) AS r
  FROM orders WHERE o_custkey < 300
  GROUP BY 1, 2),
v0 AS (SELECT i, avg(r) AS v FROM r GROUP BY 1),
u1 AS (SELECT r.u, sum(r.r * v0.v) / (sum(v0.v * v0.v) + 0.1) AS uv
       FROM r JOIN v0 USING (i) GROUP BY 1),
v1 AS (SELECT r.i, sum(r.r * u1.uv) / (sum(u1.uv * u1.uv) + 0.1) AS v
       FROM r JOIN u1 USING (u) GROUP BY 1),
u2 AS (SELECT r.u, sum(r.r * v1.v) / (sum(v1.v * v1.v) + 0.1) AS uv
       FROM r JOIN v1 USING (i) GROUP BY 1),
v2 AS (SELECT r.i, sum(r.r * u2.uv) / (sum(u2.uv * u2.uv) + 0.1) AS v
       FROM r JOIN u2 USING (u) GROUP BY 1)
SELECT i AS id, round(v, 6) AS v FROM v2 ORDER BY id
"""


def q254_boosted_stumps(spark, sf_dir):
    """Gradient-boosted stumps (operators/trees.py: boosted_stumps):
    2 squared-loss boosting rounds over (l_quantity, l_discount)
    against the returned-flag target — the oracle unrolls the FULL
    boosting loop: both rounds' residual histograms, gain argmaxes
    (rounded before selection), leaf steps and the round-2 residual
    update that depends on round 1's data-chosen split."""
    from niamoto_spark.operators.trees import boosted_stumps

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "is_return", (F.col("l_returnflag") == "R").cast("int"))
    return boosted_stumps(li, ["l_discount", "l_quantity"],
                          "is_return", rounds=2, learning_rate=0.5,
                          n_bins=8)


O_Q254 = """
WITH mm AS (
  SELECT min(l_discount) AS mn_d, max(l_discount) AS mx_d,
         min(l_quantity) AS mn_q, max(l_quantity) AS mx_q
  FROM lineitem),
b0 AS (
  SELECT CAST(round(1000000.0 * sum(CASE WHEN l_returnflag = 'R'
                                         THEN 1 ELSE 0 END)
                    / count(*)) AS BIGINT) AS baseq
  FROM lineitem),
rows0 AS (
  SELECT CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
              AS BIGINT) * 1000000 - b0.baseq AS rq,
         CASE WHEN l_discount IS NOT NULL THEN
           CAST(least(floor((l_discount - mn_d) * 8 / (mx_d - mn_d)), 7)
                AS INT) END AS bd,
         CASE WHEN l_quantity IS NOT NULL THEN
           CAST(least(floor((l_quantity - mn_q) * 8 / (mx_q - mn_q)), 7)
                AS INT) END AS bq
  FROM lineitem CROSS JOIN mm CROSS JOIN b0),
h1 AS (
  -- NULL feature values get no bin (Spark parity, q216)
  SELECT 'l_discount' AS f, bd AS bin, count(*) AS n,
         CAST(sum(rq) AS BIGINT) AS s
  FROM rows0 WHERE bd IS NOT NULL GROUP BY 1, 2
  UNION ALL
  SELECT 'l_quantity', bq, count(*), CAST(sum(rq) AS BIGINT)
  FROM rows0 WHERE bq IS NOT NULL GROUP BY 1, 2),
c1 AS (
  SELECT f, bin,
         CAST(sum(n) OVER (PARTITION BY f ORDER BY bin
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
         CAST(sum(s) OVER (PARTITION BY f ORDER BY bin
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
         CAST(sum(n) OVER (PARTITION BY f) AS BIGINT) AS nt,
         CAST(sum(s) OVER (PARTITION BY f) AS BIGINT) AS st,
         max(bin) OVER (PARTITION BY f) AS maxb
  FROM h1),
g1 AS (
  SELECT f, bin, nl, sl, nt, st,
         round(CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl
               + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
                 / (nt - nl)
               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt, 4)
           AS gain
  FROM c1 WHERE bin < maxb AND nl > 0 AND nt - nl > 0),
best1 AS (
  SELECT f, bin,
         CAST(round(0.5 * CAST(sl AS DOUBLE) / nl) AS BIGINT)
           AS lstepq,
         CAST(round(0.5 * CAST(st - sl AS DOUBLE) / (nt - nl))
              AS BIGINT) AS rstepq
  FROM g1 ORDER BY gain DESC, f ASC, bin ASC LIMIT 1),
rows1 AS (
  SELECT r.bd, r.bq,
         r.rq - (CASE WHEN (CASE WHEN best1.f = 'l_discount'
                                 THEN r.bd ELSE r.bq END) <= best1.bin
                      THEN best1.lstepq ELSE best1.rstepq END) AS rq
  FROM rows0 r CROSS JOIN best1),
h2 AS (
  -- NULL feature values get no bin here either (Spark parity)
  SELECT 'l_discount' AS f, bd AS bin, count(*) AS n,
         CAST(sum(rq) AS BIGINT) AS s
  FROM rows1 WHERE bd IS NOT NULL GROUP BY 1, 2
  UNION ALL
  SELECT 'l_quantity', bq, count(*), CAST(sum(rq) AS BIGINT)
  FROM rows1 WHERE bq IS NOT NULL GROUP BY 1, 2),
c2 AS (
  SELECT f, bin,
         CAST(sum(n) OVER (PARTITION BY f ORDER BY bin
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nl,
         CAST(sum(s) OVER (PARTITION BY f ORDER BY bin
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl,
         CAST(sum(n) OVER (PARTITION BY f) AS BIGINT) AS nt,
         CAST(sum(s) OVER (PARTITION BY f) AS BIGINT) AS st,
         max(bin) OVER (PARTITION BY f) AS maxb
  FROM h2),
g2 AS (
  SELECT f, bin, nl, sl, nt, st,
         round(CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl
               + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
                 / (nt - nl)
               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt, 4)
           AS gain
  FROM c2 WHERE bin < maxb AND nl > 0 AND nt - nl > 0),
best2 AS (
  SELECT f, bin,
         CAST(round(0.5 * CAST(sl AS DOUBLE) / nl) AS BIGINT)
           AS lstepq,
         CAST(round(0.5 * CAST(st - sl AS DOUBLE) / (nt - nl))
              AS BIGINT) AS rstepq
  FROM g2 ORDER BY gain DESC, f ASC, bin ASC LIMIT 1)
SELECT 0 AS round, best1.f AS feature, best1.bin AS split_bin,
       round(CASE WHEN best1.f = 'l_discount'
                  THEN mm.mn_d + (best1.bin + 1) * ((mm.mx_d - mm.mn_d) / 8)
                  ELSE mm.mn_q + (best1.bin + 1) * ((mm.mx_q - mm.mn_q) / 8)
             END, 6) AS threshold,
       best1.lstepq / 1000000.0 AS left_step,
       best1.rstepq / 1000000.0 AS right_step,
       b0.baseq / 1000000.0 AS base_score
FROM best1 CROSS JOIN mm CROSS JOIN b0
UNION ALL
SELECT 1, best2.f, best2.bin,
       round(CASE WHEN best2.f = 'l_discount'
                  THEN mm.mn_d + (best2.bin + 1) * ((mm.mx_d - mm.mn_d) / 8)
                  ELSE mm.mn_q + (best2.bin + 1) * ((mm.mx_q - mm.mn_q) / 8)
             END, 6),
       best2.lstepq / 1000000.0, best2.rstepq / 1000000.0,
       b0.baseq / 1000000.0
FROM best2 CROSS JOIN mm CROSS JOIN b0
"""


def q255_interval_overlap(spark, sf_dir):
    """Interval×interval overlap join (operators/interval.py:
    interval_overlap_join): per-user click-activity spans against
    purchase-activity spans (daily chunks), exact overlap seconds —
    the temporal-intersection query.  Equi join on the user with
    range residuals; oracle replays it verbatim."""
    from niamoto_spark.operators.interval import interval_overlap_join

    ev = _events(spark, sf_dir)

    def spans(etype, s, e):
        day = F.floor(F.col("ts_sec") / 86400)
        return (ev.where(F.col("event_type") == etype)
                .groupBy("user_id", day.alias("day"))
                .agg(F.min("ts_sec").alias(s),
                     (F.max("ts_sec") + 1).alias(e))
                .drop("day"))

    clicks = spans("click", "l_start", "l_end")
    buys = spans("purchase", "r_start", "r_end")
    j = interval_overlap_join(clicks, buys, "user_id")
    return (j.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_overlaps"),
                 F.sum("overlap").alias("overlap_s")))


O_Q255 = """
WITH ev AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day
  FROM events),
c AS (SELECT user_id, min(t) AS ls, max(t) + 1 AS le
      FROM ev WHERE event_type = 'click' GROUP BY user_id, day),
p AS (SELECT user_id, min(t) AS rs, max(t) + 1 AS re
      FROM ev WHERE event_type = 'purchase' GROUP BY user_id, day),
j AS (
  SELECT c.user_id,
         least(c.le, p.re) - greatest(c.ls, p.rs) AS overlap
  FROM c JOIN p ON c.user_id = p.user_id
               AND c.ls < p.re AND p.rs < c.le)
SELECT user_id, count(*) AS n_overlaps,
       CAST(sum(overlap) AS BIGINT) AS overlap_s
FROM j GROUP BY 1
"""


def q256_robust_slope(spark, sf_dir):
    """Robust Theil-Sen-family line fit (operators/regression.py:
    robust_slope): extended price vs quantity on a slice of lineitem
    — median of half-offset pairwise slopes, median intercept.  The
    oracle replays rank pairing and both medians exactly."""
    from niamoto_spark.operators.regression import robust_slope

    # (l_orderkey, l_linenumber) is NOT unique in the gate data —
    # single-file reads masked it (both engines broke the ties in the
    # same accidental physical order); the multi-file split probe
    # exposed rank-dependent pairing.  Ordering by y then the widest
    # column set makes remaining ties identical in (x, y) — and
    # identical points are interchangeable in the slope multiset.
    li = (_t(spark, sf_dir, "lineitem")
          .where(F.col("l_orderkey") < 5000))
    return robust_slope(li, "l_quantity", "l_extendedprice",
                        ["l_extendedprice", "l_orderkey",
                         "l_linenumber", "l_partkey", "l_suppkey"])


O_Q256 = """
WITH pts AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(l_extendedprice AS DOUBLE) AS y,
         l_orderkey, l_linenumber, l_partkey, l_suppkey
  FROM lineitem
  WHERE l_orderkey < 5000 AND l_quantity IS NOT NULL
    AND l_extendedprice IS NOT NULL),
ranked AS (
  SELECT x, y, row_number() OVER (ORDER BY x, y NULLS FIRST,
                                  l_orderkey NULLS FIRST,
                                  l_linenumber NULLS FIRST,
                                  l_partkey NULLS FIRST,
                                  l_suppkey NULLS FIRST) AS r
  FROM pts),
n AS (SELECT count(*) AS n, count(*) // 2 AS half FROM ranked),
pairs AS (
  SELECT a.x, a.y, b.x AS x2, b.y AS y2
  FROM ranked a JOIN n ON true
  JOIN ranked b ON b.r = a.r + n.half
  WHERE b.x <> a.x),
sl AS (SELECT median((y2 - y) / (x2 - x)) AS slope,
              count(*) AS n_pairs
       FROM pairs)
SELECT n.n, sl.n_pairs, round(sl.slope, 6) AS slope,
       round((SELECT median(y - sl.slope * x) FROM pts), 6)
         AS intercept
FROM n CROSS JOIN sl
"""


def q257_window_surface(spark, sf_dir):
    """Window-function surface showcase: row_number / rank /
    dense_rank / percent_rank / cume_dist / lag / lead / ntile over
    per-customer order sequences (date ties exercised by rank vs
    dense_rank), folded to a per-priority checksum.  One WindowExec
    pass per customer partition; the oracle replays every function."""
    from pyspark.sql import Window as W

    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderkey").isNotNull()))
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey")
    wd = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"))
    e = (o.withColumn("rn", F.row_number().over(w))
         .withColumn("rk", F.rank().over(wd))
         .withColumn("drk", F.dense_rank().over(wd))
         .withColumn("pr", F.floor(F.percent_rank().over(w)
                                   * 1_000_000 + 0.5).cast("long"))
         .withColumn("cd", F.floor(F.cume_dist().over(w)
                                   * 1_000_000 + 0.5).cast("long"))
         # coalesce, not a lag default: an existing NULL price must
         # also count 0 cents (the default only covers missing rows)
         .withColumn("lg", F.coalesce(
             F.lag("o_totalprice", 1).over(w), F.lit(0.0)))
         .withColumn("ld", F.coalesce(
             F.lead("o_totalprice", 1).over(w), F.lit(0.0)))
         .withColumn("nt", F.ntile(4).over(w)))
    # checksums are EXACT integers (micro-units via floor(x*1e6+0.5),
    # neighbor money in cents): a float sum over 18k rounded doubles
    # flips its 4dp rounding with summation order under load (the
    # r8 full-gate flake), integers never do
    cents = (F.floor(F.col("lg") * 100 + 0.5)
             + F.floor(F.col("ld") * 100 + 0.5)).cast("long")
    return (e.groupBy("o_orderpriority")
            .agg(F.sum("rn").alias("sum_rn"),
                 F.sum("rk").alias("sum_rk"),
                 F.sum("drk").alias("sum_drk"),
                 F.sum("pr").alias("sum_pr"),
                 F.sum("cd").alias("sum_cd"),
                 F.sum(cents).alias("sum_neighbor_cents"),
                 F.sum("nt").alias("sum_ntile")))


O_Q257 = """
WITH e AS (
  SELECT o_orderpriority,
         row_number() OVER w AS rn,
         rank() OVER wd AS rk,
         dense_rank() OVER wd AS drk,
         CAST(floor(percent_rank() OVER w * 1000000 + 0.5) AS BIGINT)
           AS pr,
         CAST(floor(cume_dist() OVER w * 1000000 + 0.5) AS BIGINT)
           AS cd,
         coalesce(lag(o_totalprice, 1) OVER w, 0.0) AS lg,
         coalesce(lead(o_totalprice, 1) OVER w, 0.0) AS ld,
         ntile(4) OVER w AS nt
  FROM orders WHERE o_orderkey IS NOT NULL
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE) NULLS FIRST,
                        o_orderkey NULLS FIRST),
         wd AS (PARTITION BY o_custkey
                ORDER BY CAST(o_orderdate AS DATE) NULLS FIRST))
SELECT o_orderpriority,
       CAST(sum(rn) AS BIGINT) AS sum_rn,
       CAST(sum(rk) AS BIGINT) AS sum_rk,
       CAST(sum(drk) AS BIGINT) AS sum_drk,
       CAST(sum(pr) AS BIGINT) AS sum_pr,
       CAST(sum(cd) AS BIGINT) AS sum_cd,
       CAST(sum(CAST(floor(lg * 100 + 0.5) AS BIGINT)
                + CAST(floor(ld * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_neighbor_cents,
       CAST(sum(nt) AS BIGINT) AS sum_ntile
FROM e GROUP BY 1
"""


def q258_datetime_surface(spark, sf_dir):
    """Date/time scalar-function surface: trunc-to-month, last_day,
    add_months, quarter, ISO week, day arithmetic over order dates,
    folded to per-month checksums.  Pure projection (codegen); the
    oracle replays each function with DuckDB's equivalents."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    e = (o.select(
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.add_months(d, 3).alias("plus_q"),
        F.quarter(d).alias("q"),
        F.weekofyear(d).alias("iso_week"),
        F.datediff(F.last_day(d), d).alias("days_to_eom")))
    return (e.groupBy("month_start")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("month_end").alias("eom"),
                 F.min("plus_q").alias("min_plus_q"),
                 F.sum("q").alias("sum_quarter"),
                 F.sum("iso_week").alias("sum_week"),
                 F.sum("days_to_eom").alias("sum_eom_days")))


O_Q258 = """
WITH e AS (
  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
           AS month_start,
         last_day(CAST(o_orderdate AS DATE)) AS month_end,
         CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS plus_q,
         quarter(CAST(o_orderdate AS DATE)) AS q,
         weekofyear(CAST(o_orderdate AS DATE)) AS iso_week,
         date_diff('day', CAST(o_orderdate AS DATE),
                   last_day(CAST(o_orderdate AS DATE)))
           AS days_to_eom
  FROM orders)
SELECT month_start, count(*) AS n, max(month_end) AS eom,
       CAST(min(plus_q) AS DATE) AS min_plus_q,
       CAST(sum(q) AS BIGINT) AS sum_quarter,
       CAST(sum(iso_week) AS BIGINT) AS sum_week,
       CAST(sum(days_to_eom) AS BIGINT) AS sum_eom_days
FROM e GROUP BY 1
"""


def q259_array_surface(spark, sf_dir):
    """Higher-order array-function surface: per-order quantity arrays
    (sorted for determinism) pushed through transform / filter /
    aggregate / slice / array_contains, folded per priority.  These
    are the JVM-side lambdas that keep array work out of Python; the
    oracle replays each with DuckDB's list_* equivalents."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    per = (li.groupBy("l_orderkey")
           .agg(F.array_sort(F.collect_list("l_quantity"))
                .alias("qs")))
    e = (per.select(
        "l_orderkey",
        F.size("qs").alias("n_items"),
        F.aggregate("qs", F.lit(0.0), lambda a, x: a + x)
        .alias("qty_sum"),
        F.aggregate(F.transform("qs", lambda x: x * x),
                    F.lit(0.0), lambda a, x: a + x).alias("sq_sum"),
        F.size(F.filter("qs", lambda x: x >= 30)).alias("n_big"),
        # try_: an all-NULL-quantity order collapses to an EMPTY array
        # (collect_list drops NULLs) and ANSI element_at would throw
        F.try_element_at("qs", F.lit(1)).alias("min_q"),
        F.array_contains("qs", 1.0).cast("int").alias("has_one")))
    j = e.join(F.broadcast(o.select("o_orderkey", "o_orderpriority")),
               e.l_orderkey == o.o_orderkey)
    return (j.groupBy("o_orderpriority")
            .agg(F.sum("n_items").alias("sum_items"),
                 F.round(F.sum("qty_sum"), 2).alias("sum_qty"),
                 F.round(F.sum("sq_sum"), 2).alias("sum_sq"),
                 F.sum("n_big").alias("sum_big"),
                 F.round(F.sum("min_q"), 2).alias("sum_min"),
                 F.sum("has_one").alias("n_with_one")))


O_Q259 = """
WITH per AS (
  SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
e AS (
  SELECT l_orderkey,
         len(qs) AS n_items,
         list_aggregate(qs, 'sum') AS qty_sum,
         list_aggregate(list_transform(qs, x -> x * x), 'sum')
           AS sq_sum,
         len(list_filter(qs, x -> x >= 30)) AS n_big,
         qs[1] AS min_q,
         CASE WHEN list_contains(qs, 1.0) THEN 1 ELSE 0 END AS has_one
  FROM per)
SELECT o.o_orderpriority,
       CAST(sum(e.n_items) AS BIGINT) AS sum_items,
       round(sum(e.qty_sum), 2) AS sum_qty,
       round(sum(e.sq_sum), 2) AS sum_sq,
       CAST(sum(e.n_big) AS BIGINT) AS sum_big,
       round(sum(e.min_q), 2) AS sum_min,
       CAST(sum(e.has_one) AS BIGINT) AS n_with_one
FROM e JOIN orders o ON e.l_orderkey = o.o_orderkey
GROUP BY 1
"""


def q260_multiset_ops(spark, sf_dir):
    """Multiset set operations (INTERSECT ALL / EXCEPT ALL —
    duplicate-preserving, the bag semantics DISTINCT variants lose):
    customer keys of urgent orders vs high-priority orders, duplicates
    = one per order.  intersectAll keeps min(multiplicity), exceptAll
    subtracts multiplicities; the checksum aggregates both results."""
    o = _t(spark, sf_dir, "orders")
    urgent = (o.where(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey"))
    high = (o.where(F.col("o_orderpriority") == "2-HIGH")
            .select("o_custkey"))
    inter = urgent.intersectAll(high).groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_custkey").alias("key_sum")).withColumn(
        "op", F.lit("intersect_all"))
    exc = urgent.exceptAll(high).groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_custkey").alias("key_sum")).withColumn(
        "op", F.lit("except_all"))
    return inter.unionByName(exc)


O_Q260 = """
WITH u AS (SELECT o_custkey FROM orders
           WHERE o_orderpriority = '1-URGENT'),
h AS (SELECT o_custkey FROM orders
      WHERE o_orderpriority = '2-HIGH'),
ia AS (SELECT * FROM u INTERSECT ALL SELECT * FROM h),
ea AS (SELECT * FROM u EXCEPT ALL SELECT * FROM h)
SELECT count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS key_sum,
       'intersect_all' AS op FROM ia
UNION ALL
SELECT count(*), CAST(sum(o_custkey) AS BIGINT), 'except_all' FROM ea
"""


def q261_regex_surface(spark, sf_dir):
    """Regex scalar surface: extraction groups, replacement with
    backreferences (Spark $1 vs DuckDB \\1 — different spellings, same
    semantics), rlike filters, regexp_count, bounded split — over the
    documents table, folded per language."""
    d = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    first_word = F.regexp_extract("text", r"^\s*(\w+)", 1)
    dup_vowel = F.regexp_count("text", F.lit("[aeiou]{2}"))
    swapped = F.regexp_replace(
        "text", r"^(\w+)(\s+)(\w+)", r"$3$2$1")
    has_num = F.col("text").rlike(r"\d")
    n_parts = F.size(F.split("text", r"\s+", 4))
    e = d.select(
        "lang",
        F.length(first_word).alias("fw_len"),
        dup_vowel.alias("dv"),
        (F.length("text") - F.length(swapped)).alias("len_delta"),
        has_num.cast("int").alias("hasnum"),
        n_parts.alias("np"))
    return (e.groupBy("lang")
            .agg(F.sum("fw_len").alias("sum_fw_len"),
                 F.sum("dv").alias("sum_double_vowels"),
                 F.sum("len_delta").alias("sum_len_delta"),
                 F.sum("hasnum").alias("n_with_digits"),
                 F.sum("np").alias("sum_split_parts")))


O_Q261 = r"""
WITH e AS (
  SELECT lang,
         length(regexp_extract(text, '^\s*(\w+)', 1)) AS fw_len,
         len(regexp_extract_all(text, '[aeiou]{2}')) AS dv,
         length(text) - length(regexp_replace(text,
             '^(\w+)(\s+)(\w+)', '\3\2\1')) AS len_delta,
         CASE WHEN regexp_matches(text, '\d') THEN 1 ELSE 0 END
           AS hasnum,
         CASE WHEN len(regexp_split_to_array(text, '\s+')) < 4
              THEN len(regexp_split_to_array(text, '\s+'))
              ELSE 4 END AS np
  FROM documents WHERE text IS NOT NULL)
SELECT lang,
       CAST(sum(fw_len) AS BIGINT) AS sum_fw_len,
       CAST(sum(dv) AS BIGINT) AS sum_double_vowels,
       CAST(sum(len_delta) AS BIGINT) AS sum_len_delta,
       CAST(sum(hasnum) AS BIGINT) AS n_with_digits,
       CAST(sum(np) AS BIGINT) AS sum_split_parts
FROM e GROUP BY 1
"""


def q262_dbscan(spark, sf_dir):
    """Distributed DBSCAN (operators/clustering.py: dbscan): grid-
    bucketed eps-neighbor join (never all-pairs), core election,
    components over the core graph, deterministic min-core border
    rule.  Points = first two embedding dims.  The oracle replays
    neighbor counts, the core-core reachability (WITH RECURSIVE) and
    the border/noise assignment; output is the per-cluster profile."""
    from niamoto_spark.operators.clustering import dbscan

    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select("vec_id",
                     F.element_at("embedding", 1).cast("double")
                     .alias("x"),
                     F.element_at("embedding", 2).cast("double")
                     .alias("y"))
    out = dbscan(pts, "vec_id", "x", "y", eps=0.04, min_pts=5)
    return (out.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.sum(F.col("is_core").cast("long")).alias("n_core"),
                 F.min("id").alias("min_id"),
                 F.max("id").alias("max_id")))


O_Q262 = """
WITH pts AS (
  SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS x,
         CAST(embedding[2] AS DOUBLE) AS y
  FROM embeddings),
pairs AS (
  SELECT a.id, b.id AS id_b
  FROM pts a JOIN pts b
    ON a.id <> b.id
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       <= 0.04 * 0.04),
counts AS (SELECT id, count(*) + 1 AS n_nbrs FROM pairs GROUP BY 1),
core AS (
  SELECT p.id, coalesce(c.n_nbrs, 1) >= 5 AS is_core
  FROM pts p LEFT JOIN counts c USING (id)),
ce AS (
  SELECT pr.id AS a, pr.id_b AS b
  FROM pairs pr
  JOIN core ca ON pr.id = ca.id AND ca.is_core
  JOIN core cb ON pr.id_b = cb.id AND cb.is_core),
reach AS (
  WITH RECURSIVE r(a, b) AS (
      SELECT a, b FROM ce
      UNION
      SELECT r.a, e.b FROM r JOIN ce e ON r.b = e.a)
  SELECT * FROM r),
comp AS (SELECT a AS id, least(a, min(b)) AS component_id
         FROM reach GROUP BY a),
core_cluster AS (
  SELECT c.id, coalesce(k.component_id, c.id) AS cluster
  FROM core c LEFT JOIN comp k USING (id)
  WHERE c.is_core),
border AS (
  SELECT pr.id, min(cc.cluster) AS cluster
  FROM pairs pr
  JOIN core nc ON pr.id = nc.id AND NOT nc.is_core
  JOIN core_cluster cc ON pr.id_b = cc.id
  GROUP BY 1),
assigned AS (
  SELECT id, cluster FROM core_cluster
  UNION ALL SELECT id, cluster FROM border),
final AS (
  SELECT c.id, c.is_core, coalesce(a.cluster, -1) AS cluster
  FROM core c LEFT JOIN assigned a USING (id))
SELECT cluster, count(*) AS n_points,
       CAST(sum(CASE WHEN is_core THEN 1 ELSE 0 END) AS BIGINT)
         AS n_core,
       min(id) AS min_id, max(id) AS max_id
FROM final GROUP BY 1
"""


def q263_stream_distinct_users(spark, sf_dir):
    """Streaming windowed DISTINCT aggregation: exact distinct users
    per 6-hour event-time window with a watermark, drained
    availableNow — the stateful dedup-inside-window aggregate that
    complements the windowed counts (q54).  Oracle: the same windowed
    COUNT(DISTINCT) in batch SQL — a stream==batch gate."""
    import shutil
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    stream_dir = os.path.join(
        tempfile.gettempdir(),
        "niamoto_sdu_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(stream_dir):
        shutil.rmtree(stream_dir)
    os.makedirs(stream_dir)
    _link_parquet_source(src, stream_dir, "events")
    schema = spark.read.parquet(src).schema
    stream = _ts_to_timestamp(
        spark.readStream.schema(schema).parquet(stream_dir))
    # distinct aggs are unsupported in streaming: dedup the
    # (window, type, user) triples in watermarked state, emit the
    # distinct rows, and count them in batch (the q99 drain pattern)
    win = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / 21600) * 21600)
    # a NULL user is not a user: excluded before dedup (the count-*
    # over distinct triples would otherwise tally the NULL bucket as
    # one "user" while SQL's count(DISTINCT) never does)
    triples = (stream.where(F.col("user_id").isNotNull())
               .withColumn("win_start", win)
               .withWatermark("ts", "1 hour")
               .dropDuplicatesWithinWatermark(
                   ["win_start", "event_type", "user_id"])
               .select("win_start", "event_type", "user_id"))
    qname = "q263_sdu"
    for q_ in [q_ for q_ in spark.streams.active if q_.name == qname]:
        q_.stop()
    q = (triples.writeStream.format("memory").queryName(qname)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(qname)
            .groupBy(F.date_format("win_start", "yyyy-MM-dd HH:mm")
                     .alias("win_start"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_users")))


O_Q263 = """
SELECT strftime(to_timestamp(floor(epoch(ts) / 21600) * 21600),
                '%Y-%m-%d %H:%M') AS win_start,
       event_type, count(DISTINCT user_id) AS n_users
FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
GROUP BY 1, 2
"""


def q264_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite (sources/manifest.py:
    overwrite_hidden_partition): a day-partitioned events table gets
    ONE day recomputed (values doubled) — the backfill primitive;
    every other partition's files carry by reference and pruning
    metadata stays intact.  Oracle: events with that day's values
    doubled."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest as M

    path = os.path.join(
        tempfile.gettempdir(),
        "niamoto_dpo_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(path):
        shutil.rmtree(path)
    ev = (_events(spark, sf_dir)
          .select("event_id", "user_id", "event_type", "value",
                  F.timestamp_micros(F.col("ts_us")).alias("ts")))
    M.append_hidden_partitioned(ev, path, ("day", "ts"))
    # recompute day 2024-01-10 (pval = days since epoch)
    import datetime as _dt

    pval = (_dt.date(2024, 1, 10) - _dt.date(1970, 1, 1)).days
    day10 = (ev.where(F.to_date("ts") == F.lit("2024-01-10"))
             .withColumn("value", F.round(F.col("value") * 2, 4)))
    M.overwrite_hidden_partition(day10, path, pval)
    df, kept, total = M.read_hidden_range(
        spark, path, "2024-01-01", "2024-12-31 23:59:59.999999")
    return (df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("value_sum")))


O_Q264 = """
-- day-partitioned table: rows without a timestamp have no partition
SELECT event_type, count(*) AS n_events,
       round(sum(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-10'
                      THEN round(value * 2, 4) ELSE value END), 2)
         AS value_sum
FROM events WHERE ts IS NOT NULL GROUP BY 1
"""


def q265_join_cardinality(spark, sf_dir):
    """Join-cardinality estimation (operators/sketches.py:
    estimate_join_rows): |lineitem ⋈ orders| on the order key
    predicted from a 10% correlated key sample with HT scaling,
    alongside the true size to pin the estimator's error.  The oracle
    replays the sample and both aggregations."""
    from niamoto_spark.operators.sketches import estimate_join_rows

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    est = estimate_join_rows(li, o, "l_orderkey", "o_orderkey",
                             frac=0.1, seed="jce7")
    true = (li.join(o, li.l_orderkey == o.o_orderkey)
            .agg(F.count(F.lit(1)).alias("true_rows")))
    return est.crossJoin(true)


O_Q265 = """
WITH sa AS (
  SELECT l_orderkey AS k, count(*) AS n
  FROM lineitem
  WHERE (CAST(('0x' || substr(md5('jce7' || '|'
              || CAST(l_orderkey AS VARCHAR)), 1, 13)) AS UBIGINT)
         + 0.5) / power(16, 13) < 0.1
  GROUP BY 1),
sb AS (
  SELECT o_orderkey AS k, count(*) AS nb
  FROM orders
  WHERE (CAST(('0x' || substr(md5('jce7' || '|'
              || CAST(o_orderkey AS VARCHAR)), 1, 13)) AS UBIGINT)
         + 0.5) / power(16, 13) < 0.1
  GROUP BY 1),
est AS (
  SELECT count(*) AS n_sampled_keys,
         round(sum(sa.n * sb.nb) / 0.1, 2) AS est_rows
  FROM sa JOIN sb USING (k)),
t AS (SELECT count(*) AS true_rows
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT est.n_sampled_keys, est.est_rows, t.true_rows
FROM est CROSS JOIN t
"""


def q266_map_surface(spark, sf_dir):
    """Map-type surface: map_from_entries built per order (priority →
    revenue per priority would be degenerate; here linenumber →
    quantity), element_at probes, map_keys cardinality,
    transform_values — the key-value column type a semi-structured
    pipeline leans on.  Folded to per-priority checksums; the oracle
    replays with DuckDB MAP functions."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    # the synthetic data repeats line numbers within an order: dedupe
    # to (order, line) -> max(quantity) so the map keys are unique
    # NULL can't be a map key (Spark throws NULL_MAP_KEY) — a line
    # with no line number has no slot in the map, both engines
    lines = (li.where(F.col("l_linenumber").isNotNull())
             .groupBy("l_orderkey", "l_linenumber")
             .agg(F.max("l_quantity").alias("q"))
             # a NULL value poisons the whole F.aggregate fold (a +
             # NULL = NULL) where DuckDB's list_aggregate skips it:
             # pin "no quantity -> no map entry" on both engines
             .where(F.col("q").isNotNull()))
    per = (lines.groupBy("l_orderkey")
           .agg(F.map_from_entries(
               F.array_sort(F.collect_list(
                   F.struct("l_linenumber", "q"))))
               .alias("m")))
    e = per.select(
        "l_orderkey",
        F.size("m").alias("n_lines"),
        F.coalesce(F.element_at("m", F.lit(1)), F.lit(0.0))
        .alias("q1"),
        F.aggregate(F.map_values(
            F.transform_values("m", lambda k, v: v * 2.0)),
            F.lit(0.0), lambda a, x: a + x).alias("dbl_sum"))
    j = e.join(F.broadcast(o.select("o_orderkey", "o_orderpriority")),
               e.l_orderkey == o.o_orderkey)
    return (j.groupBy("o_orderpriority")
            .agg(F.sum("n_lines").alias("sum_lines"),
                 F.round(F.sum("q1"), 2).alias("sum_q1"),
                 F.round(F.sum("dbl_sum"), 2).alias("sum_doubled")))


O_Q266 = """
WITH lines AS (
  SELECT l_orderkey, l_linenumber, max(l_quantity) AS q
  FROM lineitem WHERE l_linenumber IS NOT NULL GROUP BY 1, 2
  HAVING max(l_quantity) IS NOT NULL),
per AS (
  SELECT l_orderkey,
         map_from_entries(list_sort(list(
             {'k': l_linenumber, 'v': q}))) AS m
  FROM lines GROUP BY 1),
e AS (
  SELECT l_orderkey, cardinality(m) AS n_lines,
         coalesce(m[1][1], 0.0) AS q1,
         list_aggregate(list_transform(map_values(m), v -> v * 2.0),
                        'sum') AS dbl_sum
  FROM per)
SELECT o.o_orderpriority,
       CAST(sum(e.n_lines) AS BIGINT) AS sum_lines,
       round(sum(e.q1), 2) AS sum_q1,
       round(sum(e.dbl_sum), 2) AS sum_doubled
FROM e JOIN orders o ON e.l_orderkey = o.o_orderkey
GROUP BY 1
"""


def q267_media_pipeline(spark, sf_dir):
    """Multimodal pipeline profile over deterministic in-line fixtures
    (the q78 frozen-VALUES approach): MJPEG-AVI shot detection, WAV
    voiced/silence segmentation, log-mel band energy, and perceptual-
    hash sensitivity to a horizontal flip.  Every metric flows through
    the REAL codecs and operators; the oracle freezes the results."""
    import numpy as np

    from niamoto_spark.operators.multimodal import (audio_logmel,
                                                    audio_segments,
                                                    augment_image,
                                                    encode_wav,
                                                    image_phash,
                                                    shot_boundaries)
    from niamoto_spark.sources.avicodec import encode_avi_mjpeg
    from niamoto_spark.sources.imagecodec import encode_png

    rows = []
    # video: two 3-frame scenes, hard cut in the middle
    dark = np.full((24, 32, 3), 30, dtype=np.uint8)
    bright = np.full((24, 32, 3), 200, dtype=np.uint8)
    avi = encode_avi_mjpeg([dark, dark, dark, bright, bright, bright])
    vdf = spark.createDataFrame([(1, bytearray(avi))],
                                "media_id long, payload binary")
    shots = shot_boundaries(vdf, diff_threshold=30.0)
    agg = shots.agg(F.count(F.lit(1)).alias("nf"),
                    F.sum(F.col("is_boundary").cast("long"))
                    .alias("nb"),
                    F.max(F.when(F.col("is_boundary")
                                 & (F.col("frame_idx") > 0),
                                 F.col("frame_idx"))).alias("cut")
                    ).first()
    rows += [("video", "n_frames", float(agg["nf"])),
             ("video", "n_boundaries", float(agg["nb"])),
             ("video", "cut_frame", float(agg["cut"]))]

    # audio: 1s tone, 0.5s silence, 1s tone at 8 kHz
    rate = 8000
    t = np.arange(rate) / rate
    tone = np.sin(2 * np.pi * 440 * t) * 0.4
    sig = np.concatenate([tone, np.zeros(rate // 2), tone])
    adf = spark.createDataFrame(
        [(2, bytearray(encode_wav(sig, rate)))],
        "media_id long, payload binary")
    segs = audio_segments(adf).collect()
    voiced = sum(s["end_s"] - s["start_s"] for s in segs
                 if s["kind"] == "voiced")
    mel = audio_logmel(adf, n_mels=16, n_fft=512, hop=256).first()
    rows += [("audio", "n_segments", float(len(segs))),
             ("audio", "voiced_s", round(float(voiced), 2)),
             ("audio", "mel_argmax",
              float(int(np.argmax(mel["mel_mean"]))))]

    # image: deterministic gradient; pHash must move under hflip
    grad = (np.arange(32 * 32 * 3, dtype=np.uint64) * 7 % 256) \
        .astype(np.uint8).reshape(32, 32, 3)
    idf = spark.createDataFrame(
        [(3, bytearray(encode_png(grad)), 32, 32)],
        "media_id long, payload binary, width int, height int")
    h0 = image_phash(idf).first()["phash"]
    flipped = augment_image(idf, op="hflip")
    # flipped payload is raw RGB: hash via the fake-decoder path is
    # wrong; re-encode to PNG to stay on the real decode path
    import pandas as pd  # noqa: F401
    raw = flipped.first()
    px = np.frombuffer(bytes(raw["payload"]),
                       dtype=np.uint8).reshape(32, 32, 3)
    idf2 = spark.createDataFrame(
        [(4, bytearray(encode_png(px)))],
        "media_id long, payload binary")
    h1 = image_phash(idf2).first()["phash"]
    diff_bits = bin((h0 ^ h1) & ((1 << 64) - 1)).count("1")
    rows.append(("image", "phash_flip_bits", float(diff_bits)))
    return spark.createDataFrame(
        rows, "kind string, metric string, value double")


O_Q267 = """
SELECT * FROM (VALUES
  ('video', 'n_frames', CAST(6.0 AS DOUBLE)),
  ('video', 'n_boundaries', 2.0),
  ('video', 'cut_frame', 3.0),
  ('audio', 'n_segments', 3.0),
  ('audio', 'voiced_s', 2.0),
  ('audio', 'mel_argmax', 3.0),
  ('image', 'phash_flip_bits', 28.0)
) AS t(kind, metric, value)
"""


def q268_trimmed_mean(spark, sf_dir):
    """Per-group trimmed mean (operators/cleaning.py: trimmed_mean):
    order totals per priority with each group's own 10% tails
    excluded by exact interpolated percentiles.  Oracle: quantile_cont
    bounds + the filtered mean."""
    from niamoto_spark.operators.cleaning import trimmed_mean

    o = _t(spark, sf_dir, "orders")
    return trimmed_mean(o, ["o_orderpriority"], "o_totalprice",
                        trim_frac=0.1)


O_Q268 = """
WITH b AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.1) AS lo,
         quantile_cont(o_totalprice, 0.9) AS hi,
         count(o_totalprice) AS n_total
  FROM orders GROUP BY 1)
SELECT o.o_orderpriority, max(b.n_total) AS n_total,
       CAST(sum(CASE WHEN o.o_totalprice BETWEEN b.lo AND b.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(avg(CASE WHEN o.o_totalprice BETWEEN b.lo AND b.hi
                      THEN o.o_totalprice END), 4) AS trimmed_mean
FROM orders o JOIN b USING (o_orderpriority)
GROUP BY 1
"""


def q269_nullsafe_join(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): nullable
    derived keys (clerk bucket nulled for low totals) joined null-TO-
    null — the relational corner plain '=' silently drops.  Checksum
    per match class."""
    o = _t(spark, sf_dir, "orders")
    keyed = o.withColumn(
        "kb", F.when(F.col("o_totalprice") >= 100000,
                     F.col("o_custkey") % 10))
    dim = spark.createDataFrame(
        [(None, "missing"), (0, "z"), (1, "a"), (2, "b"), (3, "c"),
         (4, "d"), (5, "e"), (6, "f"), (7, "g"), (8, "h"), (9, "i")],
        "kb long, label string")
    j = keyed.join(dim, keyed["kb"].eqNullSafe(dim["kb"]), "inner") \
        .drop(dim["kb"])
    return (j.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


O_Q269 = """
WITH keyed AS (
  SELECT o_totalprice,
         CASE WHEN o_totalprice >= 100000
              THEN o_custkey % 10 END AS kb
  FROM orders),
dim(kb, label) AS (VALUES
  (NULL, 'missing'), (0, 'z'), (1, 'a'), (2, 'b'), (3, 'c'),
  (4, 'd'), (5, 'e'), (6, 'f'), (7, 'g'), (8, 'h'), (9, 'i'))
SELECT d.label, count(*) AS n_orders,
       round(sum(k.o_totalprice), 2) AS revenue
FROM keyed k JOIN dim d ON k.kb IS NOT DISTINCT FROM d.kb
GROUP BY 1
"""


def q270_posexplode(spark, sf_dir):
    """Positional explode (LATERAL VIEW posexplode): per-order sorted
    quantity arrays unnested WITH their ordinal — position-aware
    flattening (token positions, rank-in-basket features).  The
    position-weighted checksum pins ordinal correctness; DuckDB
    replays via generate_subscripts."""
    li = _t(spark, sf_dir, "lineitem")
    per = (li.groupBy("l_orderkey")
           .agg(F.array_sort(F.collect_list("l_quantity"))
                .alias("qs")))
    ex = per.select("l_orderkey",
                    F.posexplode("qs").alias("pos", "q"))
    return (ex.groupBy((F.col("pos") + 1).alias("position"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("q"), 2).alias("qty_sum"),
                 F.round(F.sum(F.col("q") * (F.col("pos") + 1)), 2)
                 .alias("weighted")))


O_Q270 = """
WITH per AS (
  -- collect_list drops NULLs; DuckDB list() keeps them
  SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
ex AS (
  SELECT l_orderkey,
         generate_subscripts(qs, 1) AS position,
         unnest(qs) AS q
  FROM per)
SELECT position, count(*) AS n, round(sum(q), 2) AS qty_sum,
       round(sum(q * position), 2) AS weighted
FROM ex GROUP BY 1
"""


# --------------------------------------------------------------------------
# Round-8 continuation: q271+ (time-series, graph, web-corpus lanes)
# --------------------------------------------------------------------------

def q271_time_weighted_avg(spark, sf_dir):
    """Time-weighted average (operators/timeseries.py:time_weighted_avg,
    the TimescaleDB time_weight('Linear') shape): per-user TWA of the
    event value over irregular sample times — trapezoid integral over
    the observed span, plain-average fallback for single samples.  The
    oracle replays the lag-window trapezoid in SQL."""
    from niamoto_spark.operators.timeseries import time_weighted_avg

    # the trapezoid chain needs a TOTAL per-user order: a NULL
    # event_id tying at an equal second swaps which value feeds the
    # NEXT segment (sf0.1 NULL probe find)
    ev = _events(spark, sf_dir).where(F.col("event_id").isNotNull())
    return time_weighted_avg(ev, "user_id", "ts_sec", "value",
                             "event_id")


O_Q271 = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(value AS DOUBLE) AS v, event_id
  FROM events WHERE event_id IS NOT NULL),
s AS (
  SELECT user_id, t, v,
         lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS tp,
         lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id) AS vp
  FROM e)
SELECT user_id, count(*) AS n_samples,
       round(CASE WHEN max(t) > min(t)
                  THEN sum(CASE WHEN tp IS NOT NULL
                                THEN (v + vp) / 2 * (t - tp) END)
                       / (max(t) - min(t))
                  ELSE avg(v) END, 4) AS twa
FROM s GROUP BY 1
"""


def q272_ohlc_bars(spark, sf_dir):
    """Daily OHLC candlesticks per event type (operators/timeseries.py:
    ohlc_bars): open/close via min_by/max_by on a composite
    (epoch, event_id) order key — ONE map-side-combinable aggregation,
    no window sort.  The oracle replays with arg_min/arg_max on the
    identical composite key."""
    from niamoto_spark.operators.timeseries import ohlc_bars

    ev = _events(spark, sf_dir)
    return ohlc_bars(ev, "event_type", "ts_sec", "value", "event_id",
                     granule_s=86_400)


O_Q272 = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         value AS v,
         CAST(CAST(floor(epoch(ts)) AS BIGINT) AS HUGEINT)
           * 1099511627776 + event_id AS ok
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    AND event_id IS NOT NULL)
SELECT event_type, CAST(floor(t / 86400.0) AS BIGINT) AS bucket,
       round(arg_min(v, ok), 4) AS open,
       round(max(v), 4) AS high, round(min(v), 4) AS low,
       round(arg_max(v, ok), 4) AS close, count(*) AS n
FROM e GROUP BY 1, 2
"""


def q273_rolling_median(spark, sf_dir):
    """Exact 5-row sliding median per user (operators/timeseries.py:
    rolling_median): constant-k collect_list frame + sort_array —
    O(k log k) per row, bounded payload, the robust smoother Spark
    lacks as a builtin.  Per-user mean of the rolling medians pins
    every window's value; DuckDB replays with median() as a window
    aggregate (interpolated on even frames, same as the op)."""
    from niamoto_spark.operators.timeseries import rolling_median

    # medians are defined over DOUBLE (dtype probe: decimal input
    # would interpolate even frames in exact decimal, off the oracle)
    # frames need a TOTAL per-user order: NULL event_ids tying at an
    # equal second put different row sets in the 5-row frame (sf0.1
    # NULL probe find).  The per-user mean is computed on exact
    # integer CENTS (values are 2dp): medians of cents are exact
    # halves, so the 4dp half-up rounding is integer algebra on both
    # engines — the avg(double) route flips 1 ULP at .xxxx5
    # boundaries (q13/q214 recipe, second sf0.1 probe find here)
    ev = (_events(spark, sf_dir)
          .where(F.col("event_id").isNotNull())
          .withColumn("value",
                      F.round(F.col("value") * 100).cast("long")
                      .cast("double")))
    rm = rolling_median(ev, "user_id", "ts_sec", "value", "event_id",
                        window=5)
    return (rm.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count("roll_median").alias("__nm"),
                 F.sum((F.col("roll_median") * 2).cast("long"))
                 .alias("__s2"))
            .select("user_id", "n",
                    # sign-aware half-up (ADVICE r11): DIV and DuckDB's
                    # // both truncate toward zero, so the +nm bias must
                    # flip sign with the sum for away-from-zero rounding
                    # when a user's rolling medians sum negative
                    F.when(F.col("__nm") > 0,
                           F.expr("(100 * __s2 + CASE WHEN __s2 < 0 "
                                  "THEN -__nm ELSE __nm END) "
                                  "DIV (2 * __nm)")
                           / 10000.0)
                    .alias("avg_roll_median")))


O_Q273 = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(round(value * 100) AS BIGINT) AS vc, event_id
  FROM events WHERE event_id IS NOT NULL),
m AS (
  SELECT user_id,
         median(vc) OVER (PARTITION BY user_id
                          ORDER BY t NULLS FIRST, event_id NULLS FIRST
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
           AS rmed
  FROM e)
SELECT user_id, count(*) AS n,
       CASE WHEN count(rmed) > 0 THEN
         ((100 * CAST(sum(2 * rmed) AS BIGINT)
           + CASE WHEN sum(2 * rmed) < 0 THEN -count(rmed)
                  ELSE count(rmed) END)
          // (2 * count(rmed))) / 10000.0
       END AS avg_roll_median
FROM m GROUP BY 1
"""


def q274_adamic_adar(spark, sf_dir):
    """Adamic–Adar link prediction (operators/graph.py:adamic_adar)
    over the supplier co-occurrence graph: suppliers sharing orders,
    scored Σ 1/ln(order size) — shared small orders are strong
    evidence.  Top 50 by score; the oracle refits the whole
    group-size/self-join/aggregate chain in SQL."""
    from niamoto_spark.operators.graph import adamic_adar

    li = _t(spark, sf_dir, "lineitem")
    m = li.select(F.col("l_suppkey").alias("item"),
                  F.col("l_orderkey").alias("grp"))
    aa = adamic_adar(m, "item", "grp")
    return (aa.orderBy(F.col("aa_score").desc(), "item_a", "item_b")
            .limit(50))


O_Q274 = """
WITH m AS (SELECT DISTINCT l_suppkey AS item, l_orderkey AS grp
           FROM lineitem),
sz AS (SELECT grp, count(*) AS gsz FROM m GROUP BY 1),
ok AS (SELECT grp, gsz FROM sz WHERE gsz BETWEEN 2 AND 1000),
wm AS (SELECT m.grp, m.item, ok.gsz FROM m JOIN ok ON m.grp = ok.grp)
SELECT a.item AS item_a, b.item AS item_b,
       count(*) AS common_groups,
       round(sum(1.0 / ln(a.gsz)), 4) AS aa_score
FROM wm a JOIN wm b ON a.grp = b.grp AND a.item < b.item
GROUP BY 1, 2
ORDER BY aa_score DESC, item_a, item_b
LIMIT 50
"""


def q275_state_periods(spark, sf_dir):
    """Gaps-and-islands (operators/timeseries.py:state_periods): each
    user's event stream collapsed into consecutive same-type runs —
    the lag-flag + running-sum island id, one sort.  Per-type period
    counts and run-length stats pin every island boundary; the oracle
    replays the textbook two-window SQL."""
    from niamoto_spark.operators.timeseries import state_periods

    ev = (_events(spark, sf_dir)
          .where(F.col("ts_sec").isNotNull()
                 & F.col("event_id").isNotNull()))
    per = state_periods(ev, "user_id", "ts_sec", "event_type",
                        "event_id")
    return (per.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_periods"),
                 F.sum("run_length").alias("n_rows"),
                 F.max("run_length").alias("longest_run")))


O_Q275 = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         event_type, event_id
  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
f AS (
  SELECT user_id, t, event_type,
         CASE WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
              THEN 0 ELSE 1 END AS chg
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
i AS (
  SELECT user_id, t, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM f),
p AS (
  SELECT user_id, event_type, island, count(*) AS run_length
  FROM i GROUP BY 1, 2, 3)
SELECT event_type, count(*) AS n_periods,
       CAST(sum(run_length) AS BIGINT) AS n_rows,
       max(run_length) AS longest_run
FROM p GROUP BY 1
"""


def _docs_with_urls(spark, sf_dir):
    """documents + a deterministic messy URL per doc (mixed case, www,
    default port, tracking params, unsorted params, fragment) — the
    planted-fixture pattern q60_scrub uses, so the normalization chain
    has real work to do on every row."""
    d = _t(spark, sf_dir, "documents")
    return d.withColumn(
        "url",
        F.concat(F.lit("HTTPS://WWW."), F.col("source"),
                 F.lit("-Mirror.NET:443/"), F.col("lang"),
                 F.lit("/doc/"), F.col("doc_id"), F.lit("/?utm_campaign=c"),
                 F.col("doc_id") % 3, F.lit("&ref=tw&b="),
                 F.col("doc_id") % 5, F.lit("&a=1#sec")))


def q276_url_normalize(spark, sf_dir):
    """URL canonicalization + domain mix (operators/web.py): lowercase
    scheme/host, drop default port / fragment / tracking params
    (utm_*, ref, ...), sort surviving params, trailing-slash and www
    stripping, registrable-domain extraction — pure Catalyst codegen,
    replayed expression-for-expression by the DuckDB oracle (regexp +
    list_filter/list_sort).  Per-domain doc and distinct-URL counts
    plus the lexicographically first canonical URL pin the whole
    string chain."""
    from niamoto_spark.operators.web import url_normalize

    d = _docs_with_urls(spark, sf_dir)
    n = url_normalize(d, "url")
    return (n.groupBy("domain")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("url_norm").alias("n_urls"),
                 F.min("url_norm").alias("first_url")))


O_Q276 = """
WITH d AS (
  SELECT *, 'HTTPS://WWW.' || source || '-Mirror.NET:443/' || lang
            || '/doc/' || doc_id || '/?utm_campaign=c' || (doc_id % 3)
            || '&ref=tw&b=' || (doc_id % 5) || '&a=1#sec' AS url
  FROM documents),
s1 AS (
  SELECT *, regexp_replace(regexp_replace(url,
              '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''), '#.*$', '') AS rest,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))
           AS scheme
  FROM d),
s2 AS (
  SELECT *, regexp_extract(rest, '^([^?]*)', 1) AS hp_path,
         CASE WHEN contains(rest, '?')
              THEN regexp_replace(rest, '^[^?]*\\?', '') ELSE '' END
           AS query
  FROM s1),
s3 AS (
  SELECT *, regexp_replace(regexp_replace(lower(
              regexp_extract(hp_path, '^([^/]*)', 1)),
              ':(80|443)$', ''), '^www\\.', '') AS host,
         regexp_replace(regexp_replace(hp_path, '^[^/]*', ''),
                        '/$', '') AS path
  FROM s2),
s4 AS (
  SELECT *, array_to_string(list_sort(list_filter(
              string_split(query, '&'),
              x -> x <> '' AND NOT regexp_matches(x,
                '^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid|ref|igshid)='))),
              '&') AS qnorm
  FROM s3),
n AS (
  SELECT regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
         scheme || '://' || host || path
           || CASE WHEN qnorm <> '' THEN '?' || qnorm ELSE '' END
           AS url_norm
  FROM s4)
SELECT domain, count(*) AS n_docs,
       count(DISTINCT url_norm) AS n_urls,
       min(url_norm) AS first_url
FROM n GROUP BY 1
"""


def q277_mixture_rebalance(spark, sf_dir):
    """Corpus mixture rebalancing (operators/curation.py:
    mixture_rebalance): per-language quotas under a 400-row budget,
    deterministic md5 selection — rates < 1 for over-supplied
    languages, shortfall surfaced for under-supplied ones.  The
    oracle replays the quota arithmetic AND the exact md5 coin, so
    n_selected matches row-for-row."""
    from niamoto_spark.operators.curation import mixture_rebalance

    d = _t(spark, sf_dir, "documents")
    targets = {"en": 0.4, "zh": 0.2, "es": 0.15, "de": 0.15,
               "fr": 0.1}
    _sel, summary = mixture_rebalance(d, "doc_id", "lang", targets,
                                      budget_rows=400)
    return summary


O_Q277 = """
WITH t(lang, share) AS (VALUES
  ('en', 0.4), ('zh', 0.2), ('es', 0.15), ('de', 0.15), ('fr', 0.1)),
c AS (SELECT lang, count(*) AS n_avail FROM documents GROUP BY 1),
plan AS (
  SELECT t.lang, coalesce(c.n_avail, 0) AS n_avail,
         CAST(floor(400 * t.share) AS BIGINT) AS quota
  FROM t LEFT JOIN c ON t.lang = c.lang),
rated AS (
  SELECT lang, n_avail, quota,
         CASE WHEN n_avail <= quota THEN 1.0
              ELSE quota / CAST(n_avail AS DOUBLE) END AS rate,
         GREATEST(0, quota - n_avail) AS shortfall
  FROM plan),
sel AS (
  SELECT d.lang, count(*) AS n_selected
  FROM documents d JOIN rated r ON d.lang = r.lang
  WHERE CAST(('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)),
                             1, 8)) AS UBIGINT)
        < r.rate * 4294967296.0
  GROUP BY 1)
SELECT r.lang, r.n_avail, r.quota, round(r.rate, 6) AS rate,
       coalesce(s.n_selected, 0) AS n_selected, r.shortfall
FROM rated r LEFT JOIN sel s ON r.lang = s.lang
"""


def q278_holt_linear(spark, sf_dir):
    """Holt's linear smoothing (operators/timeseries.py:holt_linear):
    per-event-type daily mean series fitted with the joint
    level/trend recurrence in applyInPandas (one task per series,
    series parallel across executors), 3-step forecast.  The oracle
    replays the ENTIRE recurrence with a recursive CTE — the same
    α=0.5/β=0.3 arithmetic, step by step."""
    from niamoto_spark.operators.timeseries import holt_linear

    ev = (_events(spark, sf_dir)
          .where(F.col("ts_sec").isNotNull()
                 & F.col("event_type").isNotNull()))
    daily = (ev.groupBy("event_type",
                        F.floor(F.col("ts_sec") / 86_400)
                        .cast("long").alias("day"))
             .agg(F.avg("value").alias("y")))
    fit = holt_linear(daily, "event_type", "day", "y",
                      alpha=0.5, beta=0.3, horizon=3)
    return fit.select("event_type", "n",
                      F.round("level", 4).alias("level"),
                      F.round("trend", 4).alias("trend"),
                      F.round("forecast", 4).alias("forecast"))


O_Q278 = """
WITH RECURSIVE d AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
         avg(value) AS y
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2),
o AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM d),
nn AS (SELECT event_type, max(rn) AS n FROM o GROUP BY 1),
h AS (
  SELECT o1.event_type, 1 AS rn, o1.y AS lvl, o2.y - o1.y AS trd,
         o1.y AS prev_lvl
  FROM o o1 JOIN o o2 ON o1.event_type = o2.event_type
   AND o1.rn = 1 AND o2.rn = 2
  UNION ALL
  SELECT h.event_type, h.rn + 1,
         0.5 * o.y + 0.5 * (h.lvl + h.trd),
         0.3 * ((0.5 * o.y + 0.5 * (h.lvl + h.trd)) - h.lvl)
           + 0.7 * h.trd,
         h.lvl
  FROM h JOIN o ON o.event_type = h.event_type AND o.rn = h.rn + 1)
SELECT h.event_type, nn.n, round(h.lvl, 4) AS level,
       round(h.trd, 4) AS trend,
       round(h.lvl + 3 * h.trd, 4) AS forecast
FROM h JOIN nn ON h.event_type = nn.event_type AND h.rn = nn.n
"""


def q279_confusion_stats(spark, sf_dir):
    """Multi-class confusion summary (operators/mleval.py:
    confusion_stats): a deterministic totalprice-bucket rule
    "predicts" order priority; per-class support / precision /
    recall / F1 from three narrow aggregates over the confusion
    matrix.  The oracle refits the matrix and the zero-division
    conventions in SQL."""
    from niamoto_spark.operators.mleval import confusion_stats

    o = _t(spark, sf_dir, "orders")
    pred = (F.when(F.col("o_totalprice") > 250_000, "1-URGENT")
            .when(F.col("o_totalprice") > 180_000, "2-HIGH")
            .when(F.col("o_totalprice") > 120_000, "3-MEDIUM")
            .when(F.col("o_totalprice") > 60_000,
                  "4-NOT SPECIFIED")
            .otherwise("5-LOW"))
    df = o.withColumn("pred", pred)
    return confusion_stats(df, "o_orderpriority", "pred")


O_Q279 = """
WITH p AS (
  SELECT o_orderpriority AS actual,
         CASE WHEN o_totalprice > 250000 THEN '1-URGENT'
              WHEN o_totalprice > 180000 THEN '2-HIGH'
              WHEN o_totalprice > 120000 THEN '3-MEDIUM'
              WHEN o_totalprice > 60000 THEN '4-NOT SPECIFIED'
              ELSE '5-LOW' END AS pred
  FROM orders),
cm AS (SELECT actual, pred, count(*) AS n FROM p GROUP BY 1, 2),
sup AS (SELECT actual AS cls, sum(n) AS support FROM cm GROUP BY 1),
pn AS (SELECT pred AS cls, sum(n) AS pred_n FROM cm GROUP BY 1),
tp AS (SELECT actual AS cls, n AS tp FROM cm WHERE actual = pred),
base AS (
  SELECT coalesce(sup.cls, pn.cls) AS cls,
         coalesce(support, 0) AS support,
         coalesce(pred_n, 0) AS pred_n, coalesce(tp.tp, 0) AS tp
  FROM sup FULL OUTER JOIN pn ON sup.cls = pn.cls
  LEFT JOIN tp ON coalesce(sup.cls, pn.cls) = tp.cls),
m AS (
  SELECT cls, support, pred_n, tp,
         CASE WHEN pred_n > 0
              THEN tp / CAST(pred_n AS DOUBLE) ELSE 0.0 END AS prec,
         CASE WHEN support > 0
              THEN tp / CAST(support AS DOUBLE) ELSE 0.0 END AS rec
  FROM base)
SELECT cls AS "class", CAST(support AS BIGINT) AS support,
       CAST(pred_n AS BIGINT) AS pred_n, CAST(tp AS BIGINT) AS tp,
       round(prec, 4) AS precision, round(rec, 4) AS recall,
       round(CASE WHEN prec + rec > 0
                  THEN 2 * prec * rec / (prec + rec)
                  ELSE 0.0 END, 4) AS f1
FROM m
"""


def q280_bitmap_distinct(spark, sf_dir):
    """Exact mergeable distinct counts via bitmap aggregates
    (operators/sketches.py:bitmap_distinct_rollup, the RoaringBitmap
    idea): per-event-type distinct users AND the total, both answered
    from the SAME per-(group, bucket) bitmaps — bitmap_or_agg merges
    partials the way count(DISTINCT) never can.  Oracle:
    count(DISTINCT) per group plus a NULL-group total row."""
    from niamoto_spark.operators.sketches import bitmap_distinct_rollup

    ev = _events(spark, sf_dir)
    return bitmap_distinct_rollup(ev, "event_type", "user_id")


O_Q280 = """
SELECT event_type, count(DISTINCT user_id) AS n_distinct
FROM events GROUP BY 1
UNION ALL
SELECT NULL AS event_type, count(DISTINCT user_id) AS n_distinct
FROM events
"""


def q281_debounce(spark, sf_dir):
    """Debounce (operators/cleaning.py:debounce_events): bursts of
    same-(user, type) events within 2 days collapse to their first
    row with the burst size — retry-storm/chatter suppression.  The
    per-type burst census pins every boundary; the oracle replays the
    lag-gap island SQL."""
    from niamoto_spark.operators.cleaning import debounce_events

    ev = _events(spark, sf_dir)
    kept = debounce_events(ev, ["user_id", "event_type"], "ts_sec",
                           "event_id", gap_s=172_800)
    return (kept.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("burst_n").alias("n_raw"),
                 F.max("burst_n").alias("max_burst")))


O_Q281 = """
WITH e AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events),
f AS (
  SELECT *, CASE WHEN t - lag(t) OVER w <= 172800 THEN 0 ELSE 1 END
              AS new_burst
  FROM e WINDOW w AS (PARTITION BY user_id, event_type
                      ORDER BY t, event_id)),
i AS (
  SELECT *, sum(new_burst) OVER (PARTITION BY user_id, event_type
                                 ORDER BY t, event_id
                                 ROWS UNBOUNDED PRECEDING) AS burst
  FROM f),
b AS (
  SELECT user_id, event_type, burst, count(*) AS burst_n
  FROM i GROUP BY 1, 2, 3)
SELECT event_type, count(*) AS n_kept,
       CAST(sum(burst_n) AS BIGINT) AS n_raw, max(burst_n) AS max_burst
FROM b GROUP BY 1
"""


def q282_sliding_windows(spark, sf_dir):
    """Overlapping (sliding) window aggregation — Spark's native
    F.window(width=4h, slide=2h), the hop the tumbling q30 can't
    express: each event lands in exactly TWO windows.  The oracle
    replays via the union of the two slide-aligned bucketings."""
    ev = _events(spark, sf_dir).where(F.col("ts_sec").isNotNull())
    ts = F.timestamp_seconds(F.col("ts_sec"))
    return (ev.groupBy(F.window(ts, "4 hours", "2 hours").alias("w"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("value_sum"))
            .select(F.unix_timestamp(F.col("w.start")).alias("w_start"),
                    "event_type", "n", "value_sum"))


O_Q282 = """
WITH e AS (
  SELECT event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events WHERE ts IS NOT NULL),
hits AS (
  SELECT (t // 7200) * 7200 AS w_start, event_type, value FROM e
  UNION ALL
  SELECT (t // 7200) * 7200 - 7200 AS w_start, event_type, value FROM e)
SELECT w_start, event_type, count(*) AS n,
       round(sum(value), 2) AS value_sum
FROM hits GROUP BY 1, 2
"""


def q283_cube(spark, sf_dir):
    """CUBE grouping sets with grouping_id (the full-margin complement
    of q50's ROLLUP): revenue over (priority, order year) with all
    four margin combinations, the grouping bit-vector disambiguating
    real NULLs from subtotal rows.  DuckDB replays with GROUP BY CUBE
    + GROUPING()."""
    o = _t(spark, sf_dir, "orders")
    return (o.withColumn("yr", F.year("o_orderdate"))
            .cube("o_orderpriority", "yr")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.grouping_id().alias("gid")))


O_Q283 = """
SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS yr,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue,
       CAST(GROUPING(o_orderpriority, year(o_orderdate)) AS BIGINT)
         AS gid
FROM orders
GROUP BY CUBE (o_orderpriority, year(o_orderdate))
"""


def q284_cramers_v(spark, sf_dir):
    """Cramér's V association strength (operators/drift.py:cramers_v):
    order priority vs a deterministic customer bucket — chi2
    normalized into the [0,1] effect size a redundancy screen
    thresholds.  One contingency aggregate; the oracle refits chi2
    and the normalization."""
    from niamoto_spark.operators.drift import cramers_v

    o = _t(spark, sf_dir, "orders")
    return cramers_v(o.withColumn("bkt", F.col("o_custkey") % 3),
                     "o_orderpriority", "bkt")


O_Q284 = """
WITH p AS (
  SELECT o_orderpriority AS a, o_custkey % 3 AS b FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL),
obs AS (SELECT a, b, count(*) AS o FROM p GROUP BY 1, 2),
ra AS (SELECT a, sum(o) AS ra FROM obs GROUP BY 1),
rb AS (SELECT b, sum(o) AS rb FROM obs GROUP BY 1),
nn AS (SELECT sum(o) AS n FROM obs),
dims AS (SELECT (SELECT count(*) FROM ra) AS r,
                (SELECT count(*) FROM rb) AS c),
chi AS (
  SELECT nn.n * (sum(obs.o * obs.o / (ra.ra * rb.rb)) - 1) AS chi2
  FROM obs JOIN ra ON obs.a = ra.a JOIN rb ON obs.b = rb.b
  CROSS JOIN nn GROUP BY nn.n)
SELECT round(chi.chi2, 4) AS chi2,
       CAST((dims.r - 1) * (dims.c - 1) AS INT) AS dof,
       CAST(nn.n AS INT) AS n, CAST(dims.r AS INT) AS r,
       CAST(dims.c AS INT) AS c,
       round(CASE WHEN LEAST(dims.r, dims.c) > 1
                  THEN sqrt(chi.chi2
                            / (nn.n * (LEAST(dims.r, dims.c) - 1)))
                  ELSE 0.0 END, 4) AS v
FROM chi CROSS JOIN nn CROSS JOIN dims
"""


def q285_counter_rate(spark, sf_dir):
    """Monotonic-counter increase with reset handling
    (operators/timeseries.py:counter_rate, the Prometheus increase()
    semantics): per-user positive-delta sum where a negative delta
    marks a reset and the new sample counts whole.  The oracle
    replays the lag-delta arithmetic."""
    from niamoto_spark.operators.timeseries import counter_rate

    ev = (_events(spark, sf_dir)
          .where(F.col("ts_sec").isNotNull()
                 & F.col("event_id").isNotNull()))
    return counter_rate(ev, "user_id", "ts_sec", "value", "event_id")


O_Q285 = """
WITH e AS (
  SELECT user_id, value AS v, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
s AS (
  SELECT user_id, t, v,
         lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id)
           AS vp
  FROM e)
SELECT user_id, count(*) AS n_samples,
       coalesce(sum(CASE WHEN v - vp < 0 THEN 1 END), 0) AS n_resets,
       round(sum(CASE WHEN vp IS NULL THEN 0.0
                      WHEN v - vp >= 0 THEN v - vp
                      ELSE v END), 4) AS increase,
       round(CASE WHEN max(t) > min(t)
                  THEN sum(CASE WHEN vp IS NULL THEN 0.0
                                WHEN v - vp >= 0 THEN v - vp
                                ELSE v END) / (max(t) - min(t))
                  ELSE 0.0 END, 6) AS rate_per_s
FROM s GROUP BY 1
"""


def q286_ip_enrich(spark, sf_dir):
    """Geo-IP-style range enrichment (operators/web.py:ip_range_join):
    deterministic per-event IPv4 addresses mapped into broadcast
    [start, end] blocks — the fact table never shuffles.  Per-zone
    event and distinct-user counts; the oracle replays the
    dotted-quad arithmetic and the range join."""
    from niamoto_spark.operators.web import ip_range_join

    ev = (_events(spark, sf_dir)
          .where(F.col("user_id").isNotNull()
                 & F.col("event_id").isNotNull()))
    f = ev.withColumn(
        "ip", F.concat(F.lit("10."),
                       (F.col("user_id") % 200).cast("string"),
                       F.lit("."),
                       (F.col("event_id") % 250).cast("string"),
                       F.lit(".7")))
    base = 10 * 16_777_216
    ranges = spark.createDataFrame(
        [(base, base + 50 * 65_536 - 1, "dc-a"),
         (base + 50 * 65_536, base + 120 * 65_536 - 1, "dc-b"),
         (base + 120 * 65_536, base + 200 * 65_536 - 1, "dc-c")],
        "ip_start long, ip_end long, zone string")
    j = ip_range_join(f, "ip", ranges)
    return (j.groupBy("zone")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users")))


O_Q286 = """
WITH f AS (
  SELECT user_id,
         10 * 16777216 + (user_id % 200) * 65536
           + (event_id % 250) * 256 + 7 AS ip_num
  FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
r(ip_start, ip_end, zone) AS (VALUES
  (10 * 16777216, 10 * 16777216 + 50 * 65536 - 1, 'dc-a'),
  (10 * 16777216 + 50 * 65536, 10 * 16777216 + 120 * 65536 - 1, 'dc-b'),
  (10 * 16777216 + 120 * 65536, 10 * 16777216 + 200 * 65536 - 1, 'dc-c'))
SELECT r.zone, count(*) AS n_events,
       count(DISTINCT f.user_id) AS n_users
FROM f LEFT JOIN r ON f.ip_num BETWEEN r.ip_start AND r.ip_end
WHERE r.zone IS NOT NULL
GROUP BY 1
"""


def q287_frequent_triples(spark, sf_dir):
    """Apriori level-3 (operators/itemsets.py:frequent_triples): brand
    triples co-bought across orders, candidate-pruned through the
    frequent-pair lattice before counting.  The oracle refits the
    whole prune/extend/verify chain in SQL."""
    from niamoto_spark.operators.itemsets import frequent_triples

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    baskets = (li.join(F.broadcast(p),
                       F.col("l_partkey") == F.col("p_partkey"))
               .select("l_orderkey", "p_brand"))
    tri = frequent_triples(baskets, "l_orderkey", "p_brand",
                           min_support=0.005)
    return (tri.orderBy(F.col("triple_count").desc(), "item_a",
                        "item_b", "item_c").limit(50))


O_Q287 = """
WITH b AS (SELECT DISTINCT l_orderkey AS bk, p_brand AS it
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_orderkey IS NOT NULL AND p_brand IS NOT NULL),
n AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
mc AS (SELECT GREATEST(1, CAST(floor(0.005 * n_baskets) AS BIGINT)) AS c,
              n_baskets FROM n),
fi AS (SELECT it FROM b, mc GROUP BY it, mc.c HAVING count(*) >= mc.c),
pb AS (SELECT b.bk, b.it FROM b JOIN fi ON b.it = fi.it),
pe AS (SELECT a.bk, a.it AS ia, b2.it AS ib
       FROM pb a JOIN pb b2 ON a.bk = b2.bk AND a.it < b2.it),
fp AS (SELECT ia, ib FROM pe, mc GROUP BY ia, ib, mc.c
       HAVING count(*) >= mc.c),
cand AS (
  SELECT pe.bk, pe.ia, pe.ib, c3.it AS ic
  FROM pe JOIN fp ON pe.ia = fp.ia AND pe.ib = fp.ib
  JOIN pb c3 ON c3.bk = pe.bk AND c3.it > pe.ib
  WHERE EXISTS (SELECT 1 FROM fp f2
                WHERE f2.ia = pe.ia AND f2.ib = c3.it)
    AND EXISTS (SELECT 1 FROM fp f3
                WHERE f3.ia = pe.ib AND f3.ib = c3.it))
SELECT ia AS item_a, ib AS item_b, ic AS item_c,
       count(*) AS triple_count,
       round(count(*) / CAST(mc.n_baskets AS DOUBLE), 4) AS support
FROM cand, mc
GROUP BY 1, 2, 3, mc.c, mc.n_baskets
HAVING count(*) >= mc.c
ORDER BY triple_count DESC, item_a, item_b, item_c
LIMIT 50
"""


def q288_string_surface(spark, sf_dir):
    """String-function surface parity: lpad/rpad, translate, repeat,
    reverse, substring, instr, concat_ws, upper/lower — the scalar
    toolkit fused into one deterministic fingerprint per nation, so
    one hash match pins every function's cross-engine semantics
    (complement of q57 numeric and q261 regex surfaces)."""
    n = _t(spark, sf_dir, "nation")
    name = F.col("n_name")
    return (n.select(
        "n_nationkey",
        F.lpad(name, 20, ".").alias("padded"),
        F.translate(name, "AEIOU", "aeiou").alias("xlated"),
        F.reverse(F.lower(name)).alias("rev"),
        F.repeat(F.substring(name, 1, 2), 3).alias("rep"),
        F.instr(name, "A").alias("first_a"),
        F.concat_ws("-", F.upper(F.substring(name, 1, 3)),
                    F.col("n_nationkey").cast("string")).alias("code"),
        F.length(F.trim(name)).alias("len"))
        .orderBy("n_nationkey"))


O_Q288 = """
SELECT n_nationkey,
       lpad(n_name, 20, '.') AS padded,
       translate(n_name, 'AEIOU', 'aeiou') AS xlated,
       reverse(lower(n_name)) AS rev,
       repeat(substr(n_name, 1, 2), 3) AS rep,
       CAST(instr(n_name, 'A') AS INT) AS first_a,
       concat_ws('-', upper(substr(n_name, 1, 3)),
                 CAST(n_nationkey AS VARCHAR)) AS code,
       CAST(length(trim(n_name)) AS INT) AS len
FROM nation ORDER BY n_nationkey
"""


def q289_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping): bilateral trade volume between two
    nations by ship year — the classic 6-table star join with the
    either-direction nation pair predicate.  All dimension joins
    broadcast; the only wide shuffle is the final 3-key aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_name").alias("cust_nation"))
    j = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(c, F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
         .where(((F.col("supp_nation") == "NATION_1")
                 & (F.col("cust_nation") == "NATION_2"))
                | ((F.col("supp_nation") == "NATION_2")
                   & (F.col("cust_nation") == "NATION_1"))))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").alias("l_year"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


O_Q289 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def q290_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share): NATION_3's share of MEDIUM-
    part revenue sold into EUROPE-region customers, by order year —
    the conditional-sum-over-sum aggregation atop a 7-table join.
    The share division happens on the per-year aggregate, never the
    fact rows."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_regionkey").alias("c_rk"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    vol = (li.join(F.broadcast(p.where(F.col("p_type") == "MEDIUM")),
                   F.col("l_partkey") == F.col("p_partkey"))
           .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(c, F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
           .join(F.broadcast(r.where(F.col("r_name") == "EUROPE")),
                 F.col("c_rk") == F.col("r_regionkey"))
           .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
           .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
           .select(F.year("o_orderdate").alias("o_year"),
                   (F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))).alias("volume"),
                   F.col("supp_nation")))
    return (vol.groupBy("o_year")
            .agg(F.round(F.sum(F.when(F.col("supp_nation") == "NATION_3",
                                      F.col("volume")).otherwise(0.0))
                         / F.sum("volume"), 4).alias("mkt_share"),
                 F.round(F.sum("volume"), 2).alias("total_volume")))


O_Q290 = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share,
       round(sum(l_extendedprice * (1 - l_discount)), 2)
         AS total_volume
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'MEDIUM'
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
GROUP BY 1
"""


def q291_table_cdf(spark, sf_dir):
    """Row-level change data feed with pre/post images
    (sources/manifest.py:table_cdf, Delta CDF's row shape): a keyed
    table suffers an UPDATE, a DELETE and an APPEND; the feed delivers
    each changed key once with change type and both images.  The
    oracle recomputes the expected feed from the base table and the
    same deterministic mutations."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest as M

    path = os.path.join(
        tempfile.gettempdir(),
        "niamoto_cdf_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(path):
        shutil.rmtree(path)
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = o.where(F.col("o_orderkey") % 4 == 0)
    M.append(base.repartition(4), path)
    M.update_where(spark, path, "o_orderkey % 7 = 0",
                   {"o_totalprice": F.col("o_totalprice") * 2})
    M.delete_where(spark, path, "o_orderkey % 11 = 0")
    M.append(o.where(F.col("o_orderkey") % 4 == 1)
             .limit(0), path)  # no-op commit: CDF must ignore it
    extra = o.where((F.col("o_orderkey") % 4 == 2)
                    & (F.col("o_orderkey") < 400))
    M.append(extra, path)
    feed = M.table_cdf(spark, path, 0, key_cols=["o_orderkey"])
    return (feed.groupBy("change")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice_old"), 2).alias("sum_old"),
                 F.round(F.sum("o_totalprice_new"), 2).alias("sum_new")))


O_Q291 = """
WITH base AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 0),
feed AS (
  SELECT o_orderkey, 'updated' AS change,
         o_totalprice AS sum_old, o_totalprice * 2 AS sum_new
  FROM base WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
    -- NULL * 2 is NULL: the row's value did not change, so the CDF
    -- (hash compare of pre/post images) rightly omits it
    AND o_totalprice IS NOT NULL
  UNION ALL
  -- the old image is the FROM-version (v0) value: a row updated and
  -- later deleted still diffs v0 -> head as one 'removed' at v0's price
  SELECT o_orderkey, 'removed', o_totalprice, NULL
  FROM base WHERE o_orderkey % 11 = 0
  UNION ALL
  SELECT o_orderkey, 'added', NULL, o_totalprice
  FROM orders WHERE o_orderkey % 4 = 2 AND o_orderkey < 400)
SELECT change, count(*) AS n, round(sum(sum_old), 2) AS sum_old,
       round(sum(sum_new), 2) AS sum_new
FROM feed GROUP BY 1
"""


def q292_percent_of_parent(spark, sf_dir):
    """Percent-of-parent hierarchical shares: each customer nation's
    revenue as a share of its region (window over the tiny nation
    aggregate — the fact table shuffles once, the share math touches
    25 rows).  Completes the grouping-sets lane (q50 ROLLUP, q283
    CUBE) with the ratio report they feed."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    per_nation = (o.join(c, F.col("o_custkey") == F.col("c_custkey"))
                  .join(F.broadcast(n),
                        F.col("c_nationkey") == F.col("n_nationkey"))
                  .join(F.broadcast(r),
                        F.col("n_regionkey") == F.col("r_regionkey"))
                  .groupBy("r_name", "n_name")
                  .agg(F.sum("o_totalprice").alias("rev")))
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name", "n_name", F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(w), 4).alias("share"))


O_Q292 = """
WITH per AS (
  SELECT r_name, n_name, sum(o_totalprice) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2)
SELECT r_name, n_name, round(rev, 2) AS revenue,
       round(rev / sum(rev) OVER (PARTITION BY r_name), 4) AS share
FROM per
"""


def q293_sq_int8(spark, sf_dir):
    """Int8 scalar-quantized ANN (operators/quantization.py:
    sq_train/sq_encode/sq_topk, the faiss QT_8bit recipe): per-dim
    min/max fit, half-up uint8 codes, asymmetric dequantized
    dot-product top-10 for three queries.  Every step is explicit
    floor/fold arithmetic, so the oracle refits the ENTIRE quantizer
    and search in SQL — a full-value match, unlike the rows-only
    IVF/PQ lanes (q41/q110)."""
    from niamoto_spark.operators.quantization import (sq_encode,
                                                      sq_topk, sq_train)

    emb = _t(spark, sf_dir, "embeddings")
    mins, spans = sq_train(emb, "embedding")
    codes = sq_encode(emb, "vec_id", "embedding", mins, spans)
    qs = (emb.where(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("qid"), "embedding"))
    return sq_topk(codes, qs, "vec_id", "qid", "embedding",
                   mins, spans, k=10)


O_Q293 = """
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
  WHERE embedding IS NOT NULL),
dims AS (
  SELECT dim, min(x) AS mn, max(x) AS mx FROM flat GROUP BY 1),
params AS (SELECT dim, mn, mx - mn AS span FROM dims),
codes AS (
  SELECT f.vec_id, f.dim,
         CASE WHEN p.span > 0
              THEN floor((f.x - p.mn) * 255.0 / p.span + 0.5)
              ELSE 0.0 END AS code
  FROM flat f JOIN params p ON f.dim = p.dim
  WHERE f.vec_id IS NOT NULL),
dq AS (
  SELECT c.vec_id, c.dim,
         p.mn + c.code * p.span / 255.0 AS d
  FROM codes c JOIN params p ON c.dim = p.dim),
scores AS (
  SELECT q.vec_id AS qid, d.vec_id,
         round(sum(q.x * d.d ORDER BY q.dim), 4) AS score
  FROM flat q JOIN dq d ON q.dim = d.dim
  WHERE q.vec_id < 3
  GROUP BY 1, 2),
ranked AS (
  SELECT qid, vec_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, vec_id) AS rn
  FROM scores)
SELECT qid, vec_id, score FROM ranked WHERE rn <= 10
"""


def q294_access_log(spark, sf_dir):
    """Access-log ingest (operators/web.py:parse_access_log): events
    rendered as Common-Log-Format lines, parsed back by the regex
    projection, aggregated per (method, status).  The oracle computes
    the same aggregate DIRECTLY from events — a match proves the
    parser exactly inverts the render, end to end."""
    from niamoto_spark.operators.web import parse_access_log

    ev = (_events(spark, sf_dir)
          .where(F.col("user_id").isNotNull()
                 & F.col("event_type").isNotNull()
                 & F.col("value").isNotNull()
                 & F.col("event_id").isNotNull()))
    lines = ev.select(F.concat(
        F.lit("10."), (F.col("user_id") % 200).cast("string"),
        F.lit(".0.1 - "),
        F.when(F.col("user_id") % 3 == 0, F.lit("-"))
        .otherwise(F.concat(F.lit("u"), F.col("user_id"))),
        F.lit(' [01/Jan/2024:00:00:00 +0000] "'),
        F.when(F.col("event_type") == "purchase", "POST")
        .otherwise("GET"),
        F.lit(" /"), F.col("event_type"), F.lit("/"),
        F.col("event_id"), F.lit(' HTTP/1.1" '),
        F.when(F.col("value") > 90, 500).otherwise(200).cast("string"),
        F.lit(" "),
        F.when(F.col("value") < 5, F.lit("-"))
        .otherwise(F.floor(F.col("value") * 100).cast("string")))
        .alias("line"))
    p = parse_access_log(lines, "line")
    return (p.groupBy("method", "status")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("bytes_sent").alias("bytes_total"),
                 F.countDistinct("http_user").alias("n_users")))


O_Q294 = """
SELECT CASE WHEN event_type = 'purchase' THEN 'POST' ELSE 'GET' END
         AS method,
       CASE WHEN value > 90 THEN 500 ELSE 200 END AS status,
       count(*) AS n,
       CAST(sum(CASE WHEN value < 5 THEN 0
                     ELSE floor(value * 100) END) AS BIGINT)
         AS bytes_total,
       count(DISTINCT CASE WHEN user_id % 3 <> 0
                           THEN 'u' || user_id END) AS n_users
FROM events
WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  AND value IS NOT NULL AND event_id IS NOT NULL
GROUP BY 1, 2
"""


def q295_negative_samples(spark, sf_dir):
    """Word2vec negative sampling (operators/text.py:
    negative_samples): 3 draws per doc from the unigram^0.75
    distribution via md5 inverse-CDF over broadcast cumulative-weight
    intervals.  The oracle replays vocabulary, cumulative bounds AND
    every draw — the full sampler refit in SQL."""
    from niamoto_spark.operators.text import negative_samples

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    ns = negative_samples(d, "doc_id", "text", k=3, vocab_limit=200)
    return (ns.groupBy("token")
            .agg(F.count(F.lit(1)).alias("n_sampled"))
            .orderBy(F.col("n_sampled").desc(), "token").limit(40))


O_Q295 = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
toks AS (
  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM d),
counts AS (
  SELECT tok, count(*) AS n FROM toks WHERE tok <> ''
  GROUP BY 1 ORDER BY n DESC, tok LIMIT 200),
vocab AS (
  SELECT tok, n, pow(CAST(n AS DOUBLE), 0.75) AS w,
         sum(pow(CAST(n AS DOUBLE), 0.75))
           OVER (ORDER BY n DESC, tok ROWS UNBOUNDED PRECEDING) AS hi
  FROM counts),
v2 AS (SELECT tok, hi - w AS lo, hi FROM vocab),
tot AS (SELECT max(hi) AS total FROM vocab),
draws AS (
  SELECT doc_id, unnest(range(1, 4)) AS draw FROM d),
targets AS (
  SELECT doc_id, draw,
         (CAST(('0x' || substr(md5('neg|' || CAST(doc_id AS VARCHAR)
                                   || '|' || CAST(draw AS VARCHAR)),
                               1, 8)) AS UBIGINT) + 0.5)
           / 4294967296.0 * tot.total AS t
  FROM draws CROSS JOIN tot),
sampled AS (
  SELECT v2.tok FROM targets JOIN v2
    ON targets.t >= v2.lo AND targets.t < v2.hi)
SELECT tok AS token, count(*) AS n_sampled
FROM sampled GROUP BY 1
ORDER BY n_sampled DESC, token LIMIT 40
"""


def q296_multilabel(spark, sf_dir):
    """Multi-label metrics (operators/mleval.py:multilabel_metrics):
    order tag sets (priority + status) vs a deterministic predictor —
    micro P/R/F1 and mean row Jaccard from row-local set algebra, no
    explode.  The oracle replays with list_distinct/list_intersect."""
    from niamoto_spark.operators.mleval import multilabel_metrics

    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderpriority").isNotNull()
                & F.col("o_orderstatus").isNotNull()))
    pred_pri = (F.when(F.col("o_totalprice") > 180_000, "1-URGENT")
                .when(F.col("o_totalprice") > 60_000, "3-MEDIUM")
                .otherwise("5-LOW"))
    df = o.select(
        F.array("o_orderpriority", "o_orderstatus").alias("actual"),
        F.array(pred_pri, F.lit("O")).alias("pred"))
    return multilabel_metrics(df, "actual", "pred")


O_Q296 = """
WITH rows_ AS (
  SELECT list_distinct([o_orderpriority, o_orderstatus]) AS a,
         list_distinct([CASE WHEN o_totalprice > 180000 THEN '1-URGENT'
                             WHEN o_totalprice > 60000 THEN '3-MEDIUM'
                             ELSE '5-LOW' END, 'O']) AS p
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
m AS (
  SELECT len(list_intersect(a, p)) AS tp, len(a) AS na, len(p) AS np
  FROM rows_),
agg AS (
  SELECT count(*) AS n_rows, sum(tp) AS TP, sum(na) AS NA_,
         sum(np) AS NP_,
         avg(CASE WHEN na + np - tp > 0
                  THEN tp / CAST(na + np - tp AS DOUBLE)
                  ELSE 1.0 END) AS mj
  FROM m)
SELECT n_rows, CAST(TP AS BIGINT) AS tp,
       CAST(NP_ - TP AS BIGINT) AS fp, CAST(NA_ - TP AS BIGINT) AS fn,
       round(TP / CAST(NP_ AS DOUBLE), 4) AS micro_precision,
       round(TP / CAST(NA_ AS DOUBLE), 4) AS micro_recall,
       round(2.0 * (TP / CAST(NP_ AS DOUBLE))
             * (TP / CAST(NA_ AS DOUBLE))
             / ((TP / CAST(NP_ AS DOUBLE))
                + (TP / CAST(NA_ AS DOUBLE))), 4) AS micro_f1,
       round(mj, 4) AS mean_jaccard
FROM agg
"""


def q297_hashed_features(spark, sf_dir):
    """The hashing trick (operators/text.py:hashed_features): tokens
    into 128 md5 buckets, stateless and engine-independent — the
    train/serve featurization contract.  Corpus-level bucket mass,
    top 30; the oracle replays the md5 bucketing."""
    from niamoto_spark.operators.text import hashed_features

    d = _t(spark, sf_dir, "documents")
    hf = hashed_features(d, "doc_id", "text", dim=128)
    return (hf.groupBy("bucket")
            .agg(F.sum("n").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.col("n_tokens").desc(), "bucket").limit(30))


O_Q297 = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents),
b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 13)) AS UBIGINT) % 128
           AS bucket,
         count(*) AS n
  FROM toks WHERE tok <> ''
  GROUP BY 1, 2)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_docs
FROM b GROUP BY 1
ORDER BY n_tokens DESC, bucket LIMIT 30
"""


def q298_temporal_split(spark, sf_dir):
    """Temporal train/test split with embargo (operators/curation.py:
    temporal_split, the financial-ML purging guard): newest 20% by
    time is test, a 1-day embargo before the cutoff leaves training —
    per-split counts and time bounds.  The oracle replays the
    interpolated-quantile cutoff."""
    from niamoto_spark.operators.curation import temporal_split

    ev = _events(spark, sf_dir)
    s = temporal_split(ev, "ts_sec", test_frac=0.2, embargo_s=86_400.0)
    return (s.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("ts_sec").alias("t_min"),
                 F.max("ts_sec").alias("t_max")))


O_Q298 = """
WITH e AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
c AS (SELECT quantile_cont(CAST(t AS DOUBLE), 0.8) AS cutoff FROM e)
SELECT CASE WHEN t > c.cutoff THEN 'test'
            WHEN t > c.cutoff - 86400.0 THEN 'embargo'
            ELSE 'train' END AS split,
       count(*) AS n, min(t) AS t_min, max(t) AS t_max
FROM e CROSS JOIN c
GROUP BY 1
"""


def q299_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): revenue lost to customers
    who returned goods in a quarter, top 20 by revenue — fact filter
    pushed to the lineitem scan (l_returnflag = 'R'), dimensions
    broadcast, global top-k as TakeOrdered."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = (li.where(F.col("l_returnflag") == "R")
         .join(o.where((F.col("o_orderdate") >= "1996-01-01")
                       & (F.col("o_orderdate") < "1996-07-01")),
               F.col("l_orderkey") == F.col("o_orderkey"))
         .join(c, F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(n),
               F.col("c_nationkey") == F.col("n_nationkey")))
    return (j.groupBy("c_custkey", "c_name", "n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.round(F.max("c_acctbal"), 2).alias("c_acctbal"))
            .orderBy(F.col("revenue").desc(), "c_custkey").limit(20))


O_Q299 = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(max(c_acctbal), 2) AS c_acctbal
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q300_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): LEFT join so
    zero-order customers appear in the 0 bucket — the
    aggregate-of-an-aggregate (count per customer, then customers per
    count) whose outer join no inner-join rewrite can express."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per = (c.join(o.where(F.col("o_orderpriority") != "1-URGENT"),
                  F.col("c_custkey") == F.col("o_custkey"), "left")
           .groupBy("c_custkey")
           .agg(F.count("o_orderkey").alias("c_count")))
    return (per.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


O_Q300 = """
WITH per AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
    AND o_orderpriority <> '1-URGENT'
  GROUP BY 1)
SELECT c_count, count(*) AS custdist
FROM per GROUP BY 1
ORDER BY custdist DESC, c_count DESC
"""


def q301_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): the supplier(s) achieving the MAXIMUM
    quarterly revenue — an aggregate joined against its own max, the
    classic view-self-reference; ties all surface (no arbitrary
    top-1)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (li.where((F.col("l_shipdate") >= "1996-01-01")
                    & (F.col("l_shipdate") < "1996-04-01"))
           .groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 2)
                .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (rev.join(F.broadcast(mx),
                     F.col("total_revenue") == F.col("mx"))
            .join(F.broadcast(s),
                  F.col("supplier_no") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey"))


O_Q301 = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q302_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds a threshold — the HAVING-driven semi join where the
    qualifying-keys aggregate (tiny) broadcasts back onto the facts,
    never the reverse."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sum_qty"))
           .where(F.col("sum_qty") > 250))
    return (o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", "c_custkey", "o_orderkey",
                    F.col("o_orderdate").cast("date").cast("string")
                    .alias("o_orderdate"),
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    F.round("sum_qty", 2).alias("sum_qty"))
            .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
            .limit(100))


O_Q302 = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(o_totalprice, 2) AS o_totalprice,
       round(sum_qty, 2) AS sum_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def q303_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity, adapted to this schema's
    columns): per nation group, customers with above-average positive
    balance and NO urgent orders — correlated-average filter + anti
    join, the dormant-rich-customer report (this generator gives every
    customer at least one order, so "no orders at all" is vacuous; the
    urgent-order variant keeps Q22's shape with a non-empty answer)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    avg_bal = (c.where(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("ab")))
    rich = (c.crossJoin(F.broadcast(avg_bal))
            .where(F.col("c_acctbal") > F.col("ab")))
    dormant = rich.join(
        o.where(F.col("o_orderpriority") == "1-URGENT"),
        F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return (dormant.groupBy((F.col("c_nationkey") % 5)
                            .alias("cntry_group"))
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.round(F.sum("c_acctbal"), 2).alias("totacctbal")))


O_Q303 = """
WITH ab AS (
  SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0),
dormant AS (
  SELECT c_nationkey, c_acctbal
  FROM customer CROSS JOIN ab
  WHERE c_acctbal > ab.ab
    AND NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT'))
SELECT CAST(c_nationkey AS BIGINT) % 5 AS cntry_group, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM dormant GROUP BY 1
"""


def q304_session_window(spark, sf_dir):
    """Native session windows (F.session_window, batch mode): per-user
    sessions with a 2-hour inactivity gap computed by Spark's builtin
    session-window aggregation — the declarative counterpart of q31's
    lag/flag/sum sessionization (same semantics, zero hand-rolled
    windows).  Per-user session census; the oracle replays the island
    construction in SQL."""
    ev = _events(spark, sf_dir).where(F.col("ts_sec").isNotNull())
    ts = F.timestamp_seconds(F.col("ts_sec"))
    sess = (ev.groupBy("user_id",
                       F.session_window(ts, "2 hours").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events")))
    return (sess.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum("n_events").alias("n_events"),
                 F.max("n_events").alias("max_session_events")))


O_Q304 = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id
  FROM events WHERE ts IS NOT NULL),
f AS (
  SELECT user_id, t,
         CASE WHEN t - lag(t) OVER w <= 7200 THEN 0 ELSE 1 END
           AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
i AS (
  SELECT user_id, sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM f),
s AS (
  SELECT user_id, sid, count(*) AS n_events FROM i GROUP BY 1, 2)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       max(n_events) AS max_session_events
FROM s GROUP BY 1
"""


def q305_knn_classify(spark, sf_dir):
    """kNN classification over the embedding space
    (operators/clustering.py:knn_classify): vec_id < 30 held out,
    5-NN majority label from the rest, per-class accuracy — the
    zero-training embedding-quality baseline.  The oracle refits the
    entire dot-product ranking and majority vote in SQL."""
    from niamoto_spark.operators.clustering import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    test = emb.where(F.col("vec_id") < 30)
    train = emb.where(F.col("vec_id") >= 30)
    pred = knn_classify(train, test, "vec_id", "embedding", "label",
                        k=5)
    truth = test.select("vec_id", F.col("label").alias("true_label"))
    j = pred.join(truth, "vec_id")
    # NULL-safe correctness: a NULL true label never counts as correct
    # (0, not NULL) — mirrors the oracle's CASE WHEN ... ELSE 0
    return (j.groupBy("true_label")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("pred_label")
                              == F.col("true_label"), 1)
                       .otherwise(0).cast("long")).alias("n_correct")))


O_Q305 = """
WITH flat AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE embedding IS NOT NULL),
scores AS (
  SELECT q.vec_id AS qid, t.vec_id AS tid,
         max(t.label) AS lbl,
         sum(q.x * t.x ORDER BY q.dim) AS score
  FROM flat q JOIN flat t ON q.dim = t.dim
  WHERE q.vec_id < 30 AND t.vec_id >= 30 AND t.label IS NOT NULL
  GROUP BY 1, 2),
nn AS (
  SELECT qid, lbl,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, tid) AS rn
  FROM scores),
votes AS (
  SELECT qid, lbl, count(*) AS votes FROM nn WHERE rn <= 5
  GROUP BY 1, 2),
pred AS (
  SELECT qid, lbl AS pred_label,
         row_number() OVER (PARTITION BY qid
                            ORDER BY votes DESC, lbl) AS rn
  FROM votes)
SELECT e.label AS true_label, count(*) AS n,
       CAST(sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct
FROM pred p JOIN embeddings e ON p.qid = e.vec_id
WHERE p.rn = 1
GROUP BY 1
"""


def q306_silhouette(spark, sf_dir):
    """Clustering quality via simplified silhouette
    (operators/clustering.py:silhouette_simplified): k-means
    centroids (deterministic init, 2 Lloyd rounds), then per-cluster
    mean (b − a)/max(a, b) against own vs nearest-other centroid —
    the O(n·k) surrogate for the O(n²) exact silhouette.  The oracle
    refits the SAME k-means (both Lloyd rounds) and the silhouette
    algebra in SQL."""
    from niamoto_spark.operators.clustering import (kmeans_fit,
                                                    silhouette_simplified)

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=4, iters=1)
    return (silhouette_simplified(emb, "vec_id", "embedding", cents)
            .orderBy("cluster_id"))


O_Q306 = """
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
init_ids AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
             AS cluster_id, vec_id
  FROM (SELECT DISTINCT vec_id FROM flat) ORDER BY vec_id LIMIT 4),
init AS (
  SELECT i.cluster_id, f.dim, f.x AS c
  FROM init_ids i JOIN flat f ON i.vec_id = f.vec_id),
a0 AS (
  SELECT f.vec_id, i.cluster_id,
         sum((f.x - i.c) * (f.x - i.c)) AS d2
  FROM flat f JOIN init i ON f.dim = i.dim
  GROUP BY 1, 2),
asg0 AS (
  SELECT vec_id, cluster_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2, cluster_id) AS rn
  FROM a0),
cents AS (
  SELECT a.cluster_id, f.dim, avg(f.x) AS c
  FROM asg0 a JOIN flat f ON a.vec_id = f.vec_id
  WHERE a.rn = 1
  GROUP BY 1, 2),
d AS (
  SELECT f.vec_id, c.cluster_id AS cid,
         sqrt(sum((f.x - c.c) * (f.x - c.c))) AS dist
  FROM flat f JOIN cents c ON f.dim = c.dim
  GROUP BY 1, 2),
ranked AS (
  SELECT vec_id, cid, dist,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist, cid) AS rn
  FROM d),
ab AS (
  SELECT r1.vec_id, r1.cid AS cluster_id, r1.dist AS a, r2.dist AS b
  FROM ranked r1 JOIN ranked r2
    ON r1.vec_id = r2.vec_id AND r1.rn = 1 AND r2.rn = 2)
SELECT cluster_id, count(*) AS n,
       round(avg(CASE WHEN GREATEST(a, b) > 0
                      THEN (b - a) / GREATEST(a, b)
                      ELSE 0.0 END), 4) AS mean_silhouette
FROM ab GROUP BY 1 ORDER BY 1
"""


def q307_agg_surface(spark, sf_dir):
    """Ordered-aggregate surface: listagg (sorted string_agg), exact
    median, and conditional mass per nation over customer balances —
    cross-engine parity for the aggregate toolkit beyond sum/avg
    (complement of q57/q288 scalar surfaces).  The median is the
    SUM of the two middle order statistics (2·median), NOT the
    builtin: interpolated midpoints of 2-decimal money land exactly
    on .005 boundaries where Spark rounds the shortest-decimal repr
    half-up while DuckDB rounds the binary value down (the 4651.275
    lesson); the mid-sum stays on the 2-decimal grid and never
    touches a boundary."""
    c = _t(spark, sf_dir, "customer")
    arr = F.sort_array(F.collect_list(F.col("c_acctbal")
                                      .cast("double")))
    n_ = F.size(arr)
    med2 = (F.element_at(arr, ((n_ + 1) / 2).cast("int"))
            + F.element_at(arr, (n_ / 2 + 1).cast("int")))
    seg = (c.groupBy(F.col("c_nationkey").alias("nk"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(med2, 2).alias("med_bal_x2"),
                F.array_join(F.array_sort(F.collect_set("c_mktsegment")),
                             ",").alias("segments"),
                F.round(F.sum(F.when(F.col("c_acctbal") < 0,
                                     F.col("c_acctbal"))), 2)
                .alias("neg_mass")))
    return seg.orderBy("nk")


O_Q307 = """
-- FILTER clauses mirror collect_list/collect_set dropping NULLs; the
-- median indexes over the NON-NULL array length, not the row count
WITH g AS (
  SELECT c_nationkey AS nk,
         list_sort(list(CAST(c_acctbal AS DOUBLE))
                   FILTER (WHERE c_acctbal IS NOT NULL)) AS arr,
         count(*) AS n,
         list_sort(list(DISTINCT c_mktsegment)
                   FILTER (WHERE c_mktsegment IS NOT NULL)) AS segs,
         sum(CASE WHEN c_acctbal < 0 THEN c_acctbal END) AS neg
  FROM customer GROUP BY 1)
SELECT nk, n,
       round(arr[CAST((len(arr) + 1) // 2 AS INT)]
             + arr[CAST(len(arr) // 2 + 1 AS INT)], 2) AS med_bal_x2,
       array_to_string(segs, ',') AS segments,
       round(neg, 2) AS neg_mass
FROM g ORDER BY 1
"""


def q308_lateral_topn(spark, sf_dir):
    """SQL LATERAL correlated subquery: each nation's top-2 customers
    by balance via a per-row dependent subquery — the surface Spark
    4 and DuckDB both execute natively (the optimizer decorrelates it
    into the window plan q07-style code writes by hand).

    Dtype guard (found by tools/dtype_probe.py strkeys): when the
    correlated equality needs an implicit cast (string n_nationkey vs
    int c_nationkey), Spark 4.1's decorrelation silently pushes the
    per-group LIMIT as a GLOBAL TakeOrderedAndProject below the join —
    2 rows instead of top-2-per-nation, with no error.  An explicit
    CAST inside the predicate miscompiles identically; only a
    cast-free bare-attribute correlation rewrites correctly, so the
    key dtypes are aligned at view registration."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    ct = dict(cust.dtypes).get("c_nationkey")
    nt = dict(nat.dtypes).get("n_nationkey")
    if ct != nt:
        nat = nat.withColumn("n_nationkey", F.col("n_nationkey").cast(ct))
    cust.createOrReplaceTempView("customer_v")
    nat.createOrReplaceTempView("nation_v")
    return spark.sql("""
        SELECT n.n_name, t.c_name,
               round(t.c_acctbal, 2) AS c_acctbal
        FROM nation_v n,
        LATERAL (SELECT c_name, c_acctbal FROM customer_v c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
    """)


O_Q308 = """
SELECT n.n_name, t.c_name, round(t.c_acctbal, 2) AS c_acctbal
FROM nation n,
LATERAL (SELECT c_name, c_acctbal FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
"""


def q309_recursive_cte(spark, sf_dir):
    """Recursive CTE (WITH RECURSIVE, Spark 4.x): suppliers arranged
    in an implicit binary tree (parent = key / 2); the recursion
    computes every node's depth and the per-depth census + key
    checksum — transitive closure without the hand-rolled bfs_hops
    loop (q-lane 149), in the SAME SQL both engines run."""
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_v")
    return spark.sql("""
        WITH RECURSIVE tree (k, depth) AS (
            -- keys cast integral at the seed so the recursion and the
            -- key_sum checksum keep numeric semantics when the dtype
            -- probe string-codes s_suppkey (sum(varchar) differs)
            SELECT CAST(s_suppkey AS BIGINT), 0
            FROM supplier_v WHERE s_suppkey = 1
            UNION ALL
            SELECT CAST(s.s_suppkey AS BIGINT), t.depth + 1
            FROM supplier_v s JOIN tree t
              ON CAST(floor(s.s_suppkey / 2.0) AS BIGINT) = t.k
             AND s.s_suppkey > 1
        )
        SELECT depth, count(*) AS n, sum(k) AS key_sum
        FROM tree GROUP BY depth
    """)


O_Q309 = """
WITH RECURSIVE tree (k, depth) AS (
    SELECT CAST(s_suppkey AS BIGINT), 0
    FROM supplier WHERE CAST(s_suppkey AS BIGINT) = 1
    UNION ALL
    SELECT CAST(s.s_suppkey AS BIGINT), t.depth + 1
    FROM supplier s JOIN tree t
      ON CAST(floor(CAST(s.s_suppkey AS DOUBLE) / 2.0) AS BIGINT) = t.k
     AND CAST(s.s_suppkey AS BIGINT) > 1
)
SELECT depth, count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum
FROM tree GROUP BY depth
"""


def q310_xml_ingest(spark, sf_dir):
    """XML ingestion (F.from_xml, built into Spark 4): orders rendered
    as XML order documents, parsed back through a typed schema,
    aggregated per status.  DuckDB has no XML parser, so the oracle
    computes the aggregate DIRECTLY from orders — the match proves
    from_xml exactly inverts the render (the q294 access-log
    pattern)."""
    o = _t(spark, sf_dir, "orders")
    xml = o.select(F.concat(
        F.lit("<order><id>"), F.col("o_orderkey"),
        F.lit("</id><status>"), F.col("o_orderstatus"),
        F.lit("</status><total>"),
        F.format_number(F.col("o_totalprice"), 2),
        F.lit("</total></order>")).alias("doc"))
    # concat nulls the whole doc when any field is NULL: only rendered
    # docs reach the parser (both engines)
    parsed = (xml.where(F.col("doc").isNotNull())
              .select(F.from_xml(
                  "doc", "id BIGINT, status STRING, total STRING")
                  .alias("p")).select("p.*"))
    amount = F.regexp_replace("total", ",", "").cast("double")
    return (parsed.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("id").alias("max_id"),
                 F.round(F.sum(amount), 2).alias("total_amount")))


O_Q310 = """
SELECT o_orderstatus AS status, count(*) AS n,
       max(o_orderkey) AS max_id,
       round(sum(round(o_totalprice, 2)), 2) AS total_amount
FROM orders
WHERE o_orderkey IS NOT NULL AND o_orderstatus IS NOT NULL
  AND o_totalprice IS NOT NULL
GROUP BY 1
"""


def q311_masking(spark, sf_dir):
    """Column masking policies (operators/privacy.py:apply_masking):
    customers shared with names pseudonymized (salted md5 token),
    balances coarsened to 10s, segment suppressed — row-preserving
    governance beside the aggregate guards (q223/q167).  The oracle
    replays every mask, and the pseudonym JOIN-stability is pinned by
    counting distinct tokens == distinct names."""
    from niamoto_spark.operators.privacy import apply_masking

    c = _t(spark, sf_dir, "customer")
    m = apply_masking(c, {"c_name": "pseudonym",
                          "c_acctbal": "bucket10",
                          "c_mktsegment": "null"}, salt="s1")
    return (m.groupBy(F.col("c_acctbal").alias("bal_bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("c_name").alias("n_tokens"),
                 F.min("c_name").alias("first_token"),
                 F.max("c_mktsegment").alias("seg_leak")))


O_Q311 = """
WITH m AS (
  SELECT substr(md5('s1' || c_name), 1, 12) AS tok,
         CAST(floor(c_acctbal / 10) * 10 AS DOUBLE) AS bal
  FROM customer)
SELECT bal AS bal_bucket, count(*) AS n,
       count(DISTINCT tok) AS n_tokens, min(tok) AS first_token,
       CAST(NULL AS VARCHAR) AS seg_leak
FROM m GROUP BY 1
"""


def q312_forecast_eval(spark, sf_dir):
    """Forecast accuracy (operators/mleval.py:forecast_accuracy):
    Holt-free baseline shootout on per-type daily means — predict
    each day with the PREVIOUS day (naive-1) and score sMAPE/MASE
    against the naive baseline itself (MASE == 1 by construction for
    the naive model: the self-test that pins the metric's scaling).
    The oracle replays the lag features and both metrics."""
    from niamoto_spark.operators.mleval import forecast_accuracy
    from pyspark.sql import Window

    ev = (_events(spark, sf_dir)
          .where(F.col("ts_sec").isNotNull()
                 & F.col("event_type").isNotNull()))
    daily = (ev.groupBy("event_type",
                        F.floor(F.col("ts_sec") / 86_400)
                        .cast("long").alias("day"))
             .agg(F.avg("value").alias("y")))
    w = Window.partitionBy("event_type").orderBy("day")
    feats = (daily.withColumn("pred", F.lag("y").over(w))
             .withColumn("naive_err",
                         F.abs(F.col("y") - F.lag("y").over(w)))
             .where(F.col("pred").isNotNull()))
    return forecast_accuracy(feats, "event_type", "y", "pred",
                             "naive_err")


O_Q312 = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
         avg(value) AS y
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2),
f AS (
  SELECT event_type, y,
         lag(y) OVER (PARTITION BY event_type ORDER BY day) AS pred
  FROM daily)
SELECT event_type, count(*) AS n,
       round(avg(abs(y - pred)), 4) AS mae,
       round(avg(CASE WHEN abs(y) + abs(pred) > 0
                      THEN 2 * abs(y - pred) / (abs(y) + abs(pred))
                      ELSE 0.0 END), 4) AS smape,
       round(CAST(CASE WHEN avg(abs(y - pred)) > 0
                       THEN 1.0 ELSE 0.0 END AS DOUBLE), 4) AS mase
FROM f WHERE pred IS NOT NULL
GROUP BY 1
"""


def q313_rbo(spark, sf_dir):
    """Rank-Biased Overlap (operators/retrieval.py:rbo_similarity):
    per-nation brand-revenue rankings from two half-years compared
    with the top-weighted RBO measure — how stable is each market's
    brand order?  The oracle replays ranking construction, the
    matched-pair join and the p^(d-1)/d expansion."""
    from pyspark.sql import Window

    from niamoto_spark.operators.retrieval import rbo_similarity

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    base = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(p),
                  F.col("l_partkey") == F.col("p_partkey"))
            .select(F.col("c_nationkey").alias("nk"), "p_brand",
                    F.year("o_orderdate").alias("yr"),
                    (F.col("l_extendedprice")
                     * (1 - F.col("l_discount"))).alias("rev")))

    def ranking(pred):
        w = Window.partitionBy("nk").orderBy(
            F.col("rev").desc(), "p_brand")
        return (base.where(pred).groupBy("nk", "p_brand")
                .agg(F.sum("rev").alias("rev"))
                .withColumn("rnk", F.row_number().over(w)))

    ra = ranking(F.col("yr") <= 1997)
    rb = ranking(F.col("yr") >= 1998)
    return (rbo_similarity(ra, rb, "nk", "p_brand", "rnk",
                           depth=10, p=0.9)
            .orderBy("nk"))


O_Q313 = """
WITH base AS (
  SELECT c_nationkey AS nk, p_brand,
         year(o_orderdate) AS yr,
         l_extendedprice * (1 - l_discount) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN part ON l_partkey = p_partkey),
ra AS (
  SELECT nk, p_brand,
         row_number() OVER (PARTITION BY nk
                            ORDER BY sum(rev) DESC, p_brand) AS ra
  FROM base WHERE yr <= 1997 GROUP BY nk, p_brand),
rb AS (
  SELECT nk, p_brand,
         row_number() OVER (PARTITION BY nk
                            ORDER BY sum(rev) DESC, p_brand) AS rb
  FROM base WHERE yr >= 1998 GROUP BY nk, p_brand),
m AS (
  SELECT ra.nk, GREATEST(ra.ra, rb.rb) AS s
  FROM ra JOIN rb ON ra.nk = rb.nk AND ra.p_brand = rb.p_brand
  WHERE ra.ra <= 10 AND rb.rb <= 10),
expanded AS (
  SELECT nk, unnest(range(s, 11)) AS d FROM m),
per AS (
  SELECT nk, round(sum(pow(0.9, d - 1) / d) * 0.1, 4) AS rbo
  FROM expanded GROUP BY 1),
nm AS (SELECT nk, count(*) AS n_matched FROM m GROUP BY 1)
SELECT nm.nk, nm.n_matched, coalesce(per.rbo, 0.0) AS rbo
FROM nm LEFT JOIN per ON nm.nk = per.nk
"""


def q314_calendar_spine(spark, sf_dir):
    """Date-spine calendar join (the dbt date-dimension staple): a
    dense day sequence over the order date range, engine-neutral
    weekday arithmetic (days-since-Monday-epoch mod 7 — Spark and
    DuckDB disagree on dayofweek numbering), month-end flags, LEFT
    join to daily revenue so no-order days surface as zeros.  Monthly
    rollup counts them."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(F.min(F.col("o_orderdate").cast("date")).alias("lo"),
                   F.max(F.col("o_orderdate").cast("date")).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day"))
    dow = F.pmod(F.datediff(F.col("day"),
                            F.lit("1970-01-05").cast("date")), 7)
    cal = (spine.withColumn("dow", dow)
           .withColumn("is_month_end",
                       (F.col("day") == F.last_day("day")).cast("int")))
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.sum("o_totalprice").alias("rev")))
    j = cal.join(daily, "day", "left")
    return (j.groupBy(F.date_format("day", "yyyy-MM").alias("month"))
            .agg(F.count(F.lit(1)).alias("n_days"),
                 F.sum((F.col("n_orders").isNull()).cast("long"))
                 .alias("dead_days"),
                 F.sum(F.when(F.col("dow") >= 5,
                              F.coalesce("rev", F.lit(0.0)))
                       .otherwise(0.0)).cast("double").alias("__we"),
                 F.round(F.sum(F.coalesce("rev", F.lit(0.0))), 2)
                 .alias("revenue"))
            .select("month", "n_days", "dead_days",
                    F.round(F.col("__we"), 2).alias("weekend_revenue"),
                    "revenue"))


O_Q314 = """
WITH bounds AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS lo,
         CAST(max(o_orderdate) AS DATE) AS hi
  FROM orders),
spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
           AS day
  FROM bounds),
cal AS (
  SELECT day,
         CAST(date_diff('day', DATE '1970-01-05', day) % 7 + 7 AS INT)
           % 7 AS dow,
         CASE WHEN day = last_day(day) THEN 1 ELSE 0 END
           AS is_month_end
  FROM spine),
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
         sum(o_totalprice) AS rev
  FROM orders GROUP BY 1)
SELECT strftime(cal.day, '%Y-%m') AS month, count(*) AS n_days,
       CAST(sum(CASE WHEN daily.n_orders IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS dead_days,
       round(sum(CASE WHEN cal.dow >= 5
                      THEN coalesce(daily.rev, 0.0) ELSE 0.0 END), 2)
         AS weekend_revenue,
       round(sum(coalesce(daily.rev, 0.0)), 2) AS revenue
FROM cal LEFT JOIN daily ON cal.day = daily.day
GROUP BY 1
"""


def q315_rolling_active(spark, sf_dir):
    """Rolling 7-day active users + DAU/WAU stickiness
    (operators/timeseries.py:rolling_active_users): each (user, day)
    activity row spreads into a CONSTANT 7 window buckets (explode
    bounded by the window, never the data), one distinct count per
    day.  The oracle replays the spread and both counts."""
    from niamoto_spark.operators.timeseries import rolling_active_users

    ev = _events(spark, sf_dir)
    return rolling_active_users(ev, "user_id", "ts_sec",
                                window_days=7)


O_Q315 = """
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS d
  FROM events),
bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM act),
spread AS (
  SELECT user_id, unnest(range(d, d + 7)) AS day FROM act),
rolling AS (
  SELECT day, count(DISTINCT user_id) AS rolling_active
  FROM spread GROUP BY 1),
dau AS (
  SELECT d AS day, count(DISTINCT user_id) AS dau FROM act GROUP BY 1)
SELECT r.day, coalesce(dau.dau, 0) AS dau, r.rolling_active,
       round(coalesce(dau.dau, 0)
             / CAST(r.rolling_active AS DOUBLE), 4) AS stickiness
FROM rolling r LEFT JOIN dau ON r.day = dau.day
CROSS JOIN bounds
WHERE r.day >= bounds.lo + 6 AND r.day <= bounds.hi
"""


def q316_embedding_drift(spark, sf_dir):
    """Embedding drift (operators/drift.py:embedding_drift): centroid
    distance and norm ratio between the first and second half of the
    embedding corpus, per label — the linear-cost embedding-space
    monitor.  The oracle refits both per-dim centroids and the
    distance algebra."""
    from niamoto_spark.operators.drift import embedding_drift

    emb = _t(spark, sf_dir, "embeddings")
    mid = emb.agg(F.expr("percentile(vec_id, 0.5)")).first()[0]
    ref = emb.where(F.col("vec_id") <= mid)
    cur = emb.where(F.col("vec_id") > mid)
    return (embedding_drift(ref, cur, "embedding", group_col="label")
            .orderBy("label"))


O_Q316 = """
WITH mid AS (
  SELECT quantile_cont(CAST(vec_id AS DOUBLE), 0.5) AS m
  FROM embeddings),
flat AS (
  SELECT label, vec_id, generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
r AS (
  SELECT label AS grp, dim, avg(x) AS m_ref,
         count(*) AS n_ref
  FROM flat CROSS JOIN mid WHERE vec_id <= mid.m GROUP BY 1, 2),
c AS (
  SELECT label AS grp, dim, avg(x) AS m_cur,
         count(*) AS n_cur
  FROM flat CROSS JOIN mid WHERE vec_id > mid.m GROUP BY 1, 2)
SELECT r.grp AS label, max(r.n_ref) AS n_ref, max(c.n_cur) AS n_cur,
       round(sqrt(sum((r.m_ref - c.m_cur) * (r.m_ref - c.m_cur))), 4)
         AS centroid_dist,
       round(sqrt(sum(c.m_cur * c.m_cur))
             / sqrt(sum(r.m_ref * r.m_ref)), 4)
         AS centroid_norm_ratio
FROM r JOIN c ON r.grp = c.grp AND r.dim = c.dim
GROUP BY 1 ORDER BY 1
"""


def q317_stream_ohlc(spark, sf_dir):
    """Streaming OHLC bars: the round-8 min_by/max_by candlestick
    aggregation running as a WATERMARKED streaming query (availableNow
    drain) — stream==batch parity for ordered aggregates, extending
    the streaming lane beyond counts/distinct (q54/q263).  Oracle:
    the batch OHLC SQL."""
    import shutil
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    stream_dir = os.path.join(
        tempfile.gettempdir(),
        "niamoto_sohlc_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(stream_dir):
        shutil.rmtree(stream_dir)
    os.makedirs(stream_dir)
    _link_parquet_source(src, stream_dir, "events")
    schema = spark.read.parquet(src).schema
    stream = _ts_to_timestamp(
        spark.readStream.schema(schema).parquet(stream_dir))
    tsec = F.unix_timestamp("ts").cast("double")
    # struct order key: same ADVICE-r8 fix as ohlc_bars — the old
    # BIGINT composite collided for event ids congruent mod 1e6
    ok = F.struct(tsec.alias("t"),
                  F.col("event_id").cast("double").alias("tb"))
    day = F.timestamp_seconds(
        F.floor(F.unix_timestamp("ts") / 86_400) * 86_400)
    # bars are over PRICED events with a usable ordering key: a NULL
    # value has no place in open/high/low/close (min_by would return
    # it), and a NULL event_id breaks the deterministic open/close
    # tiebreak (DuckDB's arg_min skips NULL keys; Spark's struct
    # ordering doesn't) — both are excluded, both engines
    bars = (stream.where(F.col("value").isNotNull()
                         & F.col("event_id").isNotNull())
            .withColumn("__day", day).withColumn("__ok", ok)
            .withWatermark("__day", "1 hour")
            .groupBy("__day", "event_type")
            .agg(F.round(F.min_by("value", "__ok"), 4).alias("open"),
                 F.round(F.max("value"), 4).alias("high"),
                 F.round(F.min("value"), 4).alias("low"),
                 F.round(F.max_by("value", "__ok"), 4).alias("close"),
                 F.count(F.lit(1)).alias("n")))
    qname = "q317_sohlc"
    for q_ in [q_ for q_ in spark.streams.active if q_.name == qname]:
        q_.stop()
    q = (bars.writeStream.format("memory").queryName(qname)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(qname)
            .select((F.unix_timestamp("__day") / 86_400)
                    .cast("long").alias("bucket"),
                    "event_type", "open", "high", "low", "close", "n"))


O_Q317 = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         value AS v,
         CAST(CAST(floor(epoch(ts)) AS BIGINT) AS HUGEINT)
           * 1099511627776 + event_id AS ok
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    AND event_id IS NOT NULL)
SELECT CAST(floor(t / 86400.0) AS BIGINT) AS bucket, event_type,
       round(arg_min(v, ok), 4) AS open, round(max(v), 4) AS high,
       round(min(v), 4) AS low, round(arg_max(v, ok), 4) AS close,
       count(*) AS n
FROM e GROUP BY 1, 2
"""


def q318_emd_drift(spark, sf_dir):
    """1-D Earth Mover's Distance (operators/drift.py:emd_1d) between
    urgent and low-priority order totals, pre-bucketed to thousands to
    bound the value domain — the integral drift measure beside KS's
    supremum (q170 lane).  The oracle replays the CDF merge and the
    |ΔF|·gap integral."""
    from niamoto_spark.operators.drift import emd_1d

    o = _t(spark, sf_dir, "orders")
    k = (F.floor(F.col("o_totalprice") / 1000) * 1000).cast("double")
    a = o.where(F.col("o_orderpriority") == "1-URGENT") \
        .select(k.alias("v"))
    b = o.where(F.col("o_orderpriority") == "5-LOW").select(k.alias("v"))
    return emd_1d(a, b, "v")


O_Q318 = """
WITH a AS (
  SELECT CAST(floor(o_totalprice / 1000) * 1000 AS DOUBLE) AS v
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_totalprice IS NOT NULL),
b AS (
  SELECT CAST(floor(o_totalprice / 1000) * 1000 AS DOUBLE) AS v
  FROM orders
  WHERE o_orderpriority = '5-LOW' AND o_totalprice IS NOT NULL),
ca AS (SELECT v, count(*) AS ca FROM a GROUP BY 1),
cb AS (SELECT v, count(*) AS cb FROM b GROUP BY 1),
m AS (
  SELECT coalesce(ca.v, cb.v) AS v, coalesce(ca.ca, 0) AS ca,
         coalesce(cb.cb, 0) AS cb
  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
c AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
           / CAST(sum(ca) OVER () AS DOUBLE) AS fa,
         sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
           / CAST(sum(cb) OVER () AS DOUBLE) AS fb,
         lead(v) OVER (ORDER BY v) AS nxt,
         sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b
  FROM m)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(sum(abs(fa - fb) * (coalesce(nxt, v) - v)), 4) AS emd
FROM c GROUP BY 1, 2
"""


def q319_gini(spark, sf_dir):
    """Revenue inequality per nation (operators/aggregation.py:
    gini_coefficient): the Lorenz-rank identity
    G = 2Σi·x/(nΣx) − (n+1)/n over customer revenues — one ranked
    window per group.  Tie order cannot change the statistic (equal x
    swap ranks freely), so the oracle's arbitrary tie-break matches."""
    from niamoto_spark.operators.aggregation import gini_coefficient

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (o.join(c, F.col("o_custkey") == F.col("c_custkey"))
           .groupBy("c_nationkey", "c_custkey")
           .agg(F.sum("o_totalprice").alias("rev")))
    return (gini_coefficient(rev, "c_nationkey", "rev")
            .orderBy("c_nationkey"))


O_Q319 = """
WITH rev AS (
  SELECT c_nationkey, c_custkey, sum(o_totalprice) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
ranked AS (
  -- the operator's documented population: non-NULL, non-negative
  -- values only (a customer whose every total went NULL has no rank)
  SELECT c_nationkey AS g, rev AS x,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY rev, c_custkey) AS i
  FROM rev WHERE rev IS NOT NULL AND rev >= 0),
agg AS (
  SELECT g, count(*) AS n, sum(x) AS tot, sum(i * x) AS iwx
  FROM ranked GROUP BY 1)
SELECT g AS c_nationkey, n, round(tot, 2) AS total,
       round(CASE WHEN tot > 0
                  THEN 2 * iwx / (n * tot)
                       - (n + 1) / CAST(n AS DOUBLE)
                  ELSE 0.0 END, 4) AS gini
FROM agg ORDER BY 1
"""


def q320_hhi(spark, sf_dir):
    """Market concentration (operators/aggregation.py:
    hhi_concentration): per-region supplier revenue HHI (Σ share²)
    and effective-competitor count 1/HHI — two stacked aggregates on
    a shared key prefix.  The oracle replays the share algebra."""
    from niamoto_spark.operators.aggregation import hhi_concentration

    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    base = (li.join(F.broadcast(s),
                    F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(n),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select(F.col("n_regionkey").alias("region"),
                    "l_suppkey",
                    (F.col("l_extendedprice")
                     * (1 - F.col("l_discount"))).alias("rev")))
    return (hhi_concentration(base, "region", "l_suppkey", "rev")
            .orderBy("region"))


O_Q320 = """
WITH per_firm AS (
  SELECT n_regionkey AS region, l_suppkey,
         sum(l_extendedprice * (1 - l_discount)) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2),
per_mkt AS (
  SELECT region, count(*) AS n_firms, sum(v) AS tot,
         sum(v * v) AS sq
  FROM per_firm GROUP BY 1)
SELECT region, n_firms, round(sq / (tot * tot), 4) AS hhi,
       round(CASE WHEN sq > 0 THEN tot * tot / sq ELSE 0.0 END, 4)
         AS effective_firms
FROM per_mkt ORDER BY 1
"""


def q321_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard per priority (operators/
    timeseries.py:nelson_aalen): the additive sibling of q175's
    Kaplan-Meier on the same duration/censoring frame, plus the
    Fleming-Harrington exp(−H) survival.  The oracle replays the
    at-risk window and hazard cumulative sum."""
    from niamoto_spark.operators.timeseries import nelson_aalen

    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull())
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")
         - F.lit(1992 * 12)).alias("dur"),
        (F.col("o_orderstatus") == "F").cast("int").alias("ev"))
    na = nelson_aalen(base, "dur", "ev", group_col="grp")
    return na.select("grp", F.col("t").cast("long").alias("t"),
                     "n_at_risk", "d", "cum_hazard", "fh_survival")


O_Q321 = """
WITH base AS (
  SELECT o_orderpriority AS grp,
         (year(o_orderdate) * 12 + month(o_orderdate)) - 1992 * 12 AS t,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS e
  FROM orders WHERE o_orderdate IS NOT NULL),
g AS (SELECT grp, t, CAST(sum(e) AS BIGINT) AS d, count(*) AS total
      FROM base GROUP BY 1, 2),
r AS (SELECT grp, t, d,
             CAST(sum(total) OVER (PARTITION BY grp ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_at_risk
      FROM g),
ev AS (SELECT * FROM r WHERE d > 0)
SELECT grp, CAST(t AS BIGINT) AS t, n_at_risk, d,
       round(sum(d / CAST(n_at_risk AS DOUBLE))
               OVER (PARTITION BY grp ORDER BY t
                     ROWS UNBOUNDED PRECEDING), 4) AS cum_hazard,
       round(exp(-sum(d / CAST(n_at_risk AS DOUBLE))
               OVER (PARTITION BY grp ORDER BY t
                     ROWS UNBOUNDED PRECEDING)), 4) AS fh_survival
FROM ev
"""


def q322_synthetic_source(spark, sf_dir):
    """Deterministic synthetic source (operators/synthetic.py:
    generate_rows, the dbgen shape): 20k rows of weighted categorical
    + Box-Muller normal + exponential, every value a pure function of
    md5(seed|id) — identical under any parallelism.  Per-category
    moments; the oracle REGENERATES the whole table from range() and
    the same md5 arithmetic."""
    from niamoto_spark.operators.synthetic import generate_rows

    syn = generate_rows(spark, 20_000,
                        {"web": 0.5, "code": 0.3, "books": 0.2},
                        exp_lambda=2.0)
    return (syn.groupBy("category")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("gauss"), 3).alias("gauss_mean"),
                 F.round(F.stddev_pop("gauss"), 3).alias("gauss_sd"),
                 F.round(F.avg("expo"), 3).alias("expo_mean")))


O_Q322 = """
WITH ids AS (SELECT unnest(range(0, 20000)) AS id),
u AS (
  SELECT id,
         (CAST(('0x' || substr(md5('syn|u1|' || id), 1, 8))
               AS UBIGINT) + 0.5) / 4294967296.0 AS u1,
         (CAST(('0x' || substr(md5('syn|u2|' || id), 1, 8))
               AS UBIGINT) + 0.5) / 4294967296.0 AS u2,
         (CAST(('0x' || substr(md5('syn|cat|' || id), 1, 8))
               AS UBIGINT) + 0.5) / 4294967296.0 AS uc
  FROM ids),
syn AS (
  SELECT id,
         CASE WHEN uc < 0.5 THEN 'web'
              WHEN uc < 0.8 THEN 'code'
              ELSE 'books' END AS category,
         sqrt(-2.0 * ln(u1)) * cos(6.283185307179586 * u2) AS gauss,
         -ln(u1) / 2.0 AS expo
  FROM u)
SELECT category, count(*) AS n,
       round(avg(gauss), 3) AS gauss_mean,
       round(stddev_pop(gauss), 3) AS gauss_sd,
       round(avg(expo), 3) AS expo_mean
FROM syn GROUP BY 1
"""


def q323_neyman(spark, sf_dir):
    """Neyman-optimal stratified sampling (operators/curation.py:
    neyman_allocation): per-priority order sample sized by N_h·S_h —
    noisy strata get more budget, the survey-sampling optimum
    (contrast q277's target-share rebalance).  The oracle replays the
    6dp-stddev quota arithmetic AND the md5 draw."""
    from niamoto_spark.operators.curation import neyman_allocation

    o = _t(spark, sf_dir, "orders")
    _sel, summary = neyman_allocation(
        o, "o_orderkey", "o_orderpriority", "o_totalprice",
        budget_rows=1000)
    return summary


O_Q323 = """
WITH st AS (
  SELECT o_orderpriority AS g, count(*) AS n,
         round(stddev_pop(CAST(o_totalprice AS DOUBLE)), 6) AS s
  FROM orders GROUP BY 1),
tw AS (SELECT sum(n * s) AS tot_w FROM st),
plan AS (
  SELECT g, n, s,
         CAST(CASE WHEN tw.tot_w > 0
                   THEN floor(1000 * n * s / tw.tot_w)
                   ELSE 0 END AS BIGINT) AS quota
  FROM st CROSS JOIN tw),
rated AS (
  SELECT g, n, s, quota,
         CASE WHEN n = 0 THEN 0.0
              ELSE LEAST(1.0, quota / CAST(n AS DOUBLE)) END AS rate
  FROM plan),
sel AS (
  SELECT o.o_orderpriority AS g, count(*) AS n_selected
  FROM orders o JOIN rated r ON o.o_orderpriority = r.g
  WHERE CAST(('0x' || substr(md5('ney|' || o.o_orderkey), 1, 8))
             AS UBIGINT) < r.rate * 4294967296.0
  GROUP BY 1)
SELECT r.g AS o_orderpriority, r.n AS n_avail, r.s AS stddev,
       r.quota, round(r.rate, 6) AS rate,
       coalesce(sel.n_selected, 0) AS n_selected
FROM rated r LEFT JOIN sel ON r.g = sel.g
"""


def q324_udtf_sentences(spark, sf_dir):
    """Python UDTF surface (Spark 4 @udtf): a table function splits
    each document into sentence rows with ordinals — the
    one-row-to-many shape (parse trees, token streams) that scalar
    UDFs can't express and posexplode can when the split is
    expressible, which is exactly what the oracle exploits: DuckDB
    replays the same sentence split declaratively, so the UDTF's
    row-expansion contract is value-checked end to end."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="doc_id: bigint, sent_no: int, n_chars: int")
    class SentenceSplit:
        def eval(self, doc_id: int, text: str):
            if text is None:
                return
            import re
            parts = [p for p in re.split(r"\.\s+", text) if p != ""]
            for i, p in enumerate(parts):
                yield doc_id, i + 1, len(p)

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    # the fixture text is period-free: plant a sentence boundary every
    # five words (same regex in the oracle) so ordinals do real work
    d = d.withColumn("text", F.regexp_replace(
        "text", r"(\S+ \S+ \S+ \S+ \S+) ", "$1. "))
    d.createOrReplaceTempView("docs_udtf_v")
    spark.udtf.register("sentence_split", SentenceSplit)
    rows = spark.sql("""
        SELECT s.doc_id, s.sent_no, s.n_chars
        FROM docs_udtf_v d,
        LATERAL sentence_split(d.doc_id, d.text) s
    """)
    return (rows.groupBy("sent_no")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("chars_total"),
                 F.max("n_chars").alias("longest")))


O_Q324 = r"""
WITH sent AS (
  SELECT doc_id,
         regexp_replace(text, '(\S+ \S+ \S+ \S+ \S+) ', '\1. ', 'g')
           AS text
  FROM documents WHERE doc_id < 200),
parts AS (
  SELECT doc_id, unnest(string_split_regex(text, '\.\s+')) AS p,
         generate_subscripts(string_split_regex(text, '\.\s+'), 1)
           AS sent_no
  FROM sent),
s AS (
  SELECT doc_id, sent_no, len(p) AS n_chars FROM parts WHERE p <> '')
SELECT sent_no, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       max(n_chars) AS longest
FROM s GROUP BY 1
"""


def q325_decimal_exact(spark, sf_dir):
    """Exact DECIMAL(38,2) aggregation — TPC-H Q1 reshaped with every
    money sum carried in decimal, no float rounding anywhere: the
    cross-engine result must match to the last cent BY TYPE, the
    guarantee financial rollups need and double sums only approximate
    (q214's cohort-LTV lesson generalized to the headline query)."""
    li = _t(spark, sf_dir, "lineitem")
    # inputs at DECIMAL(18,2): the (18,2)x(18,2) product is an EXACT
    # (37,4) — at (38,2) inputs the multiply overflows 38 digits and
    # Spark rounds the intermediate (allowPrecisionLoss), which is
    # where the one-cent cross-engine drift came from
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(price).cast("decimal(38,2)").alias("sum_price"),
                 F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
                 .cast("decimal(38,2)").alias("sum_disc_price")))


O_Q325 = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
            AS DECIMAL(38,2)) AS sum_price,
       -- DuckDB's decimal CAST truncates on scale reduction; round()
       -- rounds half-up like Spark's decimal cast, so round first
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2))
                         - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DECIMAL(38,2)) AS sum_disc_price
FROM lineitem GROUP BY 1, 2
"""


def q326_edit_distance(spark, sf_dir):
    """Edit-distance surface: levenshtein over all nation-name pairs
    (bounded 25x25) with the normalized similarity — the string-
    matching scalar both engines implement natively (the UDF-free
    core of linkage.fuzzy_pairs, pinned for parity)."""
    n = _t(spark, sf_dir, "nation")
    a = n.select(F.col("n_name").alias("na"))
    b = n.select(F.col("n_name").alias("nb"))
    pairs = a.crossJoin(b).where(F.col("na") < F.col("nb"))
    lev = F.levenshtein("na", "nb")
    sim = 1 - lev / F.greatest(F.length("na"), F.length("nb"))
    return (pairs.select("na", "nb", lev.alias("lev"),
                         F.round(sim, 4).alias("sim"))
            .orderBy("lev", "na", "nb").limit(40))


O_Q326 = """
SELECT a.n_name AS na, b.n_name AS nb,
       CAST(levenshtein(a.n_name, b.n_name) AS INT) AS lev,
       round(1 - levenshtein(a.n_name, b.n_name)
             / CAST(GREATEST(length(a.n_name), length(b.n_name))
                    AS DOUBLE), 4) AS sim
FROM nation a JOIN nation b ON a.n_name < b.n_name
ORDER BY lev, na, nb LIMIT 40
"""


def q327_ignore_nulls(spark, sf_dir):
    """IGNORE NULLS window surface: per customer, carry the last
    known non-null high-value order date forward (last_value IGNORE
    NULLS) and fetch the first one backward — the gap-bridging window
    semantics LOCF builds on (q188), pinned as a first-class
    surface."""
    from pyspark.sql import Window

    # LOCF carry needs a TOTAL per-customer order: NULL orderkeys tie
    # at equal dates and engines disagree whether a row sits before or
    # after the big-day row it would carry (rate-0.3 NULL probe find)
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey").isNotNull())
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    big_day = F.when(F.col("o_totalprice") > 200_000,
                     F.col("o_orderdate").cast("date"))
    e = o.withColumn(
        "last_big", F.last(big_day, ignorenulls=True).over(w))
    return (e.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("last_big").isNotNull().cast("long"))
                 .alias("n_carried"),
                 F.max("last_big").cast("string").alias("max_day")))


O_Q327 = """
WITH e AS (
  SELECT o_orderpriority,
         last_value(CASE WHEN o_totalprice > 200000
                         THEN CAST(o_orderdate AS DATE) END
                    IGNORE NULLS)
           OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
                 ROWS UNBOUNDED PRECEDING) AS last_big
  FROM orders WHERE o_orderkey IS NOT NULL)
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(CASE WHEN last_big IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_carried,
       CAST(max(last_big) AS VARCHAR) AS max_day
FROM e GROUP BY 1
"""


def q328_stream_quarantine(spark, sf_dir):
    """Streaming dead-letter quarantine: each micro-batch splits on a
    quality rule — clean rows commit to the main manifest table, the
    rest to a quarantine table WITH a reason column, both inside ONE
    foreachBatch so a crash can't admit a batch half-screened (the
    operational pattern between append_checked's all-or-nothing and
    silently dropping).  Oracle: the same predicate split in batch
    SQL over both destinations unioned."""
    import shutil
    import tempfile

    from niamoto_spark.sources import manifest as M

    src = os.path.join(sf_dir, "events.parquet")
    base = os.path.join(
        tempfile.gettempdir(),
        "niamoto_quar_" + sf_dir.strip("/").replace("/", "_"))
    if os.path.exists(base):
        shutil.rmtree(base)
    os.makedirs(base)
    stream_dir = os.path.join(base, "in")
    os.makedirs(stream_dir)
    _link_parquet_source(src, stream_dir, "events")
    good_t = os.path.join(base, "good")
    quar_t = os.path.join(base, "quarantine")
    ck = os.path.join(base, "ck")
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)

    bad_pred = (F.col("value").isNull() | (F.col("value") < 0)
                | (F.col("value") > 95))

    def route(batch_df, batch_id):
        v = M.current_version(good_t)
        if v >= 0 and M._read_manifest(
                good_t, v).get("batch_id") == batch_id:
            return
        slim = batch_df.select("event_id", "user_id", "event_type",
                               "value")
        bad = (slim.where(bad_pred)
               .withColumn("reason",
                           F.when(F.col("value").isNull(), "null")
                           .when(F.col("value") < 0, "negative")
                           .otherwise("outlier")))
        good = slim.where(~bad_pred)
        M.append(bad, quar_t, extra_meta={"batch_id": batch_id})
        M.append(good, good_t, extra_meta={"batch_id": batch_id})

    q = (stream.writeStream.foreachBatch(route)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    g = (M.read_table(spark, good_t).groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.round(F.sum("value"), 2).alias("value_sum"))
         .withColumn("dest", F.lit("good"))
         .withColumn("reason", F.lit(None).cast("string")))
    b = (M.read_table(spark, quar_t).groupBy("event_type", "reason")
         .agg(F.count(F.lit(1)).alias("n"),
              F.round(F.sum("value"), 2).alias("value_sum"))
         .withColumn("dest", F.lit("quarantine")))
    return g.unionByName(b, allowMissingColumns=True) \
        .select("dest", "event_type", "reason", "n", "value_sum")


O_Q328 = """
SELECT 'good' AS dest, event_type, CAST(NULL AS VARCHAR) AS reason,
       count(*) AS n, round(sum(value), 2) AS value_sum
FROM events
WHERE value IS NOT NULL AND value >= 0 AND value <= 95
GROUP BY 2
UNION ALL
SELECT 'quarantine', event_type,
       CASE WHEN value IS NULL THEN 'null'
            WHEN value < 0 THEN 'negative' ELSE 'outlier' END,
       count(*), round(sum(value), 2)
FROM events
WHERE value IS NULL OR value < 0 OR value > 95
GROUP BY 2, 3
"""


def q329_nested_struct(spark, sf_dir):
    """Nested document modeling: orders DENORMALIZED into an
    array<struct> of their lineitems (the document-store shape), then
    queried IN PLACE with higher-order functions — filter the nested
    array, fold a conditional sum, never re-explode.  The oracle
    replays with DuckDB list-of-struct lambdas — cross-engine parity
    for nested-data surgery."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    # complete items only: a NULL qty can't pass the filter lambda on
    # either engine, and a NULL price poisons F.aggregate folds that
    # DuckDB's list_aggregate silently skips (the q266 class)
    nested = (li.where(F.col("l_linenumber").isNotNull()
                       & F.col("l_quantity").isNotNull()
                       & F.col("l_extendedprice").isNotNull())
              .groupBy("l_orderkey")
              .agg(F.array_sort(F.collect_list(F.struct(
                  F.col("l_linenumber").alias("ln"),
                  F.col("l_quantity").alias("qty"),
                  F.col("l_extendedprice").alias("price"))))
                  .alias("items")))
    doc = o.join(nested, F.col("o_orderkey") == F.col("l_orderkey"))
    big = F.filter(F.col("items"), lambda x: x["qty"] >= 30)
    big_val = F.aggregate(big, F.lit(0.0),
                          lambda acc, x: acc + x["price"])
    return (doc.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.size("items")).alias("n_items"),
                 F.sum(F.size(big)).alias("n_big_items"),
                 F.round(F.sum(big_val), 2).alias("big_value")))


O_Q329 = """
WITH nested AS (
  SELECT l_orderkey,
         list_sort(list(struct_pack(ln := l_linenumber,
                                    qty := l_quantity,
                                    price := l_extendedprice)))
           AS items
  FROM lineitem
  WHERE l_linenumber IS NOT NULL AND l_quantity IS NOT NULL
    AND l_extendedprice IS NOT NULL
  GROUP BY 1),
doc AS (
  SELECT o.o_orderpriority, n.items,
         list_filter(n.items, x -> x.qty >= 30) AS big
  FROM orders o JOIN nested n ON o.o_orderkey = n.l_orderkey)
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(len(items)) AS BIGINT) AS n_items,
       CAST(sum(len(big)) AS BIGINT) AS n_big_items,
       round(sum(list_sum(list_transform(big, x -> x.price))
                 ), 2) AS big_value
FROM doc GROUP BY 1
"""


def q330_tags_normalize(spark, sf_dir):
    """Embedded-list normalization: a comma-packed tags column (the
    anti-pattern every warehouse inherits) split to rows, trimmed,
    emptied-filtered, frequency-counted with per-tag doc reach — the
    split-to-table surface.  Tags are planted deterministically from
    doc attributes so both engines build identical lists."""
    d = _t(spark, sf_dir, "documents")
    tagged = d.withColumn(
        "tags", F.concat(F.col("lang"), F.lit(", "), F.col("source"),
                         F.lit(",  len"), (F.col("n_chars") % 3),
                         F.lit(", ")))
    ex = (tagged.select("doc_id",
                        F.explode(F.split("tags", ",")).alias("raw"))
          .select("doc_id", F.trim(F.col("raw")).alias("tag"))
          .where(F.col("tag") != ""))
    return (ex.groupBy("tag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy(F.col("n").desc(), "tag").limit(30))


O_Q330 = """
WITH tagged AS (
  SELECT doc_id, lang || ', ' || source || ',  len'
           || (n_chars % 3) || ', ' AS tags
  FROM documents),
ex AS (
  SELECT doc_id, trim(unnest(string_split(tags, ','))) AS tag
  FROM tagged)
SELECT tag, count(*) AS n, count(DISTINCT doc_id) AS n_docs
FROM ex WHERE tag <> ''
GROUP BY 1 ORDER BY n DESC, tag LIMIT 30
"""


def q331_rolling_slope(spark, sf_dir):
    """Rolling trend slope (operators/timeseries.py:rolling_slope):
    per-user 7-sample OLS slope against real timestamps, folded over
    the frame array so the float arithmetic is array-ordered and
    engine-identical.  Per-user share of rising windows; the oracle
    replays the frame collection and the normal-equation fold."""
    from niamoto_spark.operators.timeseries import rolling_slope

    ev = (_events(spark, sf_dir)
          .where(F.col("ts_sec").isNotNull()
                 & F.col("event_id").isNotNull()
                 & F.col("value").isNotNull()))
    rs = rolling_slope(ev, "user_id", "ts_sec", "value", "event_id",
                       window=7)
    return (rs.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum((F.col("slope") > 0).cast("long"))
                 .alias("n_rising"),
                 F.sum(F.col("slope").isNull().cast("long"))
                 .alias("n_short")))


O_Q331 = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(value AS DOUBLE) AS v, event_id
  FROM events
  WHERE ts IS NOT NULL AND event_id IS NOT NULL
    AND value IS NOT NULL),
fr AS (
  SELECT user_id,
         list(struct_pack(t := CAST(t AS DOUBLE), y := v))
           OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr
  FROM e),
m AS (
  SELECT user_id, len(arr) AS k, arr[1].t AS tmin,
         list_sum(list_transform(arr, x -> x.t - arr[1].t)) AS st,
         list_sum(list_transform(arr, x -> x.y)) AS sy,
         list_sum(list_transform(arr, x -> (x.t - arr[1].t) * x.y))
           AS sty,
         list_sum(list_transform(arr,
             x -> (x.t - arr[1].t) * (x.t - arr[1].t))) AS stt
  FROM fr),
s AS (
  SELECT user_id,
         CASE WHEN k >= 2 AND k * stt - st * st <> 0
              THEN round((k * sty - st * sy) / (k * stt - st * st), 4)
              END AS slope
  FROM m)
SELECT user_id, count(*) AS n,
       coalesce(sum(CASE WHEN slope > 0 THEN 1 END), 0) AS n_rising,
       coalesce(sum(CASE WHEN slope IS NULL THEN 1 END), 0) AS n_short
FROM s GROUP BY 1
"""


def q332_percentile_bands(spark, sf_dir):
    """Daily p10/p50/p90 value bands per event type — the interpolated
    multi-quantile aggregate (Spark percentile == DuckDB
    quantile_cont: both sort-exact, so the bands value-match without
    any sum-order hazard).  The chart behind every latency/score
    dashboard."""
    ev = _events(spark, sf_dir)
    day = F.floor(F.col("ts_sec") / 86_400).cast("long")
    bands = (ev.groupBy("event_type", day.alias("day"))
             .agg(F.percentile(F.col("value").cast("double"),
                               F.array(F.lit(0.1), F.lit(0.5),
                                       F.lit(0.9))).alias("p"),
                  F.count(F.lit(1)).alias("n")))
    return bands.select(
        "event_type", "day", "n",
        F.round(F.element_at("p", 1), 4).alias("p10"),
        F.round(F.element_at("p", 2), 4).alias("p50"),
        F.round(F.element_at("p", 3), 4).alias("p90"))


O_Q332 = """
SELECT event_type,
       CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
       count(*) AS n,
       round(quantile_cont(CAST(value AS DOUBLE), 0.1), 4) AS p10,
       round(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS p50,
       round(quantile_cont(CAST(value AS DOUBLE), 0.9), 4) AS p90
FROM events GROUP BY 1, 2
"""


def q333_sssp(spark, sf_dir):
    """Bounded-round weighted shortest paths (operators/graph.py:
    sssp_rounds, Bellman-Ford with k=3): supplier graph weighted by
    1/co-order-count (frequent partners are 'close'), distances from
    supplier 1 — each round is one equi-join shuffle + per-node min.
    The oracle unrolls the SAME three relaxations as chained CTEs."""
    from niamoto_spark.operators.graph import sssp_rounds

    li = _t(spark, sf_dir, "lineitem")
    # node ids are integral supplier keys by contract: cast at graph
    # construction (dtype probe string-codes l_suppkey; the long seed
    # node would otherwise implicit-cast the whole lane's output)
    m = (li.select(F.col("l_orderkey").alias("grp"),
                   F.col("l_suppkey").cast("bigint").alias("item"))
         .distinct())
    a = m.select("grp", F.col("item").alias("sa"))
    b = m.select("grp", F.col("item").alias("sb"))
    pairs = (a.join(b, "grp").where(F.col("sa") < F.col("sb"))
             .groupBy("sa", "sb").agg(F.count(F.lit(1)).alias("cnt")))
    edges = (pairs.select(F.col("sa").alias("src"),
                          F.col("sb").alias("dst"),
                          (1.0 / F.col("cnt")).alias("w"))
             .unionByName(pairs.select(
                 F.col("sb").alias("src"), F.col("sa").alias("dst"),
                 (1.0 / F.col("cnt")).alias("w"))))
    src = spark.createDataFrame([(1,)], "node long")
    return sssp_rounds(edges, src, rounds=3).orderBy("node")


O_Q333 = """
WITH m AS (SELECT DISTINCT l_orderkey AS grp,
                           CAST(l_suppkey AS BIGINT) AS item
           FROM lineitem),
p AS (
  SELECT a.item AS sa, b.item AS sb, count(*) AS cnt
  FROM m a JOIN m b ON a.grp = b.grp AND a.item < b.item
  GROUP BY 1, 2),
e AS (
  SELECT sa AS s, sb AS d, 1.0 / cnt AS w FROM p
  UNION ALL
  SELECT sb, sa, 1.0 / cnt FROM p),
d0(n, dist) AS (VALUES (CAST(1 AS BIGINT), 0.0)),
d1 AS (
  SELECT n, min(dist) AS dist FROM (
    SELECT n, dist FROM d0
    UNION ALL
    SELECT e.d, d0.dist + e.w FROM d0 JOIN e ON d0.n = e.s)
  GROUP BY 1),
d2 AS (
  SELECT n, min(dist) AS dist FROM (
    SELECT n, dist FROM d1
    UNION ALL
    SELECT e.d, d1.dist + e.w FROM d1 JOIN e ON d1.n = e.s)
  GROUP BY 1),
d3 AS (
  SELECT n, min(dist) AS dist FROM (
    SELECT n, dist FROM d2
    UNION ALL
    SELECT e.d, d2.dist + e.w FROM d2 JOIN e ON d2.n = e.s)
  GROUP BY 1)
SELECT n AS node, round(dist, 4) AS dist FROM d3 ORDER BY node
"""


def q334_range_frames(spark, sf_dir):
    """RANGE window frames: per user, the count and value-sum of
    events in the TRAILING HOUR of event time (RANGE BETWEEN 3600
    PRECEDING) — value-based frames where the q257 ROWS lane counts
    rows; ties in ts all join the same frame, which is the semantic
    difference this query pins.  Checksummed per user in exact
    cents."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts_sec")
         .rangeBetween(-3600, 0))
    e = (ev.withColumn("n_1h", F.count(F.lit(1)).over(w))
         .withColumn("v_1h", F.sum("value").over(w)))
    cents = F.floor(F.col("v_1h") * 100 + 0.5).cast("long")
    return (e.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_1h").alias("sum_counts"),
                 F.sum(cents).alias("sum_cents")))


O_Q334 = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value
  FROM events),
f AS (
  SELECT user_id,
         count(*) OVER w AS n_1h,
         sum(value) OVER w AS v_1h
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW))
SELECT user_id, count(*) AS n,
       CAST(sum(n_1h) AS BIGINT) AS sum_counts,
       CAST(sum(CAST(floor(v_1h * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM f GROUP BY 1
"""


def q335_business_days(spark, sf_dir):
    """Business-day arithmetic: weekdays between order and ship dates,
    closed-form (full weeks x 5 + a mod-7 partial-week correction
    from the engine-neutral Monday-epoch weekday) — no calendar
    explode, no UDF, identical integer arithmetic on both engines.
    SLA distribution per priority."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
         .select("o_orderpriority",
                 F.datediff(F.col("l_shipdate").cast("date"),
                            F.lit("1970-01-05").cast("date"))
                 .alias("ds"),
                 F.datediff(F.col("o_orderdate").cast("date"),
                            F.lit("1970-01-05").cast("date"))
                 .alias("do_")))
    # weekdays in [a, b): count n in [a,b) with n%7 < 5
    def wd(upto):
        full = (upto / 7).cast("long") * 5
        rem = upto % 7
        return full + F.least(rem, F.lit(5))

    bdays = wd(F.col("ds")) - wd(F.col("do_"))
    return (j.where(F.col("ds") >= F.col("do_"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg(bdays), 4).alias("avg_bdays"),
                 F.max(bdays).alias("max_bdays")))


O_Q335 = """
WITH j AS (
  SELECT o_orderpriority,
         date_diff('day', DATE '1970-01-05',
                   CAST(l_shipdate AS DATE)) AS ds,
         date_diff('day', DATE '1970-01-05',
                   CAST(o_orderdate AS DATE)) AS do_
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
b AS (
  SELECT o_orderpriority,
         ((ds // 7) * 5 + LEAST(ds % 7, 5))
           - ((do_ // 7) * 5 + LEAST(do_ % 7, 5)) AS bdays
  FROM j WHERE ds >= do_)
SELECT o_orderpriority, count(*) AS n,
       round(avg(bdays), 4) AS avg_bdays,
       CAST(max(bdays) AS BIGINT) AS max_bdays
FROM b GROUP BY 1
"""


def q336_reconcile(spark, sf_dir):
    """Column-level reconciliation (operators/quality.py:
    reconcile_columns): a replica of orders with planted drift (price
    doubled on %13 keys, priority nulled on %17, %19 keys missing,
    extra keys present) reconciled against the source — per-column
    mismatch and null-skew counts plus the presence row.  The oracle
    recomputes every planted discrepancy from the base table."""
    from niamoto_spark.operators.quality import reconcile_columns

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority")
    a = o.where(F.col("o_orderkey") % 19 != 1)
    b = (o.where(F.col("o_orderkey") % 19 != 0)
         .withColumn("o_totalprice",
                     F.when(F.col("o_orderkey") % 13 == 0,
                            F.col("o_totalprice") * 2)
                     .otherwise(F.col("o_totalprice")))
         .withColumn("o_orderpriority",
                     F.when(F.col("o_orderkey") % 17 == 0, None)
                     .otherwise(F.col("o_orderpriority"))))
    return reconcile_columns(a, b, ["o_orderkey"]).orderBy("column")


O_Q336 = """
WITH a AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
  WHERE o_orderkey % 19 <> 1),
b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 17 = 0 THEN NULL
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 19 <> 0),
j AS (
  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k,
         a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
           AS in_both,
         a.o_orderkey IS NOT NULL AS pa, b.o_orderkey IS NOT NULL
           AS pb,
         a.o_totalprice AS pa_price, b.o_totalprice AS pb_price,
         a.o_orderpriority AS pa_pri, b.o_orderpriority AS pb_pri
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
SELECT * FROM (
  SELECT 'o_totalprice' AS "column",
         CAST(sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched,
         CAST(sum(CASE WHEN in_both
                        AND pa_price IS DISTINCT FROM pb_price
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
         CAST(sum(CASE WHEN in_both AND pa_price IS NULL
                        AND pb_price IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_null_a_only,
         CAST(sum(CASE WHEN in_both AND pb_price IS NULL
                        AND pa_price IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_null_b_only
  FROM j
  UNION ALL
  SELECT 'o_orderpriority',
         CAST(sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN in_both AND pa_pri IS DISTINCT FROM pb_pri
                       THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN in_both AND pa_pri IS NULL
                        AND pb_pri IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN in_both AND pb_pri IS NULL
                        AND pa_pri IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM j
  UNION ALL
  SELECT '__presence__',
         CAST(sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN NOT pb THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN NOT pa THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT)
  FROM j)
ORDER BY "column"
"""


def q337_cuped(spark, sf_dir):
    """CUPED variance reduction (operators/experiments.py:
    cuped_adjust): per-user post-period metric adjusted by the
    pre-period covariate, θ from one closed-form moment aggregate —
    raw vs adjusted arm difference and the (1 − ρ²) variance ratio.
    The oracle replays the moment algebra end to end."""
    from niamoto_spark.operators.experiments import cuped_adjust

    ev = _events(spark, sf_dir)
    mid = ev.agg(F.expr("percentile(ts_sec, 0.5)")).first()[0]
    per_user = (ev.groupBy("user_id")
                .agg(F.avg(F.when(F.col("ts_sec") <= mid,
                                  F.col("value"))).alias("x"),
                     F.avg(F.when(F.col("ts_sec") > mid,
                                  F.col("value"))).alias("y"))
                .where(F.col("x").isNotNull() & F.col("y").isNotNull())
                .withColumn("arm",
                            F.when(F.col("user_id") % 2 == 0, "T")
                            .otherwise("C")))
    return cuped_adjust(per_user, "arm", "y", "x", treatment="T")


O_Q337 = """
WITH mid AS (
  SELECT quantile_cont(CAST(floor(epoch(ts)) AS BIGINT), 0.5) AS m
  FROM events),
pu AS (
  SELECT user_id,
         avg(CASE WHEN floor(epoch(ts)) <= mid.m THEN value END) AS x,
         avg(CASE WHEN floor(epoch(ts)) > mid.m THEN value END) AS y,
         CASE WHEN user_id % 2 = 0 THEN 'T' ELSE 'C' END AS arm
  FROM events CROSS JOIN mid GROUP BY user_id, mid.m),
f AS (SELECT * FROM pu WHERE x IS NOT NULL AND y IS NOT NULL),
m AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx,
         sum(CASE WHEN arm = 'T' THEN 1 ELSE 0 END) AS nt,
         sum(CASE WHEN arm = 'T' THEN y ELSE 0 END) AS syt,
         sum(CASE WHEN arm = 'T' THEN x ELSE 0 END) AS sxt,
         sum(y * y) AS syy
  FROM f),
c AS (
  SELECT n, nt, n - nt AS nc, sx / n AS mx, sy / n AS my,
         sxx / n - (sx / n) * (sx / n) AS var_x,
         sxy / n - (sx / n) * (sy / n) AS cov,
         syy / n - (sy / n) * (sy / n) AS var_y,
         syt, sxt, sy, sx
  FROM m),
t AS (
  SELECT *, CASE WHEN var_x > 0 THEN cov / var_x ELSE 0.0 END AS th
  FROM c)
SELECT CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
       round(th, 6) AS theta,
       round(syt / nt - (sy - syt) / nc, 6) AS diff_raw,
       round((syt / nt - th * (sxt / nt - mx))
             - ((sy - syt) / nc - th * ((sx - sxt) / nc - mx)), 6)
         AS diff_adj,
       round(CASE WHEN var_x > 0 AND var_y > 0
                  THEN 1.0 - (cov * cov) / (var_x * var_y)
                  ELSE 1.0 END, 6) AS var_ratio
FROM t
"""


def q338_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR control (operators/experiments.py:
    bh_fdr): a 25-test battery (deterministic md5 pseudo p-values per
    nation — the PROCEDURE is what's pinned), ranked thresholds
    k/m·α, suffix-max rejection rule.  The oracle replays ranking,
    thresholds and the any-later-rank-passes rule."""
    from niamoto_spark.operators.experiments import bh_fdr

    n = _t(spark, sf_dir, "nation")
    tests = n.select(
        F.col("n_name").alias("test"),
        (F.conv(F.substring(F.md5(F.concat(F.lit("bh|"),
                                           F.col("n_name"))), 1, 8),
                16, 10).cast("double") / F.lit(float(2 ** 32)))
        .alias("p"))
    tests = tests.withColumn(
        "p", F.round(F.pow(F.col("p"), 2.0), 6))   # skew small p's in
    return bh_fdr(tests, "test", "p", alpha=0.2).orderBy("rank")


O_Q338 = """
WITH tests AS (
  SELECT n_name AS test,
         round(pow(CAST(('0x' || substr(md5('bh|' || n_name), 1, 8))
                        AS UBIGINT) / 4294967296.0, 2.0), 6) AS p
  FROM nation WHERE n_name IS NOT NULL),
m AS (SELECT count(*) AS m FROM tests),
ranked AS (
  SELECT test, p AS p_value,
         row_number() OVER (ORDER BY p, test) AS rank
  FROM tests),
flagged AS (
  SELECT r.test, r.p_value, r.rank,
         round(r.rank / CAST(m.m AS DOUBLE) * 0.2, 6) AS threshold,
         CASE WHEN r.p_value <= r.rank / CAST(m.m AS DOUBLE) * 0.2
              THEN 1 ELSE 0 END AS pass
  FROM ranked r CROSS JOIN m)
SELECT test, round(p_value, 6) AS p_value, rank, threshold,
       max(pass) OVER (ORDER BY rank DESC
                       ROWS UNBOUNDED PRECEDING) = 1 AS rejected
FROM flagged ORDER BY rank
"""


def q339_diff_in_diff(spark, sf_dir):
    """Difference-in-differences (operators/experiments.py:
    diff_in_diff): urgent vs low-priority orders, pre/post 1998 — the
    2x2 interaction from one cell aggregate.  The oracle replays the
    four means and the double difference."""
    from niamoto_spark.operators.experiments import diff_in_diff

    o = (_t(spark, sf_dir, "orders")
         .withColumn("grp", F.when(
             F.col("o_orderpriority") == "1-URGENT", "T").otherwise("C"))
         .withColumn("period", F.when(
             F.year("o_orderdate") >= 1998, "post").otherwise("pre")))
    return diff_in_diff(o, "grp", "period", "o_totalprice",
                        treated="T", post="post")


O_Q339 = """
WITH c AS (
  SELECT
    -- NULL-safe bucketing: when().otherwise() sends a NULL priority
    -- to control and a NULL date to "pre" — the plain SQL comparisons
    -- would silently drop those rows from every cell
    avg(CASE WHEN coalesce(o_orderpriority = '1-URGENT', FALSE)
              AND coalesce(year(o_orderdate) >= 1998, FALSE)
             THEN o_totalprice END) AS t_post,
    avg(CASE WHEN coalesce(o_orderpriority = '1-URGENT', FALSE)
              AND NOT coalesce(year(o_orderdate) >= 1998, FALSE)
             THEN o_totalprice END) AS t_pre,
    avg(CASE WHEN NOT coalesce(o_orderpriority = '1-URGENT', FALSE)
              AND coalesce(year(o_orderdate) >= 1998, FALSE)
             THEN o_totalprice END) AS c_post,
    avg(CASE WHEN NOT coalesce(o_orderpriority = '1-URGENT', FALSE)
              AND NOT coalesce(year(o_orderdate) >= 1998, FALSE)
             THEN o_totalprice END) AS c_pre
  FROM orders)
SELECT round(t_pre, 6) AS t_pre, round(t_post, 6) AS t_post,
       round(c_pre, 6) AS c_pre, round(c_post, 6) AS c_post,
       round(t_post - t_pre, 6) AS diff_treated,
       round(c_post - c_pre, 6) AS diff_control,
       round((t_post - t_pre) - (c_post - c_pre), 6) AS did
FROM c
"""


def q340_rdd(spark, sf_dir):
    """Sharp regression discontinuity (operators/experiments.py:
    rdd_estimate): a planted jump — value + 8 when totalprice crosses
    150k — recovered by local linear fits on each side of the cutoff
    (closed-form normal equations, one aggregate per side).  The
    oracle refits both sides and the jump."""
    from niamoto_spark.operators.experiments import rdd_estimate

    o = _t(spark, sf_dir, "orders").withColumn(
        "metric",
        F.col("o_totalprice") / 10_000
        + F.when(F.col("o_totalprice") >= 150_000, 8.0).otherwise(0.0))
    return rdd_estimate(o, "o_totalprice", "metric",
                        cutoff=150_000.0, bandwidth=60_000.0)


O_Q340 = """
WITH b AS (
  SELECT o_totalprice - 150000.0 AS x,
         o_totalprice / 10000
           + CASE WHEN o_totalprice >= 150000 THEN 8.0 ELSE 0.0 END
           AS y
  FROM orders
  WHERE abs(o_totalprice - 150000.0) <= 60000.0),
l AS (
  SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
         avg(x * y) AS mxy, avg(x * x) AS mxx
  FROM b WHERE x < 0),
r AS (
  SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
         avg(x * y) AS mxy, avg(x * x) AS mxx
  FROM b WHERE x >= 0),
f AS (
  SELECT l.n AS n_left, r.n AS n_right,
         (l.mxy - l.mx * l.my) / (l.mxx - l.mx * l.mx) AS sl,
         (r.mxy - r.mx * r.my) / (r.mxx - r.mx * r.mx) AS sr,
         l.my, l.mx AS lmx, r.my AS rmy, r.mx AS rmx
  FROM l CROSS JOIN r)
SELECT n_left, n_right,
       round(sl, 6) AS slope_left, round(sr, 6) AS slope_right,
       round(my - sl * lmx, 6) AS y_left,
       round(rmy - sr * rmx, 6) AS y_right,
       round((rmy - sr * rmx) - (my - sl * lmx), 6) AS jump
FROM f
"""


def q341_wald_iv(spark, sf_dir):
    """Wald IV / LATE (operators/experiments.py:wald_iv): a
    deterministic md5 'encouragement' instrument nudges treatment
    take-up (urgent-priority acts as treatment), outcome =
    totalprice — ITT over first stage from one aggregate.  The
    oracle replays instrument assignment and the ratio."""
    from niamoto_spark.operators.experiments import wald_iv

    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderkey").isNotNull()
                & F.col("o_totalprice").isNotNull()))
    z = (F.conv(F.substring(F.md5(F.concat(F.lit("iv|"),
                                           F.col("o_orderkey"))),
                            1, 8), 16, 10).cast("bigint")
         < F.lit(int(0.5 * 2 ** 32))).cast("int")
    # coalesce: a NULL priority must encode d=0 (the oracle's CASE
    # ELSE 0), not a NULL that avg() silently skips
    d = F.coalesce(((F.col("o_orderpriority") == "1-URGENT")
                    | ((z == 1) & (F.col("o_orderkey") % 3 == 0)))
                   .cast("int"), F.lit(0))
    df = o.select(z.alias("z"), d.alias("d"),
                  F.col("o_totalprice").alias("y"))
    return wald_iv(df, "z", "d", "y")


O_Q341 = """
WITH base AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5('iv|' || o_orderkey),
                                        1, 8)) AS UBIGINT)
              < 2147483648 THEN 1 ELSE 0 END AS z,
         o_orderpriority, o_orderkey, o_totalprice AS y
  FROM orders
  WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL),
t AS (
  SELECT z,
         CASE WHEN o_orderpriority = '1-URGENT'
               OR (z = 1 AND o_orderkey % 3 = 0)
              THEN 1.0 ELSE 0.0 END AS d, y
  FROM base),
m AS (
  SELECT avg(CASE WHEN z = 1 THEN y END) AS y1,
         avg(CASE WHEN z = 0 THEN y END) AS y0,
         avg(CASE WHEN z = 1 THEN d END) AS d1,
         avg(CASE WHEN z = 0 THEN d END) AS d0,
         sum(z) AS n1, sum(1 - z) AS n0
  FROM t)
SELECT CAST(n1 AS BIGINT) AS n_encouraged,
       CAST(n0 AS BIGINT) AS n_control,
       round(y1 - y0, 6) AS itt, round(d1 - d0, 6) AS first_stage,
       round(CASE WHEN abs(d1 - d0) > 0
                  THEN (y1 - y0) / (d1 - d0) END, 6) AS late
FROM m
"""


def q342_ipf_raking(spark, sf_dir):
    """Survey raking (operators/experiments.py:ipf_raking): reweight
    the (priority, status) order mix to uniform priority and fixed
    status targets with 3 IPF rounds — each round two cell-table
    scalings.  The oracle unrolls the identical six scalings in
    chained CTEs."""
    from niamoto_spark.operators.experiments import ipf_raking

    o = _t(spark, sf_dir, "orders")
    # non-null categories only: SQL count(DISTINCT r) excludes NULL,
    # and a NULL category has no join-able target anyway
    pris = [r["o_orderpriority"] for r in
            o.select("o_orderpriority").where(
                F.col("o_orderpriority").isNotNull())
            .distinct().collect()]
    row_t = {p: 1000.0 / len(pris) for p in sorted(pris)}
    col_t = {"O": 500.0, "F": 300.0, "P": 200.0}
    out = ipf_raking(o, "o_orderpriority", "o_orderstatus",
                     row_t, col_t, iters=3)
    return out.orderBy("o_orderpriority", "o_orderstatus")


O_Q342 = """
WITH cells AS (
  SELECT o_orderpriority AS r, o_orderstatus AS c,
         count(*) AS n, CAST(count(*) AS DOUBLE) AS w
  FROM orders GROUP BY 1, 2),
np AS (SELECT count(DISTINCT r) AS k FROM cells),
rt AS (SELECT r, 1000.0 / np.k AS rt FROM (SELECT DISTINCT r
       FROM cells) CROSS JOIN np),
ct(c, ct) AS (VALUES ('O', 500.0), ('F', 300.0), ('P', 200.0)),
i1r AS (
  SELECT cells.r, cells.c, n,
         w * rt.rt / sum(w) OVER (PARTITION BY cells.r) AS w
  FROM cells JOIN rt ON cells.r = rt.r),
i1c AS (
  SELECT i1r.r, i1r.c, n,
         w * ct.ct / sum(w) OVER (PARTITION BY i1r.c) AS w
  FROM i1r JOIN ct ON i1r.c = ct.c),
i2r AS (
  SELECT i1c.r, i1c.c, n,
         w * rt.rt / sum(w) OVER (PARTITION BY i1c.r) AS w
  FROM i1c JOIN rt ON i1c.r = rt.r),
i2c AS (
  SELECT i2r.r, i2r.c, n,
         w * ct.ct / sum(w) OVER (PARTITION BY i2r.c) AS w
  FROM i2r JOIN ct ON i2r.c = ct.c),
i3r AS (
  SELECT i2c.r, i2c.c, n,
         w * rt.rt / sum(w) OVER (PARTITION BY i2c.r) AS w
  FROM i2c JOIN rt ON i2c.r = rt.r),
i3c AS (
  SELECT i3r.r, i3r.c, n,
         w * ct.ct / sum(w) OVER (PARTITION BY i3r.c) AS w
  FROM i3r JOIN ct ON i3r.c = ct.c)
SELECT r AS o_orderpriority, c AS o_orderstatus, n,
       round(w / n, 6) AS weight
FROM i3c ORDER BY 1, 2
"""


def q343_chao1(spark, sf_dir):
    """Chao1 species-richness estimation (operators/ecological.py:
    chao1_richness): per customer nation, the estimated TRUE brand
    richness from singleton/doubleton brand counts plus Good-Turing
    coverage — the unseen-species question extending the reference's
    alpha-diversity lane.  The oracle replays the bias-corrected
    formula."""
    from niamoto_spark.operators.ecological import chao1_richness

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    counts = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(c, F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(p),
                    F.col("l_partkey") == F.col("p_partkey"))
              .where(F.col("o_orderdate") < "1995-06-01")
              .groupBy(F.col("c_nationkey").alias("nk"), "p_brand")
              .agg(F.count(F.lit(1)).alias("count")))
    return chao1_richness(counts, ["nk"]).orderBy("nk")


O_Q343 = """
WITH counts AS (
  SELECT c_nationkey AS nk, p_brand, count(*) AS cnt
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN part ON l_partkey = p_partkey
  WHERE o_orderdate < TIMESTAMP '1995-06-01'
  GROUP BY 1, 2),
agg AS (
  SELECT nk, count(*) AS s_obs,
         sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS f1,
         sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS f2,
         sum(cnt) AS n_ind
  FROM counts WHERE cnt > 0 GROUP BY 1)
SELECT nk, s_obs, CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
       CAST(n_ind AS BIGINT) AS n_ind,
       round(s_obs + f1 * (f1 - 1) / (2.0 * (f2 + 1)), 4) AS chao1,
       round(1 - f1 / CAST(n_ind AS DOUBLE), 4) AS coverage
FROM agg ORDER BY nk
"""


def q344_bray_curtis(spark, sf_dir):
    """Bray-Curtis beta diversity (operators/ecological.py:
    bray_curtis): abundance dissimilarity between every region pair
    over brand counts — species-keyed equi-join for the min-sums,
    totals grid for the no-overlap pairs.  The oracle replays the
    pairwise formula."""
    from niamoto_spark.operators.ecological import bray_curtis

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    counts = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(c, F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(n),
                    F.col("c_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(p),
                    F.col("l_partkey") == F.col("p_partkey"))
              .groupBy(F.col("n_regionkey").alias("region"), "p_brand")
              .agg(F.count(F.lit(1)).alias("count")))
    return (bray_curtis(counts, "region", "p_brand")
            .orderBy("site_a", "site_b"))


O_Q344 = """
WITH counts AS (
  SELECT n_regionkey AS site, p_brand AS sp,
         CAST(count(*) AS DOUBLE) AS x
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2),
totals AS (SELECT site, sum(x) AS tot FROM counts GROUP BY 1),
shared AS (
  SELECT a.site AS sa, b.site AS sb,
         sum(LEAST(a.x, b.x)) AS min_sum
  FROM counts a JOIN counts b
    ON a.sp = b.sp AND a.site < b.site
  GROUP BY 1, 2),
grid AS (
  SELECT ta.site AS sa, tb.site AS sb, ta.tot AS tot_a,
         tb.tot AS tot_b
  FROM totals ta CROSS JOIN totals tb WHERE ta.site < tb.site)
SELECT g.sa AS site_a, g.sb AS site_b,
       round(1 - 2 * coalesce(s.min_sum, 0.0)
             / (g.tot_a + g.tot_b), 4) AS bray_curtis
FROM grid g LEFT JOIN shared s ON g.sa = s.sa AND g.sb = s.sb
ORDER BY site_a, site_b
"""


def q345_rarefaction(spark, sf_dir):
    """Hurlbert rarefaction (operators/ecological.py:
    rarefaction_expected): expected brand richness per nation in a
    fair 200-individual subsample — log-space binomial ratios via an
    in-order fold (no lgamma anywhere), so the oracle replays the
    identical arithmetic with list_transform."""
    from niamoto_spark.operators.ecological import rarefaction_expected

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    counts = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(c, F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(p),
                    F.col("l_partkey") == F.col("p_partkey"))
              .groupBy(F.col("c_nationkey").alias("nk"), "p_brand")
              .agg(F.count(F.lit(1)).alias("count")))
    return rarefaction_expected(counts, ["nk"], subsample=200) \
        .orderBy("nk")


O_Q345 = """
WITH counts AS (
  SELECT c_nationkey AS nk, p_brand, count(*) AS cnt
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2),
tot AS (SELECT nk, sum(cnt) AS N FROM counts GROUP BY 1),
t AS (
  SELECT c.nk, c.cnt, tot.N,
         CASE WHEN tot.N - c.cnt < 200 THEN 1.0
              ELSE 1.0 - exp(
                list_sum(list_transform(range(1, 201),
                  i -> ln((CAST(tot.N - c.cnt AS DOUBLE) - 200 + i)
                          / CAST(i AS DOUBLE))))
                - list_sum(list_transform(range(1, 201),
                  i -> ln((CAST(tot.N AS DOUBLE) - 200 + i)
                          / CAST(i AS DOUBLE)))))
              END AS term
  FROM counts c JOIN tot ON c.nk = tot.nk WHERE c.cnt > 0)
SELECT nk, count(*) AS s_obs, CAST(max(N) AS BIGINT) AS n_ind,
       200 AS subsample, round(sum(term), 4) AS expected_s
FROM t GROUP BY 1 ORDER BY nk
"""


def q346_weighted_endemism(spark, sf_dir):
    """Weighted endemism (operators/ecological.py:weighted_endemism):
    per region, Σ 1/range over the brands present — narrow-range
    brands dominate the score; corrected WE (mean inverse range)
    beside it.  The oracle replays the range aggregate and the
    inverse-weighted sums."""
    from niamoto_spark.operators.ecological import weighted_endemism

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    counts = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(c, F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(n),
                    F.col("c_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(p.where(F.col("p_size") >= 46)),
                    F.col("l_partkey") == F.col("p_partkey"))
              .where(F.col("n_regionkey").isNotNull()
                     & F.col("p_brand").isNotNull())
              .groupBy(F.col("n_regionkey").alias("region"), "p_brand")
              .agg(F.count(F.lit(1)).alias("count")))
    return weighted_endemism(counts, "region", "p_brand") \
        .orderBy("region")


O_Q346 = """
WITH pres AS (
  SELECT DISTINCT n_regionkey AS site, p_brand AS sp
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN part ON l_partkey = p_partkey AND p_size >= 46
  WHERE n_regionkey IS NOT NULL AND p_brand IS NOT NULL),
ranges AS (SELECT sp, count(*) AS rng FROM pres GROUP BY 1)
SELECT pres.site AS region, count(*) AS richness,
       round(sum(1.0 / rng), 4) AS we,
       round(avg(1.0 / rng), 4) AS cwe
FROM pres JOIN ranges ON pres.sp = ranges.sp
GROUP BY 1 ORDER BY 1
"""


def q347_faith_pd(spark, sf_dir):
    """Faith's phylogenetic diversity (operators/ecological.py:
    faith_pd) over the region->nation taxonomy via the SAME iterative
    ancestor closure the adjacency_list loader uses: per market
    segment, the minimal-subtree size spanning its customers'
    nations.  The oracle replays the two-level closure and the
    distinct-edge count."""
    from niamoto_spark.operators.ecological import faith_pd

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    nodes = (n.select((F.col("n_nationkey") + 100).alias("id"),
                      F.col("n_regionkey").alias("parent_id"))
             .unionByName(
                 n.select(F.col("n_regionkey").alias("id"))
                 .distinct()
                 .withColumn("parent_id", F.lit(None).cast("long"))))
    occ = (c.where(F.col("c_mktsegment").isNotNull()
                   & F.col("c_nationkey").isNotNull())
           .select(F.col("c_mktsegment").alias("seg"),
                   (F.col("c_nationkey") + 100).alias("leaf")))
    return (faith_pd(occ, "seg", "leaf", nodes)
            .orderBy("seg"))


O_Q347 = """
WITH pres AS (
  SELECT DISTINCT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) + 100 AS leaf
  FROM customer
  WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL),
nmap AS (SELECT CAST(n_nationkey AS BIGINT) + 100 AS id, n_regionkey AS parent
         FROM nation),
edges AS (
  -- PD counts edges of the TREE: a leaf absent from the node table
  -- (NULL-id nation) has no branch, so even its self-edge needs tree
  -- membership; a NULL parent is no ancestor node either
  SELECT pres.seg, pres.leaf AS node FROM pres
  JOIN nmap ON pres.leaf = nmap.id
  UNION
  SELECT pres.seg, nmap.parent FROM pres
  JOIN nmap ON pres.leaf = nmap.id
  WHERE nmap.parent IS NOT NULL)
SELECT e.seg AS seg, l.n_leaves, CAST(e.pd AS DOUBLE) AS pd
FROM (SELECT seg, count(*) AS pd FROM edges GROUP BY 1) e
JOIN (SELECT seg, count(*) AS n_leaves FROM pres GROUP BY 1) l
  ON e.seg = l.seg
ORDER BY e.seg
"""


def q348_beta_partition(spark, sf_dir):
    """Baselga beta-diversity partition (operators/ecological.py:
    beta_partition): every region pair's Sørensen dissimilarity over
    large-part brands split into turnover vs nestedness.  The oracle
    replays the a/b/c presence components and both indices."""
    from niamoto_spark.operators.ecological import beta_partition

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    counts = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(c, F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(n),
                    F.col("c_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(p.where(F.col("p_size") >= 48)),
                    F.col("l_partkey") == F.col("p_partkey"))
              .groupBy(F.col("n_regionkey").alias("region"), "p_brand")
              .agg(F.count(F.lit(1)).alias("count")))
    return (beta_partition(counts, "region", "p_brand")
            .orderBy("site_a", "site_b"))


O_Q348 = """
WITH pres AS (
  SELECT DISTINCT n_regionkey AS site, p_brand AS sp
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN part ON l_partkey = p_partkey AND p_size >= 48),
rich AS (SELECT site, count(*) AS n FROM pres GROUP BY 1),
shared AS (
  SELECT l.site AS sa, r.site AS sb, count(*) AS a
  FROM pres l JOIN pres r ON l.sp = r.sp AND l.site < r.site
  GROUP BY 1, 2),
grid AS (
  SELECT ga.site AS sa, gb.site AS sb, ga.n AS na, gb.n AS nb
  FROM rich ga CROSS JOIN rich gb WHERE ga.site < gb.site),
j AS (
  SELECT g.sa, g.sb, coalesce(s.a, 0) AS a,
         g.na - coalesce(s.a, 0) AS b, g.nb - coalesce(s.a, 0) AS c
  FROM grid g LEFT JOIN shared s ON g.sa = s.sa AND g.sb = s.sb)
SELECT sa AS site_a, sb AS site_b, CAST(a AS BIGINT) AS a,
       CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
       round((b + c) / CAST(2 * a + b + c AS DOUBLE), 4) AS beta_sor,
       round(CASE WHEN a + LEAST(b, c) > 0
                  THEN LEAST(b, c) / CAST(a + LEAST(b, c) AS DOUBLE)
                  ELSE 0.0 END, 4) AS beta_sim,
       round((b + c) / CAST(2 * a + b + c AS DOUBLE)
             - CASE WHEN a + LEAST(b, c) > 0
                    THEN LEAST(b, c) / CAST(a + LEAST(b, c) AS DOUBLE)
                    ELSE 0.0 END, 4) AS beta_sne
FROM j ORDER BY site_a, site_b
"""


def q349_minhash_oracle_lane(spark, sf_dir):
    """MinHash+LSH with the md5 hash family BOTH engines share
    (operators/dedup.py: minhash_lsh_candidates_md5): k-word shingles,
    16 per-seed min-hash folds, 4-band buckets, in-bucket pair
    enumeration, signature-agreement Jaccard estimate — and the oracle
    recomputes every one of those steps value-for-value in DuckDB.
    This certifies the minhash MATH end-to-end; the xxhash64 twin
    (q38, the bench path) shares everything but the hash family.
    Near-dup pairs are guaranteed by unioning each doc with a
    tail-appended copy."""
    from niamoto_spark.operators.dedup import minhash_lsh_candidates_md5

    base = (_t(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 300).select("doc_id", "text"))
    dup = base.select((F.col("doc_id") + 1000000).alias("doc_id"),
                      F.concat(F.col("text"),
                               F.lit(" extra appended tail")).alias("text"))
    return minhash_lsh_candidates_md5(base.unionByName(dup),
                                      "doc_id", "text",
                                      num_hashes=16, bands=4,
                                      shingle_k=3, jaccard_threshold=0.5)


O_Q349 = r"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 300
), d AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 1000000, text || ' extra appended tail' FROM base
), toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE regexp_split_to_array(trim(lower(text)), '\s+')
         END AS w
  FROM d
), sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(len(w) - 2),
                               j -> w[j+1] || ' ' || w[j+2] || ' ' || w[j+3])
           ELSE [] END) AS shingles
  FROM toks
), hb AS (
  SELECT doc_id,
         list_transform(shingles, s ->
           CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hbase
  FROM sh WHERE len(shingles) > 0
), sig AS (
  SELECT doc_id,
         list_transform(range(16), i ->
           list_min(list_transform(hbase, h ->
             (((i + 1) * 2654435761 % 2147483647) * h
              + (i * 40503 + 7)) % 2147483647))) AS sig
  FROM hb
), banded AS (
  SELECT doc_id, sig, b, list_slice(sig, b*4 + 1, b*4 + 4) AS bk
  FROM sig, range(4) t(b)
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         round(CAST(len(list_filter(range(16),
                                    i -> x.sig[i+1] = y.sig[i+1]))
                    AS DOUBLE) / 16, 4) AS est_jaccard
  FROM banded x JOIN banded y
    ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id
)
SELECT id_a, id_b, est_jaccard FROM cand WHERE est_jaccard >= 0.5
"""


def q350_simhash_oracle_lane(spark, sf_dir):
    """SimHash near-dup with the shared md5 hash family
    (operators/dedup.py: simhash_near_pairs_md5): 60-bit bit-vote
    fingerprints over distinct-token hashes, pigeonhole banding on
    four 15-bit chunks, Hamming <= 3 — the oracle replays
    fingerprinting, banding, and the distance filter in DuckDB.
    Certifies the simhash MATH for the xxhash64 twin (q39).  Pairs
    guaranteed by unioning tail-perturbed copies (one appended token
    flips only the bits that token's votes swing)."""
    from niamoto_spark.operators.dedup import simhash_near_pairs_md5

    base = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") < 300)
                   & (F.length(F.trim(F.col("text"))) > 0))
            .select("doc_id", "text"))
    dup = base.select((F.col("doc_id") + 1000000).alias("doc_id"),
                      F.concat(F.col("text"), F.lit(" zq")).alias("text"))
    return simhash_near_pairs_md5(base.unionByName(dup),
                                  "doc_id", "text", max_hamming=3)


O_Q350 = r"""
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id < 300 AND length(trim(text)) > 0
), d AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 1000000, text || ' zq' FROM base
), toks AS (
  SELECT doc_id,
         list_distinct(CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE regexp_split_to_array(trim(lower(text)), '\s+')
         END) AS w
  FROM d
), hs AS (
  SELECT doc_id,
         list_transform(w, t ->
           CAST(('0x' || substr(md5('0|' || t), 1, 15)) AS BIGINT)) AS h
  FROM toks
), fp AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(60), i ->
           CASE WHEN list_sum(list_transform(h, x ->
                  CASE WHEN (x >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
         AS BIGINT) AS fp
  FROM hs
), chunks AS (
  SELECT doc_id, fp, b, (fp >> (b * 15)) & 32767 AS cv
  FROM fp, range(4) t(b)
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         bit_count(xor(x.fp, y.fp)) AS hamming
  FROM chunks x JOIN chunks y
    ON x.b = y.b AND x.cv = y.cv AND x.doc_id < y.doc_id
)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM cand WHERE hamming <= 3
"""


def q351_curation_oracle_lane(spark, sf_dir):
    """The curation COMPOSITION value-oracled end-to-end (q63's
    rows-only gap closed where it matters): quality filter -> exact
    dedup -> md5-family near-dup components, with the per-stage
    retention record as the result.  The oracle replays all three
    stages in DuckDB — the quality-score formula (regexp-replace
    ratio screens, operators/text.py:86-122), normalized-md5 exact
    dedup, the full md5 minhash pipeline (q349's SQL), and the
    duplicate-cluster CLOSURE as a recursive CTE electing each
    component's min id, matching operators/components.py's
    label-propagation fixpoint."""
    from niamoto_spark.operators.curation import (CurationConfig,
                                                  curate_corpus)

    base = (_t(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 150).select("doc_id", "text"))
    dup = base.select((F.col("doc_id") + 1000000).alias("doc_id"),
                      F.concat(F.col("text"),
                               F.lit(" extra appended tail")).alias("text"))
    _, stats = curate_corpus(
        base.unionByName(dup), "doc_id", "text",
        CurationConfig(min_quality=0.5, min_tokens=5,
                       near_dup_threshold=0.5, minhash_num_hashes=16,
                       minhash_bands=4, shingle_k=3,
                       near_dup_hash="md5",
                       stages=["quality", "exact_dedup", "near_dedup"]))
    return stats


O_Q351 = r"""
WITH RECURSIVE base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 150
), d AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 1000000, text || ' extra appended tail' FROM base
), m AS (
  SELECT doc_id, text, length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
           AS n_alpha,
         length(text) - length(regexp_replace(text,
           '[\.,;:!\?''"()\[\]-]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '\s', '', 'g'))
           AS n_space
  FROM d
), scored AS (
  SELECT doc_id, text, toks,
         CASE WHEN n_chars = 0 THEN CAST(0.0 AS DOUBLE) ELSE
           (CASE WHEN toks BETWEEN 5 AND 100000
                 THEN CAST(0.4 AS DOUBLE) ELSE 0.0 END
            + CASE WHEN n_alpha / CAST(greatest(n_chars, 1) AS DOUBLE)
                        >= 0.6 THEN CAST(0.3 AS DOUBLE) ELSE 0.0 END
            + CASE WHEN n_punct / CAST(greatest(n_chars, 1) AS DOUBLE)
                        <= 0.1 THEN CAST(0.15 AS DOUBLE) ELSE 0.0 END
            + CASE WHEN toks > 0
                        AND (n_chars - n_space) / CAST(toks AS DOUBLE)
                            BETWEEN 2.0 AND 12.0
                   THEN CAST(0.15 AS DOUBLE) ELSE 0.0 END)
         END AS score
  FROM m
), q AS (
  SELECT doc_id, text FROM scored WHERE score >= 0.5 AND toks >= 5
), e AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           min(doc_id) OVER (PARTITION BY
             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS keep
    FROM q) WHERE doc_id = keep
), toks2 AS (
  SELECT doc_id,
         CASE WHEN length(trim(lower(text))) = 0 THEN []
              ELSE regexp_split_to_array(trim(lower(text)), '\s+')
         END AS w
  FROM e
), sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(len(w) - 2),
                               j -> w[j+1] || ' ' || w[j+2] || ' ' || w[j+3])
           ELSE [] END) AS shingles
  FROM toks2
), hb AS (
  SELECT doc_id,
         list_transform(shingles, s ->
           CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hbase
  FROM sh WHERE len(shingles) > 0
), sig AS (
  SELECT doc_id,
         list_transform(range(16), i ->
           list_min(list_transform(hbase, h ->
             (((i + 1) * 2654435761 % 2147483647) * h
              + (i * 40503 + 7)) % 2147483647))) AS sig
  FROM hb
), banded AS (
  SELECT doc_id, sig, b, list_slice(sig, b*4 + 1, b*4 + 4) AS bk
  FROM sig, range(4) t(b)
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y
    ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id
  WHERE CAST(len(list_filter(range(16), i -> x.sig[i+1] = y.sig[i+1]))
             AS DOUBLE) / 16 >= 0.5
), edges AS (
  SELECT id_a AS a, id_b AS b FROM cand
  UNION ALL SELECT id_b, id_a FROM cand
), r AS (
  SELECT a AS node, a AS root FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e2.b, r.root FROM r JOIN edges e2 ON e2.a = r.node
), comp AS (
  SELECT node, min(root) AS comp FROM r GROUP BY node
), dropn AS (
  SELECT node FROM comp WHERE node <> comp
), k AS (
  SELECT doc_id FROM e
  WHERE doc_id NOT IN (SELECT node FROM dropn)
)
SELECT 'quality' AS stage,
       (SELECT count(*) FROM d) AS docs_in,
       (SELECT count(*) FROM q) AS docs_out
UNION ALL
SELECT 'exact_dedup',
       (SELECT count(*) FROM q), (SELECT count(*) FROM e)
UNION ALL
SELECT 'near_dedup',
       (SELECT count(*) FROM e), (SELECT count(*) FROM k)
"""


def q352_covariance_profile(spark, sf_dir):
    """PCA's DISTRIBUTED piece value-oracled (the complement of
    q165's rows-only scree): per-dimension mean + sample variance from
    the Arrow-batched Gram/mean partial aggregation
    (operators/pca.py:_moment_totals — the exact totals pca_fit
    eigendecomposes).  The oracle is per-dimension avg/var_samp over
    the unnested embedding column, so the covariance assembly that
    actually runs on the cluster at scale is checked value-for-value;
    only the driver-side d x d LAPACK step stays numpy-parity-tested."""
    from niamoto_spark.operators.pca import covariance_profile

    emb = _t(spark, sf_dir, "embeddings")
    return covariance_profile(emb, "embedding", round_dp=6)


O_Q352 = """
SELECT CAST(i AS INT) AS dim,
       round(avg(CAST(embedding[i + 1] AS DOUBLE)), 6) AS mean,
       round(var_samp(CAST(embedding[i + 1] AS DOUBLE)), 6) AS variance
FROM embeddings, range(64) t(i)
GROUP BY i ORDER BY i
"""


def q353_tfidf_prefiltered_oracle(spark, sf_dir):
    """q127's 100 TB lane with the md5 candidate family — FULLY
    value-oracled: MinHash-LSH candidates (cross-engine md5/universal
    hashes, any shared band bucket qualifies) gate the exact TF-IDF
    cosine, and the oracle recomputes BOTH the candidate set and the
    cosines in DuckDB.  Same planted duplicate slice as q127, so the
    result contains the planted perfect-cosine pairs at every SF."""
    from niamoto_spark.operators.tfidf import tfidf_cosine_pairs

    d = (_t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
         .select("doc_id", "text"))
    planted = _planted_dup(d, 100_000)
    # md5 prefilter signatures hoisted below the planted explode —
    # same lever as q127; the value oracle (O_Q353) is unmoved because
    # the per-doc signatures are bit-identical under either shape.
    sigs = _planted_dup(
        dedup_ops.minhash_signatures_md5(d, "doc_id", "text",
                                         num_hashes=16), 100_000)
    return tfidf_cosine_pairs(planted, "doc_id", "text", threshold=0.3,
                              max_df_frac=0.5, prefilter="minhash_md5",
                              sig_df=sigs)


O_Q353 = r"""
WITH d0 AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
), corp AS (
  SELECT doc_id, text FROM d0
  UNION ALL
  SELECT doc_id + 100000, text FROM d0
), lt AS (
  SELECT doc_id, trim(lower(text)) AS t FROM corp
), wrd AS (
  SELECT doc_id,
         CASE WHEN length(t) = 0 THEN []
              ELSE regexp_split_to_array(t, '\s+') END AS w
  FROM lt
), sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(len(w) - 2),
                               j -> w[j+1] || ' ' || w[j+2] || ' ' || w[j+3])
           ELSE [] END) AS shingles
  FROM wrd
), hb AS (
  SELECT doc_id,
         list_transform(shingles, s ->
           CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS hbase
  FROM sh WHERE len(shingles) > 0
), sig AS (
  SELECT doc_id,
         list_transform(range(16), i ->
           list_min(list_transform(hbase, h ->
             (((i + 1) * 2654435761 % 2147483647) * h
              + (i * 40503 + 7)) % 2147483647))) AS sig
  FROM hb
), banded AS (
  SELECT doc_id, b, list_slice(sig, b*4 + 1, b*4 + 4) AS bk
  FROM sig, range(4) t(b)
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y
    ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id
), tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(t, '\s+')) AS token
  FROM lt WHERE length(t) > 0
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
), nd AS (
  SELECT count(DISTINCT doc_id) AS n FROM corp
), dfq AS (
  SELECT token, count(*) AS dfc FROM tf GROUP BY 1
), idf AS (
  SELECT token, ln((1.0 + n) / (dfc + 1)) + 1 AS idf
  FROM dfq, nd WHERE dfc <= 0.5 * n
), w AS (
  SELECT tf.doc_id, tf.token, tf.tf * idf.idf AS w_raw
  FROM tf JOIN idf USING (token)
), nw AS (
  SELECT doc_id, token,
         w_raw / sqrt(sum(w_raw * w_raw)
                      OVER (PARTITION BY doc_id)) AS weight
  FROM w
), dots AS (
  SELECT c.id_a, c.id_b, sum(a.weight * b.weight) AS dot
  FROM cand c
  JOIN nw a ON a.doc_id = c.id_a
  JOIN nw b ON b.doc_id = c.id_b AND b.token = a.token
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(dot, 4) AS cosine
FROM dots WHERE round(dot, 4) >= 0.3
"""


def _lossless_media_rows():
    """Six SOF3 lossless JPEGs whose pixels come from integer formulas,
    covering predictors 2-7 and restart intervals — decode is bit-exact,
    so an external engine can recompute every pixel statistic from the
    same formulas (no frozen constants, unlike q78's lossy dHashes)."""
    import numpy as np

    from niamoto_spark.sources.jpegcodec import encode_jpeg_lossless

    rows = []
    for i in range(1, 7):
        y, x = np.mgrid[0:24, 0:32]
        img = np.stack([(x * (23 + 11 * i)) % 256,
                        (y * (31 + 7 * i) + x * 5 * i) % 256,
                        ((x * x + y * (17 + i)) * 3) % 256],
                       axis=2).astype(np.uint8)
        rows.append((i, bytearray(encode_jpeg_lossless(
            img, predictor=1 + (i % 7),
            restart_interval=3 if i % 2 == 0 else 0))))
    return rows


def q354_media_lossless_jpeg(spark, sf_dir):
    """Lossless-JPEG (SOF3) decode verified ANALYTICALLY end to end:
    formula pixels -> pure-python SOF3 encode (predictors 2-7, restart
    intervals) -> mapInPandas decode -> exact per-channel integer
    sums/min/max, which the oracle recomputes from the SAME formulas in
    SQL.  Any single bit error anywhere in the codec or the Arrow
    plumbing breaks an exact integer sum."""
    from niamoto_spark.operators.multimodal import image_channel_stats

    df = spark.createDataFrame(_lossless_media_rows(),
                               "media_id long, payload binary")
    return image_channel_stats(df)


O_Q354 = """
WITH g AS (
  SELECT i, x, y
  FROM generate_series(1, 6) AS s(i),
       generate_series(0, 31) AS xs(x),
       generate_series(0, 23) AS ys(y)
), px AS (
  SELECT i AS media_id, 0 AS channel, (x * (23 + 11 * i)) % 256 AS v FROM g
  UNION ALL
  SELECT i, 1, (y * (31 + 7 * i) + x * 5 * i) % 256 FROM g
  UNION ALL
  SELECT i, 2, ((x * x + y * (17 + i)) * 3) % 256 FROM g
)
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(channel AS INTEGER) AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(v) AS BIGINT) AS px_sum,
       CAST(MIN(v) AS BIGINT) AS px_min,
       CAST(MAX(v) AS BIGINT) AS px_max
FROM px GROUP BY media_id, channel
"""


def _gif_media_rows():
    """Six GIFs whose palette AND palette indices come from integer
    formulas: idx(x, y) = (x*a_i + y*b_i + i) % 16 over a 24x32 grid,
    palette[j] = ((j*37+11) % 256, (j*59+3) % 256, (j*83+7) % 256).
    GIF is palette-indexed, so decode is exact and an external engine
    recomputes every pixel from the formulas.  Even ids interlace."""
    import numpy as np

    from niamoto_spark.sources.gifcodec import encode_gif

    pal = np.stack([(np.arange(16) * 37 + 11) % 256,
                    (np.arange(16) * 59 + 3) % 256,
                    (np.arange(16) * 83 + 7) % 256],
                   axis=1).astype(np.uint8)
    rows = []
    for i in range(1, 7):
        y, x = np.mgrid[0:24, 0:32]
        idx = (x * (3 + 2 * i) + y * (5 + i) + i) % 16
        rows.append((i, bytearray(encode_gif(pal[idx],
                                             interlace=i % 2 == 0))))
    return rows


def q355_media_gif(spark, sf_dir):
    """GIF decode verified ANALYTICALLY end to end (the q354 pattern for
    the palette-indexed format): formula palette indices -> pure-python
    GIF89a encode (real LZW, interlacing on even ids) -> mapInPandas
    decode -> exact per-channel integer sums, recomputed by the oracle
    from the same formulas.  Exercises LZW width growth, the KwKwK
    case, interlace reordering and palette lookup — any bit error
    breaks an exact integer sum."""
    from niamoto_spark.operators.multimodal import image_channel_stats

    df = spark.createDataFrame(_gif_media_rows(),
                               "media_id long, payload binary")
    return image_channel_stats(df)


O_Q355 = """
WITH g AS (
  SELECT i, (x * (3 + 2 * i) + y * (5 + i) + i) % 16 AS j
  FROM generate_series(1, 6) AS s(i),
       generate_series(0, 31) AS xs(x),
       generate_series(0, 23) AS ys(y)
), px AS (
  SELECT i AS media_id, 0 AS channel, (j * 37 + 11) % 256 AS v FROM g
  UNION ALL SELECT i, 1, (j * 59 + 3) % 256 FROM g
  UNION ALL SELECT i, 2, (j * 83 + 7) % 256 FROM g
)
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(channel AS INTEGER) AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(v) AS BIGINT) AS px_sum,
       CAST(MIN(v) AS BIGINT) AS px_min,
       CAST(MAX(v) AS BIGINT) AS px_max
FROM px GROUP BY media_id, channel
"""


def q356_media_png_interlaced(spark, sf_dir):
    """PNG decode (both interlace methods) verified ANALYTICALLY — the
    q354 pattern: the same formula pixels, losslessly PNG-encoded (even
    ids Adam7-interlaced), decoded through image_channel_stats; the
    oracle recomputes every exact channel statistic from the formulas.
    Shares O_Q354 verbatim — three codecs (SOF3 JPEG, GIF, PNG) now
    prove bit-exact decode against the same analytic truth."""
    import numpy as np

    from niamoto_spark.operators.multimodal import image_channel_stats
    from niamoto_spark.sources.imagecodec import encode_png

    rows = []
    for i in range(1, 7):
        y, x = np.mgrid[0:24, 0:32]
        img = np.stack([(x * (23 + 11 * i)) % 256,
                        (y * (31 + 7 * i) + x * 5 * i) % 256,
                        ((x * x + y * (17 + i)) * 3) % 256],
                       axis=2).astype(np.uint8)
        rows.append((i, bytearray(encode_png(img, interlace=i % 2 == 0))))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    return image_channel_stats(df)


# identical semantics to q354, PNG decode
O_Q356 = O_Q354


# ---------------------------------------------------------------------------

_QUERY_NAME = re.compile(r"q(\d+)_\w+")


def _catalog() -> list[tuple[str, str, Callable]]:
    """(number, name, function) of every ``q<N>_...`` function defined in
    this module, ordered by N."""
    found = []
    for name, fn in list(globals().items()):
        m = _QUERY_NAME.fullmatch(name)
        if m and inspect.isfunction(fn) and fn.__module__ == __name__:
            found.append((int(m.group(1)), m.group(1), name, fn))
    return [(num, name, fn) for _, num, name, fn in sorted(found)]


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for _, name, fn in _catalog()}


def build_oracles() -> dict[str, str]:
    """``O_Q<N>`` for every query that has one.

    The queries without one are rows-only checks:
    - q38/q39 (xxhash64-seeded minhash/simhash), q63 and q127 (minhash
      stages) depend on Spark's hash functions, which have no DuckDB
      equivalent; q41 (IVF) and q110 (IVF-PQ) are approximate.
    - q165 (PCA scree): eigendecomposition has no SQL equivalent.  A
      recursive-CTE power-iteration oracle was evaluated and rejected:
      the embeddings covariance spectrum is near-isotropic (measured
      eigengap ratios 0.93-0.995 at both gate SFs), so power iteration
      cannot converge to the 4dp the hash compare needs.  numpy parity
      (LAPACK, exact) is pinned in tests and is the stronger check.
    - q166 (persisted ANN index) is approximate; index==direct equality
      is pinned in tests."""
    g = globals()
    return {name: g[f"O_Q{num}"] for num, name, _ in _catalog()
            if f"O_Q{num}" in g}
