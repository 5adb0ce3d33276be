"""Round-9 session-3 review sweep regressions: table_diff's
null-position hash collision (the table_cdf bug's twin).
"""

import pandas as pd

from niamoto_spark.sources import manifest as mf


def test_table_diff_detects_null_position_shift(spark, tmp_path):
    """(x, NULL) -> (NULL, x) hashed identically under bare xxhash64
    (NULL args are a no-op), so table_diff omitted the changed row."""
    p = str(tmp_path / "t")
    a = spark.createDataFrame([(1, "p", None), (2, "q", "r")],
                              "k int, x string, y string")
    b = spark.createDataFrame([(1, None, "p"), (2, "q", "r")],
                              "k int, x string, y string")
    mf.append(a, p)
    mf.overwrite(b, p)
    rows = {r["k"]: r["change"] for r in
            mf.table_diff(spark, p, 0, 1, key_cols=["k"]).collect()}
    assert rows == {1: "changed"}


# --- add_nested_sets hardening ---------------------------------------------

def _mk_nodes(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "parent_id"]).astype(
            {"id": "int64"}))


def test_nested_sets_deep_path_tree(spark):
    """A 5000-deep path tree must number without hitting Python's
    recursion limit (the DFS is iterative now)."""
    from niamoto_spark.hierarchy import add_nested_sets

    rows = [(i, None if i == 0 else i - 1) for i in range(5000)]
    out = add_nested_sets(_mk_nodes(spark, rows))
    got = {r["id"]: (r["lft"], r["rght"]) for r in out.collect()}
    assert got[0] == (1, 10000)          # root wraps everything
    assert got[4999] == (5000, 5001)     # deepest leaf
    assert all(v[0] is not None for v in got.values())


def test_nested_sets_dangling_and_self_parent_are_roots(spark):
    """A self-referencing parent (root encoding) and a parent id absent
    from the table must both be treated as roots, not silently left with
    NULL bounds."""
    from niamoto_spark.hierarchy import add_nested_sets

    rows = [(1, 1),      # self-loop root
            (2, 1),      # its child
            (10, 99)]    # dangling parent -> root
    got = {r["id"]: (r["lft"], r["rght"])
           for r in add_nested_sets(_mk_nodes(spark, rows)).collect()}
    assert got[1] == (1, 4) and got[2] == (2, 3)
    assert got[10] == (5, 6)


def test_nested_sets_cycle_raises(spark):
    from niamoto_spark.hierarchy import add_nested_sets

    import pytest
    rows = [(1, None), (2, 3), (3, 2)]
    with pytest.raises(ValueError, match="cycle"):
        add_nested_sets(_mk_nodes(spark, rows))


# --- hashed_dim_join --------------------------------------------------------

def test_hashed_dim_join_string_key_exact(spark):
    """String keys route through the single-long hashed probe with an
    exact recheck: NULL fact keys never match, duplicate dim keys fan
    out, and results equal the plain equi-join."""
    from pyspark.sql import functions as F

    from niamoto_spark.functions import hashed_dim_join

    fact = spark.createDataFrame(
        [("a", 1), ("b", 2), (None, 3), ("zz", 4), ("a", 5)],
        "k string, v int")
    dim = spark.createDataFrame(
        [("a", "A1"), ("a", "A2"), ("b", "B")], "k string, tag string")
    got = sorted((r["v"], r["tag"]) for r in
                 hashed_dim_join(fact, dim, "k", ["tag"]).collect())
    exp = sorted((r["v"], r["tag"]) for r in
                 fact.join(dim.withColumnRenamed("k", "dk"),
                           F.col("k") == F.col("dk")).collect())
    assert got == exp == [(1, "A1"), (1, "A2"), (2, "B"),
                          (5, "A1"), (5, "A2")]


def test_hashed_dim_join_integral_key_plain(spark):
    """Integral keys stay on the plain broadcast join (already the
    LongHashedRelation path) — no hashing round-trip."""
    import contextlib
    import io

    from niamoto_spark.functions import hashed_dim_join

    fact = spark.createDataFrame([(1, "x"), (2, "y")], "k bigint, v string")
    dim = spark.createDataFrame([(1, "T")], "k bigint, tag string")
    out = hashed_dim_join(fact, dim, "k", ["tag"])
    assert [(r["v"], r["tag"]) for r in out.collect()] == [("x", "T")]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    assert "xxhash64" not in buf.getvalue()


def test_loader_string_key_joins_on_single_long_hash(spark):
    """direct_reference with a string ref key plans the probe as one
    xxhash64 long key (LongHashedRelation), not a string-keyed join."""
    import contextlib
    import io

    from niamoto_spark.operators.loaders import direct_reference

    facts = spark.createDataFrame(
        [(f"sp_{i % 5}", i) for i in range(50)], "taxon string, v int")
    groups = spark.createDataFrame(
        [(f"sp_{i}", i) for i in range(5)], "taxon_ref string, gid int")
    out = direct_reference(facts, "taxon", groups, "gid",
                           ref_key="taxon_ref")
    assert out.count() == 50
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    assert "xxhash64" in plan
    assert "BroadcastHashJoin" in plan


# --- stump_split / boosted_stumps NULL handling -----------------------------

def test_stump_split_nulls_excluded_and_all_null_feature(spark):
    """NULL feature values must not join the left side of every split
    (they previously landed in a NULL bin that sorted first in the
    cumulative window), and an all-NULL feature takes the no-split
    sentinel instead of crashing on float(None)."""
    from niamoto_spark.operators.trees import stump_split

    rows = [(float(i), None if i % 2 else float(i), None, i % 2)
            for i in range(100)]
    df = spark.createDataFrame(
        rows, "f1 double, f2 double, f3 double, y int")
    out = {r["feature"]: r for r in
           stump_split(df, ["f1", "f2", "f3"], "y").collect()}
    assert out["f3"]["split_bin"] == -1 and out["f3"]["gain"] == 0.0
    # f2 is non-null only on even i (y=0 exactly): its split stats must
    # cover exactly the 50 non-null rows
    assert out["f2"]["n_left"] + out["f2"]["n_right"] == 50
    assert out["f1"]["n_left"] + out["f1"]["n_right"] == 100


def test_boosted_stumps_tolerates_nulls(spark):
    from niamoto_spark.operators.trees import boosted_stumps

    rows = [(float(i), None if i % 3 == 0 else float(i % 7), i % 2)
            for i in range(60)]
    df = spark.createDataFrame(rows, "f1 double, f2 double, y int")
    model = boosted_stumps(df, ["f1", "f2"], "y", rounds=2).collect()
    assert len(model) == 2          # fits without TypeError on NULL bins


# --- CSR / resilience NULL traits -------------------------------------------

def test_csr_and_resilience_null_traits_propagate(spark):
    """A missing trait must yield NULL indices/labels — F.least skips
    NULL args, so it previously normalized missing traits to the CAP
    (wood density 1.0 = max score)."""
    from niamoto_spark.operators.ecological import (csr_strategy,
                                                    resilience_score)

    df = spark.createDataFrame(
        [(0.6, 300.0, 20.0), (None, 300.0, 20.0)],
        "wd double, lt double, sla double")
    out = csr_strategy(df, "wd", "lt", "sla").collect()
    ok, bad = (out[0], out[1]) if out[0]["wd"] is not None \
        else (out[1], out[0])
    assert ok["dominant_strategy"] in ("C", "S", "R")
    assert bad["competitive"] is None
    assert bad["dominant_strategy"] is None
    assert bad["csr_class"] is None

    r = spark.createDataFrame(
        [(0.3, 0.3, 0.4, None)],
        "competitive double, stress_tolerant double, ruderal double, "
        "shannon double")
    row = resilience_score(r).collect()[0]
    assert row["resilience_score"] is None
    assert row["resilience_class"] is None
