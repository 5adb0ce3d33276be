"""Regression tests for defects found in the round-1 self-review."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from niamoto_spark.functions import word_shingles
from niamoto_spark.operators.dedup import minhash_lsh_candidates
from niamoto_spark.operators.loaders import direct_reference


def test_short_docs_dont_crash_shingling(spark):
    """sequence(0, -1) is DESCENDING in Spark; docs shorter than k tokens
    must yield an empty shingle array, not invalid element_at indices."""
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["one two", "a", ""]}))
    out = [r["s"] for r in
           df.select(word_shingles(F.col("text"), 3).alias("s")).collect()]
    assert out == [[], [], []]
    # and through the full minhash path
    assert minhash_lsh_candidates(df, "doc_id", "text",
                                  num_hashes=16, bands=4).count() == 0


def test_max_value_cap_preserves_nulls(spark, kernel_docs):
    """NULL handling around max_value: stats ignore NULLs, and the
    max_value metadata (max of data-max and the configured value —
    never a clip, reference statistical_summary.py:221-228) must not
    let a NULL masquerade as the cap."""
    df = spark.createDataFrame(
        [("a", None), ("a", 5.0), ("a", 200.0)], "g string, v double")
    params = {"field": "v", "stats": ["count", "mean"], "max_value": 100}
    r = kernel_docs(df, "statistical_summary", params)["a"]
    assert r["count"] == 2          # NULL not counted
    assert r["mean"] == 102.5       # (5 + 200) / 2 — raw data, no clip
    assert r["max_value"] == 200.0  # data max wins over the cap
    allnull = spark.createDataFrame([("a", None)], "g string, v double")
    r3 = kernel_docs(allnull, "statistical_summary", params)["a"]
    assert r3["max_value"] == 100   # all-null -> configured fallback
    r2 = kernel_docs(allnull, "direct_attribute",
                     {"field": "v", "max_value": 100.0})["a"]
    assert r2["value"] is None      # all-null entity stays null


def test_gid_collision_in_loaders(spark):
    """Fact tables carrying a column named like the group id must not
    produce an ambiguous duplicate after tagging."""
    facts = spark.createDataFrame(pd.DataFrame(
        {"id": [10, 11], "plot_ref": ["P1", "P2"], "v": [1.0, 2.0]}))
    groups = spark.createDataFrame(pd.DataFrame(
        {"id": [1, 2], "locality": ["P1", "P2"]}))
    tagged = direct_reference(facts, "plot_ref", groups, "id",
                              ref_key="locality")
    # groupBy on the gid must work (previously AMBIGUOUS_REFERENCE)
    out = tagged.groupBy("id").agg(F.sum("v").alias("s")).collect()
    assert {(r["id"], r["s"]) for r in out} == {(1, 1.0), (2, 2.0)}
    assert "__src_id" in tagged.columns   # fact's own id preserved


def test_gid_is_join_key_coalesces(spark):
    facts = spark.createDataFrame(pd.DataFrame(
        {"id_plot": [1, 1, 9], "v": [1.0, 2.0, 4.0]}))
    groups = spark.createDataFrame(pd.DataFrame({"id_plot": [1, 2]}))
    tagged = direct_reference(facts, "id_plot", groups, "id_plot")
    assert tagged.columns.count("id_plot") == 1
    assert tagged.count() == 2            # id_plot=9 filtered (inner)


def test_incremental_only_ids_keeps_full_hierarchy(spark, tmp_path):
    """only_ids restricts output rows, not the hierarchy used for tagging
    (filtering the hierarchy would break subtree roll-ups)."""
    import json

    from niamoto_spark.pipeline import Pipeline

    base = tmp_path
    pd.DataFrame({"id": [1, 2], "species": ["sp1", "sp2"],
                  "family": ["F1", "F1"], "genus": ["G1", "G1"],
                  "dbh": [10.0, 30.0]}).to_csv(base / "occ.csv", index=False)
    pipe = Pipeline(spark, warehouse=str(base / "wh"))
    pipe.run_import({"entities": {
        "datasets": {"occurrences": {
            "connector": {"type": "file", "format": "csv", "path": "occ.csv"},
            "schema": {"id_field": "id"}}},
        "references": {"taxons": {
            "kind": "hierarchical",
            "connector": {"type": "derived", "dataset": "occurrences",
                          "levels": ["family", "genus", "species"]}}},
    }}, base_dir=str(base))
    cfg = [{"group_by": "taxons", "sources": [{
        "name": "occurrences", "data": "occurrences", "grouping": "taxons",
        "relation": {"plugin": "nested_set", "key": "species",
                     "ref_key": "rank_value"}}],
        "widgets_data": {"s": {"plugin": "statistical_summary",
                               "params": {"source": "occurrences",
                                          "field": "dbh"}}}}]
    pipe.run_transform(cfg)
    taxons = {r["rank_value"]: r["id"] for r in
              pipe.registry.load(spark, "taxons").collect()}
    fam_id = taxons["F1"]
    # incremental recompute of ONLY the family must still see its subtree
    pipe.run_transform(cfg, mode="incremental", only_ids=[fam_id])
    tbl = spark.read.parquet(str(base / "wh" / "taxons_results.parquet"))
    fam = json.loads([r["s"] for r in tbl.collect() if r["id"] == fam_id][0])
    assert fam["mean"] == 20.0            # both species' occurrences seen


def test_overwrite_restores_backup_when_path_missing(tmp_path, spark):
    """A crash between the two renames leaves only the backup; the next
    overwrite must RESTORE it, never delete it (it may be the only copy)."""
    import os
    import shutil

    from niamoto_spark.sources.sinks import _side, overwrite_table

    p = str(tmp_path / "tbl")
    overwrite_table(spark.range(3), p)
    # simulate death between rename(path, backup) and rename(staging, path)
    os.rename(p, _side(p, ".__backup__"))
    assert not os.path.exists(p)
    overwrite_table(spark.range(7), p)       # recovery + fresh write
    assert spark.read.parquet(p).count() == 7
    assert not os.path.exists(_side(p, ".__backup__"))


def test_stats_loader_gid_named_match_field(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from niamoto_spark.operators.loaders import stats_loader

    stats = spark.createDataFrame(pd.DataFrame(
        {"id": ["P1", "P2"], "class_value": [1.0, 2.0]}))
    groups = spark.createDataFrame(pd.DataFrame(
        {"id": [1, 2], "locality": ["P1", "P2"]}))
    tagged = stats_loader(stats, "id", groups, "id", ref_field="locality")
    out = tagged.groupBy("id").agg(F.sum("class_value").alias("s")).collect()
    assert {(r["id"], r["s"]) for r in out} == {(1, 1.0), (2, 2.0)}


def test_loader_carry_columns_match_separate_join(spark):
    """r14 optimization contract: carry=[...] on join_table/stats_loader
    attaches extra group columns in the SAME probe pass, row-identical to
    the old separate broadcast re-join of the group table (plan loses one
    BroadcastHashJoin — see q12/q13)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from niamoto_spark.operators.loaders import join_table, stats_loader

    fact = spark.createDataFrame(pd.DataFrame(
        {"fk": [1, 1, 2, 3], "v": [10.0, 20.0, 5.0, 7.0]}))
    bridge = spark.createDataFrame(pd.DataFrame(
        {"src": [1, 2, 3], "ref": [100, 100, 200]}))
    groups = spark.createDataFrame(pd.DataFrame(
        {"gid": [100, 200], "gname": ["alpha", "beta"]}))

    carried = join_table(fact, "fk", bridge, "src", "ref", groups, "gid",
                         carry=["gname"])
    rejoined = join_table(fact, "fk", bridge, "src", "ref", groups, "gid") \
        .join(F.broadcast(groups.select("gid", "gname")), "gid")
    key = lambda rows: sorted((r["fk"], r["v"], r["gid"], r["gname"])  # noqa: E731
                              for r in rows)
    assert key(carried.collect()) == key(rejoined.collect())

    s_carried = stats_loader(fact, "fk", groups, "gid", ref_field="gid",
                             carry=["gname"])
    assert s_carried.count() == 0  # fk 1-3 never match gid 100/200
    groups2 = spark.createDataFrame(pd.DataFrame(
        {"gid": [1, 2], "gname": ["a", "b"]}))
    s2 = stats_loader(fact, "fk", groups2, "gid", ref_field="gid",
                      carry=["gname"])
    assert sorted((r["gid"], r["gname"]) for r in s2.collect()) == \
        [(1, "a"), (1, "a"), (2, "b")]


def test_curation_stage_order_honored(spark):
    import pandas as pd

    from niamoto_spark.operators.curation import CurationConfig, curate_corpus

    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "text": ["good words here now", "good words here now"]}))
    _, stats = curate_corpus(docs, "doc_id", "text", CurationConfig(
        min_quality=0.0, min_tokens=1, stages=["exact_dedup", "quality"]))
    assert [r["stage"] for r in stats.collect()] == ["exact_dedup", "quality"]
    with pytest.raises(ValueError):
        curate_corpus(docs, "doc_id", "text",
                      CurationConfig(stages=["warp"]))


def test_dwca_embedded_quotes_doubled(tmp_path, spark):
    import pandas as pd
    import zipfile

    from niamoto_spark.exporters.dwc_archive import export_dwc_archive

    df = spark.createDataFrame(pd.DataFrame(
        {"occurrenceID": ["o1"], "remarks": ['tree "A" tagged']}))
    out = str(tmp_path / "a.zip")
    export_dwc_archive(df, out)
    body = zipfile.ZipFile(out).read("occurrence.txt").decode()
    assert '""A""' in body          # doubled, not backslash-escaped
    assert '\\"' not in body


def test_lateral_decorrelation_miscompile_canary(spark):
    """Spark-upgrade canary for the q308 Catalyst miscompile
    (VERDICT r11 next-#5).

    On stock Spark 4.1, a correlated LATERAL whose equality needs an
    implicit cast (string nation key vs bigint customer key)
    decorrelates with the per-group LIMIT planned as a GLOBAL
    TakeOrderedAndProject below the join: 2 rows total instead of
    top-2 per nation, silently.  queries.py q308 works around it by
    aligning view dtypes before registration.

    This test pins BOTH behaviors on a 3-row frame:
      * the RAW mismatched-dtype LATERAL currently returns the WRONG
        global-top-2 — if this assertion starts failing after a Spark
        upgrade, Catalyst fixed the decorrelation upstream and the
        q308 dtype-alignment workaround should be re-evaluated
        (it stays CORRECT either way, but becomes dead weight);
      * the dtype-ALIGNED form (the workaround) returns the correct
        per-group rows — if THIS fails, the workaround itself broke.
    """
    nat = spark.createDataFrame(
        [("1", "A"), ("2", "B")], "n_nationkey string, n_name string")
    cust = spark.createDataFrame(
        [(1, 1, "c1", 10.0), (2, 1, "c2", 20.0), (3, 1, "c3", 30.0),
         (4, 2, "c4", 5.0), (5, 2, "c5", 50.0), (6, 2, "c6", 15.0)],
        "c_custkey long, c_nationkey long, c_name string, "
        "c_acctbal double")
    lateral = """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation_c n,
        LATERAL (SELECT c_name, c_acctbal FROM customer_c c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
    """
    correct = {("A", "c3", 30.0), ("A", "c2", 20.0),
               ("B", "c5", 50.0), ("B", "c6", 15.0)}

    nat.createOrReplaceTempView("nation_c")
    cust.createOrReplaceTempView("customer_c")
    raw = {tuple(r) for r in spark.sql(lateral).collect()}
    assert raw == {("A", "c3", 30.0), ("B", "c5", 50.0)}, (
        "Catalyst LATERAL decorrelation behavior changed (likely a "
        "Spark upgrade fixed SPARK implicit-cast decorrelation): "
        f"got {raw}. Re-evaluate the q308 dtype-alignment workaround "
        "in niamoto_spark/queries.py.")

    aligned_nat = nat.withColumn(
        "n_nationkey", F.col("n_nationkey").cast("long"))
    aligned_nat.createOrReplaceTempView("nation_c")
    fixed = {tuple(r) for r in spark.sql(lateral).collect()}
    assert fixed == correct
