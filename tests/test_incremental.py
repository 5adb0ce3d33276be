"""Tests for incremental aggregate maintenance, HLL sketch rollups,
and corpus sharding."""

import pytest
from pyspark.sql import functions as F

from niamoto_spark.sources import manifest as M


def _orders(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("grp"),
        (F.col("id") * 1.5).alias("amt"))


def _maintain(spark, src, state):
    from niamoto_spark.operators.incremental import maintain_aggregate

    return maintain_aggregate(
        spark, src, state, ["grp"],
        [("sum", "amt"), ("count", "k"), ("min", "k"), ("max", "k")])


def _state_rows(spark, state):
    from niamoto_spark.operators.incremental import read_aggregate

    return {r["grp"]: (round(r["sum_amt"], 6), r["count_k"],
                       r["min_k"], r["max_k"])
            for r in read_aggregate(spark, state).collect()}


def _batch_rows(spark, src):
    df = M.read_table(spark, src)
    return {r["grp"]: (round(r["s"], 6), r["c"], r["mn"], r["mx"])
            for r in df.groupBy("grp").agg(
                F.sum("amt").alias("s"), F.count("k").alias("c"),
                F.min("k").alias("mn"), F.max("k").alias("mx")).collect()}


def test_incremental_equals_batch_after_appends(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    for lo, hi in ((0, 100), (100, 250), (250, 400)):
        M.append(_orders(spark, lo, hi), src)
        _maintain(spark, src, state)
        assert _state_rows(spark, state) == _batch_rows(spark, src)


def test_incremental_noop_when_source_unchanged(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    M.append(_orders(spark, 0, 50), src)
    v1 = _maintain(spark, src, state)
    v2 = _maintain(spark, src, state)  # nothing new
    assert v1 == v2 == M.current_version(state)


def test_incremental_catches_up_over_skipped_commits(spark, tmp_path):
    """Maintenance may lag several source commits; one run folds in the
    whole gap."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    M.append(_orders(spark, 0, 60), src)
    _maintain(spark, src, state)
    M.append(_orders(spark, 60, 120), src)
    M.append(_orders(spark, 120, 200), src)  # two unmaintained commits
    _maintain(spark, src, state)
    assert _state_rows(spark, state) == _batch_rows(spark, src)


def test_incremental_rejects_non_append_source(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    M.append(_orders(spark, 0, 50), src)
    _maintain(spark, src, state)
    M.overwrite(_orders(spark, 0, 10), src)  # drops files
    with pytest.raises(ValueError, match="append-only"):
        _maintain(spark, src, state)


def test_incremental_rejects_unknown_aggregate(spark, tmp_path):
    from niamoto_spark.operators.incremental import maintain_aggregate

    src = str(tmp_path / "src")
    M.append(_orders(spark, 0, 10), src)
    with pytest.raises(ValueError, match="algebraic"):
        maintain_aggregate(spark, src, str(tmp_path / "st"), ["grp"],
                           [("median", "amt")])


def test_incremental_watermark_in_commit_doc(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    M.append(_orders(spark, 0, 20), src)
    _maintain(spark, src, state)
    doc = M._read_manifest(state, M.current_version(state))
    assert doc["source_version"] == M.current_version(src)


# ---------------------------------------------------------------------------
# HLL sketch columns


def test_hll_rollup_error_bounded(spark):
    from niamoto_spark.operators.sketches import (distinct_sketches,
                                                  rollup_sketches)

    df = spark.range(20000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") % 30).alias("d"),
        (F.col("id") % 3000).alias("u"))
    daily = distinct_sketches(df, ["g", "d"], "u")
    per_g = {r["g"]: r["approx_distinct"]
             for r in rollup_sketches(daily, ["g"]).collect()}
    exact = {r["g"]: r["n"] for r in df.groupBy("g").agg(
        F.countDistinct("u").alias("n")).collect()}
    for g in exact:
        assert abs(per_g[g] - exact[g]) / exact[g] < 0.05


def test_hll_grand_total_union(spark):
    from niamoto_spark.operators.sketches import (distinct_sketches,
                                                  rollup_sketches)

    df = spark.range(5000).select(
        (F.col("id") % 7).alias("g"), (F.col("id") % 800).alias("u"))
    parts = distinct_sketches(df, ["g"], "u")
    total = rollup_sketches(parts, []).collect()[0]["approx_distinct"]
    assert abs(total - 800) / 800 < 0.05  # union dedups across groups


# ---------------------------------------------------------------------------
# Corpus sharding


def test_shard_corpus_deterministic_and_balanced(spark):
    from niamoto_spark.operators.text import shard_corpus

    df = spark.range(16000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["shard"]
         for r in shard_corpus(df, "doc_id", 16, seed=1).collect()}
    b = {r["doc_id"]: r["shard"]
         for r in shard_corpus(df.repartition(13), "doc_id", 16,
                               seed=1).collect()}
    assert a == b  # partitioning-invariant
    from collections import Counter
    sizes = Counter(a.values())
    assert len(sizes) == 16
    assert max(sizes.values()) < 2 * min(sizes.values())


def test_shard_seed_redeals(spark):
    from niamoto_spark.operators.text import shard_corpus

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["shard"]
         for r in shard_corpus(df, "doc_id", 8, seed=1).collect()}
    b = {r["doc_id"]: r["shard"]
         for r in shard_corpus(df, "doc_id", 8, seed=2).collect()}
    moved = sum(1 for k in a if a[k] != b[k])
    assert moved > len(a) / 2  # a new seed re-deals most docs


# ---------------------------------------------------------------------------
# JSONL shard export


def test_jsonl_shard_roundtrip(spark, tmp_path):
    from niamoto_spark.exporters.jsonl import export_jsonl_shards

    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
        (F.col("id") % 3).alias("grp"))
    out = str(tmp_path / "jsonl")
    n = export_jsonl_shards(df, "doc_id", out, n_shards=4)
    assert n == 4
    back = spark.read.json(out)
    assert back.select("shard").distinct().count() == 4
    got = sorted((r["doc_id"], r["text"], r["grp"])
                 for r in back.collect())
    want = sorted(map(tuple, df.collect()))
    assert got == want


def test_jsonl_shard_layout_one_file_per_shard(spark, tmp_path):
    import glob

    from niamoto_spark.exporters.jsonl import export_jsonl_shards

    df = spark.range(100).select(F.col("id").alias("doc_id"))
    out = str(tmp_path / "jsonl2")
    export_jsonl_shards(df, "doc_id", out, n_shards=3)
    for s in range(3):
        files = [f for f in glob.glob(f"{out}/shard={s}/part-*")
                 if not f.endswith(".crc")]
        assert len(files) == 1, files


def test_jsonl_lines_are_json(spark, tmp_path):
    import glob
    import json

    from niamoto_spark.exporters.jsonl import export_jsonl_shards

    df = spark.range(10).select(F.col("id").alias("doc_id"),
                                F.lit("x").alias("text"))
    out = str(tmp_path / "jsonl3")
    export_jsonl_shards(df, "doc_id", out, n_shards=1)
    f = [p for p in glob.glob(f"{out}/shard=0/part-*")
         if not p.endswith(".crc")][0]
    lines = open(f).read().strip().splitlines()
    assert len(lines) == 10
    for ln in lines:
        obj = json.loads(ln)
        assert set(obj) == {"doc_id", "text"}


# --- maintain_join ---------------------------------------------------------

def _mj_fixture(spark, tmp_path):
    import os
    lp = str(tmp_path / "left")
    rp = str(tmp_path / "right")
    sp = str(tmp_path / "state")
    return lp, rp, sp


def test_maintain_join_matches_full_join(spark, tmp_path):
    from niamoto_spark.operators.incremental import maintain_join
    from niamoto_spark.sources import manifest as M
    lp, rp, sp = _mj_fixture(spark, tmp_path)
    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, lv string")
    right = spark.createDataFrame(
        [(1, "X"), (3, "Y")], "k long, rv string")
    M.append(left.where("k <= 2"), lp)
    M.append(right.where("k = 1"), rp)
    maintain_join(spark, lp, rp, sp, on="k")
    assert sorted(map(tuple, M.read_table(spark, sp)
                      .select("k", "lv", "rv").collect())) \
        == [(1, "a", "X")]
    # append to BOTH sides; delta algebra must find every new pair
    M.append(left.where("k = 3"), lp)
    M.append(right.where("k = 3"), rp)
    maintain_join(spark, lp, rp, sp, on="k")
    assert sorted(map(tuple, M.read_table(spark, sp)
                      .select("k", "lv", "rv").collect())) \
        == [(1, "a", "X"), (3, "c", "Y")]


def test_maintain_join_idempotent_and_rejects_rewrite(spark, tmp_path):
    import pytest as _pt

    from niamoto_spark.operators.incremental import maintain_join
    from niamoto_spark.sources import manifest as M
    lp, rp, sp = _mj_fixture(spark, tmp_path)
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    M.append(df, lp)
    M.append(spark.createDataFrame([(1, "R")], "k long, r string"), rp)
    v1 = maintain_join(spark, lp, rp, sp, on="k")
    # no new source commits -> no-op, same version
    assert maintain_join(spark, lp, rp, sp, on="k") == v1
    # a compaction/overwrite on a source breaks append-only: refuse
    M.overwrite(df, lp)
    with _pt.raises(ValueError, match="dropped files"):
        maintain_join(spark, lp, rp, sp, on="k")
