"""Manifest-committed table format (sources/manifest.py): atomicity,
snapshot isolation, time travel, vacuum."""

import os

import pytest
from pyspark.sql import functions as F

from niamoto_spark.sources import manifest as M


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumn("v", F.col("id") * 2)


def test_append_versions_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v0 = M.append(_df(spark, 0, 10), t)
    v1 = M.append(_df(spark, 10, 15), t)
    assert (v0, v1) == (0, 1)
    assert M.read_table(spark, t).count() == 15            # latest
    assert M.read_table(spark, t, version=0).count() == 10  # time travel
    assert M.current_version(t) == 1


def test_overwrite_replaces_but_keeps_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 10), t)
    M.overwrite(_df(spark, 100, 103), t)
    assert sorted(r["id"] for r in M.read_table(spark, t).collect()) \
        == [100, 101, 102]
    assert M.read_table(spark, t, version=0).count() == 10


def test_crashed_writer_files_invisible(spark, tmp_path):
    """Data files staged without a manifest commit must never appear to
    readers — the torn-write guarantee."""
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 10), t)
    # simulate a crash: files land in data/, no commit happens
    orphan_dir = os.path.join(t, "data", "txn-deadbeef")
    _df(spark, 500, 600).write.parquet(orphan_dir)
    assert M.read_table(spark, t).count() == 10
    # FRESH never-committed files could be an in-flight writer's staging:
    # default retention must NOT reap them...
    assert M.vacuum(t, keep_versions=1) == 0
    assert os.path.exists(orphan_dir)
    # ...but past the retention window they are crashed-writer orphans
    deleted = M.vacuum(t, keep_versions=1, retention_sec=0.0)
    assert deleted > 0
    assert not os.path.exists(orphan_dir)
    assert M.read_table(spark, t).count() == 10


def test_vacuum_keeps_requested_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 5), t)
    M.overwrite(_df(spark, 10, 12), t)
    M.overwrite(_df(spark, 20, 21), t)
    M.vacuum(t, keep_versions=2)
    assert M.read_table(spark, t).count() == 1
    assert M.read_table(spark, t, version=1).count() == 2
    with pytest.raises(FileNotFoundError):
        M.read_table(spark, t, version=0)


def test_version_collision_detected(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 5), t)
    # another writer claims version 1 out from under us
    M._commit(t, 1, [], parent=0)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        M._commit(t, 1, [], parent=0)


def test_read_empty_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        M.read_table(spark, str(tmp_path / "never_written"))


def test_zone_map_file_skipping(spark, tmp_path):
    """Three appends with disjoint id ranges -> a range read must SKIP
    the non-overlapping files entirely (counted), and still return
    exactly the right rows."""
    t = str(tmp_path / "tbl")
    for lo in (0, 1000, 2000):
        M.append_with_stats(
            _df(spark, lo, lo + 100).repartition(1), t, stats_cols=["id"])
    df, read, skipped = M.read_table_pruned(spark, t, "id", 1000, 1099)
    assert read == 1 and skipped == 2
    assert df.count() == 100
    assert sorted(r["id"] for r in df.collect())[:2] == [1000, 1001]
    # residual filter still applies inside a kept file
    df2, read2, _ = M.read_table_pruned(spark, t, "id", 1010, 1019)
    assert read2 == 1 and df2.count() == 10


def test_zone_map_no_overlap_returns_empty(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append_with_stats(_df(spark, 0, 50).repartition(1), t,
                        stats_cols=["id"])
    df, read, skipped = M.read_table_pruned(spark, t, "id", 900, 999)
    assert (read, skipped) == (0, 1)
    assert df.count() == 0


def test_files_without_stats_are_read_conservatively(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 50).repartition(1), t)             # no stats
    M.append_with_stats(_df(spark, 100, 150).repartition(1), t,
                        stats_cols=["id"])
    df, read, skipped = M.read_table_pruned(spark, t, "id", 100, 120)
    assert skipped == 0          # stat-less file cannot be skipped
    assert df.count() == 21


def test_table_changes_between_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 10), t)        # v0
    M.append(_df(spark, 10, 25), t)       # v1
    M.append(_df(spark, 25, 30), t)       # v2
    delta = M.table_changes(spark, t, from_version=0, to_version=2)
    assert sorted(r["id"] for r in delta.collect()) == list(range(10, 30))
    none = M.table_changes(spark, t, from_version=2, to_version=2)
    assert none.count() == 0


def test_compaction_shrinks_files_keeps_rows_and_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for lo in range(0, 100, 10):            # 10 tiny commits
        M.append(_df(spark, lo, lo + 10).repartition(2), t)
    files_before = len(M._read_manifest(t, M.current_version(t))["files"])
    v = M.compact(spark, t, target_files=2)
    doc = M._read_manifest(t, v)
    assert len(doc["files"]) <= 2 < files_before
    assert M.read_table(spark, t).count() == 100
    assert M.read_table(spark, t, version=v - 1).count() == 100  # history


def test_sort_clustered_compaction_tightens_zone_maps(spark, tmp_path):
    """Interleaved appends give overlapping zone maps (no skipping);
    after sort-clustered compaction a narrow range read skips most
    files."""
    t = str(tmp_path / "tbl")
    # each commit spans the WHOLE id range -> every file overlaps
    for off in range(4):
        M.append_with_stats(
            _df(spark, 0, 1000).withColumn(
                "id", (F.col("id") * 4 + off).cast("long"))
            .repartition(1), t, stats_cols=["id"])
    _, read0, skip0 = M.read_table_pruned(spark, t, "id", 0, 99)
    assert skip0 == 0                       # all overlap: nothing skipped
    M.compact(spark, t, target_files=8, sort_by=["id"])
    df, read1, skip1 = M.read_table_pruned(spark, t, "id", 0, 99)
    assert skip1 >= 6                       # clustered: most files skipped
    assert df.count() == 100


def test_merge_upsert_replaces_and_appends_atomically(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 5), t)                     # v=0..4 -> v*2
    updates = spark.createDataFrame(
        [(3, 999), (100, 1)], ["id", "v"])
    v = M.merge_upsert(spark, updates, t, "id")
    rows = {r["id"]: r["v"] for r in M.read_table(spark, t).collect()}
    assert rows[3] == 999           # replaced
    assert rows[100] == 1           # appended
    assert rows[0] == 0 and len(rows) == 6
    # pre-merge snapshot intact (time travel)
    old = {r["id"]: r["v"]
           for r in M.read_table(spark, t, version=v - 1).collect()}
    assert old[3] == 6 and 100 not in old


def test_merge_upsert_into_empty_table(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.merge_upsert(spark, _df(spark, 0, 3), t, "id")
    assert M.read_table(spark, t).count() == 3


def test_two_concurrent_writers_exactly_one_wins(spark, tmp_path):
    """Two writers race the same version slot: exactly ONE commit
    succeeds, the loser raises cleanly (never both reporting success —
    the os.link EEXIST claim closes the old rename TOCTOU window), and
    a retry against the new head lands both datasets."""
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 5), t)  # head: v0

    # Both writers stage data, both observe parent=0, both try v1.
    # Simulate with direct _commit_doc calls at the same version.
    M._commit_doc(t, 1, {"parent": 0, "files": [], "writer": "A"})
    with pytest.raises(RuntimeError, match="concurrent commit"):
        M._commit_doc(t, 1, {"parent": 0, "files": [], "writer": "B"})
    # winner's doc intact — not silently replaced by the loser
    assert M._read_manifest(t, 1)["writer"] == "A"
    # loser retries against the refreshed head and succeeds
    v = M.append(_df(spark, 5, 8), t)
    assert v == 2 and M.current_version(t) == 2
    # no stray staged .tmp manifests left behind
    meta = os.path.join(t, "_log")
    assert not [f for f in os.listdir(meta) if f.endswith(".tmp")]


def test_vacuum_reaps_dropped_version_files_immediately(spark, tmp_path):
    """Files committed to a now-dropped version are reaped regardless of
    age (their visibility ended with their manifest); only NEVER
    committed files get the in-flight retention grace."""
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 10), t)        # v0
    M.overwrite(_df(spark, 50, 53), t)    # v1 (v0 files now historical)
    deleted = M.vacuum(t, keep_versions=1)  # default retention
    assert deleted > 0                      # v0's fresh files reaped
    assert M.read_table(spark, t).count() == 3


def test_zone_map_date_column_prunes(spark, tmp_path):
    """Zone maps on a DATE column: min/max round-trip the JSON manifest
    as ISO strings and must still prune (the default=str regression —
    stats and query bounds now compare in one canonical domain)."""
    import datetime

    t = str(tmp_path / "tbl")
    for year in (2020, 2021, 2022):
        df = (spark.range(0, 50)
              .withColumn("d", F.to_date(F.lit(f"{year}-06-01"))
                          + F.col("id").cast("int")))
        M.append_with_stats(df.repartition(1), t, stats_cols=["d"])
    df, read, skipped = M.read_table_pruned(
        spark, t, "d",
        datetime.date(2021, 6, 1), datetime.date(2021, 6, 30))
    assert read == 1 and skipped == 2
    assert df.count() == 30


def test_zone_map_timestamp_column_prunes(spark, tmp_path):
    import datetime

    t = str(tmp_path / "tbl")
    for day in (1, 10, 20):
        df = (spark.range(0, 24)
              .withColumn("ts", F.to_timestamp(F.lit(f"2024-03-{day:02d}"))
                          + F.make_interval(hours=F.col("id").cast("int"))))
        M.append_with_stats(df.repartition(1), t, stats_cols=["ts"])
    df, read, skipped = M.read_table_pruned(
        spark, t, "ts",
        datetime.datetime(2024, 3, 10), datetime.datetime(2024, 3, 11))
    assert read == 1 and skipped == 2
    assert df.count() == 24


def test_merge_upsert_rejects_duplicate_update_keys(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 5), t)
    dup_updates = spark.createDataFrame(
        [(3, 1), (3, 2)], ["id", "v"])
    with pytest.raises(ValueError, match="duplicate"):
        M.merge_upsert(spark, dup_updates, t, "id")


def test_merge_upsert_keeps_all_base_rows_for_unmatched_keys(spark, tmp_path):
    """The base table is a heap: a key with several legitimate rows that
    the updates don't touch must keep ALL of them (the old window-dedup
    shape silently collapsed multi-row keys)."""
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], ["id", "v"])
    M.append(base, t)
    updates = spark.createDataFrame([(2, 99)], ["id", "v"])
    M.merge_upsert(spark, updates, t, "id")
    rows = sorted((r["id"], r["v"])
                  for r in M.read_table(spark, t).collect())
    assert rows == [(1, 10), (1, 11), (2, 99)]


def test_schema_evolution_additive_column(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 5), t)
    M.append(_df(spark, 5, 8).withColumn("extra", F.lit("x")), t)
    merged = M.read_table(spark, t, merge_schema=True)
    assert "extra" in merged.columns
    rows = {r["id"]: r["extra"] for r in merged.collect()}
    assert rows[0] is None and rows[6] == "x"
    assert merged.count() == 8


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering keeps zone maps tight on BOTH clustered
    columns; single-column range clustering only helps its first
    column.  Probe: range queries on each dimension must skip most
    files under zorder; under x-only clustering the y-query reads
    everything."""
    t_z = str(tmp_path / "tz")
    t_x = str(tmp_path / "tx")
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y"))
    M.append(df, t_z)
    M.append(df, t_x)
    M.compact(spark, t_z, target_files=16, sort_by=["x", "y"],
              cluster="zorder")
    M.compact(spark, t_x, target_files=16, sort_by=["x"])

    def skip_ratio(t, col):
        res, nread, nskip = M.read_table_pruned(spark, t, col, 0, 7)
        assert res.where((F.col(col) < 0) | (F.col(col) > 7)).count() == 0
        assert res.where((F.col(col) >= 0) & (F.col(col) <= 7)).count() \
            == 512
        return nskip / (nread + nskip)

    # zorder: both dims prune well (each file covers ~a quadrant)
    assert skip_ratio(t_z, "x") >= 0.5
    assert skip_ratio(t_z, "y") >= 0.5
    # x-clustered: x prunes nearly perfectly, y not at all
    assert skip_ratio(t_x, "x") >= 0.75
    assert skip_ratio(t_x, "y") == 0.0


def test_zorder_requires_two_columns(spark, tmp_path):
    t = str(tmp_path / "t1")
    M.append(spark.range(10).select(F.col("id").alias("x")), t)
    with pytest.raises(ValueError, match="zorder needs 2"):
        M.compact(spark, t, sort_by=["x"], cluster="zorder")


def test_zorder_preserves_rows(spark, tmp_path):
    t = str(tmp_path / "t2")
    df = spark.range(500).select(
        (F.col("id") * 7 % 100).alias("x"),
        (F.col("id") * 13 % 100).alias("y"),
        F.col("id").alias("payload"))
    M.append(df, t)
    M.compact(spark, t, target_files=8, sort_by=["x", "y"],
              cluster="zorder")
    got = sorted(r["payload"] for r in M.read_table(spark, t).collect())
    assert got == list(range(500))


def test_delete_where_removes_only_matching_rows(spark, tmp_path):
    t = str(tmp_path / "td")
    M.append(spark.range(100).select(F.col("id"),
                                     (F.col("id") % 2).alias("par")), t)
    v = M.delete_where(spark, t, "id >= 90")
    assert v == M.current_version(t)
    ids = sorted(r["id"] for r in M.read_table(spark, t).collect())
    assert ids == list(range(90))
    # time travel still sees the pre-delete snapshot
    old = M.read_table(spark, t, version=v - 1).count()
    assert old == 100


def test_delete_where_copy_on_write_minimal(spark, tmp_path):
    """Files the predicate never touches carry over BY REFERENCE (same
    path) — write amplification bounded by matching files."""
    t = str(tmp_path / "tm")
    df = spark.range(1000).select(F.col("id"))
    M.append_with_stats(df, t, stats_cols=["id"])
    M.compact(spark, t, target_files=10, sort_by=["id"])
    before = set(M._read_manifest(t, M.current_version(t))["files"])
    M.delete_where(spark, t, "id BETWEEN 0 AND 49")  # ~1 of 10 files
    after = set(M._read_manifest(t, M.current_version(t))["files"])
    carried = before & after
    assert len(carried) >= 8  # at most ~2 files rewritten
    assert M.read_table(spark, t).count() == 950


def test_delete_where_no_match_is_noop(spark, tmp_path):
    t = str(tmp_path / "tn")
    M.append(spark.range(10), t)
    v0 = M.current_version(t)
    assert M.delete_where(spark, t, "id > 1000") == v0
    assert M.current_version(t) == v0


def test_update_where_rewrites_matching_rows(spark, tmp_path):
    t = str(tmp_path / "tu")
    M.append(spark.range(50).select(F.col("id"),
                                    F.lit("ok").alias("status")), t)
    M.update_where(spark, t, "id % 10 = 0", {"status": F.lit("flagged")})
    rows = {r["id"]: r["status"] for r in M.read_table(spark, t).collect()}
    for i in range(50):
        assert rows[i] == ("flagged" if i % 10 == 0 else "ok")


def test_update_where_unknown_column_raises(spark, tmp_path):
    t = str(tmp_path / "tu2")
    M.append(spark.range(5), t)
    with pytest.raises(ValueError, match="unknown column"):
        M.update_where(spark, t, "id = 1", {"nope": F.lit(0)})


def test_delete_preserves_zone_map_stats(spark, tmp_path):
    """Rewritten files get fresh stats; carried files keep theirs —
    pruned reads stay correct after a delete."""
    t = str(tmp_path / "ts")
    M.append_with_stats(spark.range(1000).select(F.col("id")), t,
                        stats_cols=["id"])
    M.compact(spark, t, target_files=10, sort_by=["id"])
    M.delete_where(spark, t, "id BETWEEN 100 AND 199")
    df, read, skipped = M.read_table_pruned(spark, t, "id", 900, 999)
    assert skipped > 0
    assert df.where("id BETWEEN 900 AND 999").count() == 100


def test_bloom_index_point_lookup_skips_files(spark, tmp_path):
    t = str(tmp_path / "tb")
    df = spark.range(10000).select(F.col("id"),
                                   (F.col("id") % 97).alias("salt"))
    # cluster so each file holds a disjoint id range, then bloom-index
    t2 = str(tmp_path / "tb2")
    M.append_with_blooms(df.repartitionByRange(10, "id"), t2,
                         bloom_cols=["id"])
    res, read, skipped = M.read_table_point(spark, t2, "id", 4242)
    rows = res.collect()
    assert [r["id"] for r in rows] == [4242]
    assert read + skipped == 10
    assert skipped >= 8  # value lives in 1 of 10 disjoint files


def test_bloom_index_absent_value_skips_everything(spark, tmp_path):
    t = str(tmp_path / "tb3")
    M.append_with_blooms(spark.range(1000).select(F.col("id")), t,
                         bloom_cols=["id"])
    res, read, skipped = M.read_table_point(spark, t, "id", 999999)
    assert res.count() == 0
    assert read == 0 and skipped > 0


def test_bloom_index_string_column(spark, tmp_path):
    t = str(tmp_path / "tb4")
    df = spark.createDataFrame(
        [(i, f"user_{i}") for i in range(500)], "id long, name string")
    M.append_with_blooms(df.repartition(5), t, bloom_cols=["name"])
    res, read, skipped = M.read_table_point(spark, t, "name", "user_77")
    assert [r["id"] for r in res.collect()] == [77]


def test_bloom_index_rejects_double_column(spark, tmp_path):
    t = str(tmp_path / "tb5")
    df = spark.range(10).select((F.col("id") * 1.5).alias("x"))
    with pytest.raises(ValueError, match="unsupported type"):
        M.append_with_blooms(df, t, bloom_cols=["x"])


def test_bloom_index_no_false_negatives(spark, tmp_path):
    t = str(tmp_path / "tb6")
    M.append_with_blooms(
        spark.range(2000).select((F.col("id") * 3).alias("k")),
        t, bloom_cols=["k"])
    for probe in (0, 3, 2997, 5997):
        res, _, _ = M.read_table_point(spark, t, "k", probe)
        assert res.count() == 1, probe


def test_table_diff_classifies_changes(spark, tmp_path):
    t = str(tmp_path / "tdiff")
    M.append(spark.range(10).select(F.col("id"),
                                    F.lit("v1").alias("s")), t)
    v0 = M.current_version(t)
    M.delete_where(spark, t, "id >= 8")                      # removed 8,9
    M.update_where(spark, t, "id < 2", {"s": F.lit("v2")})   # changed 0,1
    d = {r["id"]: r["change"]
         for r in M.table_diff(spark, t, v0, key_cols=["id"]).collect()}
    assert d == {0: "changed", 1: "changed", 8: "removed", 9: "removed"}


def test_table_diff_detects_added(spark, tmp_path):
    t = str(tmp_path / "tdiff2")
    M.append(spark.range(5).select(F.col("id")), t)
    v0 = M.current_version(t)
    M.append(spark.range(5, 8).select(F.col("id")), t)
    d = {r["id"]: r["change"]
         for r in M.table_diff(spark, t, v0, key_cols=["id"]).collect()}
    assert d == {5: "added", 6: "added", 7: "added"}


def test_table_diff_rejects_duplicate_keys(spark, tmp_path):
    t = str(tmp_path / "tdiff3")
    M.append(spark.range(4).select((F.col("id") % 2).alias("id")), t)
    with pytest.raises(ValueError, match="not unique"):
        M.table_diff(spark, t, 0, key_cols=["id"])


def test_restore_version_rolls_back(spark, tmp_path):
    t = str(tmp_path / "trest")
    M.append(spark.range(10).select(F.col("id")), t)
    v0 = M.current_version(t)
    M.delete_where(spark, t, "id >= 5")
    assert M.read_table(spark, t).count() == 5
    v_new = M.restore_version(t, v0)
    assert v_new == M.current_version(t)
    assert M.read_table(spark, t).count() == 10
    # bad version still in history (auditable)
    assert M.read_table(spark, t, version=v0 + 1).count() == 5
    doc = M._read_manifest(t, v_new)
    assert doc["restored_from"] == v0


def test_restore_survives_vacuum(spark, tmp_path):
    t = str(tmp_path / "trest2")
    M.append(spark.range(6).select(F.col("id")), t)
    v0 = M.current_version(t)
    M.overwrite(spark.range(2).select(F.col("id")), t)
    M.restore_version(t, v0)
    M.vacuum(t, keep_versions=1, retention_sec=0)
    assert sorted(r["id"] for r in M.read_table(spark, t).collect()) \
        == list(range(6))


def test_append_checked_blocks_bad_batch(spark, tmp_path):
    t = str(tmp_path / "tchk")
    good = spark.range(10).select(F.col("id"), F.lit(5.0).alias("v"))
    M.append_checked(good, t, [{"rule": "not_null", "col": "id"},
                               {"rule": "in_range", "col": "v",
                                "lo": 0, "hi": 10}])
    assert M.read_table(spark, t).count() == 10
    bad = spark.range(3).select(F.col("id"), F.lit(99.0).alias("v"))
    with pytest.raises(ValueError, match="constraints violated"):
        M.append_checked(bad, t, [{"rule": "in_range", "col": "v",
                                   "lo": 0, "hi": 10}])
    # nothing committed, nothing staged as the head
    assert M.read_table(spark, t).count() == 10


def test_table_history_describes_versions(spark, tmp_path):
    t = str(tmp_path / "thist")
    M.append(spark.range(5).select(F.col("id")), t)
    M.append_with_stats(spark.range(5, 9).select(F.col("id")), t,
                        stats_cols=["id"])
    M.restore_version(t, 0)
    h = {r["version"]: r for r in M.table_history(spark, t).collect()}
    assert set(h) == {0, 1, 2}
    assert h[1]["has_stats"] and not h[0]["has_stats"]
    assert h[2]["restored_from"] == 0
    assert h[2]["n_files"] == h[0]["n_files"]


# --- shallow clone + write-audit-publish -----------------------------------

def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    M.append(_df(spark, 0, 10), src)
    M.shallow_clone(src, dst)
    # zero-copy: the clone's manifest references the SOURCE's files
    doc = M._read_manifest(dst, 0)
    assert doc["files"] == M._read_manifest(src, 0)["files"]
    assert doc["cloned_from"]["version"] == 0
    assert M.read_table(spark, dst).count() == 10
    # independent evolution: writes to the clone never touch the source
    M.append(_df(spark, 100, 105), dst)
    assert M.read_table(spark, dst).count() == 15
    assert M.read_table(spark, src).count() == 10
    M.append(_df(spark, 200, 202), src)
    assert M.read_table(spark, dst).count() == 15


def test_shallow_clone_refuses_existing_target(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    M.append(_df(spark, 0, 5), src)
    M.append(_df(spark, 0, 3), dst)
    with pytest.raises(FileExistsError):
        M.shallow_clone(src, dst)


def test_wap_stage_invisible_until_publish(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 10), t)
    M.wap_stage(_df(spark, 10, 20), t, "b1")
    assert M.read_table(spark, t).count() == 10       # unpublished
    assert M.read_branch(spark, t, "b1").count() == 20  # audit surface
    v = M.wap_publish(t, "b1")
    assert v == 1
    assert M.read_table(spark, t).count() == 20
    # branch doc consumed
    assert not os.path.exists(
        os.path.join(t, "_log", "branch-b1.json"))


def test_wap_abandon_leaves_no_trace(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 10), t)
    doc = M.wap_stage(_df(spark, 10, 20), t, "bad")
    M.wap_abandon(t, "bad")
    assert M.read_table(spark, t).count() == 10
    for f in doc["new_files"]:
        assert not os.path.exists(f)
    # base files untouched by the abandon
    assert M.read_table(spark, t).count() == 10


def test_wap_publish_conflict_on_moved_head(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 10), t)
    M.wap_stage(_df(spark, 10, 20), t, "b1")
    M.append(_df(spark, 50, 55), t)  # interleaved writer moves head
    with pytest.raises(RuntimeError, match="head moved"):
        M.wap_publish(t, "b1")
    # stale-base publish blocked: the interleaved rows survive
    assert M.read_table(spark, t).count() == 15


def test_vacuum_branch_ttl_ages_out_orphaned_stage(spark, tmp_path):
    """ADVICE r11: a branch orphaned by a crash between wap_stage and
    its audit pins files from vacuum forever by default; branch_ttl_sec
    ages it out — doc removed FIRST so a late wap_publish fails loudly
    instead of promoting reaped files."""
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 10), t)
    doc = M.wap_stage(_df(spark, 10, 20), t, "crashed")
    # default: the stage pins its files through any number of vacuums
    M.vacuum(t, retention_sec=0)
    for f in doc["new_files"]:
        assert os.path.exists(f)
    # with a TTL it ages out: doc gone, publish loud, files reapable
    M.vacuum(t, retention_sec=0, branch_ttl_sec=0)
    assert not os.path.exists(
        os.path.join(t, "_log", "branch-crashed.json"))
    with pytest.raises(FileNotFoundError):
        M.wap_publish(t, "crashed")
    for f in doc["new_files"]:
        assert not os.path.exists(f)
    assert M.read_table(spark, t).count() == 10   # base intact


def test_vacuum_branch_ttl_spares_fresh_stage(spark, tmp_path):
    """The TTL only reaps stages OLDER than the horizon — a live audit
    in progress keeps its pin."""
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 10), t)
    doc = M.wap_stage(_df(spark, 10, 20), t, "live")
    M.vacuum(t, retention_sec=0, branch_ttl_sec=3600)
    for f in doc["new_files"]:
        assert os.path.exists(f)
    assert M.wap_publish(t, "live") == 1
    assert M.read_table(spark, t).count() == 20


def test_wap_overwrite_mode(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 10), t)
    M.wap_stage(_df(spark, 100, 103), t, "b1", mode="overwrite")
    M.wap_publish(t, "b1")
    assert sorted(r["id"] for r in M.read_table(spark, t).collect()) \
        == [100, 101, 102]
    assert M.read_table(spark, t, version=0).count() == 10


# --- hidden partitioning ---------------------------------------------------

def test_hidden_day_partition_prunes(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = (spark.range(0, 20)
          .withColumn("ts", F.expr(
              "timestamp '2024-01-01 12:00:00' + make_interval(0,0,0,CAST(id AS INT),0,0,0)")))
    M.append_hidden_partitioned(df, t, ("day", "ts"))
    out, kept, total = M.read_hidden_range(
        spark, t, "2024-01-05", "2024-01-07 23:59:59")
    assert total == 20 and kept == 3
    assert sorted(r["id"] for r in out.collect()) == [4, 5, 6]


def test_hidden_bucket_point_lookup(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(0, 100).withColumn("k", F.col("id"))
    M.append_hidden_partitioned(df, t, ("bucket", 8, "k"))
    out, kept, total = M.read_hidden_point(spark, t, 42)
    assert kept < total            # only the probe's bucket read
    assert [r["k"] for r in out.collect()] == [42]
    # driver-side bucket agrees with the JVM layout
    assert M.bucket_of(42, 8) < 8


def test_hidden_trunc_partition(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(0, 100).withColumn("v", F.col("id"))
    M.append_hidden_partitioned(df, t, ("trunc", 25, "v"))
    out, kept, total = M.read_hidden_range(spark, t, 30, 60)
    assert total == 4 and kept == 2
    assert out.count() == 31


def test_hidden_transform_change_rejected(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(0, 10).withColumn("v", F.col("id"))
    M.append_hidden_partitioned(df, t, ("trunc", 5, "v"))
    with pytest.raises(ValueError, match="transform changed"):
        M.append_hidden_partitioned(df, t, ("trunc", 2, "v"))
    # same transform appends fine and accumulates pruning metadata
    M.append_hidden_partitioned(df, t, ("trunc", 5, "v"))
    out, kept, total = M.read_hidden_range(spark, t, 0, 4)
    assert total == 4 and kept == 2
    assert out.count() == 10


# --- deletion vectors (merge-on-read DELETE) -------------------------------

def test_dv_delete_rewrites_nothing(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 20), t)
    files_before = sorted(M._read_manifest(t, 0)["files"])
    mtimes = {f: os.path.getmtime(f) for f in files_before}
    v, n = M.delete_where_mor(spark, t, "id % 5 = 0")
    assert (v, n) == (1, 4)
    doc = M._read_manifest(t, 1)
    assert sorted(doc["files"]) == files_before       # zero rewrite
    assert all(os.path.getmtime(f) == mtimes[f] for f in files_before)
    assert sorted(r["id"] for r in M.read_table(spark, t).collect()) \
        == [i for i in range(20) if i % 5 != 0]
    # time travel still sees the pre-delete snapshot
    assert M.read_table(spark, t, version=0).count() == 20


def test_dv_stacks_and_compact_materializes(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 10), t)
    M.delete_where_mor(spark, t, "id = 3")
    v, n = M.delete_where_mor(spark, t, "id IN (3, 7)")
    assert n == 1                                     # 3 already gone
    assert M.read_table(spark, t).count() == 8
    cv = M.compact(spark, t, target_files=1)
    doc = M._read_manifest(t, cv)
    assert "dv" not in doc                            # materialized
    assert M.read_table(spark, t).count() == 8


def test_dv_applied_by_pruned_and_point_readers(spark, tmp_path):
    """Zone-map and bloom readers must apply deletion vectors, not
    resurrect MOR-deleted rows (they used to guard-raise; now they
    filter like read_table does)."""
    t = str(tmp_path / "tbl")
    M.append_with_stats(_df(spark, 0, 10), t, stats_cols=["id"])
    M.delete_where_mor(spark, t, "id = 1")
    df, _, _ = M.read_table_pruned(spark, t, "id", 0, 5)
    assert sorted(r["id"] for r in df.collect()) == [0, 2, 3, 4, 5]
    t2 = str(tmp_path / "tbl2")
    M.append_with_blooms(_df(spark, 0, 10), t2, bloom_cols=["id"])
    M.delete_where_mor(spark, t2, "id = 3")
    df2, kept, _ = M.read_table_point(spark, t2, "id", 3)
    assert df2.count() == 0 and kept >= 1   # bloom says maybe, DV says no


def test_dv_cow_dml_on_dv_table(spark, tmp_path):
    """delete_where / update_where on a DV-carrying table: the rewrite
    materializes the touched files' vectors instead of resurrecting."""
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 10).coalesce(1), t)
    M.delete_where_mor(spark, t, "id = 1")
    M.delete_where(spark, t, "id = 2")          # COW on the same file
    assert sorted(r["id"] for r in M.read_table(spark, t).collect()) \
        == [0, 3, 4, 5, 6, 7, 8, 9]
    doc = M._read_manifest(t, M.committed_version(t))
    assert not doc.get("dv")                    # fully materialized
    M.delete_where_mor(spark, t, "id = 4")
    M.update_where(spark, t, "id = 5", {"v": F.lit(-1).cast("long")})
    rows = {r["id"]: r["v"] for r in M.read_table(spark, t).collect()}
    assert 4 not in rows and rows[5] == -1


def test_dv_table_changes_excludes_deleted(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 5), t)               # v0
    M.append(_df(spark, 5, 10), t)              # v1: adds 5..9
    M.delete_where_mor(spark, t, "id = 7")      # v2
    added = M.table_changes(spark, t, 0)
    assert sorted(r["id"] for r in added.collect()) == [5, 6, 8, 9]


def test_dv_survives_append_family(spark, tmp_path):
    """ADVICE r7: append (and stats/blooms/checked variants) used to
    carry head files but DROP the dv key — one append after a MOR
    delete silently resurrected every deleted row."""
    for name, appender in [
        ("plain", lambda d, t: M.append(d, t)),
        ("stats", lambda d, t: M.append_with_stats(d, t, ["id"])),
        ("blooms", lambda d, t: M.append_with_blooms(d, t, ["id"])),
        ("checked", lambda d, t: M.append_checked(
            d, t, [{"rule": "not_null", "col": "id"}])),
    ]:
        t = str(tmp_path / f"tbl_{name}")
        appender(_df(spark, 0, 10), t)
        M.delete_where_mor(spark, t, "id = 3")
        appender(_df(spark, 10, 12), t)
        got = sorted(r["id"] for r in M.read_table(spark, t).collect())
        assert got == [0, 1, 2, 4, 5, 6, 7, 8, 9, 10, 11], name


def test_dv_survives_restore_and_clone(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 6), t)               # v0
    M.delete_where_mor(spark, t, "id = 2")      # v1
    M.append(_df(spark, 6, 8), t)               # v2
    M.restore_version(t, 1)                     # v3 = v1's state
    assert sorted(r["id"] for r in M.read_table(spark, t).collect()) \
        == [0, 1, 3, 4, 5]
    c = str(tmp_path / "clone")
    M.shallow_clone(t, c)
    assert sorted(r["id"] for r in M.read_table(spark, c).collect()) \
        == [0, 1, 3, 4, 5]


def test_dv_survives_wap_branch(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 6), t)
    M.delete_where_mor(spark, t, "id = 1")
    M.wap_stage(_df(spark, 6, 8), t, "b1", mode="append")
    staged = sorted(r["id"] for r in M.read_branch(spark, t, "b1")
                    .collect())
    assert staged == [0, 2, 3, 4, 5, 6, 7]      # audit surface honest
    M.wap_publish(t, "b1")
    assert sorted(r["id"] for r in M.read_table(spark, t).collect()) \
        == [0, 2, 3, 4, 5, 6, 7]


def test_dv_hidden_partitioned_roundtrip(spark, tmp_path):
    """Hidden-partition readers apply DVs; appends and partition
    overwrite carry them (restricted to surviving files)."""
    t = str(tmp_path / "tbl")
    M.append_hidden_partitioned(_df(spark, 0, 20), t, ("trunc", 5, "id"))
    M.delete_where_mor(spark, t, "id IN (2, 12)")
    df, _, _ = M.read_hidden_range(spark, t, 0, 9)
    assert sorted(r["id"] for r in df.collect()) \
        == [0, 1, 3, 4, 5, 6, 7, 8, 9]
    # append another batch: both old DV entries must survive
    M.append_hidden_partitioned(_df(spark, 20, 22), t, ("trunc", 5, "id"))
    df2, _, _ = M.read_hidden_range(spark, t, 10, 21)
    assert sorted(r["id"] for r in df2.collect()) \
        == [10, 11, 13, 14, 15, 16, 17, 18, 19, 20, 21]
    # overwrite partition [10,15): its DV entry (id=12) dies with the
    # files; the other partition's entry (id=2) must survive
    repl = spark.range(10, 15).withColumn("v", F.col("id") * 100)
    M.overwrite_hidden_partition(repl, t, 10)
    df3, _, _ = M.read_hidden_range(spark, t, 0, 21)
    assert sorted(r["id"] for r in df3.collect()) \
        == [0, 1] + list(range(3, 22))
    # bucket table point read applies DV too
    tb = str(tmp_path / "tblb")
    M.append_hidden_partitioned(_df(spark, 0, 10), tb, ("bucket", 4, "id"))
    M.delete_where_mor(spark, tb, "id = 6")
    got, _, _ = M.read_hidden_point(spark, tb, 6)
    assert got.count() == 0


def test_dv_compact_where_materializes_touched_carries_rest(
        spark, tmp_path):
    t = str(tmp_path / "tbl")
    for lo in (0, 10, 20, 30):
        M.append_with_stats(_df(spark, lo, lo + 10), t, ["id"])
    M.delete_where_mor(spark, t, "id IN (5, 25)")
    v, rew, car = M.compact_where(spark, t, "id", 0, 9, target_files=1)
    assert rew >= 1 and car >= 1
    doc = M._read_manifest(t, v)
    # touched range's DV entry materialized away; untouched carried
    dv_rows = sorted(i for ix in doc.get("dv", {}).values() for i in ix)
    assert len(dv_rows) == 1                    # only id=25's entry left
    assert sorted(r["id"] for r in M.read_table(spark, t).collect()) \
        == [i for i in range(40) if i not in (5, 25)]


def test_dv_nothing_matched_no_commit(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(_df(spark, 0, 5), t)
    v, n = M.delete_where_mor(spark, t, "id > 100")
    assert (v, n) == (0, 0)
    assert M.current_version(t) == 0


# --- result cache ----------------------------------------------------------

def test_result_cache_hit_miss_invalidate(spark, tmp_path):
    from niamoto_spark.resultcache import cached_query
    tbl = str(tmp_path / "tbl")
    cache = str(tmp_path / "cache")
    M.append(_df(spark, 0, 10), tbl)
    calls = []

    def build():
        calls.append(1)
        return M.read_table(spark, tbl).groupBy().sum("v")

    r1, h1 = cached_query(spark, cache, "q", [tbl], build)
    r2, h2 = cached_query(spark, cache, "q", [tbl], build)
    assert (h1, h2) == (False, True)
    assert len(calls) == 1                       # build ran once
    assert r1.first()[0] == r2.first()[0] == 90
    # different query key -> its own entry
    _, h3 = cached_query(spark, cache, "q2", [tbl], build)
    assert not h3
    # append invalidates
    M.append(_df(spark, 10, 12), tbl)
    r4, h4 = cached_query(spark, cache, "q", [tbl], build)
    assert not h4 and r4.first()[0] == 90 + 20 + 22


# --- streaming upsert (CDC-apply) ------------------------------------------

def test_stream_upsert_applies_cdc_and_restarts_idempotently(
        spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    tbl = str(tmp_path / "tbl")
    os.makedirs(src_dir)
    # batch files: k=1 appears twice across files with newer value
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string") \
        .coalesce(1).write.parquet(os.path.join(src_dir, "f1"))
    stream = (spark.readStream
              .schema("k long, v string")
              .parquet(os.path.join(src_dir, "*")))
    q = M.stream_upsert_to_table(stream, tbl, ckpt, "k")
    q.awaitTermination()
    assert sorted(map(tuple, M.read_table(spark, tbl)
                      .select("k", "v").collect())) \
        == [(1, "a"), (2, "b")]
    # second micro-run: update k=1, insert k=3
    spark.createDataFrame([(1, "a2"), (3, "c")], "k long, v string") \
        .coalesce(1).write.parquet(os.path.join(src_dir, "f2"))
    q = M.stream_upsert_to_table(
        (spark.readStream.schema("k long, v string")
         .parquet(os.path.join(src_dir, "*"))), tbl, ckpt, "k")
    q.awaitTermination()
    rows = sorted(map(tuple, M.read_table(spark, tbl)
                      .select("k", "v").collect()))
    assert rows == [(1, "a2"), (2, "b"), (3, "c")]
    # replaying from the same checkpoint with no new data: no-op
    v_before = M.current_version(tbl)
    q = M.stream_upsert_to_table(
        (spark.readStream.schema("k long, v string")
         .parquet(os.path.join(src_dir, "*"))), tbl, ckpt, "k")
    q.awaitTermination()
    assert M.current_version(tbl) == v_before


# --- table maintenance CLI -------------------------------------------------

def test_cli_table_ops(spark, tmp_path, capsys):
    import json as _json

    from niamoto_spark import cli

    t = str(tmp_path / "tbl")
    dest = str(tmp_path / "clone")
    M.append(_df(spark, 0, 10), t)
    M.append(_df(spark, 10, 15), t)

    assert cli.main(["table", "history", "--path", t]) == 0
    lines = [_json.loads(l) for l in
             capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 2

    assert cli.main(["table", "clone", "--path", t,
                     "--dest", dest]) == 0
    capsys.readouterr()
    assert M.read_table(spark, dest).count() == 15

    assert cli.main(["table", "compact", "--path", t,
                     "--target-files", "1"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["compacted_version"] == 2

    assert cli.main(["table", "restore", "--path", t,
                     "--version", "0"]) == 0
    capsys.readouterr()
    assert M.read_table(spark, t).count() == 10


def test_partition_overwrite_replaces_one_day(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = (spark.range(0, 20)
          .withColumn("ts", F.expr(
              "timestamp '2024-01-01 12:00:00' "
              "+ make_interval(0,0,0,CAST(id % 4 AS INT),0,0,0)"))
          .withColumn("v", F.lit(1)))
    M.append_hidden_partitioned(df, t, ("day", "ts"))
    files0 = set(M._read_manifest(t, 0)["files"])
    day1 = (df.where(F.to_date("ts") == "2024-01-02")
            .withColumn("v", F.lit(99)))
    pval = M.read_hidden_range(spark, t, "2024-01-02",
                               "2024-01-02 23:59:59")[0]
    import datetime as dt
    p = (dt.date(2024, 1, 2) - dt.date(1970, 1, 1)).days
    M.overwrite_hidden_partition(day1, t, p)
    out = M.read_table(spark, t)
    assert out.where("v = 99").count() == 5
    assert out.where("v = 1").count() == 15
    # untouched partitions carried by reference
    files1 = set(M._read_manifest(t, 1)["files"])
    assert len(files0 & files1) == 3
    # pruning metadata intact: the 3 carried files are skipped, only
    # the rewritten partition's files are read
    read_df, kept, total = M.read_hidden_range(
        spark, t, "2024-01-02", "2024-01-02 23:59:59")
    assert kept == total - 3
    assert read_df.count() == 5


def test_partition_overwrite_rejects_misplaced_rows(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = (spark.range(0, 8)
          .withColumn("ts", F.expr(
              "timestamp '2024-01-01 12:00:00' "
              "+ make_interval(0,0,0,CAST(id % 2 AS INT),0,0,0)")))
    M.append_hidden_partitioned(df, t, ("day", "ts"))
    import datetime as dt
    p = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days
    with pytest.raises(ValueError, match="outside partition"):
        M.overwrite_hidden_partition(df, t, p)  # contains day 2 rows


def test_cli_plugins_lists_registry(capsys):
    import json as _json

    from niamoto_spark import cli

    assert cli.main(["plugins"]) == 0
    rows = [_json.loads(l) for l in
            capsys.readouterr().out.strip().splitlines()]
    names = {(r["type"], r["name"]) for r in rows}
    assert ("transformer", "statistical_summary") in names
    assert ("transformer", "dbscan") in names
    assert len(names) > 100


def test_table_cdf_pre_post_images(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double")
    M.append(df, t)                                       # v0
    M.update_where(spark, t, "k = 2", {"v": F.lit(25.0)})
    M.delete_where(spark, t, "k = 3")
    M.append(spark.createDataFrame([(4, 40.0)], "k long, v double"), t)
    feed = {r["k"]: r for r in
            M.table_cdf(spark, t, 0, key_cols=["k"]).collect()}
    assert 1 not in feed                                  # unchanged
    assert (feed[2]["change"], feed[2]["v_old"], feed[2]["v_new"]) \
        == ("updated", 20.0, 25.0)
    assert (feed[3]["change"], feed[3]["v_old"], feed[3]["v_new"]) \
        == ("removed", 30.0, None)
    assert (feed[4]["change"], feed[4]["v_old"], feed[4]["v_new"]) \
        == ("added", None, 40.0)


def test_table_cdf_rejects_duplicate_keys(spark, tmp_path):
    t = str(tmp_path / "tbl")
    M.append(spark.createDataFrame([(1, 1.0), (1, 2.0)],
                                   "k long, v double"), t)
    with pytest.raises(ValueError, match="not unique"):
        M.table_cdf(spark, t, 0, key_cols=["k"])


def test_dv_split_scan_plan_and_correctness(spark, tmp_path):
    """The DV read must route ONLY DV-touched files through the
    _metadata join: the plan shows two parquet scans (clean + dirty)
    and exactly one DV join — a LeftOuter broadcast on the single
    xxhash64 long key (LongHashedRelation probes; see _apply_dv) with
    the exact recheck folded into the filter — and results match the
    logical delete."""
    import contextlib
    import io

    t = str(tmp_path / "tbl")
    for lo in (0, 100, 200, 300):
        M.append(_df(spark, lo, lo + 100).repartition(1), t)
    M.delete_where_mor(spark, t, "id = 150")      # touches ONE file
    df = M.read_table(spark, t)
    assert sorted(r["id"] for r in df.collect()) \
        == [i for i in range(400) if i != 150]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="extended")
    phys = buf.getvalue().split("== Physical Plan ==")[-1]
    # AQE prints Final + Initial plan sections; inspect the final only
    final = phys.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 1
    assert final.count("LeftOuter") == 1
    assert final.count("xxhash64") >= 1      # the single long probe key
    assert final.lower().count("scan parquet") == 2  # clean + dirty
