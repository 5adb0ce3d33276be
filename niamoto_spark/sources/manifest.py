"""Manifest-committed table format: atomic multi-file commits, snapshot
isolation, and time travel over plain parquet — no external table-format
dependency.

The problem at 100 TB: a job appending hundreds of parquet files to a
live table is not atomic — readers list the directory mid-write and see
a torn snapshot; a crashed writer leaves orphans that silently join the
table.  The fix is the log-structured pattern every modern lake format
uses (Delta/Iceberg/Hudi): data files are immutable and WRITE-ORDERED
ANONYMOUS; visibility comes only from a versioned MANIFEST listing the
exact files of each snapshot, committed with an atomic rename.

- Readers resolve the latest ``manifest-v{N}.json`` (or any historical N
  — time travel) and read exactly its files: torn listings impossible.
- Writers stage data files under ``data/``, then commit a new manifest.
  A crash before the rename leaves unreferenced files that NO reader
  ever sees; ``vacuum`` reaps them later.
- Commits are optimistic: the manifest version is claimed by an
  ``os.link`` of the fully-written staged manifest to its final name.
  ``link`` atomically FAILS with EEXIST if the version was already
  claimed — unlike rename-over-existing, there is no
  check-then-replace window, so two racing writers can never both
  report success (single-writer-per-version, lost update impossible;
  the loser raises and must re-read the new head and retry).

Spark-side: ``read_table`` hands Spark the explicit file list, so
partition pruning / pushdown work unchanged; ``append`` uses a normal
distributed ``df.write`` into a unique staging dir — executors never
coordinate, only the driver's final rename is serial.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "manifest-v{v}.json"


def _table_dirs(path: str) -> tuple[str, str]:
    data = os.path.join(path, "data")
    meta = os.path.join(path, "_log")
    os.makedirs(data, exist_ok=True)
    os.makedirs(meta, exist_ok=True)
    return data, meta


def current_version(path: str) -> int:
    """Latest committed manifest version, -1 if the table is empty."""
    meta = os.path.join(path, "_log")
    if not os.path.isdir(meta):
        return -1
    versions = [int(f[len("manifest-v"):-len(".json")])
                for f in os.listdir(meta)
                if f.startswith("manifest-v") and f.endswith(".json")]
    return max(versions, default=-1)


def _read_manifest(path: str, version: int) -> dict:
    with open(os.path.join(path, "_log", _MANIFEST.format(v=version))) as f:
        return json.load(f)


def _commit_doc(path: str, version: int, extra: dict) -> None:
    """Atomically commit a manifest document for ``version``.

    The version slot is claimed with ``os.link(staged, final)``: link
    creation is atomic and fails with EEXIST if the target exists, so
    there is no check-then-rename window — of two racing writers
    exactly one succeeds and the other raises (it must re-read the new
    head and retry on a fresh version).  Readers only ever see the
    final name once the staged file is fully written."""
    _, meta = _table_dirs(path)
    nonce = uuid.uuid4().hex
    doc = {"version": version, "nonce": nonce, **extra}
    staged = os.path.join(meta, f".manifest-{nonce}.tmp")
    with open(staged, "w") as f:
        json.dump(doc, f, default=str)
        f.flush()
        os.fsync(f.fileno())
    final = os.path.join(meta, _MANIFEST.format(v=version))
    try:
        os.link(staged, final)  # atomic claim: EEXIST if already taken
    except FileExistsError:
        raise RuntimeError(
            f"concurrent commit: version {version} already exists")
    finally:
        os.remove(staged)


def _commit(path: str, version: int, files: list[str],
            parent: int) -> None:
    _commit_doc(path, version, {"parent": parent, "files": sorted(files)})


class TransactionInProgress(RuntimeError):
    """A multi-table transaction has claimed this table's head slot but
    has not reached its atomic commit point yet."""


def _txn_state(doc: dict) -> str:
    """'committed' | 'pending' | 'aborted' for a manifest document.

    Docs without transaction fields (every single-table commit) are
    committed by definition.  Docs written by a multi-table transaction
    (sources/transactions.py) carry (txn_id, txn_dir) and become visible
    only once the transaction's single commit marker exists — the marker
    file IS the atomic commit point for every table in the transaction."""
    tid = doc.get("txn_id")
    if not tid:
        return "committed"
    tdir = doc["txn_dir"]
    # aborted is checked FIRST and therefore wins: if crash recovery
    # aborts a stale transaction concurrently with the coordinator's
    # late commit marker, the abort sticks — a commit marker landing
    # after an abort marker must not resurrect versions that single-
    # table writers may already have routed around
    if os.path.exists(os.path.join(tdir, f"txn-{tid}.aborted")):
        return "aborted"
    if os.path.exists(os.path.join(tdir, f"txn-{tid}.committed")):
        return "committed"
    return "pending"


def committed_version(path: str) -> int:
    """Latest VISIBLE version: walks parent pointers from the raw head,
    skipping snapshots whose transaction is pending or aborted.  Readers
    use this, so an in-flight multi-table transaction is invisible until
    its commit marker lands — snapshot isolation across tables."""
    v = current_version(path)
    while v >= 0:
        doc = _read_manifest(path, v)
        if _txn_state(doc) == "committed":
            return v
        v = doc.get("parent", v - 1)
    return -1


def _writer_head(path: str) -> tuple[int, dict]:
    """(slot_parent, effective_doc) for a writer about to commit.

    slot_parent is the RAW latest version — the new commit must claim
    slot_parent+1 or collide.  effective_doc is the newest COMMITTED
    document whose files the new snapshot builds on: an aborted-txn head
    is skipped (its files never became visible), but a PENDING head
    raises — building past it would lose the transaction's rows if it
    later commits."""
    slot = current_version(path)
    v = slot
    while v >= 0:
        doc = _read_manifest(path, v)
        state = _txn_state(doc)
        if state == "committed":
            return slot, doc
        if state == "pending":
            raise TransactionInProgress(
                f"table {path}: version {v} belongs to in-flight "
                f"transaction {doc['txn_id']}; commit or abort it first "
                "(transactions.recover_stale abandons crashed ones)")
        v = doc.get("parent", v - 1)
    return slot, {}


def _scan_with_dv(reader, files: list, dv: dict | None):
    """Scan a manifest file list applying any deletion vectors with a
    SPLIT plan: only the files that actually carry DV entries pay the
    _metadata materialization + broadcast anti join; the clean
    majority scans at full vectorized speed (measured 3.3x read tax
    when the whole table went through the anti join — this bounds the
    tax to the touched files).  ``reader`` is a DataFrameReader (so
    options like mergeSchema ride along)."""
    if not dv:
        return reader.parquet(*files)
    dv_files = sorted(set(files) & set(dv.keys()))
    clean = sorted(set(files) - set(dv.keys()))
    if not dv_files:
        return reader.parquet(*files)
    dirty = _apply_dv(reader.parquet(*dv_files),
                      {f: dv[f] for f in dv_files})
    if not clean:
        return dirty
    # allowMissingColumns: under read_table(merge_schema=True) the
    # clean-file and DV-file subsets may each merge a different column
    # set; nulls for the absent columns match mergeSchema semantics.
    return reader.parquet(*clean).unionByName(
        dirty, allowMissingColumns=True)


def _carry_dv(prev_doc: dict, carried_files: list | None = None) -> dict:
    """Deletion-vector entries a new commit must CARRY when it
    re-references ``prev_doc``'s data files.  Dropping the 'dv' key
    while keeping the files would silently resurrect every
    MOR-deleted row — so every writer that forwards head files spreads
    ``**_carry_dv(head)`` into its commit document.  When only a
    subset of files is carried (partition overwrite, partial compact),
    pass ``carried_files`` so entries for replaced files are dropped
    with their files."""
    dv = prev_doc.get("dv") or {}
    if carried_files is not None:
        keep = set(carried_files)
        dv = {f: v for f, v in dv.items() if f in keep}
    return {"dv": dv} if dv else {}


def append(df: DataFrame, path: str,
           extra_meta: dict | None = None) -> int:
    """Atomically append ``df``'s rows as a new snapshot; returns the new
    version.  Readers see either the previous snapshot or the full new
    one — never a torn middle.  ``extra_meta`` rides INSIDE the commit
    document (e.g. a streaming batch id), so metadata and data commit in
    the same atomic link — no second-step stamp that a crash could
    separate from its snapshot."""
    data, _ = _table_dirs(path)
    staging = os.path.join(data, f"txn-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    new_files = [os.path.join(staging, f) for f in os.listdir(staging)
                 if f.endswith(".parquet")]
    parent, head = _writer_head(path)
    prev = head.get("files", [])
    _commit_doc(path, parent + 1,
                {"parent": parent, "files": sorted(prev + new_files),
                 **_carry_dv(head), **(extra_meta or {})})
    return parent + 1


def overwrite(df: DataFrame, path: str,
              extra_meta: dict | None = None) -> int:
    """Atomically replace the table contents (new snapshot referencing
    only the new files; history stays time-travelable until vacuum).
    ``extra_meta`` rides inside the commit document (same contract as
    ``append`` — e.g. a maintenance watermark commits atomically with
    the state it describes)."""
    data, _ = _table_dirs(path)
    staging = os.path.join(data, f"txn-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    new_files = [os.path.join(staging, f) for f in os.listdir(staging)
                 if f.endswith(".parquet")]
    parent, _ = _writer_head(path)  # raises on in-flight transaction
    _commit_doc(path, parent + 1,
                {"parent": parent, "files": sorted(new_files),
                 **(extra_meta or {})})
    return parent + 1


def read_table(spark: SparkSession, path: str,
               version: int | None = None,
               merge_schema: bool = False) -> DataFrame:
    """The exact snapshot at ``version`` (default: latest).  Spark reads
    the manifest's explicit file list — pruning and pushdown intact.
    ``merge_schema=True`` unions the schemas of snapshots written before
    and after an additive column change (older files null-fill) —
    manifest commits make schema evolution safe because every file's
    schema is frozen at its commit."""
    v = committed_version(path) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    doc = _read_manifest(path, v)
    files = doc["files"]
    if not files:
        return spark.createDataFrame([], "dummy string").limit(0)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return _scan_with_dv(reader, files, doc.get("dv"))


def vacuum(path: str, keep_versions: int = 1,
           retention_sec: float = 24 * 3600.0,
           branch_ttl_sec: float | None = None) -> int:
    """Delete data files unreferenced by the ``keep_versions`` newest
    manifests (and drop older manifests).  Returns files deleted.

    Staged WAP branches pin their files (see inline note); every
    vacuum logs which branches pin what, and ``branch_ttl_sec`` (off
    by default) ages out stages older than the horizon — for
    deployments where a crashed audit must not pin storage forever.

    Files that were COMMITTED to a now-dropped version are reaped
    immediately (their visibility ended with their manifest).  Files
    never referenced by ANY manifest are indistinguishable between a
    crashed writer's orphans and an IN-FLIGHT writer's staging — those
    are only reaped when older than ``retention_sec`` (Delta-style
    retention; default 24h), so a concurrent ``append`` cannot commit a
    manifest pointing at files vacuum just deleted.  Pass
    ``retention_sec=0`` only when no writer can be running.

    The keep window counts COMMITTED snapshots, not raw version
    numbers: pending claims and aborted husks from multi-table
    transactions (sources/transactions.py) sit on top of the committed
    chain, and a raw-number window would let an aborted head evict the
    only live snapshot — vacuuming away the table's data.  Husk
    manifests above the cut are retained (parent walks route through
    them) but their never-visible files are reaped; a PENDING head's
    files are preserved (it may still commit)."""
    import time

    data, meta = _table_dirs(path)
    latest = current_version(path)
    if latest < 0:
        return 0
    versions = sorted(
        (int(f[len("manifest-v"):-len(".json")])
         for f in os.listdir(meta)
         if f.startswith("manifest-v") and f.endswith(".json")),
        reverse=True)
    keep: set[int] = set()
    committed_kept = 0
    docs: dict[int, dict] = {}
    for v in versions:
        if committed_kept >= keep_versions:
            break
        docs[v] = _read_manifest(path, v)
        keep.add(v)
        if _txn_state(docs[v]) == "committed":
            committed_kept += 1
    referenced: set[str] = set()
    ever_committed: set[str] = set()
    for v in versions:
        doc = docs.get(v) or _read_manifest(path, v)
        ever_committed.update(doc["files"])
        if v in keep and _txn_state(doc) != "aborted":
            referenced.update(doc["files"])
    # Staged WAP branches are LIVE REFS (Iceberg semantics): their
    # files — both the branch's own staged files and base files it
    # shares with versions the keep-window is dropping — stay
    # referenced until the branch publishes or is abandoned.  Without
    # this, vacuum reaped a staged audit's files as ageing orphans and
    # wap_publish promoted a manifest pointing at deleted data.
    #
    # A branch orphaned by a crash between wap_stage and its audit
    # would otherwise pin files (and shared base files) FOREVER
    # (ADVICE r11): pinned branches are therefore logged with their
    # age on every vacuum, and ``branch_ttl_sec`` optionally ages them
    # out — the branch DOC is removed FIRST (a later wap_publish fails
    # loudly on the missing doc instead of promoting reaped data),
    # then its files become unreferenced and reapable as usual.
    for f in os.listdir(meta):
        if f.startswith("branch-") and f.endswith(".json"):
            bpath = os.path.join(meta, f)
            try:
                age = time.time() - os.path.getmtime(bpath)
            except OSError:
                continue
            if branch_ttl_sec is not None and age > branch_ttl_sec:
                logging.getLogger(__name__).warning(
                    "vacuum: aging out staged branch %s (%.0fs old > "
                    "branch_ttl_sec=%.0fs); a pending wap_publish for "
                    "it will now fail", f, age, branch_ttl_sec)
                os.remove(bpath)
                continue
            with open(bpath) as bf:
                branch_files = json.load(bf).get("files", [])
            referenced.update(branch_files)
            logging.getLogger(__name__).warning(
                "vacuum: staged branch %s (%.0fs old) pins %d files; "
                "publish or abandon it, or pass branch_ttl_sec to age "
                "out crashed stages", f, age, len(branch_files))
    now = time.time()
    deleted = 0
    for txn in os.listdir(data):
        tdir = os.path.join(data, txn)
        if not os.path.isdir(tdir):
            continue
        # os.walk, not listdir: hidden-partitioned writes stage their
        # parquet under __p=N/ SUBDIRS, which a flat listing never
        # visits — the old "no parquet directly here" check then
        # rmtree'd the whole staging dir, deleting files the live
        # manifest still referenced (found by the r11 interleaving
        # extension, seed 3: h_append + vacuum)
        survivors = 0
        for root, _dirs, fnames in os.walk(tdir):
            for f in fnames:
                fp = os.path.join(root, f)
                if not f.endswith(".parquet") or fp in referenced:
                    survivors += f.endswith(".parquet")
                    continue
                if fp not in ever_committed:  # maybe in-flight
                    try:
                        if now - os.path.getmtime(fp) < retention_sec:
                            survivors += 1
                            continue
                    except OSError:
                        survivors += 1
                        continue
                os.remove(fp)
                deleted += 1
        if not survivors:
            shutil.rmtree(tdir)
    for f in os.listdir(meta):
        if f.startswith("manifest-v"):
            v = int(f[len("manifest-v"):-len(".json")])
            if v not in keep:
                os.remove(os.path.join(meta, f))
    return deleted


# --- zone maps: per-file min/max statistics -> manifest-level skipping ---

def _canon_stat(v, widen: int = 0):
    """Canonical JSON-comparable encoding for a zone-map bound, applied
    identically at stats-collection time and to the query's [lo, hi] at
    prune time, so comparisons always happen in one domain (the raw
    footer values would otherwise round-trip json.dump(default=str) as
    strings and mis-compare against numeric predicates):

    - int/float/str pass through (already JSON-native and ordered);
    - date/datetime -> ISO-8601 string (lexicographic == chronologic);
    - Decimal -> float, widened one ulp outward (``widen`` -1 for a
      min, +1 for a max) so precision loss can never flip a bound
      inward and wrongly skip a file;
    - anything else (bytes, nested) -> None = "no stats", the file is
      conservatively read.
    """
    import datetime
    import decimal
    import math

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        f = float(v)
        if widen < 0:
            return math.nextafter(f, -math.inf)
        if widen > 0:
            return math.nextafter(f, math.inf)
        return f
    return None


def _collect_stats(spark: SparkSession, files: list[str],
                   stats_cols: list[str]) -> dict[str, dict]:
    """Per-file min/max from parquet FOOTERS (row-group statistics) — no
    data scan: pyarrow reads only metadata pages.  Bounds are stored in
    the canonical encoding of ``_canon_stat`` so they survive the JSON
    round trip comparably."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        names = {md.schema.column(i).name: i
                 for i in range(md.num_columns)}
        stats: dict[str, list] = {}
        for c in stats_cols:
            if c not in names:
                continue
            mn = mx = None
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(names[c]).statistics
                if s is None or not s.has_min_max:
                    mn = mx = None
                    break
                mn = s.min if mn is None else min(mn, s.min)
                mx = s.max if mx is None else max(mx, s.max)
            if mn is not None:
                cmn = _canon_stat(mn, widen=-1)
                cmx = _canon_stat(mx, widen=+1)
                if cmn is not None and cmx is not None:
                    stats[c] = [cmn, cmx]
        out[fp] = stats
    return out


def append_with_stats(df: DataFrame, path: str,
                      stats_cols: list[str],
                      extra_meta: dict | None = None) -> int:
    """Like ``append`` but records per-file min/max zone maps in the
    manifest, enabling ``read_table_pruned`` to skip whole files without
    opening them — manifest-level data skipping on top of parquet's own
    row-group pruning."""
    data, _ = _table_dirs(path)
    staging = os.path.join(data, f"txn-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    new_files = [os.path.join(staging, f) for f in os.listdir(staging)
                 if f.endswith(".parquet")]
    spark = df.sparkSession
    stats = _collect_stats(spark, new_files, stats_cols)
    parent, prev_doc = _writer_head(path)
    prev_files = prev_doc.get("files", [])
    prev_stats = prev_doc.get("stats", {})
    _commit_doc(path, parent + 1,
                {"parent": parent,
                 "files": sorted(prev_files + new_files),
                 "stats": {**prev_stats, **stats},
                 **_carry_dv(prev_doc), **(extra_meta or {})})
    return parent + 1


def overwrite_with_stats(df: DataFrame, path: str,
                         stats_cols: list[str],
                         extra_meta: dict | None = None) -> int:
    """``overwrite`` + per-file zone maps (the rebuild counterpart of
    ``append_with_stats``): the new snapshot references only the new
    files and only their stats, atomically."""
    data, _ = _table_dirs(path)
    staging = os.path.join(data, f"txn-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    new_files = [os.path.join(staging, f) for f in os.listdir(staging)
                 if f.endswith(".parquet")]
    spark = df.sparkSession
    stats = _collect_stats(spark, new_files, stats_cols)
    parent, _ = _writer_head(path)  # raises on in-flight transaction
    _commit_doc(path, parent + 1,
                {"parent": parent, "files": sorted(new_files),
                 "stats": stats, **(extra_meta or {})})
    return parent + 1


def read_table_pruned(spark: SparkSession, path: str, col: str,
                      lo, hi, version: int | None = None
                      ) -> tuple[DataFrame, int, int]:
    """Snapshot read that SKIPS files whose [min, max] zone map cannot
    intersect [lo, hi].  Returns (df, files_read, files_skipped); the
    residual filter is still applied (zone maps are a superset test).
    Files without stats for ``col`` are conservatively read."""
    v = committed_version(path) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    doc = _read_manifest(path, v)
    # Compare in the same canonical domain the stats were stored in
    # (widen the query range outward — skipping must stay a superset
    # test).  Un-canonicalizable bounds disable skipping entirely.
    clo = _canon_stat(lo, widen=-1)
    chi = _canon_stat(hi, widen=+1)

    def _comparable(a, b) -> bool:
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return True
        return isinstance(a, str) and isinstance(b, str)

    can_skip = clo is not None and chi is not None
    keep, skipped = [], 0
    for fp in doc["files"]:
        s = doc.get("stats", {}).get(fp, {}).get(col)
        if (can_skip and s is not None
                and _comparable(s[0], clo) and _comparable(s[1], chi)
                and (s[1] < clo or s[0] > chi)):
            skipped += 1
            continue
        keep.append(fp)
    if not keep:
        empty = spark.createDataFrame([], "dummy string").limit(0)
        return empty, 0, skipped
    df = _scan_with_dv(spark.read, keep, doc.get("dv"))
    df = df.where((F.col(col) >= lo) & (F.col(col) <= hi))
    return df, len(keep), skipped


def table_changes(spark: SparkSession, path: str, from_version: int,
                  to_version: int | None = None) -> DataFrame:
    """CDC-style incremental read: the rows ADDED between two snapshot
    versions (files present in ``to`` but not in ``from``).  Overwritten
    snapshots surface their full new files; deletions are not row-level
    (append/overwrite format, not merge-on-read)."""
    to_v = committed_version(path) if to_version is None else to_version
    to_doc = _read_manifest(path, to_v)
    new = set(to_doc["files"])
    old = set(_read_manifest(path, from_version)["files"]) \
        if from_version >= 0 else set()
    added = sorted(new - old)
    if not added:
        return spark.createDataFrame([], "dummy string").limit(0)
    dv = {f: ix for f, ix in (to_doc.get("dv") or {}).items()
          if f in set(added)}
    # rows MOR-deleted by to_version must not surface as "added";
    # the split scan bounds the anti-join to the DV-touched files
    return _scan_with_dv(spark.read, added, dv)


def _last_batch_id(path: str):
    """The most recent streaming batch id recorded in the COMMITTED
    chain (None if no stream batch ever committed).  Checking only the
    raw head is not enough: a foreign writer (maintenance compact, a
    manual append) landing between a batch's commit and the stream
    checkpoint write pushes the batch's record off the head, and a
    crash-replay of that batch would then double-append it.  The walk
    stops at the first batch_id-carrying committed doc, so its cost is
    bounded by the interleaved foreign commits (usually zero)."""
    v = committed_version(path)
    while v >= 0:
        doc = _read_manifest(path, v)
        if _txn_state(doc) == "committed" and "batch_id" in doc:
            return doc["batch_id"]
        v = doc.get("parent", v - 1)
    return None


def _zvalue(df: DataFrame, cols: list[str], bits: int = 16):
    """Morton (z-order) key over 2+ numeric columns as a pure codegen
    expression: each column is min/max-normalized to ``bits`` levels
    (one tiny aggregate for the bounds), then the bit planes are
    interleaved.  Nearby points in ANY clustered dimension get nearby
    z-values, so range-partitioning by z keeps every dimension's
    per-file zone maps tight — the Delta OPTIMIZE ZORDER effect.
    Linear min/max scaling (not rank buckets) keeps it one-pass; heavy
    skew in a column costs cluster balance, not correctness."""
    bounds = df.agg(*[f for c in cols
                      for f in (F.min(c).alias(f"__lo_{c}"),
                                F.max(c).alias(f"__hi_{c}"))]).first()
    z = F.lit(0).cast("long")
    n = len(cols)
    for ci, c in enumerate(cols):
        lo = float(bounds[f"__lo_{c}"])
        hi = float(bounds[f"__hi_{c}"])
        span = (hi - lo) or 1.0
        level = F.least(
            F.lit((1 << bits) - 1),
            ((F.col(c).cast("double") - F.lit(lo)) / F.lit(span)
             * F.lit((1 << bits) - 1)).cast("long")).cast("long")
        for b in range(bits):
            bit = F.shiftright(level, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * n + ci)
    return z


def compact(spark: SparkSession, path: str, target_files: int = 8,
            sort_by: list[str] | None = None,
            stats_cols: list[str] | None = None,
            cluster: str = "range") -> int:
    """OPTIMIZE: rewrite the current snapshot into ``target_files``
    files, optionally range-clustered by ``sort_by`` (repartitionByRange
    + within-partition sort), and commit atomically as a new version.

    Small-file compaction is the standing maintenance job of any
    streaming-ingested table (each micro-batch commits its own files);
    sort clustering additionally TIGHTENS zone maps — after clustering
    on a column, each file covers a narrow disjoint range, so
    read_table_pruned skips nearly everything outside the query range.
    History (pre-compaction versions) stays readable until vacuum.

    ``cluster='zorder'`` (with 2+ numeric ``sort_by`` columns)
    interleaves the columns' bit planes into a Morton key and clusters
    by THAT, so zone maps stay tight on every clustered dimension at
    once — single-column range clustering makes the first column's
    maps perfect and leaves the others useless."""
    df = read_table(spark, path)
    # _writer_head, not current_version: a pending multi-table claim at
    # the head must raise — claiming its successor slot with only the
    # committed content would drop the transaction's rows when its
    # marker lands (aborted husks are skipped as usual).
    parent, head_doc = _writer_head(path)
    tf = (head_doc or {}).get("ptransform")
    data, _ = _table_dirs(path)
    staging = os.path.join(data, f"txn-{uuid.uuid4().hex}")
    if tf is not None:
        # Hidden-partitioned table: OPTIMIZE must PRESERVE the layout
        # (Iceberg/Delta compact within partitions).  The generic path
        # dropped ptransform/pvals from the commit doc, after which
        # overwrite_hidden_partition kept the pval-less compacted
        # files and DUPLICATED the partition's rows (found by the
        # r11 txn-interleaving extension).  ``target_files`` does not
        # apply — the compacted state is ONE file per partition value
        # (the layout readers prune on); ``sort_by`` clusters within
        # each partition.
        if cluster == "zorder" and sort_by:
            raise ValueError(
                "compact: zorder clustering is incompatible with a "
                "hidden partition layout (files must stay aligned to "
                "partition values); use sort_by for within-partition "
                "clustering")
        part = df.withColumn("__p", _ptransform_expr(tuple(tf))) \
                 .repartition("__p")
        if sort_by:
            part = part.sortWithinPartitions(*sort_by)
        part.write.partitionBy("__p").mode("overwrite").parquet(staging)
        files, pvals = _list_staged_partitions(staging)
        doc = {"parent": parent, "files": sorted(files),
               "pvals": pvals, "ptransform": list(tf)}
        if stats_cols or sort_by:
            doc["stats"] = _collect_stats(spark, files,
                                          stats_cols or sort_by)
        _commit_doc(path, parent + 1, doc)
        return parent + 1
    if sort_by and cluster == "zorder":
        if len(sort_by) < 2:
            raise ValueError("zorder needs 2+ columns; use range for 1")
        df = (df.withColumn("__z", _zvalue(df, sort_by))
              .repartitionByRange(target_files, "__z")
              .sortWithinPartitions("__z").drop("__z"))
    elif sort_by:
        df = (df.repartitionByRange(target_files, *sort_by)
              .sortWithinPartitions(*sort_by))
    else:
        df = df.coalesce(target_files)
    df.write.mode("overwrite").parquet(staging)
    new_files = [os.path.join(staging, f) for f in os.listdir(staging)
                 if f.endswith(".parquet")]
    if stats_cols or sort_by:
        cols = stats_cols or sort_by
        stats = _collect_stats(spark, new_files, cols)
        _commit_doc(path, parent + 1,
                    {"parent": parent, "files": sorted(new_files),
                     "stats": stats})
    else:
        _commit(path, parent + 1, new_files, parent)
    return parent + 1


def merge_upsert(spark: SparkSession, updates: DataFrame, path: str,
                 key_col: str, extra_meta: dict | None = None) -> int:
    """MERGE INTO semantics: rows in ``updates`` replace same-key rows in
    the current snapshot, new keys append — committed atomically as ONE
    new version (readers see pre-merge or post-merge, never a mix).
    Completes the table format's CRUD alongside append/overwrite
    (sources/sinks.py:upsert_table gives the same semantics for plain
    directories; here history stays time-travelable).

    Contract: ``updates`` must be unique on ``key_col`` — with
    duplicate update keys "which row wins" is undefined, so this FAILS
    FAST instead of resolving nondeterministically.  The base table may
    legitimately hold many rows per key (it is a heap, not a PK table):
    unmatched keys keep ALL their rows; matched keys are replaced by
    exactly their update row.

    Shape: anti join (matched base rows out) + union — one shuffle on
    the key, broadcast when updates is small.  At real scale pair with
    ``compact(sort_by=[key_col])`` so zone maps keep rewrites local.
    """
    dup = (updates.groupBy(key_col).count()
           .where(F.col("count") > 1).limit(1).collect())
    if dup:
        raise ValueError(
            f"merge_upsert: updates contain duplicate {key_col!r} "
            f"(e.g. {dup[0][key_col]!r}) — resolve duplicates first; "
            "which-row-wins would be nondeterministic")
    try:
        base = read_table(spark, path)
    except FileNotFoundError:
        return overwrite(updates, path, extra_meta=extra_meta)
    # writer-side schema enforcement (Delta's implicit MERGE cast;
    # the session runs ANSI mode, so an update value that does NOT fit
    # the base type RAISES here instead of silently nulling — the same
    # store-assignment behavior Delta enforces):
    # update expressions often arrive WIDENED (decimal(18,4) * 2 is
    # decimal(20,4)) and a raw union would silently widen the table
    # schema, breaking fixed-schema readers of later snapshots
    base_types = {f.name: f.dataType for f in base.schema.fields}
    updates = updates.select(*[
        F.col(c).cast(base_types[c]).alias(c) if c in base_types
        else F.col(c) for c in updates.columns])
    keys = updates.select(key_col).distinct()
    # a USING join rotates the key column to the front — re-select the
    # base's column order so MERGE never permutes the table schema
    # (a restarted CDC drain would otherwise end with a different
    # column layout than a one-shot drain; replay-idempotence test)
    merged = (base.join(keys, on=key_col, how="left_anti")
              .unionByName(updates).select(*base.columns))
    return overwrite(merged, path, extra_meta=extra_meta)


def _rewrite_cow(spark: SparkSession, path: str, transform,
                 predicate) -> int:
    """Copy-on-write kernel shared by delete_where / update_where:
    find the files that actually CONTAIN matching rows (one predicate
    scan — parquet pushdown + zone-map-tight files make this cheap on a
    clustered table), rewrite ONLY those files through ``transform``,
    and commit (untouched files carry over by reference, so the write
    amplification is bounded by the files the predicate touches, not
    the table).  History stays time-travelable."""
    from urllib.parse import urlparse

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    # _writer_head: the file list must come from the effective COMMITTED
    # document (building from a raw pending/aborted head would carry a
    # transaction's never-visible staged files into the new snapshot),
    # and a pending claim raises instead of being silently overtaken.
    slot, doc = _writer_head(path)
    if not doc:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    df = read_table(spark, path)  # applies any deletion vectors
    touched_uris = [r["__f"] for r in
                    df.where(pred).select(F.input_file_name().alias("__f"))
                    .distinct().collect()]
    touched = {urlparse(u).path for u in touched_uris}
    if not touched:
        return doc["version"]  # nothing matches: no empty commit
    keep_files = [f for f in doc["files"] if f not in touched]
    touched_df = spark.read.parquet(*sorted(touched))
    if doc.get("dv"):
        # The rewrite materializes the touched files' deletion vectors
        # (re-scanning them raw would resurrect MOR-deleted rows);
        # untouched files keep their entries via _carry_dv below.
        touched_df = _apply_dv(touched_df, doc["dv"])
    rewritten = transform(touched_df)

    data, _ = _table_dirs(path)
    staging = os.path.join(data, f"txn-{uuid.uuid4().hex}")
    rewritten.write.mode("overwrite").parquet(staging)
    new_files = [os.path.join(staging, f) for f in os.listdir(staging)
                 if f.endswith(".parquet")]
    stats_cols = sorted({c for s in doc.get("stats", {}).values()
                         for c in s})
    new_stats = (_collect_stats(spark, new_files, stats_cols)
                 if stats_cols else {})
    prev_stats = {f: s for f, s in doc.get("stats", {}).items()
                  if f in set(keep_files)}
    _commit_doc(path, slot + 1,
                {"parent": slot, "files": sorted(keep_files + new_files),
                 "stats": {**prev_stats, **new_stats},
                 **_carry_dv(doc, keep_files)})
    return slot + 1


def delete_where(spark: SparkSession, path: str, predicate) -> int:
    """Row-level DELETE with copy-on-write: files containing matching
    rows are rewritten without them; every other file is carried over
    untouched (same path — the minimality test pins this).  Returns the
    new version, or the current one when nothing matched."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    # SQL DELETE semantics: remove rows where pred is TRUE; KEEP rows
    # where it is false OR NULL.  A bare where(~pred) silently deleted
    # every NULL-predicate row (~NULL is NULL) — found by the
    # NULL-injection probe; delete_where_mor (where(pred) to find hits)
    # always had the correct behavior.
    return _rewrite_cow(spark, path,
                        lambda d: d.where(~F.coalesce(pred, F.lit(False))),
                        pred)


def update_where(spark: SparkSession, path: str, predicate,
                 set_exprs: dict) -> int:
    """Row-level UPDATE (copy-on-write): matching rows get each column
    in ``set_exprs`` replaced (value may be a Column or SQL string);
    non-matching rows in touched files are rewritten verbatim."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate

    def apply(d: DataFrame) -> DataFrame:
        out = d
        for col, val in set_exprs.items():
            if col not in d.columns:
                raise ValueError(f"update_where: unknown column {col!r}")
            v = F.expr(val) if isinstance(val, str) else val
            # writer-side schema enforcement (as in Delta/Iceberg): an
            # assignment may widen the type (decimal(18,4) * 2 ->
            # decimal(20,4)), and rewriting touched files with a wider
            # physical type than untouched files leaves a mixed-schema
            # table that later single-schema scans cannot read
            out = out.withColumn(
                col, F.when(pred, v).otherwise(F.col(col))
                      .cast(d.schema[col].dataType))
        return out

    return _rewrite_cow(spark, path, apply, pred)


# ---------------------------------------------------------------------------
# File-level Bloom indexes: point-lookup file skipping.

_BLOOM_M = 1 << 18   # bits per (file, column).  Stored SPARSE (only
# non-zero 64-bit words), so the manifest cost is ~k words per distinct
# value, independent of m; size m >= ~16x the expected distinct values
# per file to keep fpp ~ (load)^k negligible.  At real scale the bloom
# block belongs in a sidecar index file next to the manifest, not
# inline JSON — same commit semantics, one more staged file.
_BLOOM_K = 4


def _bloom_positions_py(value, m_bits: int = _BLOOM_M,
                        k: int = _BLOOM_K) -> list[int]:
    """Driver-side twin of the JVM bucket expression below: positions
    come from md5(seed|str(value)) so Python (hashlib) and Spark
    (F.md5 + conv) agree bit-for-bit — same trick as the count-min
    sketch's oracle-refittable buckets."""
    import hashlib

    return [int(hashlib.md5(f"{s}|{value}".encode()).hexdigest()[:8], 16)
            % m_bits for s in range(k)]


def _collect_blooms(spark: SparkSession, files: list[str],
                    cols: list[str], m_bits: int = _BLOOM_M,
                    k: int = _BLOOM_K) -> dict[str, dict]:
    """Per-(file, column) Bloom bitmaps in ONE aggregation over the new
    files: explode k md5 positions per value, ``groupBy(file, word)``
    + bit_or — the collect is bounded by n_files x m/64 words, not by
    rows.  Only string/integer columns are indexable (the value must
    stringify identically on both sides)."""
    from urllib.parse import urlparse

    df = spark.read.parquet(*sorted(files))
    for c in cols:
        dt = df.schema[c].dataType.simpleString()
        if dt not in ("string", "int", "bigint", "smallint", "tinyint"):
            raise ValueError(
                f"bloom index on {c!r}: unsupported type {dt} (string "
                "and integer columns stringify canonically; others do "
                "not)")
    out: dict[str, dict] = {}
    base = df.select(F.input_file_name().alias("__f"), *cols)
    for c in cols:
        pos = F.array(*[
            F.conv(F.substring(
                F.md5(F.concat(F.lit(f"{s}|"),
                               F.col(c).cast("string"))), 1, 8),
                16, 10).cast("bigint") % m_bits
            for s in range(k)])
        rows = (base.select("__f", F.explode(pos).alias("p"))
                .where(F.col("p").isNotNull())
                .select("__f", (F.col("p") / 64).cast("long").alias("w"),
                        F.expr("shiftleft(CAST(1 AS BIGINT), "
                               "CAST(p % 64 AS INT))").alias("b"))
                .groupBy("__f", "w").agg(F.bit_or("b").alias("bits"))
                .collect())
        for r in rows:
            fp = urlparse(r["__f"]).path
            out.setdefault(fp, {}).setdefault(c, {
                "m": m_bits, "k": k, "words": {}})
            out[fp][c]["words"][str(int(r["w"]))] = int(r["bits"])
    return out


def append_with_blooms(df: DataFrame, path: str, bloom_cols: list[str],
                       stats_cols: list[str] | None = None,
                       extra_meta: dict | None = None) -> int:
    """``append`` + per-file Bloom indexes (and optional zone maps) in
    the manifest.  ``read_table_point`` then skips files whose bitmap
    proves a point value absent — without opening the file or even its
    footer.  Zone maps answer RANGE predicates; Blooms answer EQUALITY
    on high-cardinality columns where min/max spans are useless."""
    data, _ = _table_dirs(path)
    staging = os.path.join(data, f"txn-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    new_files = [os.path.join(staging, f) for f in os.listdir(staging)
                 if f.endswith(".parquet")]
    spark = df.sparkSession
    blooms = _collect_blooms(spark, new_files, bloom_cols)
    stats = (_collect_stats(spark, new_files, stats_cols)
             if stats_cols else {})
    # _writer_head, not a raw head read: the base must be the effective
    # COMMITTED document (a pending claim raises; an aborted husk's
    # never-visible files must not be carried forward).
    parent, prev_doc = _writer_head(path)
    _commit_doc(path, parent + 1,
                {"parent": parent,
                 "files": sorted(prev_doc.get("files", []) + new_files),
                 "stats": {**prev_doc.get("stats", {}), **stats},
                 "blooms": {**prev_doc.get("blooms", {}), **blooms},
                 **_carry_dv(prev_doc), **(extra_meta or {})})
    return parent + 1


def read_table_point(spark: SparkSession, path: str, col: str, value,
                     version: int | None = None
                     ) -> tuple[DataFrame, int, int]:
    """Point-lookup read: files whose Bloom bitmap proves ``col !=
    value`` everywhere are skipped without being opened.  Returns
    (df, files_read, files_skipped); the equality filter is still
    applied (Bloom is a superset test — false positives only cost a
    read).  Files without a bloom for ``col`` are conservatively
    read."""
    v = committed_version(path) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    doc = _read_manifest(path, v)
    keep, skipped = [], 0
    for fp in doc["files"]:
        bl = doc.get("blooms", {}).get(fp, {}).get(col)
        if bl is not None:
            words = bl["words"]
            hit = all(
                int(words.get(str(p // 64), 0)) & (1 << (p % 64))
                for p in _bloom_positions_py(value, bl["m"], bl["k"]))
            if not hit:
                skipped += 1
                continue
        keep.append(fp)
    if not keep:
        base = read_table(spark, path, version=v).limit(0)
        return base.where(F.col(col) == F.lit(value)), 0, skipped
    df = _scan_with_dv(spark.read, keep, doc.get("dv"))
    df = df.where(F.col(col) == F.lit(value))
    return df, len(keep), skipped


def table_diff(spark: SparkSession, path: str, from_version: int,
               to_version: int | None = None,
               key_cols: list[str] | None = None) -> DataFrame:
    """Semantic diff between two snapshots: (key..., change) with change
    in {added, removed, changed}.  Unchanged rows are omitted.

    Requires a unique key per row in BOTH snapshots (the merge_upsert
    contract) — verified with one count aggregate per side, because a
    diff on a non-unique key would silently pair arbitrary rows.  Row
    equality is xxhash64 over the non-key columns (cheap, JVM-side;
    collisions would mis-report 'changed' as unchanged at p≈2^-64).

    Shape: two snapshot reads + one full outer join keyed by the key —
    this is the file-level CDC (``table_changes``) upgraded to ROW
    semantics, which COW DML (delete_where/update_where) makes
    necessary: a rewritten file contains mostly-unchanged rows."""
    if not key_cols:
        raise ValueError("table_diff requires key_cols")
    to_v = committed_version(path) if to_version is None else to_version
    a = read_table(spark, path, version=from_version)
    b = read_table(spark, path, version=to_v)
    # a keyed diff needs keys: a NULL-key row can never pair across
    # snapshots (full-outer on NULL never matches), so it would be
    # misreported as removed+added even when unchanged — excluded, like
    # stream_upsert_to_table's merge guard
    key_ok = None
    for k in key_cols:
        e = F.col(k).isNotNull()
        key_ok = e if key_ok is None else (key_ok & e)
    a, b = a.where(key_ok), b.where(key_ok)
    val_cols = [c for c in a.columns if c not in key_cols]
    if [c for c in b.columns if c not in key_cols] != val_cols:
        raise ValueError("table_diff: snapshots have different schemas; "
                         "diff keys first, then migrate")
    for side, df in (("from", a), ("to", b)):
        dup = (df.groupBy(*key_cols).count()
               .where(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"table_diff: {side} snapshot is not unique on "
                f"{key_cols} (e.g. {tuple(dup[0][k] for k in key_cols)})")

    def keyed(df, tag):
        # Null-discriminated hash (same reasoning as table_cdf below):
        # xxhash64 skips NULL args, so hashing bare values makes
        # (x, NULL) and (NULL, x) collide and the change is omitted.
        h = (F.xxhash64(*[e for c in val_cols
                          for e in (F.col(c).isNull(), F.col(c))])
             if val_cols else F.lit(0))
        return df.select(*key_cols, h.alias(f"__h_{tag}"))

    joined = keyed(a, "a").join(keyed(b, "b"), key_cols, "full_outer")
    change = (F.when(F.col("__h_a").isNull(), "added")
              .when(F.col("__h_b").isNull(), "removed")
              .when(F.col("__h_a") != F.col("__h_b"), "changed"))
    return (joined.withColumn("change", change)
            .where(F.col("change").isNotNull())
            .select(*key_cols, "change"))


def restore_version(path: str, version: int) -> int:
    """ROLLBACK: re-commit an old snapshot's file list as the new head
    (Delta RESTORE).  Nothing is copied — the old files are re-
    referenced, so the bad versions stay in history (auditable) but
    readers see the restored state.  Vacuum keeps restored files alive
    because the head references them."""
    head, _ = _writer_head(path)  # raises on in-flight transaction
    if version < 0 or version > head:
        raise ValueError(f"restore_version: no version {version} "
                         f"(head is {head})")
    doc = _read_manifest(path, version)
    if _txn_state(doc) != "committed":
        raise ValueError(
            f"restore_version: version {version} belongs to an "
            "uncommitted or aborted transaction — its files were never "
            "visible and must not be resurrected")
    _commit_doc(path, head + 1,
                {"parent": head, "files": doc["files"],
                 "stats": doc.get("stats", {}),
                 "blooms": doc.get("blooms", {}),
                 **_carry_dv(doc),
                 "restored_from": version})
    return head + 1


def append_checked(df: DataFrame, path: str, rules: list[dict],
                   stats_cols: list[str] | None = None) -> int:
    """Constraint-enforced append: ``quality.expect`` rules run against
    the INCOMING batch first; any violation aborts BEFORE anything is
    staged, so a bad batch can never become a committed snapshot
    (write-time contracts, Delta's CHECK-constraint shape)."""
    from niamoto_spark.operators.quality import expect

    bad = (expect(df, rules)
           .where(F.col("n_violations") > 0).collect())
    if bad:
        detail = ", ".join(f"{r['rule']}={r['n_violations']}" for r in bad)
        raise ValueError(f"append_checked: constraints violated: {detail}")
    if stats_cols:
        return append_with_stats(df, path, stats_cols)
    return append(df, path)


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per committed version — file count,
    parent, and the operation markers commits carry (batch_id,
    source_version watermark, restored_from).  Reads only the manifest
    documents; no data files are touched."""
    head = current_version(path)
    if head < 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    rows = []
    for v in range(head + 1):
        try:
            doc = _read_manifest(path, v)
        except FileNotFoundError:
            continue  # vacuumed away
        rows.append((v, int(doc.get("parent", -1)),
                     len(doc.get("files", [])),
                     bool(doc.get("stats")), bool(doc.get("blooms")),
                     doc.get("batch_id"), doc.get("source_version"),
                     doc.get("restored_from")))
    return spark.createDataFrame(
        rows, "version int, parent int, n_files int, has_stats boolean, "
              "has_blooms boolean, batch_id long, source_version long, "
              "restored_from long")


def compact_where(spark: SparkSession, path: str, col: str, lo, hi,
                  target_files: int = 4,
                  stats_cols: list[str] | None = None
                  ) -> tuple[int, int, int]:
    """Partial OPTIMIZE (Delta's ``OPTIMIZE ... WHERE``): rewrite and
    range-cluster ONLY the files whose [min, max] zone map can
    intersect [lo, hi]; every other file carries into the new version
    BY REFERENCE with its stats preserved — write amplification is
    bounded by the touched range, not the table size, which is what
    makes continuous clustering affordable on a petabyte table whose
    hot partition is a day wide.

    The touch test is the same conservative superset rule as
    read_table_pruned (files without stats for ``col`` are rewritten).
    Returns (new_version, n_rewritten, n_carried)."""
    # _writer_head: commit into the slot after the RAW head (an aborted
    # husk occupying committed+1 would otherwise collide forever) from
    # the effective committed document; pending claims raise.
    slot, doc = _writer_head(path)
    if not doc:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    clo = _canon_stat(lo, widen=-1)
    chi = _canon_stat(hi, widen=+1)
    touched, carried = [], []
    for fp in doc["files"]:
        s = doc.get("stats", {}).get(fp, {}).get(col)
        outside = (clo is not None and chi is not None
                   and s is not None
                   and type(s[0]) is type(clo)
                   and (s[1] < clo or s[0] > chi))
        (carried if outside else touched).append(fp)
    if not touched:
        return doc["version"], 0, len(carried)
    df = spark.read.parquet(*touched)
    if doc.get("dv"):
        # Materialize the touched files' deletion vectors in the
        # rewrite (a raw re-scan would resurrect their deleted rows);
        # carried files keep their entries via _carry_dv below.
        df = _apply_dv(df, doc["dv"])
    df = (df.repartitionByRange(target_files, F.col(col).asc())
          .sortWithinPartitions(col))
    data, _ = _table_dirs(path)
    staging = os.path.join(data, f"txn-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    new_files = [os.path.join(staging, f) for f in os.listdir(staging)
                 if f.endswith(".parquet")]
    cols = stats_cols or [col]
    new_stats = _collect_stats(spark, new_files, cols)
    stats = {fp: doc.get("stats", {}).get(fp, {})
             for fp in carried}
    stats.update(new_stats)
    stats = {k: v2 for k, v2 in stats.items() if v2}
    _commit_doc(path, slot + 1,
                {"parent": slot, "files": sorted(carried + new_files),
                 "stats": stats, **_carry_dv(doc, carried)})
    return slot + 1, len(new_files), len(carried)


# ---------------------------------------------------------------------------
# Shallow clone + write-audit-publish branches
# ---------------------------------------------------------------------------

def shallow_clone(src_path: str, dst_path: str) -> int:
    """Zero-copy clone (Delta SHALLOW CLONE shape): the new table's v0
    manifest references the source's current committed data files BY
    PATH — no bytes move, clone cost is one metadata write regardless
    of table size.  After the clone the two tables evolve
    independently: writes to either stage files under their own data
    dir and never touch the other's manifest.

    Caveat (same as Delta's): the clone borrows the source's files, so
    ``vacuum`` on the SOURCE can delete files the clone still
    references.  The commit doc records ``cloned_from`` lineage so
    operators can detect the dependency.
    """
    v = committed_version(src_path)
    if v < 0:
        raise FileNotFoundError(f"no committed snapshot at {src_path}")
    src_doc = _read_manifest(src_path, v)
    files = src_doc["files"]
    if committed_version(dst_path) >= 0 or current_version(dst_path) >= 0:
        raise FileExistsError(f"clone target {dst_path} already exists")
    _table_dirs(dst_path)
    # Index metadata travels with the files it describes: a clone that
    # dropped stats/blooms/pvals would silently lose pruning until the
    # next stats-collecting write.
    carried = {k: src_doc[k]
               for k in ("stats", "blooms", "pvals", "ptransform")
               if k in src_doc}
    _commit_doc(dst_path, 0,
                {"parent": -1, "files": sorted(files),
                 **_carry_dv(src_doc), **carried,
                 "cloned_from": {"path": os.path.abspath(src_path),
                                 "version": v}})
    return 0


def wap_stage(df: DataFrame, path: str, branch: str,
              mode: str = "append") -> dict:
    """Write-Audit-Publish, step W: stage ``df`` as an UNPUBLISHED
    branch snapshot (Iceberg's WAP pattern).  Data files land under the
    table's own data dir, but the branch document lives beside the log
    (``_log/branch-{name}.json``) where ``read_table`` never looks — a
    crashed or failed audit leaves the main table untouched.

    ``mode='append'`` stages base-files + new-files; ``'overwrite'``
    stages only the new files.  Returns the branch doc (base version,
    files) — feed ``read_branch`` to audit, then ``wap_publish`` or
    ``wap_abandon``.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"wap_stage: unknown mode {mode!r}")
    data, meta = _table_dirs(path)
    staging = os.path.join(data, f"txn-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    new_files = [os.path.join(staging, f) for f in os.listdir(staging)
                 if f.endswith(".parquet")]
    base, head = _writer_head(path)
    prev = head.get("files", []) if mode == "append" else []
    # Per-file index metadata rides with the carried base files (the
    # staged new files simply have no entries — conservatively read);
    # dropping it here would publish a snapshot without its zone maps.
    carried = ({k: head[k] for k in ("stats", "blooms", "pvals",
                                     "ptransform") if k in head}
               if mode == "append" else {})
    doc = {"branch": branch, "base_version": base,
           "files": sorted(prev + new_files),
           "new_files": sorted(new_files),
           **carried,
           **(_carry_dv(head) if mode == "append" else {})}
    tmp = os.path.join(meta, f".branch-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(meta, f"branch-{branch}.json"))
    return doc


def read_branch(spark: SparkSession, path: str, branch: str) -> DataFrame:
    """The staged branch snapshot — what the table WILL contain if the
    branch is published.  This is the audit surface: run quality checks
    here, against real committed-format files, before anything becomes
    visible to readers."""
    bdoc = os.path.join(path, "_log", f"branch-{branch}.json")
    with open(bdoc) as f:
        doc = json.load(f)
    if not doc["files"]:
        return spark.createDataFrame([], "dummy string").limit(0)
    return _scan_with_dv(spark.read, doc["files"], doc.get("dv"))


def wap_publish(path: str, branch: str) -> int:
    """Write-Audit-Publish, step P: atomically promote the audited
    branch to the table head (one manifest link — all-or-nothing).

    Conflict rule: publishing requires the head to still be the
    branch's ``base_version``.  If another writer committed since the
    stage, the branch's file list was computed against a stale base and
    silently publishing it would DROP the interleaved commit's rows —
    so this raises and the caller re-stages against the new head
    (same optimistic-concurrency shape as ``_commit_doc`` itself).
    """
    _, meta = _table_dirs(path)
    bpath = os.path.join(meta, f"branch-{branch}.json")
    with open(bpath) as f:
        doc = json.load(f)
    head, _ = _writer_head(path)
    if head != doc["base_version"]:
        raise RuntimeError(
            f"wap_publish: head moved {doc['base_version']} -> {head} "
            f"since branch {branch!r} was staged; re-stage and re-audit")
    v = doc["base_version"] + 1
    _commit_doc(path, v, {"parent": doc["base_version"],
                          "files": doc["files"],
                          **{k: doc[k] for k in ("stats", "blooms",
                                                 "pvals", "ptransform")
                             if k in doc},
                          **_carry_dv(doc),
                          "published_branch": branch})
    os.remove(bpath)
    return v


def wap_abandon(path: str, branch: str) -> None:
    """Drop a staged branch that failed its audit: remove the branch
    doc and the branch's OWN staged files (never base files it shares
    with the committed table)."""
    import shutil as _sh

    _, meta = _table_dirs(path)
    bpath = os.path.join(meta, f"branch-{branch}.json")
    with open(bpath) as f:
        doc = json.load(f)
    os.remove(bpath)
    for d in {os.path.dirname(f) for f in doc.get("new_files", [])}:
        _sh.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Hidden partitioning (Iceberg-style partition transforms)
# ---------------------------------------------------------------------------

def _list_staged_partitions(staging: str) -> "tuple[list, dict]":
    """Collect (files, {file: pval}) from a ``partitionBy('__p')``
    staging directory — shared by append_hidden_partitioned and the
    hidden-table branch of compact so partition-value parsing can
    never diverge between the two writers of the same table."""
    files, pvals = [], {}
    for d in os.listdir(staging):
        if not d.startswith("__p="):
            continue
        v = d.split("=", 1)[1]
        pv = None if v == "__HIVE_DEFAULT_PARTITION__" else int(v)
        for f in os.listdir(os.path.join(staging, d)):
            if f.endswith(".parquet"):
                fp = os.path.join(staging, d, f)
                files.append(fp)
                pvals[fp] = pv
    return files, pvals


def _ptransform_expr(transform: tuple):
    """Partition-value expression for a transform spec:
    ('day', col)           -> days since epoch (int) of a date/timestamp
    ('bucket', n, col)     -> md5-derived bucket in [0, n)
    ('trunc', w, col)      -> floor(col / w) * w for numerics
    md5 (not xxhash64) for bucket so a DRIVER can compute the probe
    value with hashlib and prune without starting a job."""
    kind = transform[0]
    if kind == "day":
        return F.datediff(F.col(transform[1]).cast("date"),
                          F.lit("1970-01-01").cast("date"))
    if kind == "bucket":
        n, col = transform[1], transform[2]
        h = F.conv(F.substring(
            F.md5(F.col(col).cast("string")), 1, 13), 16, 10)
        return F.pmod(h.cast("long"), F.lit(int(n))).cast("int")
    if kind == "trunc":
        w, col = transform[1], transform[2]
        return (F.floor(F.col(col) / F.lit(w)) * F.lit(w)).cast("long")
    raise ValueError(f"unknown partition transform {kind!r}")


def bucket_of(value, n: int) -> int:
    """Driver-side replica of the 'bucket' transform (md5 of the
    string form, first 13 hex digits, mod n) — used to prune point
    lookups without a Spark job."""
    import hashlib

    h = hashlib.md5(str(value).encode()).hexdigest()[:13]
    return int(h, 16) % int(n)


def append_hidden_partitioned(df: DataFrame, path: str,
                              transform: tuple) -> int:
    """Append with HIDDEN partitioning: rows are laid out by a
    TRANSFORM of a source column (day(ts), bucket(n, key), trunc(w,
    col)) and the per-file partition value is recorded in the commit
    document — Iceberg's core idea.  Readers keep querying the RAW
    column; ``read_hidden_range`` / ``read_hidden_point`` translate
    the predicate into the transform domain and skip whole files, so
    nobody ever writes ``WHERE dt = '2024-01-03'`` boilerplate or
    forgets the partition column.

    The write shuffles on the partition value (one Exchange) so each
    partition value lands in few files; at 100 TB this is the layout
    that turns a time-range or key-point query from a full scan into
    a per-partition read.
    """
    data, _ = _table_dirs(path)
    staging = os.path.join(data, f"txn-{uuid.uuid4().hex}")
    (df.withColumn("__p", _ptransform_expr(transform))
     .repartition("__p")
     .write.partitionBy("__p").mode("overwrite").parquet(staging))
    files, pvals = _list_staged_partitions(staging)
    parent, head = _writer_head(path)
    prev_files = head.get("files", [])
    prev_pvals = head.get("pvals", {})
    prev_tf = head.get("ptransform")
    tf_doc = list(transform)
    if prev_tf is not None and prev_tf != tf_doc:
        raise ValueError(
            f"partition transform changed {prev_tf} -> {tf_doc}; "
            "write a new table (or compact) to change layout")
    _commit_doc(path, parent + 1,
                {"parent": parent, "files": sorted(prev_files + files),
                 "pvals": {**prev_pvals, **pvals},
                 "ptransform": tf_doc, **_carry_dv(head)})
    return parent + 1


def _hidden_doc(path: str):
    v = committed_version(path)
    if v < 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    doc = _read_manifest(path, v)
    if "ptransform" not in doc:
        raise ValueError(f"{path} is not hidden-partitioned")
    return doc


def read_hidden_range(spark: SparkSession, path: str,
                      lo, hi) -> tuple:
    """(DataFrame, files_kept, files_total) for raw-column predicate
    ``lo <= col <= hi`` against a day/trunc-partitioned table: the
    bound is mapped into the transform domain, files outside are
    skipped WITHOUT opening them, and the exact residual filter is
    applied to survivors (the transform is coarser than the
    predicate).  Files with unknown partition value are always kept
    (correctness over pruning)."""
    import datetime as _dt

    doc = _hidden_doc(path)
    tf = doc["ptransform"]
    if tf[0] == "day":
        def to_p(x):
            if isinstance(x, str):
                x = _dt.date.fromisoformat(x[:10])
            if isinstance(x, _dt.datetime):
                x = x.date()
            return (x - _dt.date(1970, 1, 1)).days
        col = tf[1]
    elif tf[0] == "trunc":
        w = tf[1]

        def to_p(x):
            return (int(x) // w) * w
        col = tf[2]
    else:
        raise ValueError("read_hidden_range: use read_hidden_point "
                         "for bucket-partitioned tables")
    plo, phi = to_p(lo), to_p(hi)
    pvals = doc.get("pvals", {})
    kept = [f for f in doc["files"]
            if pvals.get(f) is None or plo <= pvals[f] <= phi]
    if not kept:
        return (spark.createDataFrame([], "dummy string").limit(0),
                0, len(doc["files"]))
    df = _scan_with_dv(spark.read, kept, doc.get("dv"))
    df = df.where((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
    return df, len(kept), len(doc["files"])


def read_hidden_point(spark: SparkSession, path: str, value) -> tuple:
    """(DataFrame, files_kept, files_total) for ``col = value`` on a
    bucket-partitioned table: the probe value's bucket is computed
    driver-side (``bucket_of``) and only that bucket's files are
    read; the exact equality filter removes in-bucket collisions."""
    doc = _hidden_doc(path)
    tf = doc["ptransform"]
    if tf[0] != "bucket":
        raise ValueError("read_hidden_point needs a bucket transform")
    n, col = tf[1], tf[2]
    b = bucket_of(value, n)
    pvals = doc.get("pvals", {})
    kept = [f for f in doc["files"]
            if pvals.get(f) is None or pvals[f] == b]
    if not kept:
        return (spark.createDataFrame([], "dummy string").limit(0),
                0, len(doc["files"]))
    df = _scan_with_dv(spark.read, kept, doc.get("dv"))
    df = df.where(F.col(col) == F.lit(value))
    return df, len(kept), len(doc["files"])


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read DELETE)
# ---------------------------------------------------------------------------

def _apply_dv(df: DataFrame, dv: dict) -> DataFrame:
    """Filter out the (file, row_index) pairs recorded in a deletion
    vector via a BROADCAST join against the (small, deleted-rows-sized)
    DV table — no data file is touched, no row id column is required in
    the schema.

    Probe-side design (measured at 38M rows / 32 files): the join key
    is ONE long, ``xxhash64(file_path, row_index)``, because Spark's
    broadcast joins use the specialized LongHashedRelation only for a
    single integral key — a (path string, index) composite key falls
    back to generic UnsafeRow probes and costs ~7x more wall time
    (3.5s vs 0.5s), and a per-row regexp over the path another ~0.8s.
    Correctness stays EXACT despite hashing: hash-matched rows (a
    dv-sized set) are rechecked against the real (path, index) pairs
    with an ``exists`` over the matched entries, so a 64-bit collision
    costs a string compare, never a lost row.  Spark reports local
    paths with a ``file:`` scheme the manifest does not store, so the
    DV side hashes BOTH forms — zero per-row string work on the scan.
    """
    spark = df.sparkSession
    pairs = [(f, int(i)) for f, idxs in dv.items() for i in idxs]
    dv_src = spark.createDataFrame(pairs, "__dvf string, __dvi long")
    variants = dv_src.select(
        F.concat(F.lit("file:"), F.col("__dvf")).alias("__p"), "__dvi"
    ).unionByName(dv_src.select(F.col("__dvf").alias("__p"), "__dvi"))
    dv_tbl = (variants
              .groupBy(F.xxhash64("__p", "__dvi").alias("__dvh"))
              .agg(F.collect_list(F.struct("__p", "__dvi"))
                   .alias("__dvents")))
    h = F.xxhash64(F.col("_metadata.file_path"),
                   F.col("_metadata.row_index"))
    joined = df.withColumn("__h", h).join(
        F.broadcast(dv_tbl), F.col("__h") == F.col("__dvh"), "left")
    deleted = F.exists(
        "__dvents",
        lambda e: (e["__p"] == F.col("_metadata.file_path"))
        & (e["__dvi"] == F.col("_metadata.row_index")))
    return (joined.where(F.col("__dvh").isNull() | ~deleted)
            .drop("__h", "__dvh", "__dvents"))


def _dv_guard(doc: dict, op: str) -> None:
    """Fail-fast for any future code path that scans manifest files
    RAW: a DV-carrying table must never be read without ``_apply_dv``
    (it would resurrect deleted rows).  Every in-tree reader and
    writer now applies/carries DVs itself, so this is a safety net
    for extensions, not a gate on the built-in surface."""
    if doc.get("dv"):
        raise ValueError(
            f"{op}: table carries deletion vectors; run compact() to "
            "materialize them first (this reader scans files directly "
            "and would resurrect deleted rows)")


def delete_where_mor(spark: SparkSession, path: str,
                     predicate) -> tuple:
    """Merge-on-read DELETE (Delta deletion-vector shape): matching
    rows are recorded as (file, row_index) deletion vectors in the
    commit document — ZERO data files rewritten, so a delete touching
    one row in every file costs one metadata commit instead of a full
    table rewrite (the case that makes copy-on-write ``delete_where``
    pathological).  Readers apply the DV as a broadcast anti join;
    ``compact()`` materializes it away (its commit carries no dv).

    DVs stack: deleting on a table that already carries vectors merges
    the row sets.  The DV lives in the JSON commit doc, so this lane
    is for selective deletes (bounded row count), not truncations —
    use ``delete_where`` (COW) for bulk removal.

    Returns (new_version, n_deleted) — or (current, 0) when nothing
    matched (no empty commit)."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    # _writer_head: claim the slot after the RAW head (an aborted husk
    # at committed+1 would otherwise collide forever); the file list is
    # the effective committed document's; pending claims raise.
    slot, doc = _writer_head(path)
    if not doc:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    df = spark.read.parquet(*doc["files"])
    old_dv = doc.get("dv", {})
    if old_dv:
        df = _apply_dv(df, old_dv)
    hits = (df.where(pred)
            .select(F.regexp_replace(F.col("_metadata.file_path"),
                                     "^file:", "").alias("f"),
                    F.col("_metadata.row_index").alias("i"))
            .collect())
    if not hits:
        return doc["version"], 0
    merged: dict = {f: set(idxs) for f, idxs in old_dv.items()}
    for r in hits:
        merged.setdefault(r["f"], set()).add(int(r["i"]))
    dv_doc = {f: sorted(s) for f, s in sorted(merged.items())}
    extra = {"parent": slot, "files": doc["files"], "dv": dv_doc}
    for carry in ("stats", "pvals", "ptransform"):
        if carry in doc:
            extra[carry] = doc[carry]
    _commit_doc(path, slot + 1, extra)
    return slot + 1, len(hits)


def stream_upsert_to_table(stream_df: DataFrame, path: str,
                           checkpoint_dir: str, key_col: str,
                           trigger_available_now: bool = True):
    """Streaming MERGE: each micro-batch UPSERTS into the manifest
    table by key (CDC-apply — the change stream keeps a keyed table
    current, not an append log).  Batch-id idempotence rides in the
    commit doc; replaying a crashed batch re-merges the same rows into
    the same final state, so the sink is exactly-once BY VALUE even
    though the merge rewrites rows.

    Within-batch duplicate keys are resolved to the LAST row per key
    under the stream's implicit order first (micro-batches may carry
    several updates for one key; merge_upsert itself fails fast on
    duplicates by contract)."""
    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        if _last_batch_id(path) == batch_id:
            return
        # a keyed MERGE needs a key: NULL-key rows are dropped rather
        # than silently COLLAPSED to one row (the last-wins window
        # would pool them all into a single NULL partition)
        batch_df = batch_df.where(F.col(key_col).isNotNull())
        w = Window.partitionBy(key_col).orderBy(
            F.monotonically_increasing_id().desc())
        latest = (batch_df.withColumn("__rn", F.row_number().over(w))
                  .where(F.col("__rn") == 1).drop("__rn"))
        if committed_version(path) < 0:
            append(latest, path, extra_meta={"batch_id": batch_id})
        else:
            merge_upsert(batch_df.sparkSession, latest, path, key_col,
                         extra_meta={"batch_id": batch_id})

    writer = (stream_df.writeStream.foreachBatch(commit_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def overwrite_hidden_partition(df: DataFrame, path: str,
                               pval: int) -> int:
    """Dynamic partition overwrite for hidden-partitioned tables:
    atomically replace ONE partition's files with ``df``'s rows (the
    backfill/repair primitive — recompute yesterday without touching
    the rest of the table).  ``df`` rows must belong to partition
    ``pval`` under the table's transform; rows that don't raise
    (silent misplacement would corrupt pruning).

    Cost: rewrite of one partition + one metadata commit; every other
    file carries over by reference."""
    doc = _hidden_doc(path)
    tf = tuple(doc["ptransform"])
    # writer-side schema enforcement (same rule as update_where /
    # merge_upsert): a recomputed partition often arrives with widened
    # types (decimal(18,4) * 2) and mixing physical schemas across a
    # table's files breaks every later single-schema scan
    if doc.get("files"):
        base_schema = df.sparkSession.read.parquet(
            doc["files"][0]).schema
        base_types = {f.name: f.dataType for f in base_schema.fields}
        df = df.select(*[
            F.col(c).cast(base_types[c]).alias(c) if c in base_types
            else F.col(c) for c in df.columns])
    chk = df.withColumn("__p", _ptransform_expr(tf))
    bad = chk.where(F.col("__p") != int(pval)).limit(1).collect()
    if bad:
        raise ValueError(
            f"overwrite_hidden_partition: rows outside partition "
            f"{pval} under transform {tf}")
    data, _ = _table_dirs(path)
    staging = os.path.join(data, f"txn-{uuid.uuid4().hex}")
    chk.drop("__p").write.mode("overwrite").parquet(staging)
    new_files = [os.path.join(staging, f) for f in os.listdir(staging)
                 if f.endswith(".parquet")]
    pvals = doc.get("pvals", {})
    keep = [f for f in doc["files"] if pvals.get(f) != int(pval)]
    parent, _ = _writer_head(path)
    new_pvals = {**{f: pvals[f] for f in keep if f in pvals},
                 **{f: int(pval) for f in new_files}}
    _commit_doc(path, parent + 1,
                {"parent": parent, "files": sorted(keep + new_files),
                 "pvals": new_pvals, "ptransform": list(tf),
                 **_carry_dv(doc, keep)})
    return parent + 1


def table_cdf(spark: SparkSession, path: str, from_version: int,
              to_version: int | None = None,
              key_cols: list[str] | None = None) -> DataFrame:
    """Change data feed with PRE/POST IMAGES (Delta CDF's row shape,
    upgrading table_diff's change-type-only output): one row per
    changed key with ``change`` in {added, removed, updated} and every
    non-key column delivered twice — ``<col>_old`` (NULL for added)
    and ``<col>_new`` (NULL for removed).  This is what a downstream
    incremental consumer actually needs: the delta to apply, not just
    which keys moved.

    Same full-outer keyed join as table_diff (unique key enforced on
    both snapshots); unchanged rows are dropped via one xxhash64
    comparison, so the output is |changes|-sized regardless of table
    size."""
    if not key_cols:
        raise ValueError("table_cdf requires key_cols")
    to_v = committed_version(path) if to_version is None else to_version
    a = read_table(spark, path, version=from_version)
    b = read_table(spark, path, version=to_v)
    # a keyed diff needs keys: a NULL-key row can never pair across
    # snapshots (full-outer on NULL never matches), so it would be
    # misreported as removed+added even when unchanged — excluded, like
    # stream_upsert_to_table's merge guard
    key_ok = None
    for k in key_cols:
        e = F.col(k).isNotNull()
        key_ok = e if key_ok is None else (key_ok & e)
    a, b = a.where(key_ok), b.where(key_ok)
    val_cols = [c for c in a.columns if c not in key_cols]
    if [c for c in b.columns if c not in key_cols] != val_cols:
        raise ValueError("table_cdf: snapshots have different schemas")
    for side, df in (("from", a), ("to", b)):
        dup = (df.groupBy(*key_cols).count()
               .where(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"table_cdf: {side} snapshot is not unique on {key_cols}")

    def tagged(df, tag):
        # Null-discriminated hash: Spark's hash functions skip NULL
        # args (a no-op on the fold state), so hashing the bare value
        # columns makes (x, NULL) and (NULL, x) collide and drops the
        # update from the feed.  Interleaving each column's isNull flag
        # keeps the fold order distinct for any null-position shift
        # while equal rows still hash equal.
        h = (F.xxhash64(*[e for c in val_cols
                          for e in (F.col(c).isNull(), F.col(c))])
             if val_cols else F.lit(0))
        cols = ([F.col(k) for k in key_cols]
                + [F.col(c).alias(f"{c}_{tag}") for c in val_cols]
                + [h.alias(f"__h_{tag}"), F.lit(1).alias(f"__p_{tag}")])
        return df.select(*cols)

    j = tagged(a, "old").join(tagged(b, "new"), key_cols, "full_outer")
    change = (F.when(F.col("__p_old").isNull(), "added")
              .when(F.col("__p_new").isNull(), "removed")
              .when(F.col("__h_old") != F.col("__h_new"), "updated"))
    out_cols = ([F.col(k) for k in key_cols] + [change.alias("change")]
                + [F.col(f"{c}_old") for c in val_cols]
                + [F.col(f"{c}_new") for c in val_cols])
    return (j.select(*out_cols)
            .where(F.col("change").isNotNull()))
