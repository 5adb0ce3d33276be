"""Best-of-N regression guard for the HEAVIEST catalog lanes
(VERDICT r10 next-#3).

perfbench's ``catalog_headline`` workload times the 11 headline bench
queries one by one; the round-9 connected-components waste (62s -> 35s on the q351 lane) sat
latent since round 2 because nothing watched the slow catalog lanes.
This guard times the five heaviest lanes directly through the driver
contract (`queries()` at the gate SF, full collect), takes the
per-lane best of N runs, appends a ``{"kind": "slow", ...}`` record to
``BENCH_GUARD.jsonl`` (older records of other kinds are skipped), and
exits nonzero on >threshold best-of-N creep vs the previous slow
record.

Usage (round-close checklist):
    python tools/slow_guard.py                 # best-of-2, record, compare
    python tools/slow_guard.py --runs 1        # quick probe, still records
    python tools/slow_guard.py --changed q262_dbscan
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

GUARD_FILE = os.path.join(ROOT, "BENCH_GUARD.jsonl")

#: the five heaviest lanes by gate wall-clock (sf0.001, judged r10):
#: q351 ~30s curation composition, q93 winnowing, q127 prefiltered
#: TF-IDF cosine, q254 boosted stumps, q262 DBSCAN.
SLOW_LANES = [
    "q351_curation_oracle_lane",
    "q93_substring_dup",
    "q127_tfidf_prefiltered",
    "q254_boosted_stumps",
    "q262_dbscan",
]


def last_slow_record() -> dict | None:
    if not os.path.exists(GUARD_FILE):
        return None
    rec = None
    with open(GUARD_FILE) as f:
        for line in f:
            line = line.strip()
            if line:
                r = json.loads(line)
                if r.get("kind") == "slow" and "regressed" not in r:
                    rec = r
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--threshold", type=float, default=0.10)
    ap.add_argument("--min-abs", type=float, default=1.0,
                    help="absolute seconds a lane must worsen before the "
                         "relative threshold applies — these lanes run "
                         "5-35s, so 1s absolute screens microVM jitter")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR_SLOW", "/root/testdata/sf0.001"))
    ap.add_argument("--changed", default="",
                    help="comma-separated lane names exempt this round")
    args = ap.parse_args()
    changed = {q.strip() for q in args.changed.split(",") if q.strip()}

    import __spark_entry__ as entry_mod
    from niamoto_spark.session import get_spark

    spark = get_spark("slow_guard")
    qs = entry_mod.queries()

    best: dict[str, float] = {}
    for i in range(args.runs):
        spark.catalog.clearCache()
        for name in SLOW_LANES:
            t0 = time.time()
            qs[name](spark, args.sf_dir).collect()
            sec = round(time.time() - t0, 3)
            best[name] = min(best.get(name, float("inf")), sec)
            print(f"# run {i + 1}/{args.runs} {name}: {sec}s",
                  file=sys.stderr)

    prev = last_slow_record()
    failures = []
    if prev is None or prev.get("sf_dir") != args.sf_dir:
        print("# no comparable slow-lane record — baseline established",
              file=sys.stderr)
    else:
        for q, sec in sorted(best.items()):
            ref = prev.get("queries", {}).get(q)
            if ref is None or ref <= 0:
                continue
            rel = (sec - ref) / ref
            flag = ("CHANGED-EXEMPT" if q in changed else
                    "REGRESSED" if (rel > args.threshold
                                    and sec - ref > args.min_abs)
                    else "ok")
            print(f"# {q}: {ref}s -> {sec}s ({rel:+.1%}) {flag}",
                  file=sys.stderr)
            if flag == "REGRESSED":
                failures.append(q)
    # a REGRESSED run is recorded for history but flagged so it never
    # becomes the next baseline — otherwise one missed nonzero exit
    # would self-heal the regression out of the guard (the exact
    # latent-creep failure mode this tool exists to prevent)
    record = {"kind": "slow", "ts": time.time(), "runs": args.runs,
              "sf_dir": args.sf_dir,
              "total_best": round(sum(best.values()), 3),
              "queries": best}
    if failures:
        record["regressed"] = failures
    with open(GUARD_FILE, "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    if failures:
        for q in failures:
            print(f"REGRESSION {q}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
