"""Diff the reference and Spark pipeline results.

Comparison doctrine: entity ids must align exactly (both engines derive
hash ids from full_path, hierarchy_builder.py:462-470); numeric leaves
compare at 2dp (the repo-wide rounding pin); lists are
order-sensitive because the reference's widget arrays are ordered
payloads (tops/counts, month series, binned counts).
"""

from __future__ import annotations

import json
import math

# Widgets the reference itself cannot produce in this container (or at
# all, on its own example config) — excluded from the diff with the
# reason recorded in the report.
REFERENCE_BLOCKED = {
    # taxons.phenology is NO LONGER excluded (r14): the shim whitelists
    # ast.Dict in the reference's custom_formula safe-eval
    # (shims.patch_custom_formula_dict), so the reference executes its
    # VERBATIM example chain — the dict-literal merge step included —
    # and the chain envelope diffs like any other widget on every
    # variant.
    # shapes.geography is NO LONGER excluded (r13): the reference's
    # shape_processor runs end-to-end through the geometry shims
    # (tools/refdiff/shims.py), with the geometry KERNELS (UTM
    # projection, Douglas-Peucker, TopoJSON encoder, box clipper) held
    # common between engines — the differential certifies the plugin
    # LOGIC (tolerance formula, layer clip order, double-simplify,
    # union order).  The kernels themselves are pinned independently of
    # the grid against their public DEFINITIONS (r14,
    # tests/test_geometry_kernel_evidence.py): meridian-arc quadrature,
    # conformality of the numerical Jacobian, closed-form ellipsoidal
    # quad areas, the Douglas-Peucker tolerance guarantee, and
    # spec-derived TopoJSON decoding.
}


def _num(x):
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def compare(a, b, path="", diffs=None, tol=0.005, boundary=None):
    """Collect leaf-level differences between two JSON-ish values.

    ``boundary`` (a list) collects half-even-boundary artifacts: both
    engines round to 2dp, but the UNROUNDED doubles differ at ~1e-13
    because pandas sums pairwise and Spark sums sequentially, so a
    value sitting on a .xx5 boundary can legally round apart by one
    cent.  Those are tallied separately — a handful is float noise, a
    systematic rate would mean a rounding-mode bug and still fails."""
    if diffs is None:
        diffs = []
    if _num(a) and _num(b):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return diffs
        d = abs(fa - fb)
        if d > tol and d > 1e-6 * max(abs(fa), abs(fb)):
            if boundary is not None and d <= 0.0101:
                boundary.append((path, a, b))
            else:
                diffs.append((path, a, b))
        return diffs
    if isinstance(a, dict) and isinstance(b, dict):
        for k in sorted(set(a) | set(b)):
            if k not in a:
                diffs.append((f"{path}.{k}", "<absent>", b[k]))
            elif k not in b:
                diffs.append((f"{path}.{k}", a[k], "<absent>"))
            else:
                compare(a[k], b[k], f"{path}.{k}", diffs, tol, boundary)
        return diffs
    if isinstance(a, list) and isinstance(b, list):
        if len(a) != len(b):
            diffs.append((f"{path}#len", len(a), len(b)))
            return diffs
        for i, (x, y) in enumerate(zip(a, b)):
            compare(x, y, f"{path}[{i}]", diffs, tol, boundary)
        return diffs
    if a != b:
        diffs.append((path, a, b))
    return diffs


def _canon_ranking(tops: list, counts: list) -> tuple[list, list]:
    """Sort tie runs by (-count, name) and mask the final count group
    (always potentially cut-ambiguous: a hidden candidate beyond the
    cut with the same count — v21: [43,37,33] with a second 33
    excluded — is invisible from the emitted doc alone)."""
    pairs = sorted(
        zip(tops, counts),
        key=lambda tc: (-(tc[1] if _num(tc[1]) else 0), str(tc[0])))
    tops = [t for t, _ in pairs]
    counts = [c for _, c in pairs]
    if counts:
        last = counts[-1]
        tops = [f"__boundary_tie@{last}__" if c == last else t
                for t, c in zip(tops, counts)]
    return tops, counts


def canonicalize(v):
    """Order ties canonically in {tops, counts} payloads.

    The reference's top_ranking uses pandas value_counts, whose order
    among EQUAL counts is the khash BUCKET-iteration order (the stable
    sort preserves the hashtable's order, and khash iterates buckets,
    not insertions) — not a semantic contract, and not even
    first-appearance order (verified empirically on the v21 grid
    variant: the id first seen at row 41 came out AFTER the one first
    seen at row 76).  This engine orders ties deterministically
    (count desc, name asc).  Two-part doctrine:

    - INTERIOR ties (fully inside the top-N): membership is fixed,
      order is arbitrary -> reorder both sides' tied runs by
      (-count, str(name)) so only membership+counts are diffed.
    - BOUNDARY tie (the run holding the LAST kept element): when the
      cut falls inside a tie group, WHICH members survive is the same
      khash artifact (r14 extended-grid find, v21/v28: count=3 cut a
      33/33 tie and the engines kept different — equally valid —
      members).  Mask those names with a sentinel so counts and run
      length still compare, membership doesn't."""
    if isinstance(v, dict):
        out = {k: canonicalize(x) for k, x in v.items()}
        tops, counts = out.get("tops"), out.get("counts")
        if isinstance(tops, list):
            # export detail flattening collision (both engines flatten
            # widget dicts into the item in column order, so a LATER
            # widget's `counts` can overwrite top_ranking's while its
            # `tops` survives — sometimes even with the SAME length,
            # v29): a nested widget dict whose raw tops equal the flat
            # list holds the AUTHORITATIVE counts; prefer it, leave the
            # flat `counts` (the other widget's data) untouched.
            nested = next(
                (x for x in v.values()
                 if isinstance(x, dict) and x is not v
                 and x.get("tops") == v.get("tops")
                 and isinstance(x.get("counts"), list)
                 and len(x["counts"]) == len(tops)), None)
            if nested is not None:
                out["tops"] = _canon_ranking(tops, nested["counts"])[0]
            elif isinstance(counts, list) and len(counts) == len(tops):
                out["tops"], out["counts"] = _canon_ranking(tops, counts)
        return out
    if isinstance(v, list):
        return [canonicalize(x) for x in v]
    return v


def diff_results(ref: dict, spark: dict, max_examples: int = 3,
                 blocked: dict | None = None) -> dict:
    """Returns {"widgets": {(group, widget): {...}}, "summary": {...}}.

    ``blocked`` overrides REFERENCE_BLOCKED — the r13 chain mutator can
    rewrite the phenology chain into a form the reference's safe-eval
    ACCEPTS, at which point the exclusion is lifted for that variant
    and the chain is diffed like any other widget."""
    if blocked is None:
        blocked = REFERENCE_BLOCKED
    report: dict = {"groups": {}, "blocked": {}, "ok": True}
    for group in sorted(set(ref) | set(spark)):
        rg = ref.get(group, {})
        sg = spark.get(group, {})
        rids = {str(k) for k in rg}
        sids = {str(k) for k in sg}
        gstat: dict = {
            "ref_entities": len(rids), "spark_entities": len(sids),
            "id_only_ref": sorted(rids - sids)[:10],
            "id_only_spark": sorted(sids - rids)[:10],
            "widgets": {},
        }
        if rids != sids:
            report["ok"] = False
        widgets = set()
        for w in rg.values():
            widgets |= set(w)
        for w in sg.values():
            widgets |= set(w)
        for widget in sorted(widgets):
            if (group, widget) in blocked:
                report["blocked"][f"{group}.{widget}"] = \
                    blocked[(group, widget)]
                continue
            n_match = n_diff = n_missing = n_compared = 0
            n_boundary_leaves = 0
            examples = []
            for eid in sorted(rids & sids):
                rv = _get(rg, eid, widget)
                sv = _get(sg, eid, widget)
                if rv is None and sv is None:
                    continue
                n_compared += 1
                if rv is None or sv is None:
                    n_missing += 1
                    if len(examples) < max_examples:
                        examples.append(
                            {"entity": eid,
                             "issue": ("missing in spark" if sv is None
                                       else "missing in reference"),
                             "ref": _trunc(rv), "spark": _trunc(sv)})
                    continue
                bnd: list = []
                diffs = compare(canonicalize(rv), canonicalize(sv),
                                boundary=bnd)
                n_boundary_leaves += len(bnd)
                if diffs:
                    n_diff += 1
                    if len(examples) < max_examples:
                        examples.append(
                            {"entity": eid,
                             "leaf_diffs": [
                                 {"path": p, "ref": _trunc(x),
                                  "spark": _trunc(y)}
                                 for p, x, y in diffs[:5]]})
                else:
                    n_match += 1
            stat = {"match": n_match, "diff": n_diff, "missing": n_missing}
            if n_boundary_leaves:
                stat["boundary_leaves"] = n_boundary_leaves
            if examples:
                stat["examples"] = examples
            if n_diff or n_missing:
                report["ok"] = False
            # a systematic one-cent skew is a rounding-mode bug, not
            # float noise: fail when boundary artifacts are widespread
            if n_compared and n_boundary_leaves > max(3, n_compared // 4):
                stat["boundary_excessive"] = True
                report["ok"] = False
            gstat["widgets"][widget] = stat
        report["groups"][group] = gstat
    return report


def _get(gmap: dict, eid: str, widget: str):
    rec = gmap.get(eid) or gmap.get(int(eid)) if _intlike(eid) else \
        gmap.get(eid)
    if rec is None:
        rec = gmap.get(eid)
    return (rec or {}).get(widget)


def _intlike(s):
    try:
        int(s)
        return True
    except (TypeError, ValueError):
        return False


def _trunc(v, n=200):
    s = json.dumps(v, ensure_ascii=False, default=str)
    return s if len(s) <= n else s[:n] + "..."


def print_report(report: dict) -> None:
    for group, gstat in report["groups"].items():
        print(f"\n== {group}: ref {gstat['ref_entities']} vs spark "
              f"{gstat['spark_entities']} entities")
        if gstat["id_only_ref"] or gstat["id_only_spark"]:
            print("  id mismatch: only-ref", gstat["id_only_ref"],
                  "only-spark", gstat["id_only_spark"])
        for widget, stat in gstat["widgets"].items():
            flag = "OK " if not (stat["diff"] or stat["missing"]
                                 or stat.get("boundary_excessive")) \
                else "DIFF"
            extra = (f" boundary_leaves={stat['boundary_leaves']}"
                     if stat.get("boundary_leaves") else "")
            print(f"  {flag} {widget}: match={stat['match']} "
                  f"diff={stat['diff']} missing={stat['missing']}{extra}")
            for ex in stat.get("examples", [])[:2]:
                print(f"       e.g. {json.dumps(ex, ensure_ascii=False)[:300]}")
    if report["blocked"]:
        print("\nblocked (excluded, reference-side):")
        for k, v in report["blocked"].items():
            print(f"  {k}: {v}")
    print("\nRESULT:", "CLEAN" if report["ok"] else "DIFFS PRESENT")
