"""The benchmark's workloads and the checks on their outputs.

A workload prepares its inputs once (untimed), runs one repetition through
the program's public entry points inside benchmark-side spans, and checks
what a repetition produced.  Checks never run inside a timed span, and the
references they compare with (pandas widget values, DuckDB oracle rows) are
computed on the first check, after the cold repetition, so the program's
imports all fall inside the timed set-up or repetition.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import sys
import zipfile

import inputs
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")

# Pinned here rather than imported from bench.py: the workload must not
# change when that script's list does.
HEADLINE = [
    "q01_pricing_summary", "q07_top_brands", "q11_customer_orders",
    "q12_bridge_revenue", "q19_shannon_brands", "q23_dedup_exact",
    "q28_ann_topk", "q56_ann_blas", "q30_events_hourly", "q31_sessions",
    "q38_minhash_candidates",
]
#: Hash-seeded queries whose values have no oracle; their row count is
#: checked against the planted near-duplicate pairs instead.
ROWS_ONLY = {"q38_minhash_candidates": 200}

WIDGETS = ("general_info", "dbh_summary", "dbh_distribution",
           "holdridge_distribution", "um_counter", "top_families")


class Checks:
    """Operations attempted and failed.  An operation is a call into the
    program or an output check; an exception or a mismatch fails it."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def expect(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {detail}" if detail else name)

    @contextlib.contextmanager
    def call(self, name: str):
        """Count one call into the program; an exception fails it and is
        not propagated, so the run reports it instead of dying."""
        self.attempted += 1
        try:
            yield
        except Exception as e:  # noqa: BLE001 - every failure is reported
            self.failures.append(f"{name}: {type(e).__name__}: {e}")


# ---------------------------------------------------------------------------
# pipeline: niamoto_spark.cli import -> transform -> export
# ---------------------------------------------------------------------------

def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and content.  Zip archives
    are hashed entry by entry, because their headers carry timestamps."""
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            if zipfile.is_zipfile(path):
                with zipfile.ZipFile(path) as z:
                    for entry in sorted(z.namelist()):
                        h.update(entry.encode() + b"\0")
                        h.update(hashlib.sha256(z.read(entry)).digest())
            else:
                with open(path, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def expected_plots(config_dir: str) -> dict:
    """Per-plot widget values computed with pandas straight from the
    input CSVs: the independent reference the export is checked against."""
    import numpy as np
    import pandas as pd

    occ = pd.read_csv(os.path.join(config_dir, "occurrences.csv"))
    plots = pd.read_csv(os.path.join(config_dir, "plots.csv"))
    edges = np.array([10, 20, 30, 40, 50, 100])
    # np.histogram bins: half-open, the last one closed
    occ["bin"] = np.minimum(np.searchsorted(edges, occ.dbh, side="right") - 1,
                            len(edges) - 2)
    occ.loc[(occ.dbh < edges[0]) | (occ.dbh > edges[-1]), "bin"] = -1
    g = occ.groupby("plot_name")
    dbh = g.dbh.agg(["size", "min", "max", "mean"])
    tables = {c: pd.crosstab(occ.plot_name, occ[c])
              for c in ("bin", "holdridge", "in_um", "family")}

    def counts(col, plot, keys):
        t = tables[col]
        return [int(t.at[plot, k]) if k in t.columns else 0 for k in keys]

    out = {}
    for row in plots.itertuples(index=False):
        p = row.locality
        fam = tables["family"].loc[p]
        out[str(row.id_plot)] = {
            "name": row.plot, "elevation": float(row.elevation),
            "occurrences_count": int(dbh.at[p, "size"]),
            "dbh_min": float(dbh.at[p, "min"]), "dbh_max": float(dbh.at[p, "max"]),
            "dbh_mean": float(dbh.at[p, "mean"]),
            "dbh_counts": counts("bin", p, range(len(edges) - 1)),
            "holdridge": counts("holdridge", p, (1, 2, 3)),
            "um": counts("in_um", p, (1,))[0], "num": counts("in_um", p, (0,))[0],
            "family_counts": {f: int(n) for f, n in fam.items() if n},
        }
    return out


def check_plot_doc(doc: dict, exp: dict) -> list[str]:
    """Mismatches between one exported plot document and its expected
    values; empty when the document is right."""
    missing = [w for w in WIDGETS if w not in doc]
    if missing:
        return [f"missing widgets {missing}"]
    bad = []
    gi = doc["general_info"]
    if (gi["name"]["value"], gi["elevation"]["value"],
            gi["occurrences_count"]["value"]) != (
            exp["name"], exp["elevation"], exp["occurrences_count"]):
        bad.append(f"general_info {gi}")
    s = doc["dbh_summary"]
    if (s["min"], s["max"]) != (exp["dbh_min"], exp["dbh_max"]) \
            or abs(s["mean"] - exp["dbh_mean"]) > 0.006:
        bad.append(f"dbh_summary {s}")
    if doc["dbh_distribution"]["counts"] != exp["dbh_counts"]:
        bad.append(f"dbh_distribution {doc['dbh_distribution']['counts']}")
    if doc["holdridge_distribution"]["counts"] != exp["holdridge"]:
        bad.append(f"holdridge_distribution {doc['holdridge_distribution']}")
    if (doc["um_counter"]["um"], doc["um_counter"]["num"]) != (exp["um"], exp["num"]):
        bad.append(f"um_counter {doc['um_counter']}")
    top = doc["top_families"]
    ranked = sorted(exp["family_counts"].values(), reverse=True)[:5]
    if top["counts"] != ranked or any(
            exp["family_counts"].get(f) != c for f, c in zip(top["tops"], top["counts"])):
        bad.append(f"top_families {top}")
    return bad


class Pipeline:
    """``niamoto_spark.cli.main`` with ``import``, ``transform`` and
    ``export`` in sequence, which is what ``cmd_run`` does."""

    steps = ("import", "transform", "export")

    def __init__(self, name: str, work: str, seed: int, size: tuple | None):
        self.name, self.work, self.seed, self.size = name, work, seed, size
        self.n_plots = size[1] if size else 5

    def prepare(self, run_dir: str) -> None:
        """Generate the inputs, if the workload has any to generate."""
        self.run_dir = run_dir
        if self.size is None:
            self.config = inputs.EXAMPLE_CONFIG
            self.key = "example"
        else:
            self.config = inputs.ensure_pipeline_project(
                os.path.join(self.work, "inputs"), self.seed, *self.size)
            self.key = f"o{self.size[0]}_p{self.size[1]}/{self.seed}"
        with open(DIGESTS) as f:
            self.pinned = json.load(f).get(self.name, {}).get(self.key)
        self.first_digest = None
        self.expected = None

    @property
    def source_rows(self) -> int:
        """Rows of the transform's source and grouping tables."""
        return sum(e["occurrences_count"] for e in self.expected.values()) \
            + self.n_plots + inputs.TAXON_ROWS

    def rep(self, tracer, checks: Checks) -> dict:
        from niamoto_spark import cli

        wh = os.path.join(self.run_dir, "warehouse")
        out = self.out = os.path.join(self.run_dir, "out")
        for d in (wh, out):
            shutil.rmtree(d, ignore_errors=True)
        printed = {}
        with tracer.span(self.name) as root:
            for step in self.steps:
                buf = io.StringIO()
                with checks.call(step), tracer.span(step), \
                        contextlib.redirect_stdout(buf):
                    cli.main([step, "--config", self.config,
                              "--warehouse", wh, "--out", out])
                printed[step] = buf.getvalue()
        return {"root": root, "printed": printed, "out": out}

    def check(self, result: dict, checks: Checks) -> None:
        lines = result["printed"]["transform"].strip().splitlines()
        counts = json.loads(lines[-1]) if lines else {}
        checks.expect("group rows", counts == {"plots": self.n_plots,
                                               "taxons": inputs.TAXON_ROWS},
                      f"transform printed {counts}")
        out = result["out"]
        digest = self.digest = tree_digest(out) if os.path.isdir(out) else "(no export)"
        if self.pinned:
            checks.expect("export digest", digest == self.pinned,
                          f"{digest} != pinned {self.pinned}")
        elif self.first_digest is None:
            # nothing pinned: later repetitions are held to this tree
            self.first_digest = digest
        else:
            checks.expect("export digest", digest == self.first_digest,
                          f"{digest} != first {self.first_digest}")
        if self.expected is None:
            self.expected = expected_plots(self.config)
        detail = os.path.join(out, "plots", "detail")
        bad = []
        for pid, exp in self.expected.items():
            try:
                with open(os.path.join(detail, f"{pid}.json")) as f:
                    doc = json.load(f)
            except (OSError, ValueError) as e:
                bad.append(f"plot {pid}: {e}")
                continue
            bad += [f"plot {pid}: {m}" for m in check_plot_doc(doc, exp)]
        checks.expect("export values", not bad, "; ".join(bad[:3]))


# ---------------------------------------------------------------------------
# catalog: niamoto_spark.queries.build_queries()
# ---------------------------------------------------------------------------

def normalize(rows, colnames):
    """The canonical form ``tools/check_correctness.py`` compares."""
    sys.path.insert(0, os.path.join(inputs.REPO, "tools"))
    try:
        from check_correctness import normalize as _normalize
    finally:
        sys.path.pop(0)
    return _normalize(rows, colnames)


def oracle_results(data_dir: str, cache_dir: str) -> dict:
    """Normalized DuckDB oracle rows for every headline query with an
    oracle, cached in ``cache_dir`` under the hash of the oracle SQL and
    the dataset's file names and sizes."""
    from niamoto_spark.queries import build_oracles

    sqls = build_oracles()
    key = hashlib.sha256("".join(sqls[q] for q in HEADLINE if q in sqls).encode())
    for t in sorted(os.listdir(data_dir)):
        key.update(f"{t}:{os.path.getsize(os.path.join(data_dir, t))}".encode())
    os.makedirs(cache_dir, exist_ok=True)
    cache = os.path.join(cache_dir, f"oracles-{key.hexdigest()[:16]}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    import duckdb

    con = duckdb.connect()
    try:
        for t in sorted(os.listdir(data_dir)):
            if not t.endswith(".parquet"):
                continue
            con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS "
                        f"SELECT * FROM '{os.path.join(data_dir, t)}'")
        out = {}
        for q in HEADLINE:
            if q in ROWS_ONLY:
                continue
            res = con.execute(sqls[q])
            cols = [d[0] for d in res.description]
            out[q] = {"columns": sorted(c.lower() for c in cols),
                      "rows": normalize(res.fetchall(), cols)}
    finally:
        con.close()
    with open(cache + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(cache + ".tmp", cache)
    return out


def check_query(name: str, columns: list, rows: list, oracle: dict | None) -> str:
    """Why a query result is wrong, or '' when it matches its oracle."""
    if oracle is None:
        floor = ROWS_ONLY[name]
        return "" if len(rows) >= floor else f"{len(rows)} rows < {floor} planted"
    if sorted(c.lower() for c in columns) != oracle["columns"]:
        return f"columns {sorted(columns)} != {oracle['columns']}"
    got = normalize(rows, columns)
    if got != oracle["rows"]:
        diff = [(a, b) for a, b in zip(got, oracle["rows"]) if a != b][:2]
        return f"{len(got)} rows vs {len(oracle['rows'])}, first diffs {diff}"
    return ""


class Catalog:
    """The 11 headline queries: each a build (the query function call) and
    an execute (``.count()``), with ``clearCache()`` between queries.  The
    tables are the shipped scale-0.1 dataset whatever the seed."""

    def __init__(self, name: str, work: str, seed: int):
        self.name, self.work, self.seed = name, work, seed
        self.data = inputs.CATALOG_DATA

    def prepare(self, run_dir: str) -> None:
        self.run_dir = run_dir
        self.oracles = None
        self.values_checked = False

    def rep(self, tracer, checks: Checks, collect: bool = False) -> dict:
        """One pass: counts, as bench.py does, or full results to check."""
        from niamoto_spark.queries import build_queries
        from niamoto_spark.session import get_spark

        spark = get_spark()
        queries = build_queries()
        columns, rows, counts = {}, {}, {}
        with tracer.span(self.name) as root:
            for q in HEADLINE:
                spark.catalog.clearCache()
                with checks.call(q):
                    with tracer.span(f"{q}.build"):
                        df = queries[q](spark, self.data)
                    with tracer.span(f"{q}.execute"):
                        if collect:
                            rows[q] = [tuple(r) for r in df.collect()]
                            counts[q] = len(rows[q])
                        else:
                            counts[q] = df.count()
                    columns[q] = df.columns
        return {"root": root, "columns": columns, "rows": rows, "counts": counts}

    def check(self, result: dict, checks: Checks) -> None:
        """Each count against its oracle's row count; once per run, every
        result's values, from an extra untimed pass that collects them."""
        if self.oracles is None:
            self.oracles = oracle_results(self.data, os.path.join(self.work, "oracles"))
        for q in HEADLINE:
            got = result["counts"].get(q)
            if q in self.oracles:
                ok = got == len(self.oracles[q]["rows"])
            else:
                ok = got is not None and got >= ROWS_ONLY[q]
            checks.expect(f"{q} count", ok, f"count {got}")
        if self.values_checked:
            return
        self.values_checked = True
        full = self.rep(Tracer(), checks, collect=True)
        for q, rows in full["rows"].items():
            why = check_query(q, full["columns"][q], rows, self.oracles.get(q))
            checks.expect(f"{q} values", not why, why)


#: Workloads by name.  BENCHMARK.json lists the ones the regression gate
#: runs; pipeline_large (1M occurrences, 1000 plots, 2,023 export files)
#: does not fit the gate's time per run and is run by hand.
WORKLOADS = {
    "pipeline_small": lambda work, seed: Pipeline("pipeline_small", work, seed, None),
    "catalog_headline": lambda work, seed: Catalog("catalog_headline", work, seed),
    "pipeline_large": lambda work, seed: Pipeline(
        "pipeline_large", work, seed, (1_000_000, 1000)),
}
