"""The benchmark workloads' inputs.

``pipeline_large`` draws its CSVs from the seed into a directory keyed by
seed and size and reuses it when it is already complete, so a repeated seed
costs nothing.  :func:`ensure_pipeline_project` generates in a child
process, so the measuring process neither imports nor allocates anything
for it.  ``catalog_headline`` reads the scale-0.1 tables shipped under
``data/sf0.1``, which no seed changes.

    python3 perfbench/inputs.py ROOT SEED N_OCC N_PLOTS   # generate one set
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
EXAMPLE_CONFIG = os.path.join(REPO, "examples", "config")
#: the headline catalog's tables: region, nation, customer, supplier, part,
#: orders, lineitem (600,000 rows), events, documents and embeddings
CATALOG_DATA = os.path.join(HERE, "data", "sf0.1")
CONFIG_FILES = ("import.yml", "transform.yml", "export.yml", "provinces.gpkg")

# The 35 (family, genus, species) triples shipped in examples/config: drawing
# only from them keeps the derived ``taxons`` table at 43 rows (4 families,
# 5 genera, 35 species) whatever the seed or size.
_GENERA = {
    "Araucariaceae": ("Agathis", "Araucaria"),
    "Myrtaceae": ("Syzygium",),
    "Sapotaceae": ("Planchonella", "Pycnandra"),
}
TAXA = [(fam, gen, f"sp{i}") for fam, gens in _GENERA.items()
        for gen in gens for i in range(1, 8)]
TAXON_ROWS = len(_GENERA) + sum(len(g) for g in _GENERA.values()) + len(TAXA)


def _publish(tmp: str, final: str) -> str:
    """Move a finished ``tmp`` directory to ``final`` (atomic rename), so a
    run cut short never leaves a half-written input set behind."""
    if os.path.isdir(final):
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)
    return final


def _project_dir(root: str, seed: int, n_occ: int, n_plots: int) -> str:
    return os.path.join(root, f"pipeline_s{seed}_o{n_occ}_p{n_plots}")


def ensure_pipeline_project(root: str, seed: int, n_occ: int, n_plots: int) -> str:
    """:func:`pipeline_project`'s directory, generated by a child process
    when it is not there yet."""
    final = _project_dir(root, seed, n_occ, n_plots)
    if not os.path.isdir(final):
        subprocess.run([sys.executable, os.path.abspath(__file__), root,
                        str(seed), str(n_occ), str(n_plots)], check=True)
    os.utime(final)  # newest, so pruning keeps it
    return final


def pipeline_project(root: str, seed: int, n_occ: int, n_plots: int) -> str:
    """A niamoto project: the example YAML and ``provinces.gpkg`` with
    ``occurrences.csv`` / ``plots.csv`` drawn from ``seed``.  Returns the
    config directory."""
    final = _project_dir(root, seed, n_occ, n_plots)
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in CONFIG_FILES:
        shutil.copy(os.path.join(EXAMPLE_CONFIG, name), tmp)
    import numpy as np
    import pyarrow as pa
    from pyarrow import csv as pa_csv

    rng = np.random.default_rng(seed)
    ids = np.arange(1, n_plots + 1)
    elevation = rng.integers(5, 1600, n_plots) * 1.0
    with open(os.path.join(tmp, "plots.csv"), "w") as f:
        f.write("id_plot,plot,locality,elevation\n")
        f.writelines(f"{i},Plot {i},P{i},{e:.1f}\n"
                     for i, e in zip(ids.tolist(), elevation.tolist()))
    taxon = rng.integers(0, len(TAXA), n_occ)
    occ = pa.table({
        "id": np.arange(1, n_occ + 1),
        "plot_name": np.char.add("P", rng.integers(1, n_plots + 1, n_occ).astype(str)),
        "family": np.array([t[0] for t in TAXA])[taxon],
        "genus": np.array([t[1] for t in TAXA])[taxon],
        "species": np.array([t[2] for t in TAXA])[taxon],
        # log-normal stem diameters with one decimal, like the shipped sample
        "dbh": np.round(np.clip(rng.lognormal(3.0, 0.7, n_occ), 1.0, 300.0), 1),
        "in_um": rng.integers(0, 2, n_occ),
        "holdridge": rng.integers(1, 4, n_occ),
    })
    with open(os.path.join(tmp, "occurrences.csv"), "wb") as f:
        f.write((",".join(occ.column_names) + "\n").encode())
        pa_csv.write_csv(occ, f, pa_csv.WriteOptions(include_header=False,
                                                     quoting_style="none"))
    return _publish(tmp, final)


if __name__ == "__main__":
    root, *nums = sys.argv[1:]
    pipeline_project(root, *map(int, nums))
