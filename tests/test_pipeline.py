"""End-to-end pipeline test: import.yml -> transform.yml -> export.yml in
the reference's YAML dialect, over synthetic occurrence/plot CSVs (the
FIXTURES.md F1/F3 shapes)."""

import json
import os

import pandas as pd
import pytest

from niamoto_spark.pipeline import Pipeline

OCCURRENCES = pd.DataFrame({
    "id": range(1, 13),
    "plot_name": ["P1", "P1", "P1", "P2", "P2", "P2",
                  "P1", "P2", "P1", "P2", "P1", "P2"],
    "family": ["Araucariaceae"] * 6 + ["Myrtaceae"] * 6,
    "genus": ["Araucaria"] * 4 + ["Agathis"] * 2 + ["Syzygium"] * 6,
    "species": ["columnaris", "columnaris", "montana", "montana",
                "ovata", "ovata", "acre", "acre", "acre",
                "wagapense", "wagapense", None],
    "dbh": [10.0, 20.0, 30.0, 40.0, 15.0, 25.0,
            12.0, 22.0, 32.0, 8.0, 18.0, 28.0],
    "in_um": [1, 0, 1, 1, 0, 0, 1, 1, 0, 0, 1, 1],
    "holdridge": [1, 2, 3, 1, 2, 3, 1, 2, 3, 1, 2, 3],
})

PLOTS = pd.DataFrame({
    "id_plot": [1, 2],
    "plot": ["Plot One", "Plot Two"],
    "locality": ["P1", "P2"],
    "elevation": [200.0, 800.0],
})


@pytest.fixture(scope="module")
def project(tmp_path_factory, spark):
    base = tmp_path_factory.mktemp("project")
    OCCURRENCES.to_csv(base / "occurrences.csv", index=False)
    PLOTS.to_csv(base / "plots.csv", index=False)
    pipe = Pipeline(spark, warehouse=str(base / "warehouse"))
    import_cfg = {
        "version": "1.0",
        "entities": {
            "datasets": {
                "occurrences": {
                    "connector": {"type": "file", "format": "csv",
                                  "path": "occurrences.csv"},
                    "schema": {"id_field": "id"},
                },
            },
            "references": {
                "plots": {
                    "connector": {"type": "file", "format": "csv",
                                  "path": "plots.csv"},
                    "schema": {"id_field": "id_plot"},
                },
                "taxons": {
                    "kind": "hierarchical",
                    "connector": {"type": "derived", "dataset": "occurrences",
                                  "levels": ["family", "genus", "species"]},
                    "schema": {"id_field": "id"},
                },
            },
        },
    }
    pipe.run_import(import_cfg, base_dir=str(base))
    return pipe, base


def test_import_registers_entities(project, spark):
    pipe, _ = project
    assert set(pipe.registry.names()) == {"occurrences", "plots", "taxons"}
    taxons = pipe.registry.load(spark, "taxons")
    assert {"lft", "rght", "parent_id", "full_path"} <= set(taxons.columns)
    # 2 families + 3 genera + 5 species = 10 nodes
    assert taxons.count() == 10


def test_transform_reference_dialect(project, spark):
    pipe, base = project
    transform_cfg = [{
        "group_by": "plots",
        "sources": [{
            "name": "occurrences",
            "data": "occurrences",
            "grouping": "plots",
            "relation": {"plugin": "direct_reference",
                         "key": "plot_name", "ref_key": "locality"},
        }],
        "widgets_data": {
            "dbh_summary": {"plugin": "statistical_summary",
                            "params": {"source": "occurrences", "field": "dbh"}},
            "dbh_bins": {"plugin": "binned_distribution",
                         "params": {"source": "occurrences", "field": "dbh",
                                    "bins": [0, 15, 30, 50],
                                    "include_percentages": True}},
            "um_counter": {"plugin": "binary_counter",
                           "params": {"source": "occurrences", "field": "in_um",
                                      "true_label": "um", "false_label": "num"}},
            "holdridge_dist": {"plugin": "categorical_distribution",
                               "params": {"source": "occurrences",
                                          "field": "holdridge",
                                          "categories": [1, 2, 3]}},
            "general_info": {"plugin": "field_aggregator", "params": {"fields": [
                {"source": "plots", "field": "plot", "target": "name"},
                {"source": "plots", "field": "elevation", "target": "elevation"},
                {"source": "occurrences", "field": "id",
                 "target": "occurrences_count", "transformation": "count"},
            ]}},
            "top_families": {"plugin": "top_ranking",
                             "params": {"source": "occurrences",
                                        "field": "family", "count": 5}},
        },
    }]
    out = pipe.run_transform(transform_cfg)["plots"]
    rows = {r["id_plot"]: r for r in out.collect()}
    assert set(rows) == {1, 2}

    # widget JSONs are the reference engine's persisted shapes
    # (verified bit-for-bit by tools/ref_pipeline_diff.py)
    s1 = json.loads(rows[1]["dbh_summary"])
    p1 = OCCURRENCES[OCCURRENCES.plot_name == "P1"]["dbh"]
    assert s1["mean"] == round(p1.mean(), 2) and "max_value" in s1

    info2 = json.loads(rows[2]["general_info"])
    assert info2["name"]["value"] == "Plot Two"
    assert info2["occurrences_count"]["value"] == 6

    tops1 = json.loads(rows[1]["top_families"])
    assert tops1["tops"][0] in ("Araucariaceae", "Myrtaceae")
    assert sum(tops1["counts"]) == 6

    bins1 = json.loads(rows[1]["dbh_bins"])
    assert sum(bins1["counts"]) == 6
    assert abs(sum(bins1["percentages"]) - 100.0) < 0.1


def test_transform_nested_set_source(project, spark):
    pipe, _ = project
    cfg = [{
        "group_by": "taxons",
        "sources": [{
            "name": "occurrences",
            "data": "occurrences",
            "grouping": "taxons",
            "relation": {"plugin": "nested_set", "key": "species",
                         "ref_key": "rank_value",
                         "fields": {"left": "lft", "right": "rght"}},
        }],
        "widgets_data": {
            "dbh_summary": {"plugin": "statistical_summary",
                            "params": {"source": "occurrences", "field": "dbh"}},
        },
    }]
    out = pipe.run_transform(cfg)["taxons"]
    taxons = {r["rank_value"]: r["id"] for r in
              pipe.registry.load(spark, "taxons").collect()}
    rows = {r["id"]: r for r in out.collect() if r["dbh_summary"]}
    # the Araucariaceae family node aggregates its whole subtree (6 occ)
    fam = json.loads(rows[taxons["Araucariaceae"]]["dbh_summary"])
    sub = OCCURRENCES[OCCURRENCES.family == "Araucariaceae"]["dbh"]
    assert fam["mean"] == round(sub.mean(), 2)
    assert fam["min"] == sub.min() and fam["max"] == sub.max()
    # NOTE: species names are unique per genus in this fixture, so matching
    # occurrences on rank_value is unambiguous at the species level.


def test_export_json_api(project, spark, tmp_path):
    pipe, _ = project
    manifests = pipe.run_export(
        {"targets": [{"name": "site", "group": "plots",
                      "params": {"page_size": 1}}]},
        out_dir=str(tmp_path))
    assert manifests["site"]["entities"] == 2
    with open(tmp_path / "plots" / "detail" / "1.json") as f:
        doc = json.load(f)
    assert "dbh_summary" in doc


def test_incremental_transform_upserts(project, spark):
    pipe, _ = project
    cfg = [{
        "group_by": "plots",
        "sources": [{
            "name": "occurrences", "data": "occurrences", "grouping": "plots",
            "relation": {"plugin": "direct_reference",
                         "key": "plot_name", "ref_key": "locality"},
        }],
        "widgets_data": {
            "dbh_summary": {"plugin": "statistical_summary",
                            "params": {"source": "occurrences", "field": "dbh"}},
        },
    }]
    pipe.run_transform(cfg)                                   # full build
    full = {r["id_plot"]: r["dbh_summary"] for r in
            spark.read.parquet(pipe.warehouse + "/plots_results.parquet").collect()}
    # recompute only entity 2 incrementally; entity 1 must survive untouched
    pipe.run_transform(cfg, mode="incremental", only_ids=[2])
    after = {r["id_plot"]: r["dbh_summary"] for r in
             spark.read.parquet(pipe.warehouse + "/plots_results.parquet").collect()}
    assert set(after) == {1, 2}
    assert after[1] == full[1] and after[2] == full[2]


def test_transform_chain_widget(project, spark):
    """transform_chain in YAML: step 2 consumes step 1's per-plot output."""
    pipe, _ = project
    cfg = [{
        "group_by": "plots",
        "sources": [{
            "name": "occurrences", "data": "occurrences", "grouping": "plots",
            "relation": {"plugin": "direct_reference",
                         "key": "plot_name", "ref_key": "locality"},
        }],
        "widgets_data": {
            "dbh_chain": {"plugin": "transform_chain", "params": {"steps": [
                {"plugin": "statistical_summary", "output_key": "stats",
                 "params": {"source": "occurrences", "field": "dbh"}},
                {"plugin": "direct_attribute", "output_key": "mean_only",
                 "params": {"source": "@stats", "field": "mean",
                            "precision": 1}},
            ]}},
        },
    }]
    out = pipe.run_transform(cfg)["plots"]
    rows = {r["id_plot"]: json.loads(r["dbh_chain"]) for r in out.collect()}
    # reference envelope (transform_chain.py:305-311): EVERY step's
    # output under its output_key, not just the final step's
    p1 = OCCURRENCES[OCCURRENCES.plot_name == "P1"]["dbh"]
    assert set(rows[1]) == {"stats", "mean_only"}
    # chain steps now go through the same reference shapers as
    # top-level widgets: direct_attribute on a float value takes the
    # str().rstrip branch (JSON string, r12 typing doctrine)
    assert rows[1]["mean_only"]["value"] == str(round(p1.mean(), 1))
    assert rows[1]["stats"]["mean"] == round(p1.mean(), 2)


def test_eav_stats_source_class_objects(project, spark):
    """The reference's plot workflow: an EAV stats CSV loaded via
    stats_loader, consumed by class_object widgets."""
    pipe, base = project
    pd.DataFrame({
        "plot_id": ["P1", "P1", "P1", "P2", "P2", "P2"],
        "class_object": ["top10_family"] * 6,
        "class_name": ["Araucariaceae", "Myrtaceae", "Sapotaceae"] * 2,
        "class_value": [10.0, 5.0, 2.0, 7.0, 7.0, 1.0],
    }).to_csv(base / "raw_plot_stats.csv", index=False)
    cfg = [{
        "group_by": "plots",
        "sources": [{
            "name": "plot_stats",
            "data": str(base / "raw_plot_stats.csv"),
            "grouping": "plots",
            "relation": {"plugin": "stats_loader", "key": "plot_id",
                         "match_field": "plot_id", "ref_field": "locality"},
        }],
        "widgets_data": {
            "top_families": {"plugin": "class_object_series_extractor",
                             "params": {
                                 "source": "plot_stats",
                                 "class_object": "top10_family",
                                 "size_field": {"input": "class_name",
                                                "output": "tops"},
                                 "value_field": {"input": "class_value",
                                                 "output": "counts"}}},
            "fam_share": {"plugin": "class_object_binary_aggregator",
                          "params": {"source": "plot_stats", "groups": [{
                              "label": "families", "field": "top10_family",
                              "classes": ["Araucariaceae", "Myrtaceae"]}]}},
        },
    }]
    out = pipe.run_transform(cfg)["plots"]
    rows = {r["id_plot"]: r for r in out.collect()}
    # unsorted axis: the stats file's row order
    assert json.loads(rows[1]["top_families"]) == {
        "tops": ["Araucariaceae", "Myrtaceae", "Sapotaceae"],
        "counts": [10.0, 5.0, 2.0]}
    assert json.loads(rows[2]["fam_share"]) == {
        "families": {"Araucariaceae": 7.0, "Myrtaceae": 7.0}}


def test_boolean_and_scatter_adapters(project, spark):
    pipe, _ = project
    cfg = [{
        "group_by": "plots",
        "sources": [{
            "name": "occurrences", "data": "occurrences", "grouping": "plots",
            "relation": {"plugin": "direct_reference",
                         "key": "plot_name", "ref_key": "locality"},
        }],
        "widgets_data": {
            "flags": {"plugin": "boolean_comparison",
                      "params": {"source": "occurrences",
                                 "fields": ["in_um"]}},
            "dbh_scatter": {"plugin": "scatter_analysis",
                            "params": {"source": "occurrences",
                                       "x_field": "dbh", "y_field": "holdridge"}},
        },
    }]
    out = pipe.run_transform(cfg)["plots"]
    r1 = {k: json.loads(v) for k, v in out.collect()[0].asDict().items()
          if k != "id_plot"}
    assert r1["flags"][0]["category"] == "in_um"
    assert len(r1["dbh_scatter"]) == 6      # six occurrences per plot


def test_training_data_pipeline_example(spark, tmp_path, sf_dir):
    """The examples/ curation pipeline runs end-to-end: all stages
    compose, the manifest commit passes its contracts, JSONL shards
    land per split."""
    import glob
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "training_data_pipeline",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))),
            "examples", "training_data_pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "out")
    stats = mod.run(sf_dir, out, spark=spark)
    assert stats["raw"] >= stats["after_exact_dedup"] > 0
    assert set(stats["splits"]) <= {"train", "val", "test"}
    assert stats["table_version"] == 0
    for split in stats["splits"]:
        assert glob.glob(f"{out}/jsonl/{split}/shard=*/part-*")


def test_lakehouse_demo_example(spark, tmp_path, sf_dir):
    """The examples/ lakehouse walkthrough runs end-to-end: hidden
    partition pruning, DV deletes without rewrites, WAP audit flow,
    zero-copy clone divergence, incremental MV, cache hits, and full
    time-travel history."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "lakehouse_demo",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))),
            "examples", "lakehouse_demo.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    report = mod.run(sf_dir, str(tmp_path / "lh"), spark=spark)
    kept, total = report["point_read_files"]
    assert kept < total                      # bucket pruning worked
    assert report["dv_zero_rewrite"] and report["dv_deleted"] > 0
    assert report["rows_after_wap"] == report["rows_after_delete"] + 50
    assert report["clone_independent"]
    assert report["agg_groups"] >= 1
    assert report["cache_hits"] == (False, True)
    assert report["history_readable"] and report["n_versions"] >= 5


def test_web_corpus_demo_example(spark, tmp_path, sf_dir):
    """The examples/ web-corpus walkthrough runs end-to-end: campaign
    URL variants collapse under canonicalization, the mixture
    rebalance respects quotas, the temporal split never leaks
    train-future into test, and the shards land on disk."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "web_corpus_demo",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))),
            "examples", "web_corpus_demo.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    report = mod.run(sf_dir, str(tmp_path / "web"), spark=spark)
    assert report["crawl_rows"] == 2 * report["after_url_dedup"]
    assert report["n_domains"] >= 2
    assert report["selected"] <= report["after_url_dedup"]
    assert all(sel <= avail for avail, sel
               in report["rebalance_summary"].values())
    assert report["no_time_leak"]
    assert report["train_shards"] >= 2
    assert report["written"] == report["split_counts"].get("train", 0)


def test_export_with_deploy_block(project, spark, tmp_path):
    """export.yml deploy: block (reference DeployConfig dialect) publishes
    the exported tree — github flow proven against a file:// bare remote,
    local_copy against a directory."""
    import subprocess

    pipe, _ = project
    bare = tmp_path / "pages.git"
    subprocess.run(["git", "init", "-q", "--bare", str(bare)], check=True)
    manifests = pipe.run_export(
        {"targets": [
            {"name": "site", "group": "plots",
             "deploy": {"platform": "github", "branch": "gh-pages",
                        "extra": {"repo": f"file://{bare}"}}},
            {"name": "site_html", "exporter": "html", "group": "plots",
             "deploy": {"platform": "local_copy",
                        "extra": {"target_dir": str(tmp_path / "www")}}},
        ]},
        out_dir=str(tmp_path / "out"))
    assert manifests["site"]["deployed"]["pushed"] is True
    assert manifests["site"]["deployed"]["branch"] == "gh-pages"
    tree = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", "gh-pages"],
        cwd=str(bare), capture_output=True, text=True).stdout.split()
    assert "detail/1.json" in tree and ".nojekyll" in tree
    assert (tmp_path / "www" / "index.html").exists()
    assert manifests["site_html"]["deployed"]["files"] >= 3


def test_phenology_style_chain(project, spark):
    """The reference example's phenology chain (time series -> peaks ->
    active periods -> dict merge) runs END TO END, with the merge step
    emitting the reference's _custom_formula envelope
    (custom_calculator.py:1649-1654: value/formula/description/
    variables) — r14: the refdiff shim whitelists ast.Dict so the grid
    certifies this against the reference's own engine on every
    variant."""
    pipe, _ = project
    cfg = [{
        "group_by": "plots",
        "sources": [{
            "name": "occurrences", "data": "occurrences", "grouping": "plots",
            "relation": {"plugin": "direct_reference",
                         "key": "plot_name", "ref_key": "locality"},
        }],
        "widgets_data": {
            "phenology": {"plugin": "transform_chain", "params": {"steps": [
                {"plugin": "time_series_analysis", "output_key": "raw",
                 "params": {"source": "occurrences",
                            "fields": {"um": "in_um"},
                            "time_field": "holdridge",
                            "labels": ["a", "b", "c"]}},
                {"plugin": "custom_calculator", "output_key": "peaks",
                 "params": {"operation": "peak_detection",
                            "time_series": "@raw.month_data",
                            "threshold": 30}},
                {"plugin": "custom_calculator", "output_key": "periods",
                 "params": {"operation": "active_periods",
                            "time_series": "@raw.month_data",
                            "labels": "@raw.labels"}},
                {"plugin": "custom_calculator", "output_key": "merged",
                 "params": {"operation": "custom_formula",
                            "formula": "{'raw': raw, 'peaks': peaks, "
                                       "'periods': periods}",
                            "variables": {"raw": "@raw", "peaks": "@peaks",
                                          "periods": "@periods"}}},
            ]}},
        },
    }]
    out = pipe.run_transform(cfg)["plots"]
    rows = {r["id_plot"]: r for r in out.collect()}
    doc = json.loads(rows[1]["phenology"])
    # reference envelope: every step under its output_key, the merged
    # formula dict included as the LAST step's entry
    assert set(doc) == {"raw", "peaks", "periods", "merged"}
    assert set(doc["merged"]) == {"value", "formula", "description",
                                  "variables"}
    assert set(doc["merged"]["value"]) == {"raw", "peaks", "periods"}
    assert doc["merged"]["description"] == "Custom formula"
    assert "month_data" in doc["raw"] and "um" in doc["peaks"]
    assert doc["merged"]["value"]["raw"] == doc["raw"]
    assert doc["merged"]["variables"]["raw"] == doc["raw"]
    assert doc["periods"]["value"]["um"]["count"] >= 0


def test_transform_adjacency_reference_dialect(project, spark):
    """The reference's adjacency_list param dialect (top-level
    parent_field / hierarchy_id_field / include_children,
    adjacency_list.py:39-56): matching data.key against the hierarchy's
    EXTERNAL field must tag the same subtree frames the nested_set
    loader produces, and include_children=false must tag the direct
    node ONLY (the loader's simple branch, :168-177)."""
    pipe, _ = project
    def cfg(include_children):
        return [{
            "group_by": "taxons",
            "sources": [{
                "name": "occurrences",
                "data": "occurrences",
                "grouping": "taxons",
                "relation": {"plugin": "adjacency_list", "key": "species",
                             "parent_field": "parent_id",
                             "hierarchy_id_field": "rank_value",
                             "include_children": include_children},
            }],
            "widgets_data": {
                "dbh_summary": {"plugin": "statistical_summary",
                                "params": {"source": "occurrences",
                                           "field": "dbh"}},
            },
        }]

    taxons = {r["rank_value"]: r["id"] for r in
              pipe.registry.load(spark, "taxons").collect()}

    out = pipe.run_transform(cfg(True))["taxons"]
    rows = {r["id"]: r for r in out.collect() if r["dbh_summary"]}
    fam = json.loads(rows[taxons["Araucariaceae"]]["dbh_summary"])
    sub = OCCURRENCES[OCCURRENCES.family == "Araucariaceae"]["dbh"]
    assert fam["mean"] == round(sub.mean(), 2)
    sp = json.loads(rows[taxons["columnaris"]]["dbh_summary"])
    assert sp["mean"] == 15.0 and sp["max"] == 20.0  # its own two rows

    out2 = pipe.run_transform(cfg(False))["taxons"]
    rows2 = {r["id"]: r for r in out2.collect() if r["dbh_summary"]}
    # direct-node only: family nodes match no occurrence (species
    # values never equal family rank_values) and take the
    # zero-occurrence empty literal (null stats), species keep theirs
    fam2 = json.loads(rows2[taxons["Araucariaceae"]]["dbh_summary"])
    assert fam2["mean"] is None and fam2["max"] is None
    sp2 = json.loads(rows2[taxons["columnaris"]]["dbh_summary"])
    assert sp2 == sp
