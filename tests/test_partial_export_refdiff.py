"""Partial-export differential (r14 session 2): the reference CLI's
``--group`` surface — ExporterService.run_export(group_filter=...)
hands the filter to every exporter, and json_api_exporter keeps only
groups whose ``group_by`` matches after dropping ``enabled: false``
groups (json_api_exporter.py:305-333).  The engine's
``Pipeline.run_export(..., group_filter=...)`` must produce the same
tree: only the filtered group's files, byte-diffed against the
reference's own partial run."""

# Slow tier (r15, verdict item 1): this long refdiff/e2e/fuzz suite is
# opt-in so the DEFAULT `pytest tests/` finishes inside the driver's
# verify window (the r14 driver run was cut off at 95% after ~30 min).
# Run it with NIAMOTO_SLOW_TESTS=1 — the round's closing records include
# a full slow-tier pass.
import os as _os  # noqa: E402

import pytest as _pytest  # noqa: E402

from tools.refdiff.synth import REFERENCE_CONFIG as _REFERENCE_CONFIG  # noqa: E402

pytestmark = [
    _pytest.mark.skipif(
        not _os.path.isdir(_REFERENCE_CONFIG),
        reason="reference tree not mounted"),
    _pytest.mark.skipif(
        not _os.environ.get("NIAMOTO_SLOW_TESTS"),
        reason="slow tier: set NIAMOTO_SLOW_TESTS=1"),
]

import os
import shutil


def test_partial_export_differential(spark, tmp_path):
    from tools.refdiff.run_ref import (build_reference_db,
                                       run_reference_export,
                                       run_reference_transform)
    from tools.refdiff.run_spark import run_spark_export, run_spark_pipeline
    from tools.refdiff.synth import build_project
    from tools.refdiff.tablediff import diff_export_trees

    root = str(tmp_path / "partial")
    proj = build_project(root, n_occurrences=200)
    build_reference_db(proj)
    run_reference_transform(proj)
    run_spark_pipeline(spark, proj)

    # --- full export baseline --------------------------------------------
    ref_api = run_reference_export(proj)
    spark_api = run_spark_export(spark, proj)
    assert diff_export_trees(ref_api, spark_api) == []
    assert os.path.isdir(os.path.join(ref_api, "api", "plots"))

    # --- partial export: taxons only, into CLEAN trees --------------------
    shutil.rmtree(ref_api)
    shutil.rmtree(spark_api)
    ref_api2 = run_reference_export(proj, group_filter="taxons")
    spark_api2 = run_spark_export(spark, proj, group_filter="taxons")
    assert diff_export_trees(ref_api2, spark_api2) == []

    # the filter actually filtered: taxons files exist, no other group's
    # detail dir was written, on BOTH sides
    for api in (ref_api2, spark_api2):
        assert os.path.isdir(os.path.join(api, "api", "taxons")), api
        assert not os.path.isdir(os.path.join(api, "api", "plots")), api
        assert not os.path.isdir(os.path.join(api, "api", "shapes")), api

    # --- target_name filter: the reference CLI's other partial axis ------
    shutil.rmtree(ref_api2)
    shutil.rmtree(spark_api2)
    ref_api3 = run_reference_export(proj, target="json_api")
    spark_api3 = run_spark_export(spark, proj, target_name="json_api")
    assert diff_export_trees(ref_api3, spark_api3) == []
    for api in (ref_api3, spark_api3):
        assert os.path.isdir(os.path.join(api, "api", "plots")), api
        assert not os.path.isdir(os.path.join(api, "dwc")), api

    # unknown target: reference raises ConfigurationError, engine raises
    import pytest
    with pytest.raises(Exception):
        run_spark_export(spark, proj, target_name="no_such_target")


def test_disabled_group_skipped(spark, tmp_path):
    """Per-group ``enabled: false`` — the reference drops the group
    before export; the engine's reference-dialect export must too."""
    import yaml

    from tools.refdiff.run_ref import (build_reference_db,
                                       run_reference_export,
                                       run_reference_transform)
    from tools.refdiff.run_spark import run_spark_export, run_spark_pipeline
    from tools.refdiff.synth import build_project
    from tools.refdiff.tablediff import diff_export_trees

    root = str(tmp_path / "disabled")
    proj = build_project(root, n_occurrences=200)
    exp_path = os.path.join(proj["config_dir"], "export.yml")
    with open(exp_path) as fh:
        cfg = yaml.safe_load(fh)
    for t in cfg.get("exports", []):
        if t.get("exporter") != "json_api_exporter":
            continue
        for g in t.get("groups", []):
            if g.get("group_by") == "plots":
                g["enabled"] = False
    with open(exp_path, "w") as fh:
        yaml.safe_dump(cfg, fh, sort_keys=False, allow_unicode=True)

    build_reference_db(proj)
    run_reference_transform(proj)
    run_spark_pipeline(spark, proj)
    ref_api = run_reference_export(proj)
    spark_api = run_spark_export(spark, proj)
    assert diff_export_trees(ref_api, spark_api) == []
    for api in (ref_api, spark_api):
        assert not os.path.isdir(os.path.join(api, "api", "plots")), api
        assert os.path.isdir(os.path.join(api, "api", "taxons")), api
