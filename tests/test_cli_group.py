"""``--group`` on the CLI: ``export`` writes only the targets of that
group, and ``import``, which has no groups, rejects the flag."""

import json
import os
import zipfile

import pytest

from niamoto_spark.cli import main

HERE = os.path.dirname(os.path.abspath(__file__))
CONFIG = os.path.join(os.path.dirname(HERE), "examples", "config")


def _tree(root):
    """Every file under ``root`` by relative path; a zip archive by its
    entries, because its headers carry timestamps."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            if zipfile.is_zipfile(path):
                with zipfile.ZipFile(path) as z:
                    out[rel] = {e: z.read(e) for e in z.namelist()}
            else:
                with open(path, "rb") as f:
                    out[rel] = f.read()
    return out


def test_import_rejects_group(tmp_path):
    with pytest.raises(SystemExit) as e:
        main(["import", "--config", CONFIG, "--warehouse", str(tmp_path),
              "--group", "plots"])
    assert e.value.code == 2


def test_export_group_writes_only_that_groups_targets(spark, tmp_path,
                                                      capsys):
    wh = str(tmp_path / "wh")
    assert main(["import", "--config", CONFIG, "--warehouse", wh]) == 0
    assert main(["transform", "--config", CONFIG, "--warehouse", wh]) == 0
    capsys.readouterr()
    outs = {}
    for group in (None, "plots", "taxons"):
        out = str(tmp_path / f"out_{group}")
        argv = ["export", "--config", CONFIG, "--warehouse", wh,
                "--out", out] + (["--group", group] if group else [])
        assert main(argv) == 0
        printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        outs[group] = (printed, _tree(out))
    assert sorted(outs[None][0]) == ["dwca", "site", "site_html"]
    assert outs["taxons"] == ({}, {})
    assert sorted(outs["plots"][0]) == sorted(outs[None][0])
    assert outs["plots"][1] == outs[None][1]
    assert outs[None][1]
