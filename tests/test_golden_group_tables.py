"""Golden rows of the ``examples/config`` group tables.

``tests/data/examples_config_group_tables.json`` holds every row of the
``plots`` and ``taxons`` group tables that ``import`` + ``transform``
write for ``examples/config``, with each widget's JSON string verbatim.
A change to how widgets are planned must leave these bytes unchanged.
"""

import json
import os

from niamoto_spark.cli import main

HERE = os.path.dirname(os.path.abspath(__file__))
CONFIG = os.path.join(os.path.dirname(HERE), "examples", "config")
GOLDEN = os.path.join(HERE, "data", "examples_config_group_tables.json")


def test_examples_config_group_tables_match_golden(spark, tmp_path):
    wh = str(tmp_path / "wh")
    assert main(["import", "--config", CONFIG, "--warehouse", wh]) == 0
    assert main(["transform", "--config", CONFIG, "--warehouse", wh]) == 0
    with open(GOLDEN) as f:
        golden = json.load(f)
    for group, id_col in (("plots", "id_plot"), ("taxons", "id")):
        df = spark.read.parquet(os.path.join(wh, f"{group}_results.parquet"))
        assert df.columns == golden[group]["columns"], group
        rows = [r.asDict() for r in df.orderBy(id_col).collect()]
        assert rows == golden[group]["rows"], group
