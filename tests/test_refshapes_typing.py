"""JSON python-type parity of the refshapes fragment assembly.

The reference serializes PYTHON values, so the same key can be int for
one entity and float for the next — pydantic echoes (Union[int, float]
vs Optional[float]), pandas to_numeric column dtypes, and [0]*12 int
fills.  The r13 byte-level export differential
(tools/refdiff/tablediff.diff_export_trees) found the engine emitted
doubles everywhere: Catalyst unifies CASE branch types inside a
to_json(struct(...)) plan, so per-row/per-element typing needs string
fragment assembly (refshapes._doc_col/_frag_*).  These tests pin the token
types without spinning up the full differential.
"""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from niamoto_spark import refshapes as RS


def test_stat_summary_max_value_type_echo(spark, kernel_docs):
    """max_value: config literal (YAML type, Union[int,float] — no
    pydantic coercion) unless round(data_max, 2) is STRICTLY greater,
    which emits the float data max (statistical_summary.py:221-228)."""
    df = spark.createDataFrame(
        pd.DataFrame({"gid": [1, 1, 2, 3, 3],
                      "v": [38.5, 10.0, 40.0, 45.25, 1.0]}))

    def docs(max_value):
        return kernel_docs(df, "statistical_summary",
                           {"field": "v", "stats": ["max"],
                            "max_value": max_value}, gid="gid")

    out = docs(40)
    # data below the cap AND data == cap -> config int echo
    assert out[1]["max_value"] == 40 and \
        isinstance(out[1]["max_value"], int)
    assert out[2]["max_value"] == 40 and \
        isinstance(out[2]["max_value"], int)
    # data strictly above -> float
    assert out[3]["max_value"] == 45.25 and \
        isinstance(out[3]["max_value"], float)

    # a float-typed YAML cap echoes as float even when it wins
    out_f = docs(40.0)
    assert isinstance(out_f[1]["max_value"], float)


def test_direct_attribute_max_value_always_float(spark, kernel_docs):
    """DirectAttributeParams.max_value is Optional[float]: pydantic
    coerces a YAML int, so the reference always emits a float."""
    df = spark.createDataFrame(
        pd.DataFrame({"gid": [1], "value": [3]}))
    out = kernel_docs(df, "direct_attribute",
                      {"field": "value", "max_value": 5}, gid="gid")
    assert out[1]["max_value"] == 5.0
    assert isinstance(out[1]["max_value"], float)


def test_direct_attribute_caps_only_numeric_strings(spark, kernel_docs):
    """On a string column, a number above max_value becomes the cap,
    formatted as a float; any other value, a word too, passes through
    verbatim."""
    df = spark.createDataFrame(
        pd.DataFrame({"gid": [1, 2, 3], "v": ["Alpha", "150", "7"]}))
    out = kernel_docs(df, "direct_attribute",
                      {"field": "v", "max_value": 100}, gid="gid")
    assert [out[g]["value"] for g in (1, 2, 3)] == ["Alpha", "100", "7"]


@pytest.fixture()
def eav(spark):
    pdf = pd.DataFrame({
        "gid": [1, 1, 1, 2, 2],
        "class_object": ["a"] * 5,
        "class_name": ["10", "20", "30", "10", "12.5"],
        "class_value": [1.0, 2.0, 3.0, 4.0, 5.0],
    })
    df = spark.createDataFrame(pdf).withColumn(
        RS.SRC_ORDER, F.monotonically_increasing_id())
    ents = spark.createDataFrame(pd.DataFrame({"gid": [1, 2]}))
    return df, ents


def test_series_axis_to_numeric_column_typing(eav, kernel_docs):
    """pandas to_numeric types the whole per-entity axis column: all
    integral -> JSON ints, one fraction -> ALL doubles."""
    df, ents = eav
    out = kernel_docs(
        df, "class_object_series_extractor",
        {"class_object": "a",
         "size_field": {"numeric": True, "output": "bins"},
         "value_field": {"output": "counts"}}, gid="gid", entities=ents)
    assert out[1]["bins"] == [10, 20, 30]
    assert all(isinstance(b, int) for b in out[1]["bins"])
    assert out[2]["bins"] == [10.0, 12.5]
    assert all(isinstance(b, float) for b in out[2]["bins"])
    # values stay float regardless
    assert all(isinstance(v, float) for v in out[1]["counts"])


def test_time_series_int_fill_vs_float_pct(spark, kernel_docs):
    """month_data mixes [0]*12 INT fills (months with no rows) with
    float percentages (months with rows — even 0.0)
    (time_series_analysis.py:247-259)."""
    df = spark.createDataFrame(
        pd.DataFrame({"gid": 1, "month": [2] * 8 + [5],
                      "flower": [1, 1, 1] + [0] * 6}))
    out = kernel_docs(df, "time_series_analysis",
                      {"fields": {"fleur": "flower"}, "time_field": "month"},
                      gid="gid")
    fleur = out[1]["month_data"]["fleur"]
    assert fleur[1] == 37.5 and isinstance(fleur[1], float)
    assert fleur[4] == 0.0 and isinstance(fleur[4], float)
    for i in (0, 2, 3) + tuple(range(5, 12)):
        if i == 4:
            continue
        assert fleur[i] == 0 and isinstance(fleur[i], int), i
    assert len(fleur) == 12


def test_empty_ts_default_labels_are_english():
    """A config OMITTING labels gets the reference's pydantic defaults —
    ENGLISH month names (time_series_analysis.py:82-96), not the example
    config's French list (r14 ADVICE fix: 'Feb'/'Apr'/'May'/'Aug')."""
    doc = json.loads(RS.empty_widget_json(
        "time_series_analysis", {"fields": {"fleur": "flower"}}))
    assert doc["labels"] == ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
                             "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
    assert doc["month_data"] == {"fleur": [0] * 12}


def test_empty_ts_explicit_labels_pass_through():
    doc = json.loads(RS.empty_widget_json(
        "time_series_analysis",
        {"fields": {"f": "x"}, "labels": ["Jan", "Fev", "Mar", "Avr",
                                          "Mai", "Jun", "Jul", "Aou",
                                          "Sep", "Oct", "Nov", "Dec"]}))
    assert doc["labels"][1] == "Fev"


def test_empty_field_aggregator_literal():
    """An entity absent from EVERY source still gets a dict from the
    reference's field_aggregator over empty frames
    (field_aggregator.py:232-271): count/sum -> 0, stats -> null stats
    with count 0, direct -> None; units wrap when configured."""
    doc = json.loads(RS.empty_widget_json("field_aggregator", {
        "fields": [
            {"source": "occurrences", "field": "id",
             "target": "occurrences_count", "transformation": "count",
             "units": "items"},
            {"source": "occurrences", "field": "dbh", "target": "dbh_sum",
             "transformation": "sum"},
            {"source": "occurrences", "field": "dbh",
             "target": "dbh_stats", "transformation": "stats"},
            {"source": "occurrences", "field": "taxaname",
             "target": "name"},
        ]}))
    assert doc["occurrences_count"] == {"value": 0, "units": "items"}
    assert doc["dbh_sum"] == {"value": 0}
    assert doc["dbh_stats"]["value"] == {"mean": None, "min": None,
                                         "max": None, "std": None,
                                         "count": 0}
    assert doc["name"] == {"value": None}
    # no fields -> no dict (the widget column stays NULL)
    assert RS.empty_widget_json("field_aggregator", {}) is None
