"""Data-quality expectation tests."""

import pytest

from niamoto_spark.operators.quality import expect


def _df(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0, "x@y.com"),
         (2, "b", 20.0, "bad-email"),
         (2, "c", -5.0, None),          # dup id, out-of-range, null email
         (None, "a", 30.0, "z@w.org")],  # null id
        "id long, cat string, val double, email string")


def test_row_local_rules_one_pass(spark):
    res = {r["rule"]: r["n_violations"] for r in expect(_df(spark), [
        {"rule": "not_null", "col": "id"},
        {"rule": "accepted_values", "col": "cat", "values": ["a", "b"]},
        {"rule": "in_range", "col": "val", "lo": 0, "hi": 100},
        {"rule": "matches", "col": "email",
         "pattern": r"^[^@]+@[^@]+\.[a-z]+$"},
    ]).collect()}
    assert res["not_null(id)"] == 1
    assert res["accepted_values(cat)"] == 1     # 'c'
    assert res["in_range(val)"] == 1            # -5.0
    assert res["matches(email)"] == 1           # bad-email (null not counted)


def test_unique_rule_counts_extra_rows(spark):
    res = expect(_df(spark), [{"rule": "unique", "cols": ["id"]}]).collect()
    assert res[0]["n_violations"] == 1  # id=2 twice -> one extra row


def test_foreign_key_orphans(spark):
    facts = spark.createDataFrame([(1,), (2,), (9,), (None,)], "k long")
    dim = spark.createDataFrame([(1,), (2,), (3,)], "dk long")
    res = expect(facts, [{"rule": "foreign_key", "col": "k",
                          "ref": dim, "ref_col": "dk"}]).collect()
    assert res[0]["n_violations"] == 1  # only k=9; NULL is not an orphan


def test_unknown_rule_raises(spark):
    with pytest.raises(ValueError, match="unknown rule"):
        expect(spark.range(1), [{"rule": "wat", "col": "id"}])


def test_empty_rules_raise(spark):
    with pytest.raises(ValueError, match="no rules"):
        expect(spark.range(1), [])


def test_unique_rule_nulls_in_different_rows(spark):
    """Rows with any-null keys are excluded from duplicate arithmetic
    even when the nulls fall in DIFFERENT columns across rows."""
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, None), (1, "a")],
        "x long, y string")
    res = expect(df, [{"rule": "unique", "cols": ["x", "y"]}]).collect()
    assert res[0]["n_violations"] == 1  # only the (1,'a') duplicate
