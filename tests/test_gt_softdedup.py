"""good_turing_counts (lm.py) and duplicate_weights (dedup.py)."""

import pytest
from pyspark.sql import functions as F


class TestGoodTuring:
    def test_adjusted_counts(self, spark):
        """Vocabulary engineered so S(1)=2, S(2)=1, S(4)=1:
        r*=1 -> 2*S(2)/S(1) = 1.0; r=2 has no S(3) -> falls back."""
        from niamoto_spark.operators.lm import good_turing_counts

        df = spark.createDataFrame(
            [(1, "a b c c d d d d")], "doc_id long, text string")
        got = {r["r"]: r for r in
               good_turing_counts(df, "doc_id", "text").collect()}
        assert got[1]["s_r"] == 2  # a, b
        assert got[1]["r_star"] == pytest.approx(2 * 1 / 2)
        assert got[2]["r_star"] == 2.0  # no S(3): raw fallback
        assert got[4]["r_star"] == 4.0

    def test_max_r_cutoff(self, spark):
        from niamoto_spark.operators.lm import good_turing_counts

        # 'x' occurs 3 times, 'y' 4 times: with max_r=2 both keep raw
        df = spark.createDataFrame([(1, "x x x y y y y")],
                                   "doc_id long, text string")
        got = {r["r"]: r["r_star"] for r in
               good_turing_counts(df, "doc_id", "text",
                                  max_r=2).collect()}
        assert got[3] == 3.0 and got[4] == 4.0

    def test_singleton_mass_diagnostic(self, spark):
        """S(1)/N estimates unseen mass: all-singleton corpus -> r*=0
        is impossible (no S(2)) so raw fallback keeps 1.0."""
        from niamoto_spark.operators.lm import good_turing_counts

        df = spark.createDataFrame([(1, "u v w")],
                                   "doc_id long, text string")
        rows = good_turing_counts(df, "doc_id", "text").collect()
        assert len(rows) == 1 and rows[0]["s_r"] == 3


class TestDuplicateWeights:
    def test_weights_inverse_cluster_size(self, spark):
        from niamoto_spark.operators.dedup import duplicate_weights

        df = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "unique")],
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in
               duplicate_weights(df, "doc_id", "text").collect()}
        assert got[1]["weight"] == pytest.approx(0.5)
        assert got[2]["dup_count"] == 2
        assert got[3]["weight"] == 1.0

    def test_normalization_folds_case_and_space(self, spark):
        from niamoto_spark.operators.dedup import duplicate_weights

        df = spark.createDataFrame(
            [(1, "Hello World"), (2, "  hello world ")],
            "doc_id long, text string")
        w = duplicate_weights(df, "doc_id", "text")
        assert all(r["dup_count"] == 2 for r in w.collect())
        raw = duplicate_weights(df, "doc_id", "text", normalize=False)
        assert all(r["dup_count"] == 1 for r in raw.collect())

    def test_total_effective_mass(self, spark):
        """Sum of weights == number of distinct texts."""
        from niamoto_spark.operators.dedup import duplicate_weights

        rows = [(i, f"t{i % 4}") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        total = duplicate_weights(df, "doc_id", "text") \
            .agg(F.sum("weight")).first()[0]
        assert total == pytest.approx(4.0)


# --- augment_text / leakage_audit ------------------------------------------

def test_augment_char_delete_deterministic_and_short_passthrough(spark):
    from niamoto_spark.operators.text import augment_text
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "ab")], "doc_id long, text string")
    a = {r["doc_id"]: r["augmented"]
         for r in augment_text(df, "doc_id", "text").collect()}
    b = {r["doc_id"]: r["augmented"]
         for r in augment_text(df, "doc_id", "text").collect()}
    assert a == b                              # reproducible
    assert len(a[1]) == 10 and a[1] != "hello world"
    assert a[1][0] == "h"                      # interior edit only
    assert a[2] == "ab"                        # too short: unchanged


def test_augment_token_drop_and_case_flip(spark):
    from niamoto_spark.operators.text import augment_text
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    td = augment_text(df, "doc_id", "text", op="token_drop") \
        .first()["augmented"]
    assert td.split(" ") != ["a", "b", "c", "d"]
    assert len(td.split(" ")) == 3
    cf = augment_text(df, "doc_id", "text", op="case_flip") \
        .first()["augmented"]
    assert cf in ("A B C D", "a b c d")


def test_leakage_audit_counts_straddling_pairs(spark):
    from niamoto_spark.operators.text import leakage_audit
    assign = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "val"), (4, "val")],
        "doc_id long, split string")
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (2, 3)], "id_a long, id_b long")
    out = {(r["split_a"], r["split_b"]): r for r in
           leakage_audit(assign, pairs, "doc_id", "split").collect()}
    assert out[("train", "train")]["n_pairs"] == 1
    assert out[("val", "val")]["n_pairs"] == 1
    leak = out[("train", "val")]
    assert leak["n_pairs"] == 1 and leak["is_leak"]
