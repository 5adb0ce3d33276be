"""Persisted text index (retrieval.py), k_anonymity (quality.py),
item similarity (recsys.py)."""

import math
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def idx_path():
    p = os.path.join(tempfile.gettempdir(),
                     "niamoto_test_textindex")
    shutil.rmtree(p, ignore_errors=True)
    yield p
    shutil.rmtree(p, ignore_errors=True)


DOCS = [(1, "spark window functions and joins"),
        (2, "window shopping in the city"),
        (3, "spark spark spark streaming"),
        (4, "totally unrelated content here")]
QUERIES = [("q1", "spark window"), ("q2", "city shopping")]


class TestTextIndex:
    def test_index_equals_direct_bm25(self, spark, idx_path):
        from niamoto_spark.operators.retrieval import (bm25_topk,
                                                       query_text_index,
                                                       save_text_index)

        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        qs = spark.createDataFrame(QUERIES,
                                   "query_id string, query_text string")
        save_text_index(docs, idx_path)
        direct = {tuple(r) for r in
                  bm25_topk(docs, qs, k=3).collect()}
        loaded = {tuple(r) for r in
                  query_text_index(spark, idx_path, qs, k=3).collect()}
        assert loaded == direct and loaded

    def test_zone_map_pruning_skips_files(self, spark, idx_path):
        """Token-clustered postings + zone maps: a single-term query
        must not read every postings file."""
        from niamoto_spark.operators.retrieval import save_text_index
        from niamoto_spark.sources import manifest

        rows = [(i, f"tok{i % 40:02d} filler") for i in range(400)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        save_text_index(docs, idx_path, index_files=8)
        _, read, skipped = manifest.read_table_pruned(
            spark, f"{idx_path}/postings", "token", "tok07", "tok07")
        assert skipped > 0
        assert read < read + skipped

    def test_unknown_term_returns_empty(self, spark, idx_path):
        from niamoto_spark.operators.retrieval import (query_text_index,
                                                       save_text_index)

        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        save_text_index(docs, idx_path)
        qs = spark.createDataFrame([("q", "zzzxyzzy")],
                                   "query_id string, query_text string")
        assert query_text_index(spark, idx_path, qs).count() == 0

    def test_empty_query_text(self, spark, idx_path):
        from niamoto_spark.operators.retrieval import (query_text_index,
                                                       save_text_index)

        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        save_text_index(docs, idx_path)
        qs = spark.createDataFrame([("q", "...")],
                                   "query_id string, query_text string")
        assert query_text_index(spark, idx_path, qs).count() == 0


class TestKAnonymity:
    def test_report_counts(self, spark):
        from niamoto_spark.operators.quality import k_anonymity

        rows = ([("US", "a")] * 5 + [("US", "b")] * 2 + [("FR", "a")])
        df = spark.createDataFrame(rows, "nat string, seg string")
        r = k_anonymity(df, ["nat", "seg"], k=3).first()
        assert r["n_groups"] == 3
        assert r["n_risky_groups"] == 2
        assert r["n_rows_at_risk"] == 3
        assert r["min_group_size"] == 1
        assert not r["satisfies_k"]

    def test_satisfied_when_all_groups_big(self, spark):
        from niamoto_spark.operators.quality import k_anonymity

        df = spark.createDataFrame([("x",)] * 10, "q string")
        r = k_anonymity(df, ["q"], k=5).first()
        assert r["satisfies_k"] and r["n_rows_at_risk"] == 0


class TestItemSimilarity:
    def test_hand_computed_cosine(self, spark):
        from niamoto_spark.operators.recsys import item_similarity

        # baskets: {A,B} {A,B} {A,C}
        rows = [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "A"),
                (3, "C")]
        df = spark.createDataFrame(rows, "b long, it string")
        out = {(r["item_a"], r["item_b"]): r for r in
               item_similarity(df, "b", "it", min_cooccur=1).collect()}
        ab = out[("A", "B")]
        assert ab["n_ab"] == 2
        assert ab["cosine"] == pytest.approx(
            round(2 / math.sqrt(3 * 2), 6))
        assert out[("A", "C")]["n_ab"] == 1

    def test_duplicate_items_in_basket_count_once(self, spark):
        from niamoto_spark.operators.recsys import item_similarity

        rows = [(1, "A"), (1, "A"), (1, "B")]
        df = spark.createDataFrame(rows, "b long, it string")
        r = item_similarity(df, "b", "it", min_cooccur=1).first()
        assert r["n_ab"] == 1 and r["cosine"] == 1.0

    def test_min_cooccur_filters(self, spark):
        from niamoto_spark.operators.recsys import item_similarity

        rows = [(1, "A"), (1, "B"), (2, "C"), (2, "D")]
        df = spark.createDataFrame(rows, "b long, it string")
        assert item_similarity(df, "b", "it", min_cooccur=2).count() == 0

    def test_basket_cap_bounds_pairs(self, spark):
        from niamoto_spark.operators.recsys import item_similarity

        rows = [(1, f"i{j:03d}") for j in range(50)]
        df = spark.createDataFrame(rows, "b long, it string")
        out = item_similarity(df, "b", "it", min_cooccur=1,
                              max_basket_items=10)
        # capped basket: C(10,2) pairs, not C(50,2)
        assert out.count() == 45
