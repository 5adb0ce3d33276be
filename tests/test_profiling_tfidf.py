"""profile_table (operators/profiling.py) + TF-IDF cosine
(operators/tfidf.py)."""

import math

import pytest
from pyspark.sql import functions as F

from niamoto_spark.operators.profiling import profile_table
from niamoto_spark.operators.tfidf import tfidf_cosine_pairs, tfidf_postings


def test_profile_table_stats(spark):
    df = spark.createDataFrame(
        [(1, "aa", 1.5), (2, "bbbb", None), (3, None, 2.5), (3, "cc", 4.0)],
        ["k", "s", "v"])
    prof = {r["col_name"]: r for r in profile_table(df).collect()}
    assert set(prof) == {"k", "s", "v"}
    k = prof["k"]
    assert (k["n_rows"], k["n_nulls"], k["n_distinct"]) == (4, 0, 3)
    assert (k["num_min"], k["num_max"], k["num_avg"]) == (1.0, 3.0, 2.25)
    assert k["len_min"] is None
    s = prof["s"]
    assert (s["n_nulls"], s["n_distinct"]) == (1, 3)
    assert (s["len_min"], s["len_max"]) == (2, 4)
    assert s["num_min"] is None
    v = prof["v"]
    assert (v["n_nulls"], v["num_min"], v["num_max"]) == (1, 1.5, 4.0)


def test_profile_table_approx_mode_close(spark):
    df = spark.range(1000).withColumn("s", F.lit("x"))
    exact = {r["col_name"]: r["n_distinct"]
             for r in profile_table(df).collect()}
    approx = {r["col_name"]: r["n_distinct"]
              for r in profile_table(df, approx=True).collect()}
    assert exact["id"] == 1000
    assert abs(approx["id"] - 1000) / 1000 < 0.1
    assert approx["s"] == 1


def test_profile_is_single_job(spark):
    """The whole profile must be one aggregate plan — no per-column
    collects (the reference's per-field SQL round trips collapsed)."""
    df = spark.createDataFrame([(1, "a", 2.0)], ["k", "s", "v"])
    plan = profile_table(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("aggregate") <= 2  # partial+final, no unions


def test_tfidf_identical_docs_cosine_one(spark):
    df = spark.createDataFrame(
        [(1, "alpha bravo charlie"), (2, "alpha bravo charlie"),
         (3, "delta echo foxtrot")],
        ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in tfidf_cosine_pairs(df, "doc_id", "text",
                                         threshold=0.0,
                                         max_df_frac=None).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) not in pairs  # zero shared tokens -> no posting join row


def test_tfidf_matches_sklearn_formula(spark):
    """Hand-computed smooth-idf weights on a 3-doc corpus."""
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "b c c")], ["doc_id", "text"])
    post = {(r["doc_id"], r["token"]): r["weight"]
            for r in tfidf_postings(df, "doc_id", "text").collect()}
    n = 3
    idf = {t: math.log((1 + n) / (1 + df_)) + 1
           for t, df_ in {"a": 2, "b": 2, "c": 2}.items()}
    raw1 = {"a": 2 * idf["a"], "b": 1 * idf["b"]}
    l2 = math.sqrt(sum(v * v for v in raw1.values()))
    assert post[(1, "a")] == pytest.approx(raw1["a"] / l2)
    assert post[(1, "b")] == pytest.approx(raw1["b"] / l2)


def _near_dup_corpus(spark):
    """40 docs in 20 near-duplicate pairs (one of 20 words substituted —
    shingle Jaccard ~0.71, well inside the 64-hash/16-band LSH curve)
    plus 20 unrelated docs with disjoint vocabularies."""
    rows = []
    for i in range(20):
        words = [f"w{i}x{j}" for j in range(20)]
        base = " ".join(words)
        words[10] = f"sub{i}"
        rows.append((i, base))
        rows.append((1000 + i, " ".join(words)))
    for i in range(20):
        rows.append((2000 + i, f"solo{i}a solo{i}b solo{i}c solo{i}d"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_tfidf_minhash_prefilter_subset_and_recall(spark):
    """The prefiltered lane reports a SUBSET of the exact lane's pairs
    with identical cosines (candidates only restrict, never alter the
    dot product), and catches the planted near-dup pairs."""
    df = _near_dup_corpus(spark)
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in tfidf_cosine_pairs(
                 df, "doc_id", "text", threshold=0.3,
                 max_df_frac=None).collect()}
    pre = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in tfidf_cosine_pairs(
               df, "doc_id", "text", threshold=0.3,
               max_df_frac=None, prefilter="minhash").collect()}
    assert set(pre) <= set(exact)
    for pair, cos in pre.items():
        assert cos == pytest.approx(exact[pair])
    planted = {(i, 1000 + i) for i in range(20)}
    got = planted & set(pre)
    assert len(got) >= 18  # LSH banding recall on 5/7-shared-gram pairs


def test_tfidf_prefilter_plan_bounded_no_cartesian(spark):
    """The scale lane's plan must contain no cartesian/nested-loop join:
    every join is an equi-join keyed by LSH band or pair ids."""
    df = _near_dup_corpus(spark)
    plan = tfidf_cosine_pairs(
        df, "doc_id", "text", threshold=0.3,
        prefilter="minhash")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_unknown_prefilter_raises(spark):
    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="prefilter"):
        tfidf_cosine_pairs(df, "doc_id", "text", prefilter="bogus")


def _planted_text_corpus(spark):
    """Source docs + their exact copies under shifted ids — the
    q127/q353 planted-dup shape (one distinct text per two ids)."""
    from niamoto_spark.queries import _planted_dup

    rows = []
    for i in range(25):
        words = " ".join(f"w{i}x{j}" for j in range(8))
        rows.append((i, f"shared alpha beta {words} gamma"))
    rows.append((90, None))          # null text must survive both paths
    rows.append((91, "a b"))         # < shingle_k tokens: no signature
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    return d, _planted_dup(d, 1000)


@pytest.mark.parametrize("family", ["xxhash64", "md5"])
def test_tfidf_sig_df_candidates_identical(spark, family):
    """r15 (verdict Next #5): the hoisted prefilter-signature path
    (signatures computed once per source doc BELOW the planted
    id-explode, handed to the candidate stage via sig_col) must produce
    the EXACT same candidate set and estimates as the inline path that
    recomputes signatures per planted copy — for both hash families."""
    from niamoto_spark.operators.dedup import (minhash_lsh_candidates,
                                               minhash_lsh_candidates_md5,
                                               minhash_signatures,
                                               minhash_signatures_md5)
    from niamoto_spark.queries import _planted_dup

    d, planted = _planted_text_corpus(spark)
    if family == "md5":
        inline = minhash_lsh_candidates_md5(
            planted, "doc_id", "text", num_hashes=16, bands=4,
            jaccard_threshold=0.0)
        hoisted = minhash_lsh_candidates_md5(
            _planted_dup(minhash_signatures_md5(
                d, "doc_id", "text", num_hashes=16), 1000),
            "doc_id", None, num_hashes=16, bands=4,
            jaccard_threshold=0.0, sig_col="sig")
    else:
        inline = minhash_lsh_candidates(
            planted, "doc_id", "text", jaccard_threshold=0.0)
        hoisted = minhash_lsh_candidates(
            _planted_dup(minhash_signatures(d, "doc_id", "text"), 1000),
            "doc_id", None, jaccard_threshold=0.0, sig_col="sig")
    a = {(r["id_a"], r["id_b"], r["est_jaccard"])
         for r in inline.collect()}
    b = {(r["id_a"], r["id_b"], r["est_jaccard"])
         for r in hoisted.collect()}
    assert a == b and len(a) > 0


@pytest.mark.parametrize("family,prefilter", [
    ("xxhash64", "minhash"), ("md5", "minhash_md5")])
def test_tfidf_sig_df_end_to_end_identical(spark, family, prefilter):
    """tfidf_cosine_pairs(sig_df=...) — the full q127/q353 shape — must
    return bit-identical (id_a, id_b, cosine) rows vs the inline
    prefilter."""
    from niamoto_spark.operators.dedup import (minhash_signatures,
                                               minhash_signatures_md5)
    from niamoto_spark.queries import _planted_dup

    d, planted = _planted_text_corpus(spark)
    if family == "md5":
        sigs = _planted_dup(minhash_signatures_md5(
            d, "doc_id", "text", num_hashes=16), 1000)
    else:
        sigs = _planted_dup(minhash_signatures(d, "doc_id", "text"),
                            1000)
    inline = {(r["id_a"], r["id_b"], r["cosine"])
              for r in tfidf_cosine_pairs(
                  planted, "doc_id", "text", threshold=0.3,
                  max_df_frac=0.5, prefilter=prefilter).collect()}
    hoisted = {(r["id_a"], r["id_b"], r["cosine"])
               for r in tfidf_cosine_pairs(
                   planted, "doc_id", "text", threshold=0.3,
                   max_df_frac=0.5, prefilter=prefilter,
                   sig_df=sigs).collect()}
    assert inline == hoisted and len(inline) > 0


def test_tfidf_sig_df_with_no_prefilter_raises(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="sig_df"):
        tfidf_cosine_pairs(df, "doc_id", "text", sig_df=df)


def test_tfidf_sig_df_wrong_width_raises(spark):
    """A 16-hash (md5 family) table handed to the 64-hash minhash lane
    would band silently with lost recall: it must fail instead."""
    from niamoto_spark.operators.dedup import minhash_signatures_md5

    d, _ = _planted_text_corpus(spark)
    sigs = minhash_signatures_md5(d, "doc_id", "text", num_hashes=16)
    out = tfidf_cosine_pairs(d, "doc_id", "text", threshold=0.3,
                             prefilter="minhash", sig_df=sigs)
    with pytest.raises(Exception, match="must hold 64 hashes"):
        out.collect()

def test_tfidf_max_df_prunes_stop_tokens(spark):
    rows = [(i, f"common unique{i}") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = tfidf_postings(df, "doc_id", "text", max_df_frac=0.5)
    toks = {r["token"] for r in kept.collect()}
    assert "common" not in toks        # df=10 > 5
    assert "unique3" in toks
    # with the stop token gone no pair shares a token
    assert tfidf_cosine_pairs(df, "doc_id", "text", threshold=0.0,
                              max_df_frac=0.5).count() == 0
