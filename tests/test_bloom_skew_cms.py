"""Tests for round-7 operators: Bloom join pruning, salted skew joins,
count-min sketch, corpus line dedup, bigram LM scoring."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Bloom-filter join pruning


def test_bloom_no_false_negatives(spark):
    from niamoto_spark.operators.bloomjoin import bloom_prune

    fact = spark.range(0, 5000).select(F.col("id").alias("k"))
    dim = spark.range(0, 5000, 7).select(F.col("id").alias("k"))
    pruned = {r["k"] for r in bloom_prune(fact, dim, "k", "k").collect()}
    truth = set(range(0, 5000, 7))
    assert truth <= pruned  # every true key survives


def test_bloom_fpp_in_range(spark):
    from niamoto_spark.operators.bloomjoin import bloom_prune

    fact = spark.range(0, 20000).select(F.col("id").alias("k"))
    dim = spark.range(0, 1000).select(F.col("id").alias("k"))
    kept = bloom_prune(fact, dim, "k", "k", fpp=0.01).count()
    false_pos = kept - 1000
    # 19000 non-members at fpp=0.01 -> expect ~190; allow generous slack
    assert 0 <= false_pos < 1900


def test_bloom_semi_join_exact(spark):
    from niamoto_spark.operators.bloomjoin import bloom_semi_join

    fact = spark.range(0, 3000).select((F.col("id") % 500).alias("k"),
                                       F.col("id").alias("v"))
    dim = spark.range(0, 100, 3).select(F.col("id").alias("dk"))
    got = bloom_semi_join(fact, dim, "k", "dk")
    want = fact.join(dim.withColumnRenamed("dk", "k").distinct(),
                     "k", "left_semi")
    assert sorted(r["v"] for r in got.collect()) == \
        sorted(r["v"] for r in want.collect())


def test_bloom_filter_reaches_scan(spark, tmp_path):
    """The literal-bitmap membership test must be pushed into the fact
    side BEFORE the join — i.e. appear as a Filter, not require any
    join/shuffle of its own."""
    from niamoto_spark.operators.bloomjoin import bloom_prune

    p = str(tmp_path / "fact.parquet")
    spark.range(0, 10000).select(F.col("id").alias("k")).write.parquet(p)
    fact = spark.read.parquet(p)
    dim = spark.range(0, 50).select(F.col("id").alias("k"))
    plan = bloom_prune(fact, dim, "k", "k")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan  # the prune itself is a pure filter
    assert "xxhash64" in plan


def test_bloom_type_mismatch_handled(spark):
    from niamoto_spark.operators.bloomjoin import bloom_prune

    fact = spark.range(0, 100).select(F.col("id").cast("int").alias("k"))
    dim = spark.range(0, 10).select(F.col("id").alias("k"))  # bigint
    kept = {r["k"] for r in bloom_prune(fact, dim, "k", "k").collect()}
    assert set(range(10)) <= kept


# ---------------------------------------------------------------------------
# Salted skew join


def _flags(spark):
    return spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0), ("B", 5.0),
         ("C", 6.0)], "k string, v double")


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_salted_join_matches_plain(spark, how):
    from niamoto_spark.operators.skew import salted_join

    big = _flags(spark)
    small = spark.createDataFrame([("A", "x"), ("B", "y"), ("Z", "z")],
                                  "k string, lbl string")
    got = salted_join(big, small, "k", buckets=4, how=how)
    want = big.join(small, "k", how)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_salted_join_no_dup_on_multi_match(spark):
    """Each (big row, small row) pair appears exactly once even when the
    small side has several rows per key."""
    from niamoto_spark.operators.skew import salted_join

    big = _flags(spark)
    small = spark.createDataFrame([("A", 1), ("A", 2), ("B", 9)],
                                  "k string, m int")
    got = salted_join(big, small, "k", buckets=3).count()
    want = big.join(small, "k").count()
    assert got == want


def test_salted_join_spreads_hot_key(spark):
    """The hot key's rows land in multiple (key, salt) buckets."""
    from niamoto_spark.operators.skew import _default_salt

    big = spark.range(0, 1000).select(F.lit("HOT").alias("k"),
                                      F.col("id").alias("v"))
    n_buckets = (big.withColumn("s", _default_salt(big, 8).cast("int"))
                 .select("s").distinct().count())
    assert n_buckets == 8


def test_salted_count_matches(spark):
    from niamoto_spark.operators.skew import salted_count

    df = spark.range(0, 10000).select((F.col("id") % 7).alias("k"))
    got = {r["k"]: r["count"] for r in salted_count(df, "k").collect()}
    want = {r["k"]: r["count"]
            for r in df.groupBy("k").count().collect()}
    assert got == want


def test_salted_join_rejects_right_joins(spark):
    from niamoto_spark.operators.skew import salted_join

    with pytest.raises(ValueError, match="unsupported how"):
        salted_join(_flags(spark), _flags(spark), "k", how="right")


# ---------------------------------------------------------------------------
# Count-min sketch


def test_cms_never_underestimates(spark):
    from niamoto_spark.operators.sketches import (cms_estimate,
                                                  count_min_sketch)

    df = spark.range(0, 5000).select(
        (F.col("id") % 50).cast("string").alias("x"))
    sketch = count_min_sketch(df, "x", width=64, depth=4)
    for item in ("0", "7", "49"):
        assert cms_estimate(sketch, item) >= 100


def test_cms_exact_when_wide(spark):
    """With width >> distinct items, collisions are unlikely in all 4
    rows simultaneously; min-over-rows recovers exact counts here."""
    from niamoto_spark.operators.sketches import (cms_estimate,
                                                  count_min_sketch)

    df = spark.range(0, 1000).select(
        (F.col("id") % 10).cast("string").alias("x"))
    sketch = count_min_sketch(df, "x", width=4096, depth=4)
    for item in range(10):
        assert cms_estimate(sketch, str(item)) == 100


def test_cms_estimate_df_matches_driver_estimate(spark):
    from niamoto_spark.operators.sketches import (cms_estimate,
                                                  cms_estimate_df,
                                                  count_min_sketch)

    df = spark.range(0, 2000).select(
        (F.col("id") % 17).cast("string").alias("x"))
    sketch = count_min_sketch(df, "x", width=256, depth=4)
    rows = cms_estimate_df(df.distinct(), "x", sketch).collect()
    for r in rows:
        assert r["cms_est"] == cms_estimate(sketch, r["x"])


# ---------------------------------------------------------------------------
# Corpus line dedup


def test_line_dedup_keeps_first_occurrence(spark):
    from niamoto_spark.operators.text import dedup_corpus_lines

    docs = spark.createDataFrame(
        [(1, "header\nalpha\nfooter"),
         (2, "header\nbeta\nfooter"),
         (3, "header\nalpha\nfooter")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup_corpus_lines(docs, "doc_id", "text").collect()}
    assert out[1]["text"] == "header\nalpha\nfooter"
    assert out[1]["n_lines_dropped"] == 0
    assert out[2]["text"] == "beta"  # header/footer already seen
    assert out[2]["n_lines_kept"] == 1 and out[2]["n_lines_dropped"] == 2
    assert 3 not in out  # every content line was a later duplicate


def test_line_dedup_short_lines_pass_through(spark):
    from niamoto_spark.operators.text import dedup_corpus_lines

    docs = spark.createDataFrame(
        [(1, "a b c\n\nx y"), (2, "a b c\n\nz")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup_corpus_lines(docs, "doc_id", "text").collect()}
    # the empty line survives in BOTH docs (structure, not content)
    assert out[1]["text"] == "a b c\n\nx y"
    assert out[2]["text"] == "\nz"


def test_line_dedup_partitioning_invariant(spark):
    from niamoto_spark.operators.text import dedup_corpus_lines

    docs = spark.createDataFrame(
        [(i, f"common line\nuniq {i}") for i in range(20)],
        "doc_id long, text string")
    one = sorted(map(tuple, dedup_corpus_lines(
        docs.coalesce(1), "doc_id", "text").collect()))
    many = sorted(map(tuple, dedup_corpus_lines(
        docs.repartition(7), "doc_id", "text").collect()))
    assert one == many
    # "common line" kept only in doc 0
    kept_common = [t for t in one if "common line" in t[3]]
    assert len(kept_common) == 1 and kept_common[0][0] == 0


# ---------------------------------------------------------------------------
# Bigram LM


def test_bigram_lm_scores_fluency(spark):
    """Documents made of corpus-frequent bigrams must score higher
    (less negative avg logprob) than shuffled/gibberish ones."""
    from niamoto_spark.operators.lm import lm_perplexity_score

    fluent = "the cat sat on the mat"
    docs = [(i, fluent) for i in range(20)]
    docs.append((100, "zzq wvx qqj plk mnb vvc"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    scores = {r["doc_id"]: r["avg_logprob"]
              for r in lm_perplexity_score(df, "text", "doc_id").collect()}
    assert scores[0] > scores[100]


def test_bigram_lm_external_model(spark):
    """Scoring with a model fit on a different corpus (fit/score split)."""
    from niamoto_spark.operators.lm import (fit_bigram_lm,
                                            lm_perplexity_score)

    train = spark.createDataFrame([(i, "good morning world") for i in range(5)],
                                  "doc_id long, text string")
    test = spark.createDataFrame([(1, "good morning world"),
                                  (2, "bad evening mars")],
                                 "doc_id long, text string")
    bc, uc, v = fit_bigram_lm(train, "text", "doc_id")
    scores = {r["doc_id"]: r["avg_logprob"]
              for r in lm_perplexity_score(
                  test, "text", "doc_id", bigram_counts=bc,
                  unigram_counts=uc, vocab_size=v).collect()}
    assert scores[1] > scores[2]


def test_registry_names_resolve():
    """Regression: a decorator misplacement once registered
    minhash_lsh_candidates onto a logging helper."""
    from niamoto_spark.registry import PluginType, get_plugin

    for name in ("minhash_lsh_candidates", "bloom_semi_join",
                 "salted_join", "salted_count", "count_min_sketch",
                 "dedup_corpus_lines", "lm_perplexity_score"):
        fn = get_plugin(name, PluginType.TRANSFORMER)
        assert callable(fn)
        assert fn.__name__ not in ("_log_dropped_async",)
