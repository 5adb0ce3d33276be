"""Fuzzy record linkage (operators/linkage.py) + funnel analysis
(operators/funnel.py)."""

from pyspark.sql import functions as F

from niamoto_spark.operators.funnel import funnel
from niamoto_spark.operators.linkage import fuzzy_pairs


def test_fuzzy_pairs_within_block_only(spark):
    df = spark.createDataFrame(
        [(1, "smith john", "A"), (2, "smith jhon", "A"),
         (3, "smith john", "B"),   # identical name, other block: no pair
         (4, "totally different", "A")],
        ["rid", "name", "blk"])
    pairs = fuzzy_pairs(df, "rid", "name", "blk",
                        max_edit_distance=2).collect()
    assert [(r["id_a"], r["id_b"], r["edit_distance"]) for r in pairs] \
        == [(1, 2, 2)]
    assert 0.0 < pairs[0]["name_sim"] < 1.0


def test_fuzzy_block_cap_drops_megablock(spark):
    rows = [(i, f"name{i}", "hot") for i in range(50)]
    df = spark.createDataFrame(rows, ["rid", "name", "blk"])
    assert fuzzy_pairs(df, "rid", "name", "blk", max_edit_distance=2,
                       max_block_size=10).count() == 0


def _funnel_events(spark):
    # u1 session 1: view -> click -> purchase (full conversion)
    # u1 session 2 (after >30min gap): view only
    # u2: click before view — strict order must NOT convert click
    rows = [
        ("u1", 100, 1, "view"), ("u1", 200, 2, "click"),
        ("u1", 300, 3, "purchase"),
        ("u1", 10_000, 4, "view"),
        ("u2", 100, 5, "click"), ("u2", 200, 6, "view"),
    ]
    return spark.createDataFrame(rows, ["user", "sec", "eid", "etype"])


def test_funnel_strict_order(spark):
    out = {r["stage"]: r["n_sessions"]
           for r in funnel(_funnel_events(spark), "user", "sec", "etype",
                           ["view", "click", "purchase"],
                           gap_s=1800, order_cols=["eid"]).collect()}
    # views: u1-s1, u1-s2, u2-s1 = 3; clicks after view: only u1-s1;
    # purchases after that click: only u1-s1
    assert out == {"view": 3, "click": 1, "purchase": 1}


def test_funnel_same_second_not_converted(spark):
    """A click at the same second as the first view is NOT strictly
    later — it must not convert."""
    rows = [("u", 100, 1, "view"), ("u", 100, 2, "click")]
    df = spark.createDataFrame(rows, ["user", "sec", "eid", "etype"])
    out = {r["stage"]: r["n_sessions"]
           for r in funnel(df, "user", "sec", "etype",
                           ["view", "click"], order_cols=["eid"]).collect()}
    assert out == {"view": 1, "click": 0}


def test_trigram_pairs_reordering_robust(spark):
    """Token reordering keeps trigram similarity high where levenshtein
    collapses."""
    from niamoto_spark.operators.linkage import trigram_pairs

    df = spark.createDataFrame(
        [(1, "acme corporation", "b"), (2, "corporation acme", "b"),
         (3, "zzz unrelated ltd", "b")],
        "id long, name string, blk string")
    pairs = {(r["id_a"], r["id_b"]): r["similarity"]
             for r in trigram_pairs(df, "id", "name", "blk",
                                    min_similarity=0.3).collect()}
    # reordering keeps ~half the trigrams; levenshtein('acme
    # corporation', 'corporation acme') = 10 edits on 16 chars
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.4
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_trigram_identical_names_similarity_one(spark):
    from niamoto_spark.operators.linkage import trigram_pairs

    df = spark.createDataFrame([(1, "Same Name", "b"), (2, "same  name", "b")],
                               "id long, name string, blk string")
    rows = trigram_pairs(df, "id", "name", "blk").collect()
    # trim+lower normalize; internal double space differs -> still high
    assert rows and rows[0]["similarity"] >= 0.7


def test_grouped_split_no_leakage(spark):
    from niamoto_spark.operators.text import split_assign_grouped

    df = spark.createDataFrame(
        [(i, f"dom{i % 17}") for i in range(500)],
        "doc_id long, source string")
    out = split_assign_grouped(df, "source",
                               {"train": 0.7, "val": 0.15, "test": 0.15})
    per_group = (out.groupBy("source")
                 .agg(F.countDistinct("split").alias("k")).collect())
    assert all(r["k"] == 1 for r in per_group)  # one split per group


# --- mutual_best_match -----------------------------------------------------

def test_mutual_best_match_keeps_only_mutual_argmax(spark):
    from niamoto_spark.operators.linkage import mutual_best_match
    # 1 prefers 10 (0.9); 10 prefers 1 (0.9)       -> mutual
    # 2 prefers 10 (0.8) but 10 prefers 1          -> dropped
    # (2,11): 11 prefers 2, but 2 prefers 10       -> dropped
    # (single-pass mutual argmax, NOT iterative stable matching:
    #  2 does not "fall back" to 11 after losing 10)
    pairs = [(1, 10, 0.9), (2, 10, 0.8), (2, 11, 0.7), (1, 11, 0.3)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long, score double")
    out = sorted((r["id_a"], r["id_b"]) for r in
                 mutual_best_match(df).collect())
    assert out == [(1, 10)]
    # re-running on the residual (unmatched) pairs recovers (2, 11) —
    # the documented recipe for an iterative alignment
    residual = df.where("id_a not in (1) and id_b not in (10)")
    out2 = [(r["id_a"], r["id_b"]) for r in
            mutual_best_match(residual).collect()]
    assert out2 == [(2, 11)]


def test_mutual_best_match_tie_breaks_to_smaller_id(spark):
    from niamoto_spark.operators.linkage import mutual_best_match
    pairs = [(1, 10, 0.5), (1, 11, 0.5), (2, 11, 0.5)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long, score double")
    out = sorted((r["id_a"], r["id_b"]) for r in
                 mutual_best_match(df).collect())
    # 1 ties 10/11 -> picks 10; 11's best is 1 (tie with 2 -> 1),
    # but 1 chose 10, so (1,11) fails mutuality; (2,11): 11 prefers 1
    assert out == [(1, 10)]
