"""Item-item collaborative filtering over co-occurrence — the
"customers who bought X also bought Y" recommender, as pure set-join
algebra (no ALS, no ML runtime): cosine over binary basket-incidence
vectors, cos(a,b) = c_ab / sqrt(c_a · c_b).

Scale shape (the operative concern — baskets are the skewed entity):

    incidence  = distinct (basket, item) — one dedup shuffle
    pairs      = per-basket item ARRAY -> in-basket C(n,2) expansion
                 with higher-order functions (the same bucket-grouped
                 pair trick as dedup.py's LSH buckets) — a basket with
                 b items emits b(b-1)/2 rows, so ``max_basket_items``
                 caps pathological baskets (a crawler hitting every
                 item) instead of letting one basket emit 10^10 pairs
    c_ab       = one hash aggregation over the pair stream
    cosine     = pair counts joined to per-item counts (item counts
                 pruned to items that survived into pairs)

No counterpart in the reference (SURVEY §2); extension-brief operator
next to contrastive.py / tfidf.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register


@register("item_similarity", PluginType.TRANSFORMER)
def item_similarity(df: DataFrame, basket_col: str, item_col: str,
                    min_cooccur: int = 2,
                    max_basket_items: int = 1000,
                    round_dp: int = 6) -> DataFrame:
    """(item_a, item_b, n_ab, cosine) for unordered item pairs with
    co-occurrence >= ``min_cooccur``; item_a < item_b.  Baskets larger
    than ``max_basket_items`` are truncated to their first items in
    sort order (deterministic, logged in the row count)."""
    # a NULL basket id is not a co-occurrence context (SQL's NULL-group
    # semantics would otherwise pool every orphan row into ONE basket —
    # while the oracle's self-join on basket drops them); NULL items
    # can't pair
    inc = (df.select(F.col(basket_col).alias("b"),
                     F.col(item_col).cast("string").alias("it"))
           .where(F.col("it").isNotNull() & F.col("b").isNotNull())
           .distinct())
    per_basket = (inc.groupBy("b")
                  .agg(F.slice(F.array_sort(F.collect_set("it")), 1,
                               max_basket_items).alias("items")))
    pairs = (per_basket
             .select(F.explode(F.expr(
                 "flatten(transform(items, (x, i) -> "
                 "transform(slice(items, i + 2, size(items)), "
                 "y -> struct(x AS a, y AS b))))")).alias("p"))
             .select("p.a", "p.b")
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
             .where(F.col("n_ab") >= min_cooccur))
    item_counts = (inc.groupBy("it")
                   .agg(F.count(F.lit(1)).alias("c")))
    cos = (pairs
           .join(item_counts.select(F.col("it").alias("a"),
                                    F.col("c").alias("ca")), "a")
           .join(item_counts.select(F.col("it").alias("b"),
                                    F.col("c").alias("cb")), "b")
           .select(F.col("a").alias("item_a"),
                   F.col("b").alias("item_b"), "n_ab",
                   F.round(F.col("n_ab")
                           / F.sqrt(F.col("ca").cast("double")
                                    * F.col("cb")),
                           round_dp).alias("cosine")))
    return cos


@register("audience_overlap", PluginType.TRANSFORMER)
def audience_overlap(df: DataFrame, user_col: str, segment_col: str,
                     round_dp: int = 6) -> DataFrame:
    """Audience overlap matrix: for every segment pair, how many users
    belong to BOTH and the Jaccard overlap — the bitmap-intersection
    query behind audience planning and segment dedup, expressed as a
    per-user self-join (no bitmaps needed: distinct member rows ARE
    the bitmap, and Spark's hash join intersects them).

    Cost: the self-join is keyed on the USER (co-partitioned, one
    shuffle); a user in s segments contributes C(s,2)+s pairs, so the
    fan-out is bounded by segments-per-user (small), never by segment
    size.  Segment sizes broadcast back onto the (tiny) pair table.
    Returns (seg_a, seg_b, n_both, n_a, n_b, jaccard) with
    seg_a <= seg_b (the diagonal rows carry the segment sizes)."""
    m = (df.select(F.col(user_col).alias("u"),
                   F.col(segment_col).alias("s")).distinct())
    sizes = m.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    a, b = m.alias("a"), m.alias("b")
    pairs = (a.join(b, (F.col("a.u") == F.col("b.u"))
                    & (F.col("a.s") <= F.col("b.s")))
             .groupBy(F.col("a.s").alias("seg_a"),
                      F.col("b.s").alias("seg_b"))
             .agg(F.count(F.lit(1)).alias("n_both")))
    out = (pairs
           .join(F.broadcast(sizes.withColumnRenamed("s", "seg_a")
                             .withColumnRenamed("n", "n_a")), "seg_a")
           .join(F.broadcast(sizes.withColumnRenamed("s", "seg_b")
                             .withColumnRenamed("n", "n_b")), "seg_b"))
    jac = (F.col("n_both")
           / (F.col("n_a") + F.col("n_b") - F.col("n_both")))
    return out.select("seg_a", "seg_b", "n_both", "n_a", "n_b",
                      F.round(jac, round_dp).alias("jaccard"))


@register("als_factorize", PluginType.TRANSFORMER)
def als_factorize(ratings: DataFrame, user_col: str, item_col: str,
                  rating_col: str, rank: int = 1, iters: int = 2,
                  reg: float = 0.1,
                  round_dp: int = 6) -> "tuple[DataFrame, DataFrame]":
    """Alternating least squares matrix factorization — the canonical
    distributed recommender fit.  Returns (user_factors,
    item_factors) as DataFrames of (id, factors array<double>).

    Determinism contract: item factors initialize to the item's mean
    rating in component 0 and (id-hash-free) constant 0.1 elsewhere,
    and each half-step solves EXACT normal equations per entity — no
    RNG anywhere, so a run is reproducible and, for ``rank=1``, the
    entire fit unrolls in SQL:

        u_i = Σ_j r_ij·v_j / (Σ_j v_j² + λ)     (one aggregation)
        v_j = Σ_i r_ij·u_i / (Σ_i u_i² + λ)     (one aggregation)

    For ``rank>1`` each entity's k×k system solves inside an
    ``applyInPandas`` group (numpy, k tiny) — ratings shuffle once per
    half-step on the entity key, factors join back broadcast-sized.
    Rank-1 correctness is oracle-pinned (q253); rank-k is pinned by a
    numpy reference-implementation parity test."""
    import numpy as np
    import pandas as pd

    r = (ratings.select(F.col(user_col).alias("u"),
                        F.col(item_col).alias("i"),
                        F.col(rating_col).cast("double").alias("r")))
    init0 = (r.groupBy("i").agg(F.avg("r").alias("m")))
    if rank == 1:
        vf = init0.select("i", F.col("m").alias("v"))
        for _ in range(iters):
            uf = (r.join(vf, "i")
                  .groupBy("u")
                  .agg((F.sum(F.col("r") * F.col("v"))
                        / (F.sum(F.col("v") * F.col("v")) + reg))
                       .alias("uvec")))
            vf = (r.join(uf, "u")
                  .groupBy("i")
                  .agg((F.sum(F.col("r") * F.col("uvec"))
                        / (F.sum(F.col("uvec") * F.col("uvec")) + reg))
                       .alias("v")))
            vf = vf.localCheckpoint(eager=False)
        users = uf.select(F.col("u").alias("id"),
                          F.array(F.round("uvec", round_dp))
                          .alias("factors"))
        items = vf.select(F.col("i").alias("id"),
                          F.array(F.round("v", round_dp))
                          .alias("factors"))
        return users, items

    k = int(rank)
    vf = init0.select(
        "i", F.array(F.col("m"),
                     *[F.lit(0.1)] * (k - 1)).alias("vec"))

    def solve(side_key: str, other_key: str, joined: DataFrame
              ) -> DataFrame:
        schema = f"{side_key} long, vec array<double>"

        def fit(pdf: pd.DataFrame) -> pd.DataFrame:
            A = np.zeros((k, k))
            b = np.zeros(k)
            for _, row in pdf.iterrows():
                v = np.asarray(row["vec"], dtype=float)
                A += np.outer(v, v)
                b += row["r"] * v
            A += reg * np.eye(k)
            x = np.linalg.solve(A, b)
            return pd.DataFrame(
                {side_key: [pdf[side_key].iloc[0]], "vec": [list(x)]})

        return joined.groupBy(side_key).applyInPandas(fit, schema)

    for _ in range(iters):
        uf = solve("u", "i", r.join(vf, "i").select("u", "r", "vec"))
        vf = solve("i", "u", r.join(uf, "u").select("i", "r", "vec"))
        vf = vf.localCheckpoint(eager=False)
    rnd = F.transform("vec", lambda x: F.round(x, round_dp))
    return (uf.select(F.col("u").alias("id"), rnd.alias("factors")),
            vf.select(F.col("i").alias("id"), rnd.alias("factors")))
