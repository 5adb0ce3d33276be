"""Record linkage / entity resolution: blocked fuzzy-string matching.

The reference matches taxonomy names exactly (SmartMatcher,
core/imports and matching.py's structural tiers); real-world entity
resolution needs APPROXIMATE matching — same person/taxon/organization
spelled slightly differently.  This operator adds the standard two-stage
shape:

1. BLOCKING: candidate pairs only within a block key (nation, soundex,
   zip, first-k chars ...).  Without it the pair space is n² — the block
   join restores an equi-key so Spark shuffles on block and each block
   contributes |block|² locally.  ``max_block_size`` drops degenerate
   blocks (the hot-bucket policy every pair generator in this repo
   uses).
2. SCORING: JVM-side ``levenshtein`` (built-in, codegen) under a
   threshold, plus a normalized similarity for downstream ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register


@register("fuzzy_pairs", PluginType.TRANSFORMER)
def fuzzy_pairs(df: DataFrame, id_col: str, name_col: str, block_col: str,
                max_edit_distance: int = 2,
                max_block_size: int | None = 10_000,
                round_dp: int = 4) -> DataFrame:
    """Within-block record pairs with edit distance <= threshold.

    Output: (id_a, id_b, edit_distance, name_sim) with id_a < id_b;
    name_sim = 1 - dist / max(len_a, len_b).
    """
    base = df.select(F.col(id_col).alias("rid"),
                     F.col(name_col).alias("name"),
                     F.col(block_col).alias("block"))
    if max_block_size is not None:
        # no broadcast hint: the block universe scales with the data;
        # the semi join keys on the same column the pair join shuffles
        # on next, so the exchange is reused (AQE broadcasts if small)
        sizes = base.groupBy("block").agg(F.count(F.lit(1)).alias("__n"))
        ok = sizes.where(F.col("__n") <= max_block_size).select("block")
        base = base.join(ok, "block", "left_semi")
    left = base.select(F.col("rid").alias("id_a"),
                       F.col("name").alias("name_a"), "block")
    right = base.select(F.col("rid").alias("id_b"),
                        F.col("name").alias("name_b"), "block")
    dist = F.levenshtein("name_a", "name_b")
    sim = F.lit(1.0) - dist / F.greatest(F.length("name_a"),
                                         F.length("name_b"))
    return (left.join(right, "block")
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("edit_distance", dist)
            .where(F.col("edit_distance") <= max_edit_distance)
            .select("id_a", "id_b", "edit_distance",
                    F.round(sim, round_dp).alias("name_sim")))


def char_trigrams(col) -> "F.Column":
    """Distinct padded character 3-grams of a lowercased string, via
    higher-order functions (no UDF): '##a', '#ab', 'abc', ..., 'z$'.
    Padding weights the word boundaries — the pg_trgm treatment.
    (PySpark's substring wrapper wants an int position; call_function
    reaches the SQL builtin with a Column start.)"""
    s = F.concat(F.lit("##"), F.lower(F.trim(col)), F.lit("$"))
    idx = F.sequence(F.lit(1), F.greatest(F.length(s) - 2, F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.call_function(
            "substring", s, i.cast("int"), F.lit(3))))


@register("trigram_pairs", PluginType.TRANSFORMER)
def trigram_pairs(df: DataFrame, id_col: str, name_col: str,
                  block_col: str, min_similarity: float = 0.4,
                  max_block_size: int | None = 10_000) -> DataFrame:
    """Blocked trigram-Jaccard fuzzy matching — the similarity pg_trgm
    uses.  Versus levenshtein (fuzzy_pairs), trigram Jaccard is
    length-normalized and survives token reordering ('acme corp' vs
    'corp acme'), the usual trade for organization/name matching.

    Same two-stage shape as fuzzy_pairs: equi-join on the block key
    (each block contributes |block|² pairs locally, degenerate blocks
    dropped), then the set overlap is computed JVM-side with
    array_intersect/array_union on the distinct trigram arrays.

    Output: (id_a, id_b, similarity) with id_a < id_b, similarity
    rounded to 4dp and >= min_similarity."""
    # NULL names can't match: their trigram array degenerates to
    # [NULL], and array_intersect treats NULL elements as EQUAL — every
    # pair of NULL-name rows in a block scored similarity 1.0
    base = (df.where(F.col(name_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    F.col(block_col).alias("blk"),
                    char_trigrams(F.col(name_col)).alias("tg")))
    if max_block_size is not None:
        hot = (base.groupBy("blk").agg(F.count(F.lit(1)).alias("n"))
               .where(F.col("n") > max_block_size).drop("n"))
        # hot-block count is data-scaled (corpus / max_block_size):
        # same-key anti join, AQE decides the strategy
        base = base.join(hot, ["blk"], "left_anti")
    left = base.select(F.col("id").alias("id_a"), "blk",
                       F.col("tg").alias("tg_a"))
    right = base.select(F.col("id").alias("id_b"), "blk",
                        F.col("tg").alias("tg_b"))
    inter = F.size(F.array_intersect("tg_a", "tg_b"))
    union = F.size(F.array_union("tg_a", "tg_b"))
    sim = F.round(inter.cast("double") /
                  F.greatest(union, F.lit(1)).cast("double"), 4)
    return (left.join(right, ["blk"])
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("similarity", sim)
            .where(F.col("similarity") >= min_similarity)
            .select("id_a", "id_b", "similarity"))


@register("mutual_best_match", PluginType.TRANSFORMER)
def mutual_best_match(pairs: DataFrame, left_col: str = "id_a",
                      right_col: str = "id_b",
                      score_col: str = "score") -> DataFrame:
    """1:1 entity matching from a scored candidate-pair table: keep a
    pair only when each side is the other's BEST candidate (mutual
    argmax) — the greedy-stable rule record linkage uses to turn a
    many-to-many similarity table into an alignment without a global
    assignment solve.  Ties break deterministically toward the
    smaller partner id, so the result is replayable.

    Two window argmaxes over the candidate table (one per side, keyed
    on that side's id) and one self-agreement filter — cost scales
    with CANDIDATES (already blocked/pruned upstream), never entities².
    Returns the surviving (left, right, score) rows."""
    from pyspark.sql import Window

    wl = Window.partitionBy(left_col).orderBy(
        F.col(score_col).desc(), F.col(right_col).asc())
    wr = Window.partitionBy(right_col).orderBy(
        F.col(score_col).desc(), F.col(left_col).asc())
    ranked = (pairs.withColumn("__rl", F.row_number().over(wl))
              .withColumn("__rr", F.row_number().over(wr)))
    return (ranked.where((F.col("__rl") == 1) & (F.col("__rr") == 1))
            .drop("__rl", "__rr"))
