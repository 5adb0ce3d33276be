"""Ecological / array math (SURVEY §2.3 "custom_calculator": 15 operations,
reference transformers/ecological/custom_calculator.py:64-82, dispatch
:405-470).

Two forms are provided:
- **Aggregation form** (preferred at scale): diversity indices computed
  directly from a counts table with one hash aggregate — e.g. Shannon over
  ``groupBy(group).pivot-free`` count rows.
- **Array form**: the reference's per-entity arrays are ArrayType columns;
  operations use higher-order functions (transform/aggregate/zip_with), all
  JVM-side.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register


# --------------------------------------------------------------------------
# Diversity indices as aggregations over count tables
# --------------------------------------------------------------------------

def shannon_pielou(counts: DataFrame, group_cols: Sequence[str],
                   count_col: str = "count") -> DataFrame:
    """Shannon H (log2, zeros ignored) and Pielou evenness from a long table
    of per-category counts.

    Parity (reference custom_calculator.py:712-805): probabilities are
    count/total over NONZERO classes; H = -sum(p*log2 p);
    max_entropy = log2(#nonzero classes); Pielou = H / max_entropy.
    Output: group_cols + (shannon, max_entropy, classes_count,
    non_zero_classes, pielou).
    One aggregate over the counts table -> scales with distinct categories,
    not raw rows.
    """
    c = F.col(count_col).cast("double")
    nz = F.sum(F.when(c > 0, 1).otherwise(0))
    total = F.sum(F.when(c > 0, c).otherwise(F.lit(0.0)))
    g = counts.groupBy(*group_cols) if group_cols else counts.groupBy()
    pre = g.agg(
        F.count(F.lit(1)).alias("classes_count"),
        nz.alias("non_zero_classes"),
        total.alias("__total"),
        F.sum(F.when(c > 0, c * F.log2(c))).alias("__sum_clog2c"),
    )
    # H = log2(T) - (1/T) * sum(c*log2 c)  (algebraic form avoids a second pass)
    h = F.when(
        F.col("__total") > 0,
        F.log2(F.col("__total")) - F.col("__sum_clog2c") / F.col("__total"),
    ).otherwise(F.lit(0.0))
    out = pre.withColumn("shannon", F.round(h, 4)) \
             .withColumn("max_entropy",
                         F.when(F.col("non_zero_classes") > 0,
                                F.round(F.log2(F.col("non_zero_classes").cast("double")), 4))
                          .otherwise(F.lit(0.0))) \
             .withColumn("pielou",
                         F.when(F.col("max_entropy") > 0,
                                F.round(F.col("shannon") / F.col("max_entropy"), 4))
                          .otherwise(F.lit(0.0)))
    return out.select(*group_cols, "shannon", "max_entropy", "classes_count",
                      "non_zero_classes", "pielou")


# --------------------------------------------------------------------------
# Array-form operations (ArrayType columns, higher-order functions)
# --------------------------------------------------------------------------

def _arr(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def array_division(a, b) -> Column:
    return F.zip_with(_arr(a), _arr(b),
                      lambda x, y: F.when(y != 0, x.cast("double") / y).otherwise(F.lit(0.0)))


def array_multiplication(a, b) -> Column:
    return F.zip_with(_arr(a), _arr(b), lambda x, y: x.cast("double") * y)


def array_sum(a) -> Column:
    return F.aggregate(_arr(a), F.lit(0.0), lambda acc, v: acc + v.cast("double"))


def normalize_array(a) -> Column:
    """Scale array to sum 1 (zeros stay zero when total==0)."""
    total = array_sum(a)
    return F.transform(_arr(a),
                       lambda v: F.when(total != 0, v.cast("double") / total)
                                  .otherwise(F.lit(0.0)))


def weighted_sum(values, weights) -> Column:
    return array_sum(array_multiplication(values, weights))


def sum_array_slice(a, start: int, length: int) -> Column:
    return array_sum(F.slice(_arr(a), start + 1, length))  # 0-based start


def ratio_calculation(num, den) -> Column:
    n, d = _arr(num), _arr(den)
    return F.when(d != 0, n.cast("double") / d).otherwise(F.lit(None))


def shannon_entropy_array(a) -> Column:
    """Shannon H (log2) of a count/abundance array; zeros ignored
    (custom_calculator.py:712-763)."""
    total = F.aggregate(_arr(a), F.lit(0.0),
                        lambda acc, v: acc + F.when(v > 0, v.cast("double")).otherwise(F.lit(0.0)))
    term = F.aggregate(
        _arr(a), F.lit(0.0),
        lambda acc, v: acc + F.when(v > 0, v.cast("double") * F.log2(v.cast("double")))
                             .otherwise(F.lit(0.0)))
    return F.when(total > 0, F.log2(total) - term / total).otherwise(F.lit(0.0))


def pielou_evenness_array(a) -> Column:
    nonzero = F.size(F.filter(_arr(a), lambda v: v > 0))
    h = shannon_entropy_array(a)
    return F.when(nonzero > 1, h / F.log2(nonzero.cast("double"))).otherwise(F.lit(0.0))


def peak_detection(a, threshold_ratio: float = 0.5) -> Column:
    """Indices (1-based) where the value exceeds threshold_ratio * max —
    the phenology chain's peak op (custom_calculator dispatch :405-470;
    transform.yml:134-176)."""
    arr = _arr(a)
    mx = F.array_max(arr)
    return F.filter(
        F.transform(arr, lambda v, i: F.when(v >= mx * threshold_ratio, i + 1)),
        lambda x: x.isNotNull())


def active_periods(a, threshold: float = 0.0) -> Column:
    """1-based indices with activity above threshold (phenology)."""
    return F.filter(
        F.transform(_arr(a), lambda v, i: F.when(v > threshold, i + 1)),
        lambda x: x.isNotNull())


# --------------------------------------------------------------------------
# Composite ecological indices (reference custom_calculator.py:928-1750)
# --------------------------------------------------------------------------

def csr_strategy(df: DataFrame, wood_density_col: str, leaf_thickness_col: str,
                 leaf_sla_col: str, substrate_col: str | None = None) -> DataFrame:
    """Grime CSR strategy indices from functional traits (reference
    custom_calculator.py:928-1010): traits normalized against fixed caps
    (wd/1.0, lt/500, sla/40), UM substrate stress factor 1.2, components
    scaled to sum 1, dominant/secondary strategy + 'CSR' class when no
    component reaches 0.45.  Pure column arithmetic — fully distributed.
    """
    # NULL-guarded: F.least SKIPS null args, so a missing trait would
    # silently normalize to the CAP (1.0).  The reference treats a
    # missing trait as an error (float(None) raises,
    # custom_calculator.py:951-953); row-wise we propagate NULL.
    def _norm(col, cap):
        return F.when(F.col(col).isNotNull(),
                      F.least(F.lit(1.0), F.col(col) / cap))

    nwd = _norm(wood_density_col, 1.0)
    nlt = _norm(leaf_thickness_col, 500.0)
    nsla = _norm(leaf_sla_col, 40.0)
    sub = (F.when(F.col(substrate_col) == "UM", 1.2).otherwise(1.0)
           if substrate_col else F.lit(1.0))
    c = (0.7 * nwd + 0.4 * nlt - 0.3 * nsla) / 0.8
    s = (0.5 * nwd + 0.8 * nlt - 0.7 * nsla) * sub / 1.2
    r = (0.3 - 0.7 * nwd - 0.8 * nlt + 0.9 * nsla) / 1.0
    total = c + s + r
    # NULL total (any trait missing) stays NULL, never the uniform 1/3
    c1 = F.when(total > 0, c / total) \
        .when(total.isNotNull(), F.lit(1.0 / 3))
    s1 = F.when(total > 0, s / total) \
        .when(total.isNotNull(), F.lit(1.0 / 3))
    r1 = F.when(total > 0, r / total) \
        .when(total.isNotNull(), F.lit(1.0 / 3))
    out = (df.withColumn("competitive", F.round(c1, 4))
             .withColumn("stress_tolerant", F.round(s1, 4))
             .withColumn("ruderal", F.round(r1, 4)))
    mx = F.greatest("competitive", "stress_tolerant", "ruderal")
    dominant = (F.when(mx.isNull(), F.lit(None).cast("string"))
                 .when(F.col("competitive") == mx, "C")
                 .when(F.col("stress_tolerant") == mx, "S").otherwise("R"))
    out = out.withColumn("dominant_strategy", dominant)
    mid = F.expr("array_sort(array(competitive, stress_tolerant, ruderal))")[1]
    secondary = (F.when(F.col("dominant_strategy").isNull(),
                        F.lit(None).cast("string"))
                  .when((F.col("competitive") == mid)
                        & (F.col("dominant_strategy") != "C"), "C")
                  .when((F.col("stress_tolerant") == mid)
                        & (F.col("dominant_strategy") != "S"), "S").otherwise("R"))
    out = out.withColumn("secondary_strategy", secondary)
    return out.withColumn(
        "csr_class",
        F.when(mx < 0.45, F.lit("CSR"))
         .otherwise(F.concat("dominant_strategy", "secondary_strategy")))


def resilience_score(df: DataFrame, c_col: str = "competitive",
                     s_col: str = "stress_tolerant", r_col: str = "ruderal",
                     diversity_col: str = "shannon",
                     substrate_col: str | None = None) -> DataFrame:
    """Resilience score 0-100 from CSR + functional diversity (reference
    custom_calculator.py:1026-1105): 20C + 10S + 40R + 30*min(H/5, 1),
    UM substrate factor 0.8, five-class label ladder."""
    # NULL-guarded like csr_strategy: least() would turn a missing
    # diversity into the cap (1.0) and +30 points
    nd = F.when(F.col(diversity_col).isNotNull(),
                F.least(F.lit(1.0), F.col(diversity_col) / 5.0))
    sub = (F.when(F.col(substrate_col) == "UM", 0.8).otherwise(1.0)
           if substrate_col else F.lit(1.0))
    score = (20 * F.col(c_col) + 10 * F.col(s_col) + 40 * F.col(r_col)
             + 30 * nd) * sub
    label = (F.when(score.isNull(), F.lit(None).cast("string"))
              .when(score >= 80, "Very high").when(score >= 60, "High")
              .when(score >= 40, "Medium").when(score >= 20, "Low")
              .otherwise("Very low"))
    return df.withColumn("resilience_score", F.round(score, 2)) \
             .withColumn("resilience_class", label)


def biomass_by_strata(df: DataFrame, group_cols: Sequence[str],
                      height_col: str, dbh_col: str,
                      strata_bounds: Sequence[float],
                      strata_names: Sequence[str] | None = None,
                      wood_density: float | str = 0.6) -> DataFrame:
    """Biomass distribution over height strata (reference
    custom_calculator.py:1174-1290): allometric biomass
    pi*(DBH/200)^2*H*WD, trees bucketed by np.digitize(bounds)-1 clipped
    into [0, n-1].  One projection + one hash aggregate.
    Output: group_cols + (stratum, biomass, tree_count)."""
    n = len(strata_bounds) - 1
    names = list(strata_names) if strata_names else [f"S{i+1}" for i in range(n)]
    h = F.col(height_col).cast("double")
    d = F.col(dbh_col).cast("double")
    wd = (F.col(wood_density).cast("double") if isinstance(wood_density, str)
          else F.lit(float(wood_density)))
    biomass = F.lit(math.pi) * F.pow(d / 200.0, 2) * h * wd
    # np.digitize(-1) + clip: below first bound -> 0, above last -> n-1
    idx = F.lit(0)
    for i, b in enumerate(strata_bounds[1:-1], start=1):
        idx = F.when(h >= F.lit(float(b)), F.lit(i)).otherwise(idx)
    name_map = F.array(*[F.lit(x) for x in names])
    tagged = df.select(*group_cols, biomass.alias("__bm"),
                       name_map[idx].alias("stratum"))
    return (tagged.groupBy(*group_cols, "stratum")
            .agg(F.round(F.sum("__bm"), 4).alias("biomass"),
                 F.count(F.lit(1)).alias("tree_count")))


def conformity_index(df: DataFrame, group_cols: Sequence[str],
                     observed_col: str, reference_col: str,
                     tolerance: float = 10.0,
                     method: str = "relative") -> DataFrame:
    """Share of observations within tolerance of a reference (reference
    custom_calculator.py:1668-1750): absolute -> |obs-ref| <= tol;
    relative -> |(obs-ref)/ref*100| <= tol (zero reference counts as
    conforming, matching the reference's isfinite->0 fallback).
    Output: group_cols + (conforming, total, conformity_pct)."""
    o = F.col(observed_col).cast("double")
    ref = F.col(reference_col).cast("double")
    if method == "absolute":
        ok = F.abs(o - ref) <= tolerance
    elif method == "relative":
        diff = F.when(ref != 0, (o - ref) / ref * 100.0).otherwise(F.lit(0.0))
        ok = F.abs(diff) <= tolerance
    else:
        raise ValueError(f"unsupported method {method!r}")
    g = df.groupBy(*group_cols) if group_cols else df.groupBy()
    return g.agg(
        F.sum(F.when(ok, 1).otherwise(0)).alias("conforming"),
        F.count(F.lit(1)).alias("total"),
        F.round(F.avg(F.when(ok, 1.0).otherwise(0.0)) * 100.0, 2)
         .alias("conformity_pct"))


_FORMULA_FUNCS = {"log", "log10", "log2", "sqrt", "exp", "abs", "pow",
                  "least", "greatest", "round"}


def custom_formula(df: DataFrame, formula: str, out: str = "result") -> DataFrame:
    """Restricted formula over columns compiled to F.expr — the reference's
    whitelisted-numpy eval (custom_calculator.py:33-34) but JVM-side: names
    must be existing columns, calls must be in the math whitelist."""
    import re as _re

    from niamoto_spark.plans.guards import UnsafeQueryError

    for tok in _re.findall(r"[A-Za-z_][A-Za-z0-9_]*", formula):
        if tok not in df.columns and tok not in _FORMULA_FUNCS:
            raise UnsafeQueryError(f"unknown name {tok!r} in formula")
    if _re.search(r"[^A-Za-z0-9_+\-*/().,\s]", formula):
        raise UnsafeQueryError("illegal character in formula")
    # DOUBLE literal semantics, like the reference's numpy eval
    # (guards.pin_double_literals: bare 3.0 parses as DECIMAL on Spark)
    from niamoto_spark.plans.guards import pin_double_literals
    return df.withColumn(out, F.expr(pin_double_literals(formula)))


@register("custom_calculator", PluginType.TRANSFORMER)
def custom_calculator(df: DataFrame, operation: str, **kwargs) -> DataFrame:
    """Dispatch mirroring the reference's Operation enum
    (custom_calculator.py:64-82).  Column-level ops append an ``out`` column.
    """
    ops = {
        "array_division": lambda: array_division(kwargs["a"], kwargs["b"]),
        "array_multiplication": lambda: array_multiplication(kwargs["a"], kwargs["b"]),
        "normalize_array": lambda: normalize_array(kwargs["a"]),
        "weighted_sum": lambda: weighted_sum(kwargs["values"], kwargs["weights"]),
        "shannon_entropy": lambda: shannon_entropy_array(kwargs["a"]),
        "pielou_evenness": lambda: pielou_evenness_array(kwargs["a"]),
        "sum_array_slice": lambda: sum_array_slice(kwargs["a"], kwargs["start"], kwargs["length"]),
        "ratio_calculation": lambda: ratio_calculation(kwargs["num"], kwargs["den"]),
        "peak_detection": lambda: peak_detection(kwargs["a"], kwargs.get("threshold_ratio", 0.5)),
        "active_periods": lambda: active_periods(kwargs["a"], kwargs.get("threshold", 0.0)),
    }
    df_ops = {
        "csr_strategy": csr_strategy,
        "resilience_score": resilience_score,
        "biomass_by_strata": biomass_by_strata,
        "conformity_index": conformity_index,
        "custom_formula": custom_formula,
    }
    if operation in df_ops:
        return df_ops[operation](df, **kwargs)
    if operation not in ops:
        raise ValueError(
            f"unsupported operation {operation!r}; known "
            f"{sorted(ops) + sorted(df_ops)}")
    return df.withColumn(kwargs.get("out", "out"), ops[operation]())


@register("chao1_richness", PluginType.TRANSFORMER)
def chao1_richness(counts: DataFrame, group_cols: "Sequence[str]",
                   count_col: str = "count",
                   round_dp: int = 4) -> DataFrame:
    """Chao1 species-richness estimator per group (Chao 1984):

        S_chao1 = S_obs + f1·(f1 − 1) / (2·(f2 + 1))

    (the bias-corrected form, finite even when no doubletons exist)
    with f1/f2 = singleton/doubleton species counts — the answer to
    "how many species did the survey MISS", the abundance question
    the reference's Shannon/Pielou diversity (custom_calculator.py:
    712-805) doesn't ask.  Also reports sample coverage
    1 − f1/N (Good-Turing: the probability mass of seen species,
    cf. good_turing_counts on the text lane — the SAME estimator
    serving ecology and corpus vocabulary).

    One aggregate over the per-(group, species) counts."""
    nz = counts.where(F.col(count_col) > 0)
    agg = (nz.groupBy(*group_cols)
           .agg(F.count(F.lit(1)).alias("s_obs"),
                F.sum((F.col(count_col) == 1).cast("long")).alias("f1"),
                F.sum((F.col(count_col) == 2).cast("long")).alias("f2"),
                F.sum(count_col).alias("n_ind")))
    chao = (F.col("s_obs")
            + F.col("f1") * (F.col("f1") - 1) / (2 * (F.col("f2") + 1)))
    cov = 1 - F.col("f1") / F.col("n_ind")
    return agg.select(*group_cols, "s_obs", "f1", "f2",
                      F.col("n_ind").cast("long").alias("n_ind"),
                      F.round(chao, round_dp).alias("chao1"),
                      F.round(cov, round_dp).alias("coverage"))


@register("bray_curtis", PluginType.TRANSFORMER)
def bray_curtis(counts: DataFrame, site_col: str, species_col: str,
                count_col: str = "count",
                round_dp: int = 4) -> DataFrame:
    """Bray–Curtis dissimilarity between every site pair:

        BC(a, b) = 1 − 2·Σ min(x_ai, x_bi) / (Σ x_a + Σ x_b)

    — the beta-diversity workhorse (how much do two plots' species
    ABUNDANCES differ, not just their species lists), completing the
    reference's alpha-diversity surface.

    Shape: species-keyed self-join (only species PRESENT at both
    sites contribute to the min-sum — absent-species terms are 0, so
    the equi-join on species is exact), site totals broadcast back.
    Sites are the small side by construction (plots, not
    occurrences); for thousands of sites the same join stays an
    equi-join on species, never an all-pairs product."""
    base = (counts.where(F.col(count_col) > 0)
            .select(F.col(site_col).alias("site"),
                    F.col(species_col).alias("sp"),
                    F.col(count_col).cast("double").alias("x")))
    totals = base.groupBy("site").agg(F.sum("x").alias("tot"))
    a = base.select(F.col("site").alias("sa"), "sp",
                    F.col("x").alias("xa"))
    b = base.select(F.col("site").alias("sb"), "sp",
                    F.col("x").alias("xb"))
    shared = (a.join(b, "sp").where(F.col("sa") < F.col("sb"))
              .groupBy("sa", "sb")
              .agg(F.sum(F.least("xa", "xb")).alias("min_sum")))
    ta = totals.select(F.col("site").alias("sa"),
                       F.col("tot").alias("tot_a"))
    tb = totals.select(F.col("site").alias("sb"),
                       F.col("tot").alias("tot_b"))
    # pairs sharing NO species never appear in `shared`; rebuild the
    # full pair grid from the (small) site totals so BC=1 rows surface
    grid = (ta.crossJoin(tb).where(F.col("sa") < F.col("sb")))
    return (grid.join(shared, ["sa", "sb"], "left")
            .select(F.col("sa").alias("site_a"),
                    F.col("sb").alias("site_b"),
                    F.round(1 - 2 * F.coalesce("min_sum", F.lit(0.0))
                            / (F.col("tot_a") + F.col("tot_b")),
                            round_dp).alias("bray_curtis")))


@register("rarefaction_expected", PluginType.TRANSFORMER)
def rarefaction_expected(counts: DataFrame, group_cols: "Sequence[str]",
                        subsample: int, count_col: str = "count",
                        round_dp: int = 4) -> DataFrame:
    """Expected species richness in a random subsample of ``n``
    individuals (Hurlbert rarefaction) — the ONLY fair way to compare
    richness across plots with different sampling effort:

        E[S_n] = Σ_i (1 − C(N−N_i, n) / C(N, n))

    The binomial ratio is computed in LOG space with an explicit
    sequential fold over k=1..n (ln C(N,n) = Σ ln((N−n+k)/k)) — no
    lgamma dependency (Spark has none) and the identical fold order
    replays on any engine.  ``n`` is a small constant (the comparison
    effort), so the per-species cost is O(n).  Species with
    N − N_i < n contribute exactly 1 (they MUST appear)."""
    nz = counts.where(F.col(count_col) > 0)
    tot = nz.groupBy(*group_cols).agg(
        F.sum(count_col).alias("__N"))
    j = nz.join(tot, list(group_cols))
    n = int(subsample)

    def ln_choose(N_col, k):
        # ln C(N, k) as an in-order fold over i=1..k
        seq = F.sequence(F.lit(1), F.lit(k))
        return F.aggregate(
            seq, F.lit(0.0),
            lambda acc, i: acc + F.log((N_col - k + i.cast("double"))
                                       / i.cast("double")))

    Nd = F.col("__N").cast("double")
    Nr = (F.col("__N") - F.col(count_col)).cast("double")
    term = F.when(F.col("__N") - F.col(count_col) < n, F.lit(1.0)) \
        .otherwise(1.0 - F.exp(ln_choose(Nr, n) - ln_choose(Nd, n)))
    out = (j.groupBy(*group_cols)
           .agg(F.count(F.lit(1)).alias("s_obs"),
                F.max("__N").alias("n_ind"),
                F.round(F.sum(term), round_dp).alias("expected_s")))
    return out.select(*group_cols, "s_obs",
                      F.col("n_ind").cast("long").alias("n_ind"),
                      F.lit(n).alias("subsample"), "expected_s")


@register("weighted_endemism", PluginType.TRANSFORMER)
def weighted_endemism(counts: DataFrame, site_col: str,
                      species_col: str,
                      round_dp: int = 4) -> DataFrame:
    """Weighted endemism per site: Σ_species 1 / range_size, where
    range_size = number of sites the species occupies — narrow-range
    species contribute heavily, cosmopolitan ones almost nothing.
    The conservation-priority ranking (CWE = WE / richness also
    reported) the alpha/beta indices don't give.

    One species-range aggregate joined back on species — the range
    table is species-sized and broadcastable."""
    pres = (counts.select(F.col(site_col).alias("site"),
                          F.col(species_col).alias("sp")).distinct())
    ranges = pres.groupBy("sp").agg(F.count(F.lit(1)).alias("rng"))
    j = pres.join(ranges, "sp")
    return (j.groupBy("site")
            .agg(F.count(F.lit(1)).alias("richness"),
                 F.round(F.sum(1.0 / F.col("rng")), round_dp)
                 .alias("we"),
                 F.round(F.avg(1.0 / F.col("rng")), round_dp)
                 .alias("cwe"))
            .withColumnRenamed("site", site_col))


@register("faith_pd", PluginType.TRANSFORMER)
def faith_pd(occurrences: DataFrame, site_col: str, leaf_col: str,
             nodes: DataFrame, id_col: str = "id",
             parent_col: str = "parent_id",
             length_col: "str | None" = None,
             round_dp: int = 4) -> DataFrame:
    """Faith's phylogenetic diversity per site: the total branch
    length of the minimal taxonomy subtree spanning the site's
    present leaves — two plots with 10 species each score very
    differently if one's species are congeners and the other's span
    families.  Unit branch lengths by default (PD = count of distinct
    edges on root paths); pass ``length_col`` on ``nodes`` for real
    lengths.

    Built ON the hierarchy machinery (hierarchy.ancestor_closure —
    the same iterative closure the adjacency_list loader uses): the
    distinct (site, ancestor) pairs ARE the subtree edges, so PD is
    one distinct aggregate over the closure join.  Returns
    (site, n_leaves, pd)."""
    from niamoto_spark.hierarchy import ancestor_closure

    closure = ancestor_closure(nodes, id_col=id_col,
                               parent_col=parent_col)
    pres = (occurrences.select(F.col(site_col).alias("site"),
                               F.col(leaf_col).alias("leaf"))
            .distinct())
    # every (node, ancestor) pair incl. self => each node on the root
    # path contributes its ONE upward edge; the root's "edge" counts
    # once too (constant offset, consistent across sites)
    edges = (pres.join(closure,
                       pres["leaf"] == closure["node_id"])
             .select("site", F.col("ancestor_id").alias("node"))
             .distinct())
    if length_col:
        lens = nodes.select(F.col(id_col).alias("node"),
                            F.col(length_col).cast("double")
                            .alias("len"))
        pd = (edges.join(lens, "node")
              .groupBy("site").agg(F.round(F.sum("len"), round_dp)
                                   .alias("pd")))
    else:
        pd = edges.groupBy("site").agg(
            F.count(F.lit(1)).cast("double").alias("pd"))
    leaves = pres.groupBy("site").agg(F.count(F.lit(1))
                                      .alias("n_leaves"))
    return (leaves.join(pd, "site")
            .select(F.col("site").alias(site_col), "n_leaves", "pd"))


@register("beta_partition", PluginType.TRANSFORMER)
def beta_partition(counts: DataFrame, site_col: str, species_col: str,
                   round_dp: int = 4,
                   count_col: str = "count") -> DataFrame:
    """Baselga's pairwise beta-diversity partition: total Sørensen
    dissimilarity split into TURNOVER (species replacement, βsim) and
    NESTEDNESS (richness difference, βsne):

        a = |shared|, b/c = uniques;  βsor = (b+c)/(2a+b+c)
        βsim = min(b,c)/(a+min(b,c));  βsne = βsor − βsim

    — whether two plots differ because species REPLACE each other or
    because one is a subset of the other, the question βsor alone
    conflates.  Same species-keyed equi-join + richness grid shape as
    bray_curtis (presence-based here).  ``count_col``, when present,
    gates presence on count > 0 so explicit zero-count rows (absences
    in a site-by-species matrix) are NOT counted as presences."""
    pres = (counts.where((F.col(count_col) > 0)
                         if count_col in counts.columns else
                         F.lit(True))
            .select(F.col(site_col).alias("site"),
                    F.col(species_col).alias("sp")).distinct())
    rich = pres.groupBy("site").agg(F.count(F.lit(1)).alias("n"))
    l = pres.select(F.col("site").alias("sa"), "sp")
    r = pres.select(F.col("site").alias("sb"), "sp")
    shared = (l.join(r, "sp").where(F.col("sa") < F.col("sb"))
              .groupBy("sa", "sb").agg(F.count(F.lit(1)).alias("a")))
    ga = rich.select(F.col("site").alias("sa"), F.col("n").alias("na"))
    gb = rich.select(F.col("site").alias("sb"), F.col("n").alias("nb"))
    grid = ga.crossJoin(gb).where(F.col("sa") < F.col("sb"))
    j = (grid.join(shared, ["sa", "sb"], "left")
         .withColumn("a", F.coalesce("a", F.lit(0)))
         .withColumn("b", F.col("na") - F.col("a"))
         .withColumn("c", F.col("nb") - F.col("a")))
    mn = F.least("b", "c")
    bsor = (F.col("b") + F.col("c")) / (2 * F.col("a")
                                        + F.col("b") + F.col("c"))
    bsim = F.when(F.col("a") + mn > 0, mn / (F.col("a") + mn)) \
        .otherwise(0.0)
    return j.select(F.col("sa").alias("site_a"),
                    F.col("sb").alias("site_b"),
                    "a", "b", "c",
                    F.round(bsor, round_dp).alias("beta_sor"),
                    F.round(bsim, round_dp).alias("beta_sim"),
                    F.round(bsor - bsim, round_dp).alias("beta_sne"))


# ---------------------------------------------------------------------------
# Per-entity time-series chain steps (reference custom_calculator
# peak_detection :1299-1365 / active_periods :1421-1520).  Plain-python
# mirrors applied per Arrow batch from the pipeline's transform_chain —
# the arrays are one year of months per entity, so the work is pure
# per-row dict assembly; the reference's engine-level behaviors
# (auto threshold = mean+std, min-distance gating, prominence check,
# run-length active periods, modular labels) are line-faithful.
# ---------------------------------------------------------------------------

def peak_detection_series(values: "list[float]", threshold=None,
                          min_distance: int = 1,
                          prominence: float = 0.0) -> dict:
    """One series -> the reference's peak payload (value/count/heights/
    threshold/mean/std/min/max)."""
    import numpy as np

    ts = np.asarray(values, dtype=float)
    thr = float(np.mean(ts) + np.std(ts)) if threshold is None \
        else float(threshold)
    peaks: list[int] = []
    heights: list[float] = []
    for i in range(1, len(ts) - 1):
        if ts[i] > ts[i - 1] and ts[i] > ts[i + 1] and ts[i] >= thr:
            if not peaks or i - peaks[-1] >= min_distance:
                left_min = np.min(ts[max(0, i - min_distance):i]) \
                    if i > 0 else ts[0]
                right_min = np.min(ts[i + 1:min(len(ts),
                                                i + min_distance + 1)]) \
                    if i < len(ts) - 1 else ts[-1]
                if ts[i] - max(left_min, right_min) >= prominence:
                    peaks.append(i)
                    heights.append(float(ts[i]))
    return {"value": peaks, "count": len(peaks), "heights": heights,
            "threshold": thr, "mean": float(np.mean(ts)),
            "std": float(np.std(ts)), "min": float(np.min(ts)),
            "max": float(np.max(ts))}


def peak_detection_dict(series: "dict[str, list[float]]", threshold=None,
                        min_distance: int = 1,
                        prominence: float = 0.0) -> dict:
    return {k: peak_detection_series(v, threshold, min_distance, prominence)
            for k, v in series.items()}


def active_periods_dict(series: "dict[str, list[float]]",
                        threshold: float = 0.0, min_duration: int = 1,
                        labels: "list[str] | None" = None) -> dict:
    """Run-length active periods per series (reference payload shape)."""
    import numpy as np

    labels = labels or [str(i + 1) for i in range(12)]
    results = {}
    for name, vals in series.items():
        values = np.asarray(vals, dtype=float)
        active = values > threshold
        periods: list[tuple[int, int, int]] = []
        start = None
        for i, a in enumerate(active):
            if a and start is None:
                start = i
            elif not a and start is not None:
                if i - start >= min_duration:
                    periods.append((start, i - 1, i - start))
                start = None
        if start is not None and len(values) - start >= min_duration:
            periods.append((start, len(values) - 1, len(values) - start))
        formatted = [{
            "start": int(s), "end": int(e), "duration": int(d),
            "start_label": labels[s % len(labels)],
            "end_label": labels[e % len(labels)],
            "mean_value": float(np.mean(values[s:e + 1])),
            "max_value": float(np.max(values[s:e + 1])),
        } for s, e, d in periods]
        results[name] = {
            "periods": formatted, "count": len(formatted),
            "total_active_duration": sum(p[2] for p in periods),
            "activity_percentage": (float(active.sum()) / len(values) * 100
                                    if len(values) else 0),
        }
    return {"value": results, "series_count": len(results),
            "threshold": threshold, "min_duration": min_duration}


# ---------------------------------------------------------------------------
# chain-context custom_calculator: the PURE (params-only) operations.
# Per-entity python kernels mirroring the reference's result shapes
# bit-for-bit (numpy arithmetic on the same arrays is bit-identical, and
# float()/int() typing + key sets follow each reference method), so a
# transform_chain step can run them inside mapInPandas over the resolved
# per-entity docs.  Reference: transformers/ecological/custom_calculator.py
# (_array_division :1112, _array_multiplication :483, _normalize_array
# :535, _weighted_sum :627, _shannon_entropy :712, _pielou_evenness :765,
# _sum_array_slice :808, _ratio_calculation :885, _resilience_score
# :1026, _conformity_index :1668).

CC_PURE_OPS = frozenset({
    "array_division", "array_multiplication", "normalize_array",
    "weighted_sum", "shannon_entropy", "pielou_evenness",
    "sum_array_slice", "ratio_calculation", "conformity_index",
    "resilience_score",
})


def cc_pure_op(op: str, params: dict) -> dict:
    """Run one pure custom_calculator operation over RESOLVED params."""
    import numpy as np

    p = dict(params)
    if op == "array_multiplication":
        a1 = np.array(p["array1"], dtype=float)
        a2 = np.array(p["array2"], dtype=float)
        if a1.size != a2.size and a2.size != 1:
            raise ValueError("arrays must match, or array2 scalar")
        scale = p.get("scale_factor", 1.0)
        result = (a1 * a2[0] * scale if a2.size == 1
                  else np.multiply(a1, a2) * scale)
        # scale_factor echoes the PARAM (yaml int stays int, :525)
        return {"values": result.tolist(), "scale_factor": scale}
    if op == "array_division":
        num = np.array(p["numerator"], dtype=float)
        den = np.array(p["denominator"], dtype=float)
        if num.shape != den.shape:
            raise ValueError("arrays must have the same dimensions")
        scale = float(p.get("scale_factor", 1.0))
        default = float(p.get("default_value", 0.0))
        with np.errstate(divide="ignore", invalid="ignore"):
            result = np.divide(num, den)
            result = np.where(np.isfinite(result), result, default)
        result = result * scale
        return {"value": result.tolist(), "mean": float(np.mean(result)),
                "min": float(np.min(result)), "max": float(np.max(result)),
                "sum": float(np.sum(result))}
    if op == "normalize_array":
        arr = np.array(p["input"], dtype=float)
        method = p.get("method", "minmax")
        if method == "minmax":
            mn = p.get("min_value", arr.min())
            mx = p.get("max_value", arr.max())
            normalized = (np.zeros_like(arr) if mx == mn
                          else (arr - mn) / (mx - mn))
            return {"values": normalized.tolist(), "min": float(mn),
                    "max": float(mx), "method": method}
        if method == "zscore":
            mean, std = np.mean(arr), np.std(arr)
            normalized = (np.zeros_like(arr) if std == 0
                          else (arr - mean) / std)
            return {"values": normalized.tolist(), "mean": float(mean),
                    "std": float(std), "method": method}
        if method == "percentage":
            total = np.sum(arr)
            normalized = (np.zeros_like(arr) if total == 0
                          else (arr / total) * 100)
            return {"values": normalized.tolist(), "total": float(total),
                    "method": method}
        raise ValueError(f"unsupported normalization method: {method}")
    if op == "weighted_sum":
        values_config = p["values"]
        if not isinstance(values_config, list):
            raise ValueError("'values' must be a list of dicts")
        wsum = 0.0
        total_weight = 0.0
        for item in values_config:
            if not isinstance(item, dict) or "value" not in item:
                raise ValueError("each element needs a 'value' key")
            value = float(item["value"])
            weight = float(item.get("weight", 1.0))
            if "max" in item:
                mx = float(item["max"])
                value = value / mx if mx > 0 else 0
            wsum += value * weight
            total_weight += weight
        result = wsum / total_weight if total_weight > 0 else 0.0
        norm = p.get("normalization")
        if norm and isinstance(norm, list) and len(norm) == 2:
            result = norm[0] + (norm[1] - norm[0]) * result
        return {"value": float(result), "weighted_sum": float(wsum),
                "total_weight": float(total_weight)}
    if op == "shannon_entropy":
        probs = np.array(p["probabilities"], dtype=float)
        normalize = p.get("normalize", True)
        if normalize or abs(np.sum(probs) - 1.0) > 1e-6:
            total = np.sum(probs)
            if total > 0:
                probs = probs / total
        with np.errstate(divide="ignore", invalid="ignore"):
            log_probs = np.log2(probs)
            log_probs[~np.isfinite(log_probs)] = 0
            entropy = -np.sum(probs * log_probs)
        non_zero = np.count_nonzero(probs)
        max_entropy = np.log2(non_zero) if non_zero > 0 else 0
        return {"value": float(entropy), "max_entropy": float(max_entropy),
                "classes_count": int(len(probs)),
                "non_zero_classes": int(non_zero)}
    if op == "pielou_evenness":
        shannon = float(p["shannon_entropy"])
        max_bins = int(p["max_bins"])
        max_entropy = np.log2(max_bins) if max_bins > 0 else 0
        evenness = shannon / max_entropy if max_entropy > 0 else 0
        return {"value": float(evenness), "shannon_entropy": shannon,
                "max_entropy": float(max_entropy), "max_bins": max_bins}
    if op == "sum_array_slice":
        arr = np.array(p["array"], dtype=float)
        start = int(p["start_index"])
        end = int(p.get("end_index", len(arr)))
        if start < 0 or start >= len(arr):
            raise ValueError(f"invalid start index: {start}")
        if end < start or end > len(arr):
            raise ValueError(f"invalid end index: {end}")
        slice_sum = np.sum(arr[start:end])
        mode = p.get("total", "sum")
        if mode == "sum":
            total = np.sum(arr)
        elif mode == "len":
            total = len(arr)
        elif mode == "value":
            total = float(p.get("total_value", np.sum(arr)))
        else:
            raise ValueError(f"unsupported total mode: {mode}")
        ratio = slice_sum / total if total > 0 else 0
        return {"value": float(ratio), "slice_sum": float(slice_sum),
                "total": float(total), "start_index": start,
                "end_index": end}
    if op == "ratio_calculation":
        num = float(p["numerator"])
        den = float(p["denominator"])
        scale = float(p.get("scale_factor", 1.0))
        ratio = (num / den) * scale if den != 0 else 0
        return {"value": float(ratio), "numerator": num,
                "denominator": den, "scale_factor": scale}
    if op == "conformity_index":
        # :1668-1783 — observed/reference arrays (scalars promoted),
        # per-method differences, tolerance classification
        obs, ref = p["observed"], p["reference"]
        obs = (np.array([float(obs)]) if not isinstance(obs, (list,
                                                             np.ndarray))
               else np.array(obs, dtype=float))
        ref = (np.array([float(ref)]) if not isinstance(ref, (list,
                                                              np.ndarray))
               else np.array(ref, dtype=float))
        if obs.shape != ref.shape:
            raise ValueError("observed/reference dimensions differ")
        tolerance = float(p.get("tolerance", 10.0))
        method = p.get("method", "relative")
        if method == "absolute":
            differences = obs - ref
        elif method == "relative":
            with np.errstate(divide="ignore", invalid="ignore"):
                rel = np.where(ref != 0, (obs - ref) / ref * 100, np.inf)
                rel = np.where(np.isfinite(rel), rel, 0)
            differences = rel
        elif method == "percentage":
            with np.errstate(divide="ignore", invalid="ignore"):
                pct = np.where(ref != 0, obs / ref * 100, np.inf)
                pct = np.where(np.isfinite(pct), pct, 0)
            differences = pct - 100
        else:
            raise ValueError(f"unknown method: {method}")
        conformity = np.abs(differences) <= tolerance
        n_ok, n_tot = np.sum(conformity), len(conformity)
        pct_ok = (n_ok / n_tot * 100) if n_tot > 0 else 0
        cls = ("Excellent" if pct_ok >= 90 else
               "Good" if pct_ok >= 75 else
               "Moderate" if pct_ok >= 50 else
               "Poor" if pct_ok >= 25 else "Very poor")
        return {"value": float(pct_ok), "class": cls,
                "conforming_count": int(n_ok), "total_count": int(n_tot),
                "differences": differences.tolist(), "method": method,
                "tolerance": tolerance}
    if op == "resilience_score":
        # :1026-1103 — fixed-weight CSR + normalized diversity score
        csr = p["csr_values"]
        if not isinstance(csr, dict):
            raise ValueError("'csr_values' must be a dictionary")
        c = float(csr.get("competitive", 0))
        s = float(csr.get("stress_tolerant", 0))
        r = float(csr.get("ruderal", 0))
        diversity = float(p["functional_diversity"])
        substrate = p.get("substrate_type", "NUM")
        factor = 0.8 if substrate == "UM" else 1.0
        norm_div = min(1.0, diversity / 5.0)
        score = (20 * c + 10 * s + 40 * r + 30 * norm_div) * factor
        cls = ("Very high" if score >= 80 else
               "High" if score >= 60 else
               "Medium" if score >= 40 else
               "Low" if score >= 20 else "Very low")
        return {"value": float(score), "class": cls,
                "factors": {"competitive": c, "stress_tolerant": s,
                            "ruderal": r,
                            "functional_diversity": diversity,
                            "substrate_factor": factor}}
    raise ValueError(f"not a pure custom_calculator op: {op!r}")
