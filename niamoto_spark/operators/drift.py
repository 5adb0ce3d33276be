"""Distribution-drift metrics between two data slices — the monitoring
layer a 100 TB training-data pipeline runs between snapshots, sources,
or time windows: PSI (population stability index), the two-sample
Kolmogorov-Smirnov statistic, and the chi-square independence test.

Complements the single-series detectors in operators/timeseries.py
(CUSUM/EWMA watch ONE metric over time; these compare WHOLE
distributions).

All three are exact, closed-form, and engine-replayable (full DuckDB
oracles): binning is deterministic arithmetic over reference min/max,
never sampled quantiles; smoothing is add-half, never epsilon-tuned.

Scale shapes:
- PSI: two scans -> one k-bin aggregate each; everything after is
  k-row arithmetic.
- KS: per-value counts (one hash aggregate per side), then prefix sums
  over the DISTINCT values — the only ordered pass is over the
  aggregated value domain, not the rows.  For unbounded-cardinality
  doubles, pre-bucket (e.g. F.round) to bound the domain.
- chi-square: one (r x c) contingency aggregate + broadcast margins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register


@register("population_stability", PluginType.TRANSFORMER)
def population_stability(ref: DataFrame, cur: DataFrame, value_col: str,
                         n_bins: int = 10,
                         round_dp: int = 4) -> DataFrame:
    """Per-bin PSI contributions between a reference and a current
    slice.  Bins are ``n_bins`` equal-width intervals over the
    REFERENCE min/max (current values clamp into the edge bins, the
    standard monitoring convention so new out-of-range mass lands in
    bins 0 / n-1 instead of vanishing); fractions are add-half smoothed
    so empty bins stay finite.

    Output: (bin, p_ref, p_cur, contrib) for every bin, plus the sum
    over contribs IS the PSI (>0.25 = major shift in the usual rule of
    thumb).
    """
    bounds = ref.agg(F.min(value_col).alias("mn"),
                     F.max(value_col).alias("mx")).first()
    mn, mx = float(bounds["mn"]), float(bounds["mx"])
    span = mx - mn if mx > mn else 1.0

    def binned(df: DataFrame, name: str) -> DataFrame:
        b = F.floor((F.col(value_col) - mn) / span * n_bins)
        b = F.least(F.greatest(b, F.lit(0)), F.lit(n_bins - 1))
        return (df.where(F.col(value_col).isNotNull())
                .groupBy(b.cast("int").alias("bin"))
                .agg(F.count(F.lit(1)).alias(name)))

    spark = ref.sparkSession
    all_bins = spark.range(n_bins).select(F.col("id").cast("int")
                                          .alias("bin"))
    j = (all_bins.join(binned(ref, "n_ref"), "bin", "left")
         .join(binned(cur, "n_cur"), "bin", "left")
         .fillna(0, ["n_ref", "n_cur"]))
    tot = Window.partitionBy()
    p = ((F.col("n_ref") + 0.5) /
         (F.sum("n_ref").over(tot) + 0.5 * n_bins))
    q = ((F.col("n_cur") + 0.5) /
         (F.sum("n_cur").over(tot) + 0.5 * n_bins))
    return (j.withColumn("p_ref", F.round(p, round_dp))
             .withColumn("p_cur", F.round(q, round_dp))
             .withColumn("contrib", F.round((p - q) * F.log(p / q),
                                            round_dp))
             .select("bin", "n_ref", "n_cur", "p_ref", "p_cur",
                     "contrib"))


@register("ks_statistic", PluginType.TRANSFORMER)
def ks_statistic(a: DataFrame, b: DataFrame, value_col: str,
                 round_dp: int = 4) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic
    D = sup_x |F_a(x) - F_b(x)|, computed exactly: per-value counts on
    each side, a full-outer merge of the value domains, prefix sums for
    both empirical CDFs, one max.  Returns a single row
    (n_a, n_b, ks_stat)."""
    ca = (a.where(F.col(value_col).isNotNull())
          .groupBy(F.col(value_col).alias("v"))
          .agg(F.count(F.lit(1)).alias("ca")))
    cb = (b.where(F.col(value_col).isNotNull())
          .groupBy(F.col(value_col).alias("v"))
          .agg(F.count(F.lit(1)).alias("cb")))
    m = ca.join(cb, "v", "full_outer").fillna(0, ["ca", "cb"])
    w = (Window.partitionBy().orderBy("v")
         .rowsBetween(Window.unboundedPreceding, 0))
    tot = Window.partitionBy()
    fa = F.sum("ca").over(w) / F.sum("ca").over(tot)
    fb = F.sum("cb").over(w) / F.sum("cb").over(tot)
    return (m.select(F.sum("ca").over(tot).alias("n_a"),
                     F.sum("cb").over(tot).alias("n_b"),
                     F.abs(fa - fb).alias("d"))
            .groupBy("n_a", "n_b")
            .agg(F.round(F.max("d"), round_dp).alias("ks_stat")))


@register("chi_square_independence", PluginType.TRANSFORMER)
def chi_square_independence(df: DataFrame, col_a: str, col_b: str,
                            round_dp: int = 4) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns: contingency counts, margin-product expectations, one
    summed statistic.  Returns (chi2, dof, n) — the caller compares
    chi2 against the chi-square quantile for dof.

    Computed via the identity chi2 = n · (Σ_cells o²/(ra·rb) − 1),
    which needs only the OBSERVED cells: an unobserved (a, b) cell
    still contributes (0 − E)²/E to the textbook sum, but contributes
    exactly 0 to Σ o²/(ra·rb) — the identity absorbs the zero cells a
    naive observed-cell loop silently drops (that omission
    under-reports chi2 on sparse tables, e.g. halving it on a
    perfectly-associated 2×2)."""
    obs = (df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
           .groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
           .agg(F.count(F.lit(1)).alias("o")))
    ra = obs.groupBy("a").agg(F.sum("o").alias("ra"))
    rb = obs.groupBy("b").agg(F.sum("o").alias("rb"))
    n = obs.agg(F.sum("o")).first()[0]
    stat = (obs.join(F.broadcast(ra), "a").join(F.broadcast(rb), "b")
            .select((F.col("o") * F.col("o")
                     / (F.col("ra") * F.col("rb"))).alias("t")))
    dof = (ra.count() - 1) * (rb.count() - 1)
    return (stat.agg(F.round(F.lit(float(n)) * (F.sum("t") - 1),
                             round_dp).alias("chi2"))
            .withColumn("dof", F.lit(int(dof)))
            .withColumn("n", F.lit(int(n))))


@register("cramers_v", PluginType.TRANSFORMER)
def cramers_v(df: DataFrame, col_a: str, col_b: str,
              round_dp: int = 4) -> DataFrame:
    """Cramér's V association strength between two categoricals:
    sqrt(chi2 / (n · (min(r, c) − 1))) in [0, 1] — the effect size
    chi_square_independence's raw statistic can't give you (chi2 grows
    with n; V does not), the number a feature-redundancy screen
    actually thresholds.

    Same single contingency aggregate as the chi-square test, same
    zero-cell-exact identity chi2 = n · (Σ o²/(ra·rb) − 1); the
    normalization is arithmetic on the already-tiny margins.  Returns
    (chi2, dof, n, r, c, v)."""
    obs = (df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
           .groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
           .agg(F.count(F.lit(1)).alias("o")))
    ra = obs.groupBy("a").agg(F.sum("o").alias("ra"))
    rb = obs.groupBy("b").agg(F.sum("o").alias("rb"))
    n = obs.agg(F.sum("o")).first()[0]
    r, c = ra.count(), rb.count()
    stat = (obs.join(F.broadcast(ra), "a").join(F.broadcast(rb), "b")
            .select((F.col("o") * F.col("o")
                     / (F.col("ra") * F.col("rb"))).alias("t")))
    k = min(r, c) - 1
    return (stat.agg((F.lit(float(n)) * (F.sum("t") - 1))
                     .alias("__chi2"))
            .select(F.round("__chi2", round_dp).alias("chi2"),
                    F.lit(int((r - 1) * (c - 1))).alias("dof"),
                    F.lit(int(n)).alias("n"),
                    F.lit(int(r)).alias("r"), F.lit(int(c)).alias("c"),
                    F.round(F.when(F.lit(k) > 0,
                                   F.sqrt(F.col("__chi2")
                                          / F.lit(float(n * k))))
                            .otherwise(0.0), round_dp).alias("v")))


@register("embedding_drift", PluginType.TRANSFORMER)
def embedding_drift(ref: DataFrame, cur: DataFrame, vec_col: str,
                    group_col: str | None = None,
                    round_dp: int = 4) -> DataFrame:
    """Embedding-space drift between two corpus slices: per group (or
    overall), the Euclidean distance between slice CENTROIDS and the
    ratio of mean within-slice norms — the cheap first-alarm for "the
    embedding distribution moved" (retrain triggers, upstream encoder
    swaps), where PSI/KS on raw floats per-dim drown in noise.

    Two aggregates (one per slice: per-dim mean via array fold into a
    posexplode-free element-wise avg) + a tiny join — no pairwise
    distances, fully linear.  Returns (group, n_ref, n_cur,
    centroid_dist, norm_ratio)."""
    def side(df, tag):
        g = (F.col(group_col) if group_col else F.lit("all")) \
            .alias("grp")
        ex = df.select(g, F.posexplode(
            F.transform(F.col(vec_col), lambda v: v.cast("double")))
            .alias("dim", "x"))
        per_dim = (ex.groupBy("grp", "dim")
                   .agg(F.avg("x").alias(f"m_{tag}"),
                        F.count(F.lit(1)).alias(f"n_{tag}")))
        return per_dim

    r = side(ref, "ref")
    c = side(cur, "cur")
    j = r.join(c, ["grp", "dim"])
    return (j.groupBy("grp")
            .agg(F.max("n_ref").alias("n_ref"),
                 F.max("n_cur").alias("n_cur"),
                 F.round(F.sqrt(F.sum(
                     (F.col("m_ref") - F.col("m_cur"))
                     * (F.col("m_ref") - F.col("m_cur")))), round_dp)
                 .alias("centroid_dist"),
                 F.round(F.sqrt(F.sum(F.col("m_cur") * F.col("m_cur")))
                         / F.sqrt(F.sum(F.col("m_ref")
                                        * F.col("m_ref"))), round_dp)
                 .alias("centroid_norm_ratio"))
            .withColumnRenamed("grp", group_col or "group"))


@register("emd_1d", PluginType.TRANSFORMER)
def emd_1d(a: DataFrame, b: DataFrame, value_col: str,
           round_dp: int = 4) -> DataFrame:
    """1-D Earth Mover's Distance (Wasserstein-1) between two
    numeric slices: EMD = ∫ |F_a(x) − F_b(x)| dx, computed exactly on
    the merged value domain — the INTEGRAL drift measure that
    complements ks_statistic's supremum (KS sees the worst point; EMD
    sees total displaced mass, so a wide small shift and a narrow big
    shift separate).

    Same shape as KS: per-value counts, full-outer domain merge,
    prefix-sum CDFs, then Σ |ΔF| · gap over consecutive values.
    Ordered pass is over the aggregated domain only; pre-bucket
    unbounded doubles upstream.  Returns (n_a, n_b, emd)."""
    ca = (a.where(F.col(value_col).isNotNull())
          .groupBy(F.col(value_col).cast("double").alias("v"))
          .agg(F.count(F.lit(1)).alias("ca")))
    cb = (b.where(F.col(value_col).isNotNull())
          .groupBy(F.col(value_col).cast("double").alias("v"))
          .agg(F.count(F.lit(1)).alias("cb")))
    m = ca.join(cb, "v", "full_outer").fillna(0, ["ca", "cb"])
    w = (Window.partitionBy().orderBy("v")
         .rowsBetween(Window.unboundedPreceding, 0))
    tot = Window.partitionBy()
    fa = F.sum("ca").over(w) / F.sum("ca").over(tot)
    fb = F.sum("cb").over(w) / F.sum("cb").over(tot)
    nxt = F.lead("v").over(Window.partitionBy().orderBy("v"))
    seg = (m.select(F.sum("ca").over(tot).alias("n_a"),
                    F.sum("cb").over(tot).alias("n_b"),
                    (F.abs(fa - fb)
                     * (F.coalesce(nxt, F.col("v")) - F.col("v")))
                    .alias("seg")))
    return (seg.groupBy("n_a", "n_b")
            .agg(F.round(F.sum("seg"), round_dp).alias("emd")))
