"""Privacy-preserving release primitives: seeded-Laplace noisy counts
(differential-privacy mechanics) alongside quality.k_anonymity's audit.

The Laplace noise is DERIVED from md5(seed|group) — deterministic and
engine-portable, so the released table is reproducible and the whole
mechanism replays in SQL (q191's oracle).  That determinism is the
right engineering default for pipeline releases (same release twice =
same table; no per-run privacy-budget burn), with the standard caveat
that a cryptographic seed must stay secret for the DP guarantee to
mean anything — the seed is the mechanism's randomness.

u ~ md5-uniform in (0,1);  noise = -(1/eps)·sgn(u-1/2)·ln(1-2|u-1/2|)
gives Laplace(1/eps), the eps-DP mechanism for count queries
(sensitivity 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register


def _md5_uniform(col, seed: str):
    """Uniform (0,1) from the first 13 hex digits of md5(seed|value) —
    13 hex = 52 bits, exactly a double's mantissa, no rounding bias."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(seed), col.cast("string"))),
        1, 13), 16, 10).cast("double")
    return (h + 0.5) / F.lit(float(16 ** 13))


@register("dp_counts", PluginType.TRANSFORMER)
def dp_counts(df: DataFrame, group_cols: "list[str]",
              epsilon: float = 1.0, seed: str = "",
              round_dp: int = 4) -> DataFrame:
    """Per-group counts with Laplace(1/epsilon) noise — one hash
    aggregation plus a pure projection; the noise is a function of the
    group key, so re-running the release never burns extra budget.
    Output: group cols + (true withheld) ``noisy_count``."""
    # the NULL group is a released group too: hash it under an
    # explicit sentinel (concat_ws would silently skip it, and SQL's
    # || would turn the whole key NULL)
    key = F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"),
                                           F.lit("<NULL>"))
                                for c in group_cols])
    counts = (df.groupBy(*group_cols)
              .agg(F.count(F.lit(1)).alias("__n")))
    u = _md5_uniform(key, seed)
    centered = u - F.lit(0.5)
    noise = (-F.lit(1.0 / float(epsilon)) * F.signum(centered)
             * F.log(1.0 - 2.0 * F.abs(centered)))
    return counts.select(
        *group_cols,
        F.round(F.col("__n") + noise, round_dp).alias("noisy_count"))


@register("apply_masking", PluginType.TRANSFORMER)
def apply_masking(df: DataFrame, policy: "dict[str, str]",
                  salt: str = "") -> DataFrame:
    """Column-level masking by policy — the data-sharing view builder
    (complements k_anonymity/dp_counts aggregate guards with
    ROW-preserving protection):

    - 'pseudonym': md5(salt | value) first 12 hex — stable join key,
      irreversible without the salt (same value -> same token, so
      referential integrity across masked tables survives)
    - 'last4': keep the last 4 characters, 'x' out the rest
      (account/phone display convention)
    - 'null': column becomes NULL (full suppression, keeps schema)
    - 'bucket10': numerics floored to the nearest 10 (coarsening)

    Pure projections; unlisted columns pass through untouched."""
    out = df
    for col, kind in policy.items():
        c = F.col(col)
        if kind == "pseudonym":
            m = F.substring(F.md5(F.concat(F.lit(salt),
                                           c.cast("string"))), 1, 12)
        elif kind == "last4":
            n = F.length(c.cast("string"))
            m = F.when(n > 4, F.concat(
                F.repeat(F.lit("x"), (n - 4).cast("int")),
                F.substring(c.cast("string"), -4, 4))) \
                .otherwise(c.cast("string"))
        elif kind == "null":
            m = F.lit(None).cast(dict(df.dtypes)[col])
        elif kind == "bucket10":
            m = (F.floor(c / 10) * 10).cast(dict(df.dtypes)[col])
        else:
            raise ValueError(f"apply_masking: unknown policy {kind!r}")
        out = out.withColumn(col, m)
    return out
