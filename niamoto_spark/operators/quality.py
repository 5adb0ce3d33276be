"""Data-quality expectations: dbt/Great-Expectations-style constraint
checking as Spark aggregations.

A pipeline feeding a 100 TB table needs its contracts (not-null keys,
unique ids, enum domains, value ranges, foreign keys) checked on every
load — and checked CHEAPLY: all row-local rules here compile into ONE
wide aggregate over a single scan (each rule is a ``sum(when(...))``
column), uniqueness adds one count-distinct, and referential rules are
broadcast anti-join counts against the (small) dimension.  Nothing is
collected but the per-rule violation counts.

The reference validates per-row with pydantic models inside its plugin
loaders (src/niamoto/core/plugins/base.py) — per-row Python at 100 TB;
this is the set-oriented re-expression.

Rule forms (dicts):
  {"rule": "not_null", "col": c}
  {"rule": "unique", "cols": [c, ...]}
  {"rule": "accepted_values", "col": c, "values": [...]}
  {"rule": "in_range", "col": c, "lo": x, "hi": y}   # inclusive
  {"rule": "matches", "col": c, "pattern": regex}
  {"rule": "foreign_key", "col": c, "ref": dim_df, "ref_col": k}
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from niamoto_spark.registry import PluginType, register

_ROW_LOCAL = {"not_null", "accepted_values", "in_range", "matches"}


def _rule_name(r: dict) -> str:
    kind = r["rule"]
    if kind == "unique":
        return f"unique({','.join(r['cols'])})"
    return f"{kind}({r['col']})"


def _violation_expr(r: dict):
    kind = r["rule"]
    c = F.col(r["col"])
    if kind == "not_null":
        bad = c.isNull()
    elif kind == "accepted_values":
        bad = c.isNotNull() & ~c.isin(list(r["values"]))
    elif kind == "in_range":
        bad = c.isNotNull() & ((c < F.lit(r["lo"])) | (c > F.lit(r["hi"])))
    elif kind == "matches":
        bad = c.isNotNull() & ~c.rlike(r["pattern"])
    else:
        raise ValueError(f"not a row-local rule: {kind}")
    return F.sum(F.when(bad, 1).otherwise(0))


@register("expect", PluginType.TRANSFORMER)
def expect(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Violation counts per rule: (rule string, n_violations long).

    Plan shape: one aggregate for ALL row-local rules (single scan),
    one distinct-count aggregate per ``unique`` rule (duplicate rows
    beyond the first count as violations), one broadcast anti-join
    count per ``foreign_key`` rule (rows whose key has no referenced
    row; NULL keys are not orphans — use not_null to forbid them)."""
    if not rules:
        raise ValueError("expect: no rules given")
    results: list[tuple[str, int]] = []

    row_local = [r for r in rules if r["rule"] in _ROW_LOCAL]
    if row_local:
        agg = df.agg(*[
            _violation_expr(r).alias(f"__r{i}")
            for i, r in enumerate(row_local)]).first()
        for i, r in enumerate(row_local):
            results.append((_rule_name(r), int(agg[f"__r{i}"] or 0)))

    for r in rules:
        if r["rule"] == "unique":
            cols = list(r["cols"])
            any_null = F.lit(False)
            for c in cols:
                any_null = any_null | F.col(c).isNull()
            counts = df.agg(
                F.count(F.lit(1)).alias("__n"),
                F.countDistinct(*[F.col(c) for c in cols]).alias("__d"),
                F.sum(F.when(any_null, 1).otherwise(0)).alias("__nn")
            ).first()
            # countDistinct drops rows where ANY key column is null;
            # exclude exactly those rows from the duplicate arithmetic
            # (use not_null to forbid nulls in the first place).
            dupes = (int(counts["__n"]) - int(counts["__nn"] or 0)
                     - int(counts["__d"]))
            results.append((_rule_name(r), max(0, dupes)))
        elif r["rule"] == "foreign_key":
            ref = r["ref"].select(
                F.col(r["ref_col"]).alias(r["col"])).distinct()
            orphans = (df.where(F.col(r["col"]).isNotNull())
                       .join(F.broadcast(ref), r["col"], "left_anti")
                       .count())
            results.append((f"foreign_key({r['col']})", int(orphans)))
        elif r["rule"] not in _ROW_LOCAL:
            raise ValueError(f"unknown rule {r['rule']!r}")

    spark = df.sparkSession
    return spark.createDataFrame(results, "rule string, n_violations long")


@register("benford_audit", PluginType.TRANSFORMER)
def benford_audit(df: DataFrame, value_col: str,
                  round_dp: int = 4) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic synthetic-data / fabricated-numbers audit (naturally
    occurring multi-magnitude quantities follow
    P(d) = log10(1 + 1/d); generated or tampered columns usually don't).

    One projection + one 9-group aggregate: digit is extracted in
    closed form as floor(|x| / 10^floor(log10(|x|))) — no string
    formatting, so float representation differences between engines
    can't leak in.  Zeros and nulls are excluded (they have no leading
    significant digit).

    Output: (digit, n, observed, expected, deviation) for digits 1-9,
    fractions rounded to ``round_dp``; deviation = observed - expected.
    """
    import math

    from pyspark.sql import Window

    x = F.abs(F.col(value_col))
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x))))
    per = (df.where(F.col(value_col).isNotNull() & (x > 0))
             .select(digit.cast("int").alias("digit"))
             .groupBy("digit")
             .agg(F.count(F.lit(1)).alias("n")))
    total = Window.partitionBy()
    exp_map = F.create_map(*[
        e for d in range(1, 10)
        for e in (F.lit(d), F.lit(math.log10(1 + 1 / d)))])
    return (per.withColumn("observed",
                           F.col("n") / F.sum("n").over(total))
               .withColumn("expected", exp_map[F.col("digit")])
               .select("digit", "n",
                       F.round("observed", round_dp).alias("observed"),
                       F.round("expected", round_dp).alias("expected"),
                       F.round(F.col("observed") - F.col("expected"),
                               round_dp).alias("deviation")))


@register("table_fingerprint", PluginType.TRANSFORMER)
def table_fingerprint(df: DataFrame, cols: list[str] | None = None,
                      null_sentinel: str = "<NULL>",
                      sep: str = "|") -> DataFrame:
    """Order-independent content fingerprint of a table: one row of
    (n_rows, xor_fp, sum_fp).

    Per row: md5 over the sep-joined string casts of ``cols`` (nulls ->
    ``null_sentinel``); the row hashes are then combined with TWO
    commutative aggregates — bit_xor of the top 60 bits and a
    DECIMAL(38,0) sum of the top 32 bits.  XOR alone is blind to rows
    duplicated an even number of times; together with the sum, a
    difference in either multiset is overwhelmingly likely to flip at
    least one.  Both aggregates are associative-commutative, so the
    fingerprint is independent of partitioning and row order —
    comparable across engines, snapshots and cluster sizes — and
    map-side partial aggregation reduces the whole table to one row per
    partition before the single 1-row shuffle.  DECIMAL(38) holds 1e12
    rows x 2^32 with ~29 digits of headroom.

    Cross-engine caveat (documented contract): pass integer / string /
    date columns, or pre-round doubles to DECIMAL yourself — raw float
    -> string rendering is engine-specific.

    Used by manifest table_diff-style audits: equal fingerprints =>
    tables almost surely identical as multisets, without a full
    sort-compare.
    """
    use = cols or df.columns
    canon = F.concat_ws(
        sep, *[F.coalesce(F.col(c).cast("string"), F.lit(null_sentinel))
               for c in use])
    h = F.md5(canon)
    v60 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    v32 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    return df.select(v60.alias("__v60"), v32.alias("__v32")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor("__v60").alias("xor_fp"),
        F.sum("__v32").cast("decimal(38,0)").alias("sum_fp"))


@register("k_anonymity", PluginType.TRANSFORMER)
def k_anonymity(df: DataFrame, quasi_cols: "list[str]",
                k: int = 5) -> DataFrame:
    """K-anonymity audit over a quasi-identifier combination: a row is
    at risk when its quasi-identifier group has fewer than ``k``
    members (re-identifiable by linkage).  The governance gate a
    training-data release runs before shipping user-derived tables.

    One hash aggregation on the quasi-identifier key; output is a
    1-row report: group counts, at-risk rows, the minimum group size,
    and the k that WOULD hold (min group size) — all exact."""
    groups = (df.groupBy(*quasi_cols)
              .agg(F.count(F.lit(1)).alias("__n")))
    risky = F.when(F.col("__n") < k, F.col("__n")).otherwise(F.lit(0))
    return (groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((F.col("__n") < k).cast("long")).alias("n_risky_groups"),
        F.sum(risky).alias("n_rows_at_risk"),
        F.min("__n").alias("min_group_size"))
        .withColumn("satisfies_k", F.col("n_risky_groups") == 0)
        .withColumn("k_required", F.lit(int(k))))


@register("l_diversity", PluginType.TRANSFORMER)
def l_diversity(df: DataFrame, quasi_cols: "list[str]",
                sensitive_col: str) -> DataFrame:
    """L-diversity audit — k-anonymity's sharper sibling: a
    quasi-identifier group is unsafe even when large if every member
    shares the SAME sensitive value (homogeneity attack: group size 50,
    all with diagnosis X, still leaks X).  l = distinct sensitive
    values inside the group; the release satisfies l-diversity at the
    MINIMUM group l.

    One aggregation on the quasi key (count + count distinct), then a
    histogram over the (small) group table.  Returns one row per
    observed l: (l, n_groups, n_rows, min_group_size) — the profile a
    reviewer reads top-down."""
    groups = (df.groupBy(*quasi_cols)
              .agg(F.count(F.lit(1)).alias("__n"),
                   F.count_distinct(F.col(sensitive_col)).alias("l")))
    return (groups.groupBy("l")
            .agg(F.count(F.lit(1)).alias("n_groups"),
                 F.sum("__n").alias("n_rows"),
                 F.min("__n").alias("min_group_size")))


@register("reconcile_columns", PluginType.TRANSFORMER)
def reconcile_columns(a: DataFrame, b: DataFrame,
                      key_cols: "list[str]",
                      round_dp: int = 4) -> DataFrame:
    """Column-level reconciliation between two keyed tables (source vs
    replica, yesterday vs today): per VALUE column, how many matched
    keys disagree, and the per-side null counts — the drill-down
    table_diff's row-level verdict can't give ("rows changed" ->
    "WHICH columns drift").

    One keyed full-outer join, then one Expand-shaped aggregate over
    (column, flags) — never a scan per column.  Keys present on only
    one side are reported in the special '__presence__' row."""
    val_cols = [c for c in a.columns if c not in key_cols]
    if [c for c in b.columns if c not in key_cols] != val_cols:
        raise ValueError("reconcile_columns: schemas differ")
    ta = a.select(*key_cols,
                  *[F.col(c).alias(f"{c}__a") for c in val_cols],
                  F.lit(1).alias("__pa"))
    tb = b.select(*key_cols,
                  *[F.col(c).alias(f"{c}__b") for c in val_cols],
                  F.lit(1).alias("__pb"))
    j = ta.join(tb, key_cols, "full_outer")
    both = F.col("__pa").isNotNull() & F.col("__pb").isNotNull()
    pieces = []
    for c in val_cols:
        ca, cb = F.col(f"{c}__a"), F.col(f"{c}__b")
        pieces.append(j.select(
            F.lit(c).alias("column"),
            (both & ~ca.eqNullSafe(cb)).cast("long").alias("mism"),
            (both & ca.isNull() & cb.isNotNull()).cast("long")
            .alias("null_a"),
            (both & cb.isNull() & ca.isNotNull()).cast("long")
            .alias("null_b"),
            both.cast("long").alias("matched")))
    presence = j.select(
        F.lit("__presence__").alias("column"),
        F.col("__pb").isNull().cast("long").alias("mism"),   # a-only
        F.col("__pa").isNull().cast("long").alias("null_a"),  # b-only
        F.lit(0).cast("long").alias("null_b"),
        both.cast("long").alias("matched"))
    un = pieces[0]
    for p in pieces[1:]:
        un = un.unionByName(p)
    un = un.unionByName(presence)
    return (un.groupBy("column")
            .agg(F.sum("matched").alias("n_matched"),
                 F.sum("mism").alias("n_mismatch"),
                 F.sum("null_a").alias("n_null_a_only"),
                 F.sum("null_b").alias("n_null_b_only")))
