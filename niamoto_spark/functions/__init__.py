"""Reusable Column expression helpers (all JVM-side / codegen-friendly).

Everything here returns `pyspark.sql.Column` built from built-in functions —
no Python UDFs — so operators composing these stay inside whole-stage
codegen and scale to 100 TB without serialization overhead.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def fan_out(df, min_factor: int = 4, min_bytes: int = 8 * 1024 * 1024):
    """Repartition a narrow input for CPU-heavy per-row expressions.

    Single-row-group parquet files scan as ONE task no matter how many cores
    exist, which serializes expensive expression work (minhash signatures,
    cosine batches).  When the input has far fewer partitions than the
    cluster's parallelism, spread it; otherwise leave the layout alone (at
    real scale the source is already well-partitioned and the extra shuffle
    would be pure waste — the check makes this a no-op there).

    Inputs smaller than ``min_bytes`` are ALSO left alone: expression
    work on a few MB finishes faster on one core than the repartition's
    extra shuffle stage costs in scheduling latency (the shuffle is only
    worth paying when there is real CPU work to spread).  Unknown sizes
    (non-file sources) fan out — at worst a tiny extra stage.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    parts, nbytes = _est_scan(df)
    if nbytes is not None and nbytes < min_bytes:
        return df
    if parts * min_factor <= target:
        return df.repartition(target)
    return df


def _parse_bytes(s: str) -> int:
    """Spark byte-size strings: '134217728', '128m', '128MB', '1g'."""
    s = s.strip().lower()
    for suffix, mult in (("kb", 2**10), ("mb", 2**20), ("gb", 2**30),
                         ("k", 2**10), ("m", 2**20), ("g", 2**30),
                         ("b", 1)):
        if s.endswith(suffix):
            return int(float(s[:-len(suffix)]) * mult)
    return int(s)


def _est_scan(df) -> tuple[int, int | None]:
    """(estimated partitions, total input bytes or None) WITHOUT
    ``df.rdd`` (the RDD conversion costs ~100ms of driver work per fresh
    plan — pure overhead on the operator hot path).  File-based plans
    estimate from the file listing and ``maxPartitionBytes`` (how Spark
    actually splits scans); non-file plans (in-memory test frames,
    streams) fall back to the RDD probe with unknown bytes."""
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        import os
        from urllib.parse import urlparse

        raw = df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        max_bytes = _parse_bytes(raw)
        total = 0
        for uri in files:
            p = urlparse(uri)
            if p.scheme not in ("file", ""):
                # remote store: sizes unknown here; be conservative and
                # probe the RDD rather than mis-classify a big scan as
                # narrow (a wrong repartition at scale is a full shuffle)
                return df.rdd.getNumPartitions(), None
            try:
                total += os.path.getsize(p.path)
            except OSError:
                return df.rdd.getNumPartitions(), None
        return max(len(files), (total + max_bytes - 1) // max_bytes), total
    return df.rdd.getNumPartitions(), None


def _est_partitions(df) -> int:
    return _est_scan(df)[0]


def _est_logical_bytes(df) -> int | None:
    """Catalyst's optimized-plan ``stats().sizeInBytes`` — the
    union-aware complement to ``_est_scan``.  The file listing DEDUPS
    repeated files, so a plan that unions the same scan N times (or
    explodes rows) reads as 1x there; plan statistics SUM union children
    and propagate through projections, so the same plan reads as Nx.
    Driver-side metadata only, no job.  None when the JVM call is
    unavailable (streaming plans, disposed sessions)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return None


def round2(col: Column | str) -> Column:
    """The reference rounds every float output to 2 decimals (e.g.
    statistical_summary.py:188-216)."""
    return F.round(F.col(col) if isinstance(col, str) else col, 2)


def bin_index(col: Column, edges: Sequence[float]) -> Column:
    """np.histogram bin assignment for explicit ascending edges: bins are
    left-closed/right-open EXCEPT the last, which is closed on both sides
    (reference binned_distribution.py:228 uses np.histogram).  Values
    outside [edges[0], edges[-1]] get NULL.  Pure CASE ladder -> codegen.
    """
    n = len(edges) - 1
    expr = F.lit(None).cast("int")
    # Build from the last bin backwards so earlier WHENs take precedence.
    cases = F.when(
        (col >= F.lit(edges[n - 1])) & (col <= F.lit(edges[n])), F.lit(n - 1)
    )
    for i in range(n - 2, -1, -1):
        cases = cases.when(
            (col >= F.lit(edges[i])) & (col < F.lit(edges[i + 1])), F.lit(i)
        )
    return cases.otherwise(expr)


def py_round2(col: Column) -> Column:
    """Python's ``round(x, 2)`` as a JVM expression: half-even on the
    double's exact binary value (``round(1.095, 2) == 1.09`` because
    1.095 is stored as 1.09499...).  ``format_number`` with a pattern
    string formats through ``java.text.DecimalFormat``, which rounds
    HALF_EVEN on the exact binary expansion (JDK-7131459).  ``bround``
    is not the same: it rounds the shortest decimal repr.  NaN and
    +-inf pass through (the cast would throw on DecimalFormat's
    infinity sign); NULL stays NULL."""
    special = F.isnan(col) | (F.abs(col) == F.lit(float("inf")))
    return F.when(special, col).otherwise(
        F.call_function("format_number", col, F.lit("0.00"))
        .cast("double"))


def shannon_entropy_from_counts(count_col: Column, total_col: Column) -> Column:
    """Per-row term of Shannon entropy H = -sum(p * log2 p) over a counts
    table; zeros contribute nothing (reference custom_calculator.py:712-763
    normalizes to probabilities, uses log2, ignores zeros)."""
    p = count_col.cast("double") / total_col.cast("double")
    return F.when(count_col > 0, -p * F.log2(p)).otherwise(F.lit(0.0))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<float/double> columns using
    higher-order functions (zip_with + aggregate) — runs JVM-side, no UDF.
    Sums accumulate in index order (deterministic)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    return dot / (vector_norm(a) * vector_norm(b))


def vector_norm(a: Column | str) -> Column:
    """L2 norm of an array column — the ``na``/``nb`` term of
    ``cosine_similarity``, exposed so pairwise scorers can compute each
    side's norm ONCE per row instead of once per pair (guide §1.2: don't
    recompute; Catalyst has no cross-row CSE, so the norm inside a
    crossJoin projection re-runs the full array aggregate for every
    pair).  ``cosine_from_norms`` with hoisted norms is bit-identical to
    ``cosine_similarity``: same expression trees over the same values,
    same ``dot / (na * nb)`` association.

    A plain column NAME takes the single-parse ``F.expr`` path: building
    HOF lambdas through the Python API costs ~10-20 py4j round trips
    each (measured ~0.1s of q28's per-run build), where one SQL string
    parses server-side in one call.  The parsed tree is the same
    resolved expression (same casts, same 0.0 double seed, same
    index-order accumulation)."""
    if isinstance(a, str):
        return F.expr(
            f"sqrt(aggregate({a}, 0.0D, "
            "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine_from_norms(a: Column | str, b: Column | str,
                      na: Column | str, nb: Column | str) -> Column:
    """Cosine similarity with both norms already computed (see
    ``vector_norm``): only the dot product runs per pair.  Column NAMES
    take the single-parse expr path (see ``vector_norm``)."""
    if isinstance(a, str) and isinstance(b, str):
        dot = F.expr(
            f"aggregate(zip_with({a}, {b}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
            "(acc, v) -> acc + v)")
    else:
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)
    na = F.col(na) if isinstance(na, str) else na
    nb = F.col(nb) if isinstance(nb, str) else nb
    return dot / (na * nb)


def l2_normalize(a: Column) -> Column:
    norm = F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return F.transform(a, lambda v: v.cast("double") / norm)


def token_array(text: Column) -> Column:
    """Whitespace tokenization with empty-string safety: '' -> []."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(trimmed, r"\s+"))


def token_count(text: Column) -> Column:
    return F.size(token_array(text))


def char_ngrams(text: Column, n: int) -> Column:
    """Character n-gram array via sequence + substr (JVM-side, no UDF).

    Empty / too-short strings yield an empty array (sequence guard keeps the
    upper bound >= 0 so ``sequence`` never reverses direction).
    """
    upper = F.greatest(F.length(text) - (n - 1), F.lit(0))
    return F.filter(
        F.transform(F.sequence(F.lit(1), upper),
                    lambda i: text.substr(i, F.lit(n))),
        lambda g: F.length(g) == n,
    )


def word_shingles(text: Column, k: int) -> Column:
    """k-word shingles from whitespace tokens, JVM-side.

    Documents with fewer than k tokens yield an EMPTY array — the guard is
    explicit because sequence(0, -1) steps DOWNWARD in Spark ([0, -1]),
    which would feed invalid indices to element_at."""
    toks = token_array(text)
    shingles = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]),
    )
    return F.when(F.size(toks) >= k, shingles) \
            .otherwise(F.array().cast("array<string>"))


def hashed_dim_join(fact, dim, fact_key: str, dim_cols,
                    dim_key: str | None = None):
    """Broadcast inner join of a big fact frame against a small dim,
    probe-optimized for STRING keys.

    Spark's broadcast hash joins use the specialized LongHashedRelation
    only when the join key is a single integral column; a string key
    probes a generic UnsafeRow map — measured ~1.5-2.5x slower per fact
    row at 38M rows (and ~7x on long strings, see manifest._apply_dv).
    For string keys this joins on ``xxhash64(key)`` (one long, the fast
    relation) and rechecks real key equality on the (dim-sized) matched
    set, so a 64-bit collision costs a comparison, never a wrong row.
    Integral keys pass through to a plain broadcast join untouched.

    ``dim_cols`` are the dim columns to carry into the output (the dim
    key itself is dropped unless listed).  NULL fact keys never match,
    exactly as in a plain inner equi-join.

    The hashed path requires the two key dtypes to MATCH: a plain
    equi-join implicitly casts mixed types (string '5' matches bigint
    5) but xxhash64 is type-sensitive, so hashing mismatched sides
    would silently drop every such row.  On any dtype mismatch this
    falls back to the plain broadcast equi-join, preserving implicit-
    cast semantics exactly.
    """
    dim_key = dim_key or fact_key
    dtype = dict(fact.dtypes).get(fact_key)
    dim_dtype = dict(dim.dtypes).get(dim_key)
    carried = list(dim_cols)
    if dtype != dim_dtype or dtype in ("tinyint", "smallint", "int",
                                       "bigint", "date"):
        ref = dim.select(F.col(dim_key).alias("__dk"), *carried)
        return (fact.join(F.broadcast(ref),
                          fact[fact_key] == F.col("__dk"), "inner")
                .drop("__dk"))
    ref = dim.select(F.xxhash64(F.col(dim_key)).alias("__kh"),
                     F.col(dim_key).alias("__dk"), *carried)
    return (fact.withColumn("__kh", F.xxhash64(F.col(fact_key)))
            .join(F.broadcast(ref), "__kh", "inner")
            .where(F.col(fact_key) == F.col("__dk"))
            .drop("__kh", "__dk"))
