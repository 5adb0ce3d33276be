"""Distributed PCA over an embedding column — whitening / compression /
visualization for the vector lane (similarity.py, quantization.py).

Spark-first shape: PCA on n x d data needs only the d-vector column sum
and the d x d Gram matrix X'X, both of which are ASSOCIATIVE sums —
perfect map-side partial aggregation:

    partials = one numpy (batch'batch) Gram per Arrow batch
               (mapInPandas — a d x d matrix per batch, never n x n)
    totals   = posexplode -> groupBy(position) sum — a (d + d*d)-row
               shuffle, CONSTANT in n
    eigh     = driver numpy on the d x d covariance (d is small by
               contract: embedding dims, not rows)

So the corpus is read once, the shuffle is O(d^2) regardless of scale,
and only the tiny spectral step is centralized — the standard
tall-skinny PCA decomposition.  Projection is one Arrow-batched matmul
per batch against the broadcast component matrix (the cosine_topk_blas
pattern).

Sign convention: each component is flipped so its largest-|coordinate|
entry is positive — eigenvector sign is otherwise arbitrary and would
break reproducibility across BLAS builds.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from niamoto_spark.registry import PluginType, register


def _moment_totals(df: DataFrame, vec_col: str,
                   d: int) -> tuple[int, "np.ndarray", "np.ndarray"]:
    """(n, column-sum vector, Gram matrix X'X) via the map-side partial
    aggregation described in the module docstring — the one distributed
    computation PCA needs."""
    part_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("s", T.ArrayType(T.DoubleType())),
        T.StructField("g", T.ArrayType(T.DoubleType())),
    ])

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array(list(pdf[vec_col]), dtype=np.float64)
            yield pd.DataFrame({
                "n": [x.shape[0]],
                "s": [x.sum(axis=0).tolist()],
                "g": [(x.T @ x).ravel().tolist()],
            })

    # pinned NULL semantic: moments are over the non-null-vector
    # population (a NULL embedding contributes to no sum; oracles carry
    # the same WHERE ... IS NOT NULL)
    p = (df.select(vec_col).where(F.col(vec_col).isNotNull())
         .mapInPandas(partials, schema=part_schema))
    # O(d^2)-row reduction: one row per (matrix position), summed JVM-side
    totals = (p.select("n", F.posexplode(
                  F.concat(F.col("s"), F.col("g"))).alias("pos", "v"))
              .groupBy("pos")
              .agg(F.sum("v").alias("v"), F.sum("n").alias("np")))
    rows = totals.collect()
    # every pos row sums over the same set of batches, so each carries
    # the identical total row count
    n = int(rows[0]["np"])
    flat = np.zeros(d + d * d)
    for r in rows:
        flat[r["pos"]] = r["v"]
    return n, flat[:d], flat[d:].reshape(d, d)


def pca_fit(df: DataFrame, vec_col: str, k: int) -> dict:
    """Fit PCA; returns {mean, components (k x d, rows = components),
    explained_variance, explained_variance_ratio, n}."""
    # dimension probe over rows WITH vectors: the first row may hold
    # a NULL embedding (rate-0.3 NULL probe find) even though the
    # moment passes already exclude them
    first = df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
    if first is None:
        raise ValueError("pca_fit: empty input")
    d = len(first[0])
    if not 1 <= k <= d:
        raise ValueError(f"k must be in [1, {d}]")

    n, s, g = _moment_totals(df, vec_col, d)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)       # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T                # k x d
    ev = evals[order]
    # deterministic sign: largest-|entry| coordinate positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total_var = float(np.trace(cov))
    return {"mean": mean.tolist(), "components": comps.tolist(),
            "explained_variance": ev.tolist(),
            "explained_variance_ratio": (ev / total_var).tolist(),
            "n": n}


def pca_variance_report(df: DataFrame, vec_col: str, k: int,
                        round_dp: int = 4) -> DataFrame:
    """(component, explained_variance, explained_variance_ratio,
    cumulative_ratio) as a DataFrame — the scree summary."""
    model = pca_fit(df, vec_col, k)
    spark = df.sparkSession
    rows, cum = [], 0.0
    for i, (v, r) in enumerate(zip(model["explained_variance"],
                                   model["explained_variance_ratio"])):
        cum += r
        rows.append((i, round(v, round_dp), round(r, round_dp),
                     round(cum, round_dp)))
    return spark.createDataFrame(
        rows, "component int, explained_variance double, "
              "explained_variance_ratio double, cumulative_ratio double")


@register("covariance_profile", PluginType.TRANSFORMER)
def covariance_profile(df: DataFrame, vec_col: str,
                       round_dp: int = 6,
                       two_pass: bool = False) -> DataFrame:
    """Per-dimension (dim, mean, variance) from the SAME distributed
    Gram/mean partial path ``pca_fit`` uses — the value-oracle surface
    for PCA's distributed piece (q352).  The eigendecomposition is
    driver-side LAPACK (numpy-parity-tested; no SQL equivalent), but
    the covariance ASSEMBLY is what actually runs on the cluster at
    100 TB, and its diagonal is exactly ``var_samp`` per dimension —
    SQL-checkable.  Variance uses the same (G − n·μμ')/(n−1) algebra
    as the fit, so a pass here certifies the fit's input matrix.

    Numerical caveat: (G − n·μμ')/(n−1) is the one-pass moment formula
    and cancels catastrophically when |μ| >> σ (float32 inputs with
    means ~1e2 and σ ~1e-3 lose most significant digits).  That regime
    is wrong for embedding columns (which are ~zero-centered by
    construction) — for such data pass ``two_pass=True``: a first
    d-row pass computes the mean, the Gram pass then runs over
    CENTERED batches (mean broadcast to executors), trading one extra
    corpus read for full stability.  The shifted-mean parity tests pin
    both variants."""
    first = df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
    if first is None:
        raise ValueError("covariance_profile: empty input")
    d = len(first[0])
    if two_pass:
        n0, s0, _ = _moment_totals(df, vec_col, d)
        mu = s0 / n0
        bmu = df.sparkSession.sparkContext.broadcast(mu)
        centered_schema = T.StructType(
            [T.StructField("vec_id", T.LongType()),
             T.StructField(vec_col, T.ArrayType(T.DoubleType()))])

        def center(batches):
            m = bmu.value
            for pdf in batches:
                if pdf.empty:
                    continue
                x = np.array(list(pdf[vec_col]), dtype=np.float64) - m
                yield pd.DataFrame({"vec_id": range(len(x)),
                                    vec_col: list(x)})

        centered = df.select(vec_col).mapInPandas(
            center, schema=centered_schema)
        n, s, g = _moment_totals(centered, vec_col, d)
        mean = mu + s / n            # s/n is the residual (~0)
        var = (np.diag(g) - n * (s / n) ** 2) / max(n - 1, 1)
    else:
        n, s, g = _moment_totals(df, vec_col, d)
        mean = s / n
        var = (np.diag(g) - n * mean * mean) / max(n - 1, 1)
    spark = df.sparkSession

    def rnd(x: float) -> float:
        # half-away-from-zero (SQL ROUND); Python round() is banker's
        # and flips exact .5 boundaries against the DuckDB oracle
        q = 10 ** round_dp
        import math as _m
        return (_m.floor(x * q + 0.5) if x >= 0
                else _m.ceil(x * q - 0.5)) / q

    rows = [(i, rnd(float(mean[i])), rnd(float(var[i])))
            for i in range(d)]
    return spark.createDataFrame(
        rows, "dim int, mean double, variance double")
