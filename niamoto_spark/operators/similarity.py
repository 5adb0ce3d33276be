"""Similarity search over embedding columns (array<float>).

Two strategies (BASELINE.json north star):
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.  The
  cross join is blocked by broadcasting the (small) query set; each executor
  scans its slice of the corpus once.  At 100 TB the corpus side stays
  partitioned and never shuffles.
- ``ivf_topk``: IVF-style approximate search — corpus vectors are assigned
  to the nearest of C centroids (a broadcast argmin), queries probe the
  ``nprobe`` nearest centroid buckets only, so the candidate scan shrinks by
  ~C/nprobe.  Centroids come from a deterministic sample (no MLlib KMeans
  dependency in the hot path, though plugging one in is a one-liner).

Everything is built from higher-order functions (zip_with/aggregate) — no
Python UDFs; dot products run in the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from niamoto_spark.functions import (cosine_from_norms, cosine_similarity,
                                     fan_out, vector_norm)
from niamoto_spark.operators.dedup import _log_dropped_async
from niamoto_spark.registry import PluginType, register


def _non_null_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Pinned NULL semantic for every vector lane: a row with a NULL id or
    a NULL vector cannot participate in similarity (cosine is undefined and
    a NULL id can never be reported), so it is excluded from corpus AND
    queries up front.  Oracles pin the same WHERE clause."""
    return df.where(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())


@register("cosine_topk", PluginType.TRANSFORMER)
def cosine_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                vec_col: str, k: int = 10,
                round_dp: int | None = 6) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Output: (query_id, neighbor_id, similarity, rank), rank 1..k, excluding
    self-matches.  Ties break deterministically by neighbor id (similarity
    quantized to ``round_dp`` first so rankings are reproducible across
    engines and partitionings).
    """
    q = _non_null_vectors(queries, id_col, vec_col) \
        .select(F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("q_vec"))
    corpus = _non_null_vectors(corpus, id_col, vec_col)
    # min_bytes=0: the HOF cosine runs as interpreted lambdas (never
    # whole-stage codegen), so this lane is CPU-bound even on sub-MB
    # corpora — paired A/B at sf0.1: best 0.97s -> 0.61s at 1 -> 32
    # tasks.  The BLAS/mapInPandas variants below keep the default byte
    # floor: numpy batches are efficient single-partition and spreading
    # them measured SLOWER (0.51s -> 0.82s, per-task Arrow overhead).
    c = fan_out(corpus.select(F.col(id_col).alias("neighbor_id"),
                              F.col(vec_col).alias("c_vec")),
                min_bytes=0)
    # Norms hoisted out of the cross join (guide §1.2: Catalyst has no
    # cross-row CSE, so an inline norm re-runs the full array aggregate
    # for every PAIR): computed once per corpus row / once per query row,
    # bit-identical — same expression tree over the same values, same
    # dot/(na*nb) association as cosine_similarity.
    q = q.withColumn("__qn", vector_norm("q_vec"))
    c = c.withColumn("__cn", vector_norm("c_vec"))
    sim = cosine_from_norms("q_vec", "c_vec", "__qn", "__cn")
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    scored = (c.crossJoin(F.broadcast(q))
               .where(F.col("query_id") != F.col("neighbor_id"))
               .withColumn("similarity", sim))
    w = Window.partitionBy("query_id").orderBy(F.col("similarity").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "similarity", "rank"))


@register("cosine_topk_blas", PluginType.TRANSFORMER)
def cosine_topk_blas(corpus: DataFrame, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 10,
                     round_dp: int | None = 4) -> DataFrame:
    """Exact top-k cosine neighbors via Arrow-batched numpy matmul.

    The scale path for brute-force ANN: the query matrix (small) is
    broadcast; each Arrow batch of corpus vectors becomes one BLAS
    ``corpus_batch @ queries.T`` — orders of magnitude fewer interpreter
    steps than per-element higher-order functions.  Per-batch partial top-k
    keeps the shuffle tiny: only (batches x queries x k) candidate rows
    reach the final window.

    Same output contract as ``cosine_topk``; similarities are quantized to
    ``round_dp`` so BLAS summation order cannot perturb the ranking.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    corpus = _non_null_vectors(corpus, id_col, vec_col)
    q_rows = _non_null_vectors(queries, id_col, vec_col) \
        .select(id_col, vec_col).collect()
    spark = corpus.sparkSession
    if not q_rows:
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, similarity double, rank int")
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat))

    out_schema = T.StructType([
        T.StructField("query_id", queries.schema[id_col].dataType, False),
        T.StructField("neighbor_id", corpus.schema[id_col].dataType, False),
        T.StructField("similarity", T.DoubleType(), True),
    ])

    def batch_topk(batches):
        qi, qm = bq.value
        for pdf in batches:
            c_ids = pdf[id_col].to_numpy()
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_mat @ qm.T                      # (batch, n_queries)
            if round_dp is not None:
                sims = np.round(sims, round_dp)
            rows = []
            for j in range(sims.shape[1]):
                col = sims[:, j]
                mask = c_ids != qi[j]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) > k:
                    # partial top-k inside the batch (sim desc, id asc)
                    order = np.lexsort((c_ids[cand_idx], -col[cand_idx]))
                    cand_idx = cand_idx[order[:k]]
                for i in cand_idx:
                    rows.append((qi[j].item(), c_ids[i].item(), float(col[i])))
            if rows:
                yield pd.DataFrame(rows, columns=["query_id", "neighbor_id",
                                                  "similarity"])

    partial = fan_out(corpus.select(id_col, vec_col)).mapInPandas(
        batch_topk, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("similarity").desc(),
                                               F.col("neighbor_id").asc())
    return (partial.withColumn("rank", F.row_number().over(w))
                   .where(F.col("rank") <= k)
                   .select("query_id", "neighbor_id", "similarity", "rank"))


def _pick_centroids(c: DataFrame, n_centroids: int,
                    use_kmeans: bool) -> DataFrame:
    """Centroid table (centroid_id, cent_vec) from a corpus frame with
    (neighbor_id, c_vec) — deterministic hash sample or seeded KMeans.
    Shared by ivf_topk and the persisted-index build (annindex.py)."""
    spark = c.sparkSession
    if use_kmeans:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = c.select(array_to_vector(
            F.transform("c_vec", lambda v: v.cast("double"))).alias("features"))
        model = KMeans(k=n_centroids, seed=42, maxIter=10).fit(train)
        return spark.createDataFrame(
            [(i, [float(x) for x in center])
             for i, center in enumerate(model.clusterCenters())],
            "centroid_id int, cent_vec array<double>")
    # Deterministic centroid pick without a global single-partition
    # window: the n_centroids smallest xxhash64(id) rows — a distributed
    # TakeOrderedAndProject (per-partition top-k + tiny driver merge),
    # pseudo-random but reproducible.
    picked = (c.withColumn("__h", F.xxhash64("neighbor_id"))
              .orderBy("__h", "neighbor_id").limit(n_centroids)
              .select("c_vec").collect())
    return spark.createDataFrame(
        [(i, [float(x) for x in r["c_vec"]])
         for i, r in enumerate(picked)],
        "centroid_id int, cent_vec array<double>")


def _assign_nearest(df: DataFrame, cents: DataFrame, vec: str, out: str,
                    n: int) -> DataFrame:
    """Tag each row with its ``n`` nearest centroid ids (broadcast
    argmin over the tiny centroid table)."""
    sim = cosine_from_norms(vec, "cent_vec", "__vn", "__centn")
    w = Window.partitionBy(df.columns[0]).orderBy(F.col("__csim").desc(),
                                                  F.col("centroid_id").asc())
    # Row norm hoisted below the centroid cross join: once per row, not
    # once per (row x centroid) — bit-identical (see cosine_topk note).
    return (df.withColumn("__vn", vector_norm(vec))
              .crossJoin(F.broadcast(
                  cents.withColumn("__centn", vector_norm("cent_vec"))))
              .withColumn("__csim", sim)
              .withColumn("__crk", F.row_number().over(w))
              .where(F.col("__crk") <= n)
              .drop("__csim", "__crk", "cent_vec", "__vn", "__centn")
              .withColumnRenamed("centroid_id", out))


def _ivf_score(c_assigned: DataFrame, q_assigned: DataFrame, k: int,
               round_dp: int | None) -> DataFrame:
    """Bucket-join scoring shared by ivf_topk and the persisted index:
    candidates = corpus rows sharing a probed bucket; exact cosine +
    per-query top-k window over candidates only."""
    # Norms hoisted out of the bucket join: once per assigned row instead
    # of once per candidate pair — bit-identical (see cosine_topk note).
    c_assigned = c_assigned.withColumn("__cn", vector_norm("c_vec"))
    q_assigned = q_assigned.withColumn("__qn", vector_norm("q_vec"))
    sim = cosine_from_norms("q_vec", "c_vec", "__qn", "__cn")
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    scored = (c_assigned.join(F.broadcast(q_assigned), "bucket")
                        .where(F.col("query_id") != F.col("neighbor_id"))
                        .withColumn("similarity", sim)
                        .dropDuplicates(["query_id", "neighbor_id"]))
    w = Window.partitionBy("query_id").orderBy(F.col("similarity").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "similarity", "rank"))


@register("ivf_topk", PluginType.TRANSFORMER)
def ivf_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
             vec_col: str, k: int = 10, n_centroids: int = 16,
             nprobe: int = 4, round_dp: int | None = 6,
             use_kmeans: bool = False,
             replication: int = 1) -> DataFrame:
    """Approximate top-k: IVF bucketing by nearest centroid.

    Centroids: deterministic corpus sample (every Nth id) by default, or
    MLlib KMeans with a fixed seed (``use_kmeans=True``) — better-balanced
    buckets, one extra training pass.  Corpus rows are assigned to their
    ``replication`` closest centroids (multi-assignment: index size and
    candidate scan scale by R, recall rises sharply on weakly-clustered
    corpora — the standard IVF replication trade; R=1 is the classic
    exact-partition index); each query probes its ``nprobe`` closest
    centroid buckets.  Same output schema as cosine_topk.
    """
    c = _non_null_vectors(corpus, id_col, vec_col) \
        .select(F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("c_vec"))
    q = _non_null_vectors(queries, id_col, vec_col) \
        .select(F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("q_vec"))
    cents = _pick_centroids(c, n_centroids, use_kmeans)
    c_assigned = _assign_nearest(c, cents, "c_vec", "bucket",
                                 max(replication, 1))
    q_assigned = _assign_nearest(q, cents, "q_vec", "bucket", nprobe)
    return _ivf_score(c_assigned, q_assigned, k, round_dp)


def _auto_n_centroids(n: int) -> int:
    """Centroid count for the ball-cover join: ~sqrt(n), clamped to
    [32, 1024].

    With C ≈ sqrt(n) the self-bucket verification work is
    C * (n/C)² = n^1.5 — a fixed C (round-2's 32) left it (n/C)² ~ n²,
    i.e. still quadratic in corpus size (VERDICT r2 "What's wrong" #1).
    The 1024 cap bounds the centroid literal carried in the plan; past
    that scale use ``method='lsh'`` (approximate, no literal growth).
    """
    import math

    return max(32, min(1024, int(math.ceil(math.sqrt(max(n, 1))))))


def _ball_cover_candidates(corpus: DataFrame, id_col: str, vec_col: str,
                           threshold: float,
                           n_centroids: int | None = None,
                           max_split_rounds: int = 3,
                           max_total_centroids: int = 4096) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from the exact ball-cover
    bucketing — every qualifying pair is present (no false negatives);
    verification (the dot product + threshold) happens in the caller.

    Returns (id_a, id_b, v_a, v_b) with v_* already L2-normalized, so
    verification is a single dot product per pair.  Exposed separately so
    tests can bound the verification-pair cardinality (the scale contract).

    1. Drop zero-norm / null vectors — cosine is undefined for them (the
       old brute-force path yielded NaN similarities that the threshold
       filter discarded; dropping them up front preserves that semantics
       and prevents null buckets from crashing the radii collection).
    2. Pick ``n_centroids`` deterministic centroids (smallest
       xxhash64(id) — a distributed TakeOrderedAndProject).  Default is
       sqrt(corpus) via :func:`_auto_n_centroids`.
    3. Assign every vector to its argmax-cosine centroid with ONE zip_with
       over a centroid-array literal (codegen size is O(1) in C — the
       centroids are data, not code) and record the angular distance.
    4. FAT-BUCKET SPLITTING (VERDICT r2 #1, second half): a bucket whose
       angular radius exceeds the reach defeats the triangle-inequality
       prune — with sqrt(n) hash-picked centroids this happens whenever
       the corpus has more natural clusters than centroids (two distant
       clusters share a bucket and its radius spans them).  Up to
       ``max_split_rounds`` times: pick extra centroids from inside each
       fat bucket (deterministic smallest-hash among points further than
       reach/2 from the current centroid) and re-assign.  Each round is
       one linear pass; centroid count is capped at
       ``max_total_centroids`` (the array literal is data, but per-row
       assignment cost is O(C)).
    5. Keep only bucket pairs (i, j) whose centroid angle can host a
       qualifying pair: angle(c_i, c_j) <= r_i + r_j + arccos(threshold)
       + eps (triangle inequality on the sphere — exact, no pruning of
       true pairs).  The C x C pruning runs as one numpy gram matrix.
    6. Equi-join corpus sides on the surviving (bucket_a, bucket_b) list —
       broadcast of the tiny pair table + one shuffle keyed by bucket;
       never a CartesianProduct (plan-contract guarded).

    Frames are materialized with ``localCheckpoint(eager=True)`` rather
    than ``persist()``: checkpoint blocks are released by the
    ContextCleaner when the result goes out of scope — no CacheManager
    entry to leak (ADVICE r2).  On a multi-executor cluster swap for a
    reliable checkpoint dir.
    """
    import math

    import numpy as np

    from niamoto_spark.functions import l2_normalize

    spark = corpus.sparkSession
    vnorm_of = lambda col: F.sqrt(F.aggregate(  # noqa: E731
        col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    # checkpoint the filtered/normed input ONCE up front: the corpus count
    # (auto centroid sizing), the centroid pick, and the assignment passes
    # below all read it — without this each would recompute the fan_out +
    # norm pipeline from the source (three passes; review r3)
    c = (fan_out(corpus.select(F.col(id_col).alias("vid"),
                               F.col(vec_col).alias("v")))
         .withColumn("__vn", vnorm_of(F.col("v")))
         .where(F.col("__vn") > 0)
         .localCheckpoint(eager=True))
    if n_centroids is None:
        n_centroids = _auto_n_centroids(c.count())
    picked = (c.withColumn("__h", F.xxhash64("vid"))
              .orderBy("__h", "vid").limit(n_centroids)
              .select("v").collect())
    if not picked:
        return spark.createDataFrame(
            [], "id_a bigint, id_b bigint, v_a array<double>, v_b array<double>")
    cents = np.array([[float(x) for x in r["v"]] for r in picked])
    unit_cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    reach = math.acos(max(-1.0, min(1.0, threshold))) + 1e-6

    def _assign(ucents: np.ndarray) -> DataFrame:
        # argmax-cosine centroid as ONE zip_with over a centroid-array
        # literal (array_max over struct(sim, -cid) = sim desc,
        # smallest-cid tiebreak); codegen size is O(1) in C.
        cents_arr = F.array(*[F.lit([float(x) for x in vec])
                              for vec in ucents])
        idxs = F.sequence(F.lit(0), F.lit(len(ucents) - 1))
        best = F.array_max(F.zip_with(
            cents_arr, idxs,
            lambda cv, i: F.struct(
                (F.aggregate(F.zip_with(F.col("v"), cv,
                                        lambda x, y: x.cast("double") * y),
                             F.lit(0.0), lambda acc, x: acc + x)
                 / F.col("__vn")).alias("s"),
                (-i).alias("n"))))
        clamped = F.greatest(F.least(best["s"], F.lit(1.0)), F.lit(-1.0))
        return (c.withColumn("bucket", (-best["n"]).cast("int"))
                 .withColumn("__ang", F.acos(clamped))
                 # normalize ONCE here: pair verification then needs a
                 # single dot product per pair instead of dot + two norms
                 .withColumn("v", l2_normalize(F.col("v")))
                 .select("vid", "v", "bucket", "__ang")
                 .localCheckpoint(eager=True))

    from pyspark.sql import Window

    def _est_work(ucents, radii, sizes):
        """Upper bound on verification pairs implied by an assignment:
        sum of |bucket_i| * |bucket_j| over surviving bucket pairs."""
        live = sorted(radii)
        gram = np.clip(ucents[live] @ ucents[live].T, -1.0, 1.0)
        ang = np.arccos(gram)
        r_vec = np.array([radii[b] for b in live])
        keep = ang <= (r_vec[:, None] + r_vec[None, :] + reach)
        s = np.array([sizes[b] for b in live], dtype=np.float64)
        return float((keep * np.outer(s, s)).sum())

    best_state = None                     # (est_work, assigned, radii, cents)
    for round_no in range(max_split_rounds + 1):
        assigned = _assign(unit_cents)
        stats = assigned.groupBy("bucket").agg(
            F.max("__ang").alias("r"), F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("__ang") <= reach / 2, 1).otherwise(0))
             .alias("n_close")).collect()
        radii = {r["bucket"]: r["r"] for r in stats}
        sizes = {r["bucket"]: r["n"] for r in stats}
        work = _est_work(unit_cents, radii, sizes)
        if best_state is None or work < best_state[0] * 0.7:
            best_state = (work, assigned, radii, unit_cents)
        else:
            # splitting stopped paying (unclusterable data: radii stay
            # above the reach no matter how many centroids) — keep the
            # cheapest assignment seen and stop burning passes
            break
        fat = [b for b, r in radii.items() if r > reach]
        total = sum(sizes.values())
        frac_close = sum(r["n_close"] for r in stats) / max(total, 1)
        if round_no == 0 and frac_close < 0.25:
            # performance heuristic (exactness is unaffected): when almost
            # no point sits within reach/2 of ANY centroid, the corpus has
            # no cluster structure at this threshold — more centroids
            # cannot shrink radii below the reach, so don't burn
            # assignment passes trying (the uniform-embedding case)
            break
        if (not fat or round_no == max_split_rounds
                or len(unit_cents) >= max_total_centroids):
            break
        per_bucket = max(1, (max_total_centroids - len(unit_cents))
                         // max(len(fat), 1))
        w = Window.partitionBy("bucket").orderBy(F.xxhash64("vid"), "vid")
        extras = (assigned
                  .where(F.col("bucket").isin([int(b) for b in fat])
                         & (F.col("__ang") > reach / 2))
                  .withColumn("__rn", F.row_number().over(w))
                  .where(F.col("__rn") <= min(per_bucket, 4))
                  .select("v").collect())
        if not extras:
            break
        new = np.array([[float(x) for x in r["v"]] for r in extras])
        unit_cents = np.vstack([unit_cents, new])  # extras are unit already
    _, assigned, radii, unit_cents = best_state
    live = sorted(radii)
    gram = np.clip(unit_cents[live] @ unit_cents[live].T, -1.0, 1.0)
    angles = np.arccos(gram)
    r_vec = np.array([radii[b] for b in live])
    keep = angles <= (r_vec[:, None] + r_vec[None, :] + reach)
    # both orientations kept: the id_a < id_b filter then retains each
    # cross-bucket pair exactly once
    pairs = [(int(live[i]), int(live[j]))
             for i, j in zip(*np.nonzero(keep))]
    pair_df = spark.createDataFrame(pairs, "ba int, bb int")

    a = assigned.select(F.col("vid").alias("id_a"),
                        F.col("v").alias("v_a"),
                        F.col("bucket").alias("ba"))
    b = assigned.select(F.col("vid").alias("id_b"),
                        F.col("v").alias("v_b"),
                        F.col("bucket").alias("bb"))
    return (a.join(F.broadcast(pair_df), "ba")
             .join(b, "bb")
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "v_a", "v_b"))


def _lsh_band_hashes_numpy(c: DataFrame, planes, lsh_bands: int,
                           band_bits: int) -> DataFrame:
    """Arrow-batched hyperplane signatures: one BLAS ``X @ planes.T``
    per batch replaces bands*bits interpreted-HOF dot products per row
    (the r14 scale lane measured the HOF path at ~30 ms/vector — the
    same interpreted-fold class the r13 minhash/simhash kernels
    eliminated).  Output shape matches the JVM path's exploded
    (vid, v, band, bhash) rows; bit packing is MSB-first like the JVM
    ``acc * 2 + x`` fold."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    bp = c.sparkSession.sparkContext.broadcast(planes)
    weights = (2 ** np.arange(band_bits - 1, -1, -1)).astype(np.int64)
    schema = T.StructType([
        T.StructField("vid", c.schema["vid"].dataType, False),
        T.StructField("v", c.schema["v"].dataType, False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("bhash", T.LongType(), False),
    ])

    def gen(batches):
        planes_t = bp.value.T
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["v"].values])
            bits = (x @ planes_t >= 0).astype(np.int64)
            bh = bits.reshape(len(pdf), lsh_bands, band_bits) @ weights
            yield pd.DataFrame({
                "vid": np.repeat(pdf["vid"].values, lsh_bands),
                "v": np.repeat(pdf["v"].values, lsh_bands),
                "band": np.tile(np.arange(lsh_bands, dtype=np.int32),
                                len(pdf)),
                "bhash": bh.reshape(-1),
            })

    return c.mapInPandas(gen, schema)


def _auto_band_bits(n: int) -> int:
    """Band-bit count scaled to the corpus (r15): a band's bucket
    keyspace is 2^bits sign patterns, so the AVERAGE bucket holds
    ~n/2^bits vectors and banded-join work Σb² grows quadratically in n
    once n >> 2^bits — at a fixed 6 bits the banding saturates (64
    patterns) around a few thousand vectors, and past ~64×cap the
    hot-bucket cap would drop every bucket outright.  Scaling bits with
    log2(n) pins the expected bucket (~64 here) so per-row candidate
    work stays constant; the recall trade is the documented banding
    curve (per-band match (1-θ/π)^bits — e.g. 0.95-cosine pairs match
    a band with p=0.53 at 6 bits, 0.22 at 14 bits; 16 bands keep
    recall ≥ ~98% through 14 bits).  Floor 6 = the historical default
    (small corpora are bit-identical to r14 behavior); cap 24."""
    import math

    return max(6, min(24, math.ceil(math.log2(max(n, 1))) - 6))


def _lsh_near_dup(corpus: DataFrame, id_col: str, vec_col: str,
                  threshold: float, round_dp: int,
                  lsh_bands: int, lsh_band_bits: int | None,
                  seed: int, impl: str = "auto",
                  max_bucket_size: int | None = None) -> DataFrame:
    """Approximate near-dup pairs via sign-random-projection (hyperplane)
    LSH — the 100 TB path when even sqrt(n) centroids is too coarse.

    Each vector gets ``lsh_bands * lsh_band_bits`` sign bits (dot with
    seeded random hyperplanes, computed JVM-side against a plane-array
    literal); bits are packed per band and candidates come from a banded
    self-equi-join on (band, band_hash) — identical shuffle shape to the
    MinHash text path (dedup.py).  A band matches with probability
    (1 - theta/pi)^band_bits, so for theta = arccos(threshold) the miss
    probability decays exponentially in bands.  APPROXIMATE: pairs whose
    every band differs are missed — this is the documented trade for
    never materializing bucket-quadratic verification work.
    """
    import numpy as np

    from niamoto_spark.functions import l2_normalize

    spark = corpus.sparkSession
    vnorm = F.sqrt(F.aggregate(
        F.col("v"), F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))
    c = (fan_out(corpus.select(F.col(id_col).alias("vid"),
                               F.col(vec_col).alias("v")))
         .withColumn("__vn", vnorm).where(F.col("__vn") > 0)
         .withColumn("v", l2_normalize(F.col("v"))).drop("__vn"))
    if lsh_band_bits is None:
        # auto bits need n — fold the count into the same pass as the
        # dim probe (one job; callers pinning bits keep the cheap
        # first-row probe below)
        row = c.agg(F.count(F.lit(1)).alias("n"),
                    F.first(F.size("v")).alias("d")).first()
        if not row["n"]:
            return spark.createDataFrame(
                [], "id_a bigint, id_b bigint, similarity double")
        dim, lsh_band_bits = row["d"], _auto_band_bits(row["n"])
    else:
        first = c.select(F.size("v").alias("d")).first()
        if first is None:
            return spark.createDataFrame(
                [], "id_a bigint, id_b bigint, similarity double")
        dim = first["d"]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((lsh_bands * lsh_band_bits, dim))
    if impl == "auto":
        from niamoto_spark.operators.dedup import _auto_impl
        impl = "jvm" if _auto_impl(corpus) == "hof" else "numpy"
    if impl == "numpy":
        sigs = _lsh_band_hashes_numpy(c, planes, lsh_bands, lsh_band_bits)
    else:
        planes_arr = F.array(*[F.lit([float(x) for x in p])
                               for p in planes])
        bits = F.transform(
            planes_arr,
            lambda p: (F.aggregate(F.zip_with(F.col("v"), p,
                                              lambda x, y: x * y),
                                   F.lit(0.0), lambda acc, x: acc + x)
                       >= 0).cast("long"))
        band_hashes = F.array(*[
            F.aggregate(F.slice(bits, b * lsh_band_bits + 1,
                                lsh_band_bits),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc * 2 + x)
            for b in range(lsh_bands)])
        sigs = c.select("vid", "v",
                        F.posexplode(band_hashes).alias("band", "bhash"))
    if max_bucket_size is not None:
        # hot-bucket cap, same contract as minhash/hamming: a band
        # matching at ~0.75 cosine still matches ~0.21 of the time per
        # 6-bit band, so clustered corpora generate quadratic
        # SUB-threshold candidates without a cap (the r14 scale lane
        # measured per-row cost x2.6 from 1->4x before this); dropped
        # buckets' vectors still pair via their other bands.
        hot = (sigs.select("band", "bhash")
               .groupBy("band", "bhash")
               .agg(F.count(F.lit(1)).alias("__bn"))
               .where(F.col("__bn") > max_bucket_size))
        obs = Observation()
        hot = hot.observe(
            obs, F.coalesce(F.sum("__bn"), F.lit(0))
            .alias("dropped_rows"))
        _log_dropped_async(obs, max_bucket_size,
                           label="embedding_near_dup[lsh]")
        sigs = sigs.join(F.broadcast(hot.drop("__bn")),
                         ["band", "bhash"], "left_anti")
    a = sigs.select(F.col("vid").alias("id_a"), F.col("v").alias("v_a"),
                    "band", "bhash")
    b = sigs.select(F.col("vid").alias("id_b"), F.col("v").alias("v_b"),
                    "band", "bhash")
    dot = F.aggregate(F.zip_with("v_a", "v_b", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    sim = F.round(dot, round_dp)
    return (a.join(b, ["band", "bhash"])
             .where(F.col("id_a") < F.col("id_b"))
             .dropDuplicates(["id_a", "id_b"])
             .withColumn("similarity", sim)
             .where(F.col("similarity") >= threshold)
             .select("id_a", "id_b", "similarity"))


@register("embedding_near_dup", PluginType.TRANSFORMER)
def embedding_near_dup(corpus: DataFrame, id_col: str, vec_col: str,
                       threshold: float = 0.95,
                       round_dp: int = 6,
                       n_centroids: int | None = None,
                       method: str = "exact",
                       lsh_bands: int = 16,
                       lsh_band_bits: int | None = None,
                       seed: int = 42,
                       max_bucket_size: int | None = 1000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold).

    ``method='exact'`` (default): ball-cover bucketed join — EXACT (the
    sf0.01 oracle hash-checks it against brute-force SQL); centroid count
    auto-scales ~sqrt(n) so verification work is ~n^1.5, not n²
    (:func:`_auto_n_centroids`; pass ``n_centroids`` to pin it).
    ``method='lsh'``: hyperplane-LSH banding — approximate, linear-ish
    candidate generation for corpora where even sqrt(n) centroids leaves
    buckets too fat (:func:`_lsh_near_dup`).

    ``max_bucket_size`` (LSH path only; the exact path's ball-cover
    buckets are bounded by construction) caps banded buckets at 1000 by
    DEFAULT — same contract as the minhash/hamming text paths: a 6-bit
    band still matches ~0.21 of the time at 0.75 cosine, so a clustered
    corpus generates bucket-quadratic SUB-threshold verification work
    without the cap (r14 guard find: per-row cost x2.6 from 1->4x
    scale).  Dropped buckets' vectors still pair via their other bands;
    dropped-row counts are observed and logged async.  Pass ``None``
    for exhaustive banding.

    ``lsh_band_bits=None`` (default) scales the band width with the
    corpus (:func:`_auto_band_bits`): a FIXED bit count saturates its
    2^bits-pattern keyspace once n outgrows it — average buckets then
    grow linearly in n (candidate work quadratically) and, past
    ~2^bits × max_bucket_size vectors, the cap would drop every bucket.
    Auto bits pin the expected bucket size so per-row work stays
    constant; small corpora (n ≤ 4096) resolve to the historical 6.
    Pass an int to pin the width (recall follows the banding curve —
    more bits = fewer sub-threshold candidates, lower per-band match
    rate).

    Zero-norm / null vectors are excluded up front (cosine undefined —
    matches the old brute-force path where their NaN similarities never
    passed the threshold).
    """
    if method == "lsh":
        return _lsh_near_dup(corpus, id_col, vec_col, threshold, round_dp,
                             lsh_bands, lsh_band_bits, seed,
                             max_bucket_size=max_bucket_size)
    if method != "exact":
        raise ValueError(f"unknown embedding_near_dup method: {method!r}")
    cand = _ball_cover_candidates(corpus, id_col, vec_col, threshold,
                                  n_centroids)
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    sim = F.round(dot, round_dp)
    return (cand.withColumn("similarity", sim)
                .where(F.col("similarity") >= threshold)
                .select("id_a", "id_b", "similarity"))


@register("semantic_dedup", PluginType.TRANSFORMER)
def semantic_dedup(corpus: DataFrame, id_col: str, vec_col: str,
                   threshold: float = 0.95,
                   strategy: str = "min_neighbor",
                   method: str = "exact",
                   round_dp: int = 6,
                   **near_dup_kwargs) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop rows whose embedding is
    near-duplicate (cosine >= threshold) of a kept row.  Pair generation
    reuses :func:`embedding_near_dup` (exact ball-cover or LSH — never
    all-pairs), so the scale shape is the candidate join's, plus one
    anti-join back to the corpus.

    Keep strategies (both deterministic):
    - ``min_neighbor`` (default): drop a row iff SOME neighbor has a
      smaller id.  Survivors are their neighborhood's local id-minima —
      pure relational algebra, so an oracle can replicate it exactly.
      May keep >1 row of a transitive chain (a~b, b~c, a!~c keeps a AND
      drops b,c — c's dropped neighbor still counts).
    - ``components``: transitive closure — one survivor (min id) per
      connected duplicate cluster, via label-propagation CC (bounded
      iterations; an iterative driver loop, use for moderate cluster
      counts).
    """
    pairs = embedding_near_dup(corpus, id_col, vec_col,
                               threshold=threshold, method=method,
                               round_dp=round_dp, **near_dup_kwargs)
    if strategy == "components":
        from niamoto_spark.operators.components import dedup_keep_components
        return dedup_keep_components(corpus, pairs, id_col)
    if strategy != "min_neighbor":
        raise ValueError(f"unknown semantic_dedup strategy: {strategy!r}")
    # id_a < id_b by contract: every id_b has a smaller-id neighbor
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return corpus.join(drop, id_col, "left_anti")
