"""Dedup + similarity operators: exactness, LSH recall, cross-checks vs
numpy brute force."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from niamoto_spark.operators import dedup, similarity

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
    (3, "completely different content about spark engines and shuffles"),
    (4, "The  quick brown fox jumps over the lazy dog"),  # ws/case dup of 1
    (5, "totally unrelated words here nothing shared at all"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))


def test_dedup_exact_normalized(docs):
    groups = dedup.dedup_exact(docs, "doc_id", "text").collect()
    dupes = [g for g in groups if g["n_docs"] > 1]
    assert len(dupes) == 1 and dupes[0]["keep_id"] == 1 and dupes[0]["n_docs"] == 2


def test_dedup_exact_keep_filters(docs):
    kept = dedup.dedup_exact_keep(docs, "doc_id", "text")
    assert {r["doc_id"] for r in kept.collect()} == {1, 2, 3, 5}


def test_dedup_exact_precomputed_key_col_matches(docs):
    """r14 optimization contract: hashing ONCE via content_key + key_col
    yields byte-identical groups to the internal per-call hash (the
    planted-dup fixtures hoist the hash above their id explode)."""
    base = {(r["content_hash"], r["keep_id"], r["n_docs"])
            for r in dedup.dedup_exact(docs, "doc_id", "text").collect()}
    keyed = docs.withColumn("__ck", dedup.content_key("text"))
    hoisted = {(r["content_hash"], r["keep_id"], r["n_docs"])
               for r in dedup.dedup_exact(keyed, "doc_id", "text",
                                          key_col="__ck").collect()}
    assert hoisted == base
    # unnormalized twin stays distinct (case/ws dup no longer collapses)
    raw = dedup.dedup_exact(
        docs.withColumn("__rk", dedup.content_key("text", normalize=False)),
        "doc_id", "text", key_col="__rk").collect()
    assert all(r["n_docs"] == 1 for r in raw)


def test_minhash_finds_near_dup_pair(docs):
    pairs = dedup.minhash_lsh_candidates(docs, "doc_id", "text",
                                         num_hashes=64, bands=16,
                                         shingle_k=2,
                                         jaccard_threshold=0.3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got or (1, 4) in got  # near-dups bucket together
    assert all(not (a == 3 and b == 5) for a, b in got)


def test_minhash_estimate_close_to_true_jaccard(docs):
    # ground truth must be BRUTE FORCE, not the (now default) minhash
    # prefilter — otherwise the test compares minhash estimates against
    # minhash-conditioned truth and cannot see an LSH recall regression
    exact = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2,
                                      threshold=0.0, prefilter="none",
                                      allow_all_pairs=True).collect()
    true_j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact}
    est = dedup.minhash_lsh_candidates(docs, "doc_id", "text",
                                       num_hashes=128, bands=32, shingle_k=2,
                                       jaccard_threshold=0.0).collect()
    for r in est:
        key = (r["id_a"], r["id_b"])
        if key in true_j and true_j[key] > 0.5:
            assert abs(r["est_jaccard"] - true_j[key]) < 0.25


def test_simhash_hamming_reflects_similarity(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             dedup.simhash_near_pairs(docs, "doc_id", "text",
                                      max_hamming=20).collect()}
    near = pairs.get((1, 2), pairs.get((1, 4), 99))
    far = pairs.get((3, 5), 99)
    assert near < 20
    assert near < far or far == 99  # dissimilar pair absent or worse


def test_simhash_identical_texts_equal_hash(spark):
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "text": ["same words here", "same words here"]}))
    h = [r["simhash"] for r in dedup.simhash(df, "doc_id", "text").collect()]
    assert h[0] == h[1]


def test_hamming_bucket_cap_subset_and_small_bucket_retention(spark):
    """The r14 scale-guard find: simhash bit correlation makes uncapped
    banding quadratic, so hamming_near_pairs grew max_bucket_size with
    the minhash hot-bucket contract.  Capped pairs must be a SUBSET of
    exhaustive pairs, and pairs whose every shared chunk-bucket is under
    the cap must survive verbatim."""
    import pandas as pd

    # 40 docs sharing chunk 0 (a hot bucket), plus two pairs that agree
    # only via their own small buckets
    rows = []
    for i in range(40):
        # hot bucket: low 16 bits identical, high bits vary beyond
        # max_hamming so they are NOT true near-pairs
        rows.append({"doc_id": i, "h": (i * 0x9E3779B9 << 16) | 0xBEEF})
    rows.append({"doc_id": 100, "h": 0x1234_5678_9ABC_0001})
    rows.append({"doc_id": 101, "h": 0x1234_5678_9ABC_0003})  # hamming 1
    df = spark.createDataFrame(pd.DataFrame(rows))

    exhaustive = {(r["id_a"], r["id_b"]) for r in dedup.hamming_near_pairs(
        df, "doc_id", "h", max_hamming=3).collect()}
    capped = {(r["id_a"], r["id_b"]) for r in dedup.hamming_near_pairs(
        df, "doc_id", "h", max_hamming=3, max_bucket_size=8).collect()}
    assert capped <= exhaustive
    # the small-bucket pair is untouched by the cap
    assert (100, 101) in capped


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(20, 8).astype("float32")
    base[7] = base[3] * 1.001            # near-dup pair (3, 7)
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(20)]
    return (spark.createDataFrame(rows, "vec_id bigint, embedding array<float>"),
            base)


def test_cosine_topk_matches_numpy(vectors):
    df, base = vectors
    out = similarity.cosine_topk(df, df.where(F.col("vec_id") == 0),
                                 "vec_id", "embedding", k=3)
    got = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    norm = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = norm @ norm[0]
    sims[0] = -np.inf
    expect = list(np.argsort(-np.round(sims, 6), kind="stable")[:3])
    assert got == [int(x) for x in expect]


def test_embedding_near_dup_finds_planted_pair(vectors):
    df, _ = vectors
    pairs = similarity.embedding_near_dup(df, "vec_id", "embedding",
                                          threshold=0.999)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(3, 7)}


def test_blas_matches_hof_path(vectors):
    df, _ = vectors
    q = df.where(F.col("vec_id") < 5)
    hof = sorted(map(tuple, similarity.cosine_topk(
        df, q, "vec_id", "embedding", k=4, round_dp=4).collect()))
    blas = sorted(map(tuple, similarity.cosine_topk_blas(
        df, q, "vec_id", "embedding", k=4, round_dp=4).collect()))
    assert hof == blas


def test_ivf_recall_vs_exact(vectors):
    df, _ = vectors
    q = df.where(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             similarity.cosine_topk(df, q, "vec_id", "embedding", k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              similarity.ivf_topk(df, q, "vec_id", "embedding", k=3,
                                  n_centroids=4, nprobe=4).collect()}
    # nprobe == n_centroids probes everything -> recall 1.0
    assert approx == exact


def test_minhash_hot_bucket_cap_bounds_candidates(spark):
    """A viral duplicate (80% of the corpus identical) must not explode the
    band self-join into k^2 pairs: capped buckets are dropped, so candidate
    counts stay bounded while distinct near-dup texts still pair up."""
    viral = [(i, "breaking news everyone shared this exact same story today")
             for i in range(80)]
    rest = [(100 + i, f"unique document number {i} with its own words {i * 7}")
            for i in range(20)]
    df = spark.createDataFrame(pd.DataFrame(viral + rest,
                                            columns=["doc_id", "text"]))
    capped = dedup.minhash_lsh_candidates(
        df, "doc_id", "text", num_hashes=32, bands=8, shingle_k=2,
        jaccard_threshold=0.0, max_bucket_size=10).count()
    uncapped = dedup.minhash_lsh_candidates(
        df, "doc_id", "text", num_hashes=32, bands=8, shingle_k=2,
        jaccard_threshold=0.0, max_bucket_size=None).count()
    assert uncapped >= 80 * 79 / 2          # the viral clique emits k^2/2
    assert capped < 80 * 79 / 2             # cap drops the hot buckets
    # the viral clique belongs to dedup_exact, which still catches it whole:
    groups = dedup.dedup_exact(df, "doc_id", "text").collect()
    assert max(g["n_docs"] for g in groups) == 80


def test_embedding_near_dup_bucketed_matches_bruteforce(spark):
    """Ball-cover bucketed near-dup must be EXACT: same pairs as the numpy
    all-pairs scan, for several centroid counts (1 centroid = degenerate
    single bucket; 8 exercises cross-bucket pairs)."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16))
    vecs = np.vstack([base, base[:5] + rng.normal(scale=0.01, size=(5, 16))])
    pdf = pd.DataFrame({"vec_id": range(len(vecs)),
                        "embedding": [list(map(float, v)) for v in vecs]})
    df = spark.createDataFrame(pdf)
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    expected = {(i, j) for i in range(len(vecs)) for j in range(i + 1, len(vecs))
                if round(sims[i, j], 6) >= 0.9}
    for n_cent in (1, 8):
        got = {(r["id_a"], r["id_b"]) for r in
               similarity.embedding_near_dup(df, "vec_id", "embedding",
                                             threshold=0.9,
                                             n_centroids=n_cent).collect()}
        assert got == expected, f"n_centroids={n_cent}"


def test_ngram_jaccard_minhash_prefilter_finds_planted_pair(docs):
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2,
                                       threshold=0.3).collect()}
    pre = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2,
                                     threshold=0.3,
                                     prefilter="minhash").collect()}
    # verified similarities are exact where candidates survive the LSH
    for k, v in pre.items():
        assert exact[k] == v
    assert (1, 2) in pre or (1, 4) in pre


def test_minhash_dedup_keep_exact_components(spark):
    # chain: 1~2, 2~3 (via shared phrases), 4 unrelated
    rows = [(1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "alpha beta gamma delta theta eta"),
            (4, "completely different words entirely here now")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    kept = dedup.minhash_dedup_keep(df, "doc_id", "text",
                                    exact_components=True,
                                    num_hashes=64, bands=32, shingle_k=1,
                                    jaccard_threshold=0.5)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 4 in ids                 # unrelated survives
    assert 1 in ids                 # component keeper = min id
    assert ids.isdisjoint({2, 3})   # rest of the cluster dropped


def test_ivf_kmeans_path_matches_contract(vectors):
    """use_kmeans=True (MLlib KMeans centroids) keeps the output contract;
    probing every bucket makes it exact."""
    df, _ = vectors
    exact = similarity.cosine_topk(df, df.limit(5), "vec_id",
                                   "embedding", k=3)
    approx = similarity.ivf_topk(df, df.limit(5), "vec_id",
                                 "embedding", k=3, n_centroids=4, nprobe=4,
                                 use_kmeans=True)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert approx.columns == ["query_id", "neighbor_id", "similarity", "rank"]
    # nprobe == n_centroids probes every bucket -> exact recall
    assert a == e


def test_near_dup_zero_norm_vectors_are_ignored(spark):
    """Zero-norm / null vectors have undefined cosine: they must neither
    crash the radii collection (ADVICE r2: null bucket -> TypeError) nor
    appear in any output pair — in either method."""
    rng = np.random.RandomState(3)
    base = rng.randn(6, 8)
    base[4] = base[1] * 1.0005            # planted pair (1, 4)
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(6)]
    rows.append((10, [0.0] * 8))          # zero-norm
    rows.append((11, None))               # null vector
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    for method in ("exact", "lsh"):
        got = {(r["id_a"], r["id_b"]) for r in
               similarity.embedding_near_dup(
                   df, "vec_id", "embedding", threshold=0.999,
                   method=method).collect()}
        assert got == {(1, 4)}, method


def test_lsh_numpy_matches_jvm(spark):
    """The r14 Arrow kernel (_lsh_band_hashes_numpy) must produce the
    same pair set as the interpreted-HOF signature path — same planes,
    same MSB-first bit packing, sign rule >= 0 on the identical
    normalized vectors."""
    from niamoto_spark.operators.similarity import _lsh_near_dup

    rng = np.random.RandomState(7)
    base = rng.randn(80, 24)
    base[50] = base[3] * 1.0003
    base[51] = base[12] * 0.9996
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {}
    for impl in ("jvm", "numpy"):
        out[impl] = sorted(
            (r["id_a"], r["id_b"], r["similarity"]) for r in
            _lsh_near_dup(df, "vec_id", "embedding", threshold=0.9,
                          round_dp=6, lsh_bands=16, lsh_band_bits=6,
                          seed=42, impl=impl).collect())
    assert out["jvm"] == out["numpy"]
    assert any(p[:2] == (3, 50) for p in out["numpy"])


def test_lsh_bucket_cap_subset_and_retention(spark):
    """max_bucket_size on the LSH path (r14 guard find #2: clustered
    corpora make sub-threshold candidates quadratic): capped pairs are
    a subset of uncapped, and a 0.999-cosine planted pair survives a
    tight cap — it agrees on ~15 of 16 bands, so dropping a few hot
    buckets cannot sever it."""
    from niamoto_spark.operators import similarity

    rng = np.random.RandomState(5)
    # one tight cluster (hot buckets) + a planted pair off-cluster
    center = rng.randn(12)
    cluster = center + rng.randn(50, 12) * 0.05
    base = np.vstack([cluster, rng.randn(8, 12)])
    base = np.vstack([base, base[55] * 1.0002])     # planted (55, 58)
    rows = [(int(i), [float(x) for x in base[i]])
            for i in range(len(base))]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    kw = dict(threshold=0.999, method="lsh")
    uncapped = {(r["id_a"], r["id_b"]) for r in
                similarity.embedding_near_dup(
                    df, "vec_id", "embedding", **kw).collect()}
    capped = {(r["id_a"], r["id_b"]) for r in
              similarity.embedding_near_dup(
                  df, "vec_id", "embedding", max_bucket_size=10,
                  **kw).collect()}
    assert capped <= uncapped
    assert (55, 58) in capped


def test_lsh_bucket_cap_defaults_on_and_warns(spark, caplog):
    """r15 (verdict Wrong #3): the embedding-LSH hot-bucket cap must be
    ON by default (1000, the minhash contract) so the guard-found
    clustered-corpus quadratic cannot fire silently at scale, and
    dropped rows must surface through the async Observation warning."""
    import inspect
    import logging
    import time

    from niamoto_spark.operators import similarity

    assert (inspect.signature(similarity.embedding_near_dup)
            .parameters["max_bucket_size"].default == 1000), \
        "embedding_near_dup must default max_bucket_size to 1000"

    rng = np.random.RandomState(3)
    center = rng.randn(10)
    cluster = center + rng.randn(40, 10) * 0.03   # hot buckets of ~40
    rows = [(int(i), [float(x) for x in cluster[i]])
            for i in range(len(cluster))]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    with caplog.at_level(logging.WARNING,
                         logger="niamoto_spark.operators.dedup"):
        similarity.embedding_near_dup(
            df, "vec_id", "embedding", threshold=0.999,
            method="lsh", max_bucket_size=5).collect()
        # the warning is emitted from a daemon thread once the action's
        # Observation resolves — poll briefly instead of racing it
        deadline = time.time() + 10
        while time.time() < deadline and not any(
                "embedding_near_dup[lsh]" in r.message
                for r in caplog.records):
            time.sleep(0.1)
    assert any("embedding_near_dup[lsh]" in r.message
               and "dropped" in r.message for r in caplog.records), \
        "hot-bucket drops must log the recall warning"


def test_lsh_auto_band_bits_scales_with_corpus():
    """A fixed band width saturates its 2^bits keyspace — average
    buckets then grow linearly in n and banded-join work quadratically
    (measured: the 4x scale lane's Σbucket² hit 19M pairs at 6 bits /
    8,400 vectors).  Auto bits pin the expected bucket up to the 14-bit
    recall cap; small corpora keep the historical 6."""
    from niamoto_spark.operators.similarity import _auto_band_bits

    assert _auto_band_bits(0) == 6
    assert _auto_band_bits(100) == 6
    assert _auto_band_bits(4096) == 6          # floor: historical default
    assert _auto_band_bits(8400) == 8          # the 4x lane shape
    assert _auto_band_bits(1_000_000) == 14
    assert _auto_band_bits(10**9) == 14        # cap: recall, not bucket size
    # expected average bucket n/2^bits stays bounded until the cap
    for n in (10_000, 10**5, 10**6, 2**20):
        assert n / 2 ** _auto_band_bits(n) <= 64


def test_lsh_auto_band_bits_hold_recall():
    """Derived band widths keep 0.95-cosine recall ≥ 0.98 with the
    default 16 bands at every corpus size: a band matches with
    p = (1-θ/π)^bits, a pair is found unless all 16 bands miss.  A
    seeded Monte Carlo of sign-random-projection banding at the widest
    derived width agrees with that curve."""
    import math

    import numpy as np

    from niamoto_spark.operators.similarity import _auto_band_bits

    bands, cos = 16, 0.95

    def recall(bits):
        return 1 - (1 - (1 - math.acos(cos) / math.pi) ** bits) ** bands

    widths = {_auto_band_bits(2 ** e) for e in range(6, 41)}
    assert min(recall(b) for b in widths) >= 0.98, sorted(widths)
    bits = max(widths)
    rng = np.random.default_rng(7)
    n, dim = 4000, 32
    a = rng.standard_normal((n, dim))
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    u = rng.standard_normal((n, dim))
    u -= (u * a).sum(axis=1, keepdims=True) * a
    u /= np.linalg.norm(u, axis=1, keepdims=True)
    b = cos * a + math.sqrt(1 - cos ** 2) * u      # cosine(a, b) == 0.95
    planes = rng.standard_normal((bands * bits, dim))
    sa = (a @ planes.T >= 0).reshape(n, bands, bits)
    sb = (b @ planes.T >= 0).reshape(n, bands, bits)
    found = (sa == sb).all(axis=2).any(axis=1).mean()
    assert abs(found - recall(bits)) < 0.01, (found, recall(bits))
    assert found >= 0.975


def test_lsh_auto_bits_still_finds_planted_pairs_mid_corpus(spark):
    """The auto-bits path above the 6-bit floor (n > 4096 -> 8+ bits)
    must still surface a 0.999-cosine planted pair: per-band match
    stays ~0.79 at 8 bits, so 16 bands miss with p ~ 1e-11."""
    from niamoto_spark.operators import similarity

    rng = np.random.RandomState(17)
    base = rng.randn(5000, 12)
    base[4000] = base[123] * 1.0001            # planted (123, 4000)
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(5000)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {(r["id_a"], r["id_b"]) for r in
           similarity.embedding_near_dup(df, "vec_id", "embedding",
                                         threshold=0.999,
                                         method="lsh").collect()}
    assert (123, 4000) in got


def test_lsh_near_dup_finds_planted_pairs(spark):
    """Hyperplane-LSH mode: 16 bands x 6 bits means a 0.999-cosine pair
    misses every band with probability ~1e-17 — the planted pairs must
    surface, and unrelated random vectors must not flood the output."""
    rng = np.random.RandomState(11)
    base = rng.randn(60, 16)
    base[40] = base[2] * 1.0002
    base[41] = base[9] * 0.9998
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {(r["id_a"], r["id_b"]) for r in
           similarity.embedding_near_dup(df, "vec_id", "embedding",
                                         threshold=0.999,
                                         method="lsh").collect()}
    assert got == {(2, 40), (9, 41)}


def test_auto_centroids_scales_sqrt():
    assert similarity._auto_n_centroids(0) == 32
    assert similarity._auto_n_centroids(1000) == 32
    assert similarity._auto_n_centroids(10_000) == 100
    assert similarity._auto_n_centroids(250_000) == 500
    assert similarity._auto_n_centroids(10**9) == 1024   # literal-size cap


def test_near_dup_verification_pairs_bounded_on_clustered_corpus(spark):
    """The scale contract from VERDICT r2: on a clustered corpus the
    ball-cover join must verify FAR fewer than n²/2 pairs, and the
    auto-scaled centroid count must beat the old fixed C=32."""
    rng = np.random.RandomState(5)
    n_clusters, per = 50, 100                 # n = 5000
    centers = rng.randn(n_clusters, 8) * 10
    vecs = np.repeat(centers, per, axis=0) + rng.randn(n_clusters * per, 8) * 0.05
    pdf = pd.DataFrame({"vec_id": range(len(vecs)),
                        "embedding": [[float(x) for x in v] for v in vecs]})
    df = spark.createDataFrame(pdf)
    n = len(vecs)
    auto = similarity._ball_cover_candidates(
        df, "vec_id", "embedding", threshold=0.95).count()
    fixed32 = similarity._ball_cover_candidates(
        df, "vec_id", "embedding", threshold=0.95, n_centroids=32).count()
    # fat-bucket splitting drives BOTH starts to the information floor for
    # this fixture: exactly the within-cluster pairs (50 * C(100,2)),
    # nothing cross-cluster
    floor = n_clusters * per * (per - 1) // 2
    assert auto <= fixed32
    assert auto <= floor * 1.05
    assert auto < n * (n - 1) / 2 * 0.25      # nowhere near all-pairs

    # the regime that defeated sqrt-n alone (clusters > sqrt(n)): without
    # splitting, merged buckets have radius > reach and pruning collapses
    many_c, per2 = 200, 20                    # n = 4000, sqrt(n) = 64 < 200
    centers2 = rng.randn(many_c, 8) * 10
    vecs2 = np.repeat(centers2, per2, axis=0) \
        + rng.randn(many_c * per2, 8) * 0.05
    df2 = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(len(vecs2)),
        "embedding": [[float(x) for x in v] for v in vecs2]}))
    split = similarity._ball_cover_candidates(
        df2, "vec_id", "embedding", threshold=0.95).count()
    unsplit = similarity._ball_cover_candidates(
        df2, "vec_id", "embedding", threshold=0.95,
        max_split_rounds=0).count()
    floor2 = many_c * per2 * (per2 - 1) // 2
    assert split <= floor2 * 1.5              # splitting recovers the prune
    assert split < unsplit * 0.25             # >= 4x fewer pairs than without


def test_ivf_replication_improves_recall(vectors):
    """IVF multi-assignment (VERDICT r2 next #8): replicating each corpus
    vector into its top-2 buckets must not lose pairs vs R=1 on the same
    probe budget, and with enough replication recall becomes exact."""
    df, _ = vectors
    queries = df.limit(5)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             similarity.cosine_topk(df, queries, "vec_id", "embedding",
                                    k=3).collect()}

    def recall(repl):
        got = {(r["query_id"], r["neighbor_id"]) for r in
               similarity.ivf_topk(df, queries, "vec_id", "embedding",
                                   k=3, n_centroids=4, nprobe=2,
                                   replication=repl).collect()}
        return len(exact & got) / len(exact)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r2 >= r1
    assert r4 == 1.0       # R == n_centroids -> every bucket holds everything


def test_semantic_dedup_strategies(spark):
    """Star graph 1~3, 2~3 (1!~2): min_neighbor keeps both local minima
    {1,2}; components keeps one survivor {1} per cluster; singleton 4
    always survives."""
    import math

    from niamoto_spark.operators.similarity import semantic_dedup

    def vec(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    rows = [(1, vec(0.0)), (2, vec(50.0)), (3, vec(25.0)),
            (4, vec(180.0))]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    t = math.cos(math.radians(30.0))  # pairs at <=30 degrees only

    kept_mn = sorted(r["vec_id"] for r in semantic_dedup(
        df, "vec_id", "embedding", threshold=t).collect())
    assert kept_mn == [1, 2, 4]

    kept_cc = sorted(r["vec_id"] for r in semantic_dedup(
        df, "vec_id", "embedding", threshold=t,
        strategy="components").collect())
    assert kept_cc == [1, 4]

    import pytest as _pt
    with _pt.raises(ValueError, match="strategy"):
        semantic_dedup(df, "vec_id", "embedding", strategy="nope").collect()


def test_numpy_xxh64_matches_spark(spark):
    """functions/xxh64np.py must stay bit-exact with Spark's
    xxhash64(bigint [, int seed-index]) chaining — the numpy MinHash
    signature path depends on it."""
    from niamoto_spark.functions.xxh64np import (SPARK_SEED, hash_int,
                                                 hash_long)

    vals = [123, -456, 0, 2**63 - 1, -2**63, 987654321987, 42, -1]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    expected = df.select(
        F.xxhash64("v").alias("h"),
        *[F.xxhash64("v", F.lit(s)).alias(f"h{s}")
          for s in (0, 5, 63)]).collect()
    base = hash_long(np.array(vals, dtype=np.int64).view(np.uint64),
                     SPARK_SEED)
    assert base.view(np.int64).tolist() == [r.h for r in expected]
    for s in (0, 5, 63):
        got = hash_int(s, base).view(np.int64).tolist()
        assert got == [r[f"h{s}"] for r in expected], f"seed {s}"


def test_numpy_signatures_match_hof(spark):
    """The two sig_impl backends must produce IDENTICAL candidate
    pairs AND identical raw signatures (bit-exact, not just
    equivalent) — otherwise recorded q38 results would shift with
    input size as the auto gate flips."""
    rows = DOCS + [
        (6, ""),                      # empty -> no shingles -> dropped
        (7, "one two"),               # shorter than shingle_k
        (8, None),                    # NULL text
        (9, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    kw = dict(num_hashes=16, bands=4, shingle_k=3, jaccard_threshold=0.0)
    hof = {tuple(r) for r in dedup.minhash_lsh_candidates(
        df, "doc_id", "text", sig_impl="hof", **kw).collect()}
    npy = {tuple(r) for r in dedup.minhash_lsh_candidates(
        df, "doc_id", "text", sig_impl="numpy", **kw).collect()}
    assert hof == npy and len(hof) > 0

    # raw signature parity, including which rows get dropped
    shingled = df.select(
        F.col("doc_id"),
        F.array_distinct(
            dedup.word_shingles(F.lower(F.col("text")), 3)).alias("__sh"))
    hashed = shingled.select(
        "doc_id", F.size("__sh").alias("__n"),
        F.transform(F.col("__sh"), lambda x: F.xxhash64(x)).alias("__hl"))
    sig_hof = {r["doc_id"]: list(r["sig"]) for r in hashed.select(
        "doc_id", dedup._signature_from_hashed(
            F.col("__hl"), F.col("__n"), 16).alias("sig"))
        .where(F.col("sig").isNotNull()).collect()}
    sig_np = {r["doc_id"]: list(r["sig"])
              for r in dedup._signatures_numpy(hashed, 16).collect()}
    assert sig_np == sig_hof
    assert set(sig_np) == {1, 2, 3, 4, 5, 9}   # 6/7/8 dropped


def test_simhash_numpy_matches_hof(spark):
    """The vectorized bit-vote fold must be bit-identical to the
    interpreted-HOF aggregate — including NULL text (NULL fingerprint)
    and empty/token-free text (fingerprint 0)."""
    rows = DOCS + [(6, ""), (7, None), (8, "solo")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    hof = {r["doc_id"]: r["simhash"] for r in dedup.simhash(
        df, "doc_id", "text", impl="hof").collect()}
    npy = {r["doc_id"]: r["simhash"] for r in dedup.simhash(
        df, "doc_id", "text", impl="numpy").collect()}
    assert npy == hof
    # token_array() normalizes NULL text to [] before the fold, so
    # NULL and empty both fingerprint to 0 in BOTH impls
    assert hof[7] == 0 and hof[6] == 0

    hof60 = {r["doc_id"]: r["simhash"] for r in dedup.simhash_md5(
        df, "doc_id", "text", impl="hof").collect()}
    npy60 = {r["doc_id"]: r["simhash"] for r in dedup.simhash_md5(
        df, "doc_id", "text", impl="numpy").collect()}
    assert npy60 == hof60
    assert all(v is None or v >= 0 for v in hof60.values())  # 60-bit


def test_md5_minhash_numpy_matches_hof(spark):
    """The numpy affine-family signature fold must reproduce the HOF
    md5 lane value-for-value (it feeds the q349 DuckDB oracle)."""
    rows = DOCS + [(6, ""), (7, "one two"), (8, None)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    kw = dict(num_hashes=16, bands=4, shingle_k=3, jaccard_threshold=0.0)
    hof = {tuple(r) for r in dedup.minhash_lsh_candidates_md5(
        df, "doc_id", "text", sig_impl="hof", **kw).collect()}
    npy = {tuple(r) for r in dedup.minhash_lsh_candidates_md5(
        df, "doc_id", "text", sig_impl="numpy", **kw).collect()}
    assert hof == npy and len(hof) > 0


def test_text_numpy_signatures_match_hof(spark):
    """The fused text->signature Arrow kernel (shingle slices of the
    normalized string + vectorized XXH64) must emit exactly the HOF
    signatures, including whitespace edge shapes the slicing has to
    reproduce from Spark's trim/split semantics."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "  leading and   multiple   spaces   collapse  "),
        (3, "tab\tseparated\ttokens\there"),
        (4, "newline\nseparated\ntokens\nhere"),
        (5, "unicode héllo wörld µmétrique 日本 語 テキストください"),
        (6, "dup dup dup dup dup dup dup dup"),        # duplicate shingles
        (7, "exactly three tokens"),                   # exactly k
        (8, "two tokens"),                             # < k -> dropped
        (9, ""),                                       # empty -> dropped
        (10, None),                                    # NULL -> dropped
        (11, "verylongtoken" * 10 + " b c"),           # >32-byte shingles
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    hof_sig = df.select(
        F.col("doc_id"),
        dedup.minhash_signature(F.col("text"), 16, 3).alias("sig"))
    hof = {r["doc_id"]: list(r["sig"]) for r in
           hof_sig.where(F.col("sig").isNotNull()).collect()}
    npy = {r["doc_id"]: list(r["sig"]) for r in
           dedup._sigs_from_text_numpy(df, "doc_id", "text", 16, 3)
           .collect()}
    assert npy == hof
    assert set(hof) == {1, 2, 3, 4, 5, 6, 7, 11}


def test_pair_strategies_identical(spark):
    """pair_strategy='join' (ids-only band shuffle + two signature
    joins, the 100 TB shape) must emit exactly the bucket strategy's
    (id_a, id_b, est_jaccard) set — including under the hot-bucket cap."""
    viral = [(i, "breaking news everyone shared this same story today")
             for i in range(40)]
    rest = [(100 + i, f"unique document number {i} plus words {i * 3}")
            for i in range(30)]
    near = [(200, "the quick brown fox jumps over the lazy dog tonight"),
            (201, "the quick brown fox jumps over the lazy cat tonight")]
    df = spark.createDataFrame(pd.DataFrame(viral + rest + near,
                                            columns=["doc_id", "text"]))
    for cap in (None, 8):
        kw = dict(num_hashes=32, bands=8, shingle_k=2,
                  jaccard_threshold=0.2, max_bucket_size=cap)
        bucket = {tuple(r) for r in dedup.minhash_lsh_candidates(
            df, "doc_id", "text", pair_strategy="bucket", **kw).collect()}
        join = {tuple(r) for r in dedup.minhash_lsh_candidates(
            df, "doc_id", "text", pair_strategy="join", **kw).collect()}
        assert bucket == join and len(bucket) > 0, f"cap={cap}"


def test_sig_hoist_below_explode_identical(spark):
    """r14 optimization contract (the q38 shape): computing signatures
    ONCE per source doc and exploding the planted ids ABOVE them
    (minhash_signatures + sig_col=) yields exactly the inline path's
    (id_a, id_b, est_jaccard) set — both planted copies of a text carry
    bit-identical sigs either way."""
    rows = [(i, f"shared shingle text number {i % 7} with extra words "
                f"{i % 3} tail") for i in range(40)]
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["doc_id", "text"]))
    kw = dict(num_hashes=32, bands=8, jaccard_threshold=0.1)
    planted_text = df.select(
        F.explode(F.array(F.col("doc_id"),
                          F.col("doc_id") + F.lit(100_000)))
         .alias("doc_id"), "text")
    inline = {tuple(r) for r in dedup.minhash_lsh_candidates(
        planted_text, "doc_id", "text", shingle_k=2, **kw).collect()}
    sigs = dedup.minhash_signatures(df, "doc_id", "text",
                                    num_hashes=32, shingle_k=2)
    planted_sig = sigs.select(
        F.explode(F.array(F.col("doc_id"),
                          F.col("doc_id") + F.lit(100_000)))
         .alias("doc_id"), "sig")
    hoisted = {tuple(r) for r in dedup.minhash_lsh_candidates(
        planted_sig, "doc_id", None, sig_col="sig", **kw).collect()}
    assert hoisted == inline and len(inline) > 0


def test_auto_pair_strategy_union_inflation(spark, tmp_path):
    """The r13 `_est_scan` blind spot: the file listing dedups repeated
    files, so a plan unioning the same scan 64x under-read as 1x and
    auto mis-picked 'bucket' where 'join' wins (5x shuffle-byte
    difference at that scale).  The logical-plan estimate sums union
    children, so the inflated frame must now cross the threshold."""
    import functools

    pdf = pd.DataFrame({"doc_id": range(200),
                        "text": [f"document body number {i} with words"
                                 for i in range(200)]})
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(pdf).write.parquet(path)
    base = spark.read.parquet(path)
    inflated = functools.reduce(lambda a, b: a.unionByName(b), [base] * 64)

    base_bytes = dedup._auto_pair_strategy(base, threshold_bytes=1 << 60)
    assert base_bytes == "bucket"  # tiny known scan stays on the fast path
    # the real 256 MB default: small either way here, so pin the
    # DECISION at a threshold between 1x and 64x of the scan
    from niamoto_spark.functions import _est_logical_bytes, _est_scan
    one = _est_scan(base)[1]
    assert _est_logical_bytes(inflated) >= 32 * one  # union children sum
    mid = 8 * one
    assert dedup._auto_pair_strategy(base, threshold_bytes=mid) == "bucket"
    assert dedup._auto_pair_strategy(inflated,
                                     threshold_bytes=mid) == "join"
