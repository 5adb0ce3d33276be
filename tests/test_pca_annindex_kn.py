"""Round-7 continuation: Kneser-Ney LM, touch attribution, Morton grid,
distributed PCA, persisted ANN index."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- KN LM

def _naive_kn(docs, discount=0.75):
    BOS = "\x02"
    streams = {i: [BOS] + t.lower().split() for i, t in docs}
    bigrams = {i: list(zip(s, s[1:])) for i, s in streams.items()}
    all_bg = [b for bs in bigrams.values() for b in bs]
    from collections import Counter
    c12 = Counter(all_bg)
    c1 = Counter(w1 for w1, _ in all_bg)
    n1p_fw = Counter(w1 for (w1, _) in c12)
    n1p_bw = Counter(w2 for (_, w2) in c12)
    B = len(c12)

    def p(w1, w2):
        return (max(c12[(w1, w2)] - discount, 0.0) / c1[w1] +
                (discount * n1p_fw[w1] / c1[w1]) * (n1p_bw[w2] / B))

    return {i: sum(math.log(p(w1, w2)) for w1, w2 in bs) / len(bs)
            for i, bs in bigrams.items()}, p, c1, n1p_bw


def test_kn_matches_naive(spark):
    from niamoto_spark.operators.lm import kn_logprob_score

    docs = [(1, "the cat sat on the mat"),
            (2, "the dog sat on the log"),
            (3, "a cat and a dog"),
            (4, "the cat sat")]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {r.doc_id: r.avg_logprob
           for r in kn_logprob_score(df, "text", "doc_id").collect()}
    ref, _, _, _ = _naive_kn(docs)
    for i in ref:
        assert out[i] == pytest.approx(ref[i], abs=1e-9)


def test_kn_probabilities_sum_to_one():
    # analytic identity of interpolated KN: sum_w2 P(w2|w1) = 1
    docs = [(1, "x y x z y x"), (2, "z z y x w w")]
    _, p, c1, n1p_bw = _naive_kn(docs)
    vocab = set(n1p_bw)
    for w1 in c1:
        assert sum(p(w1, w2) for w2 in vocab) == pytest.approx(1.0)


# ---------------------------------------------------------- attribution

def test_attribution_first_last(spark):
    from niamoto_spark.operators.timeseries import touch_attribution

    rows = [  # (user, order, channel, conv)
        (1, 1, "ad", False), (1, 2, "email", False), (1, 3, "buy", True),
        (2, 1, "search", False), (2, 2, "buy", True),
        (3, 1, "buy", True),                       # no prior touch
        (1, 4, "ad", False), (1, 5, "buy", True),  # 2nd conversion, user 1
    ]
    df = spark.createDataFrame(rows, "u int, i int, ch string, conv boolean")
    out = {r.channel: (r.n_first_touch, r.n_last_touch)
           for r in touch_attribution(df, "u", "i", "ch",
                                      F.col("conv")).collect()}
    # user1 conv#1: first=ad last=email; user1 conv#2: first=ad last=ad
    # user2: first=last=search; user3: (direct)
    assert out["ad"] == (2, 1)
    assert out["email"] == (0, 1)
    assert out["search"] == (1, 1)
    assert out["(direct)"] == (1, 1)


# ---------------------------------------------------------- morton grid

def _py_morton(gx, gy, bits):
    v = 0
    for k in range(bits):
        v |= ((gx >> k) & 1) << (2 * k)
        v |= ((gy >> k) & 1) << (2 * k + 1)
    return v


def test_morton_grid_matches_python(spark):
    from niamoto_spark.operators.geospatial import morton_grid

    bits = 8
    n = 1 << bits
    pts = [(-22.5, 165.0), (0.0, 0.0), (45.0, -120.0), (89.9, 179.9),
           (-89.9, -179.9)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    out = [r.cell for r in morton_grid(df, "lat", "lon",
                                       bits=bits).collect()]
    for (lat, lon), got in zip(pts, out):
        gx = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
        gy = min(max(int(math.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
        assert got == _py_morton(gx, gy, bits)


def test_morton_grid_clamp_and_null(spark):
    from niamoto_spark.operators.geospatial import morton_grid

    df = spark.createDataFrame(
        [(95.0, 200.0), (None, 10.0)], "lat double, lon double")
    out = morton_grid(df, "lat", "lon", bits=4).collect()
    n = 16
    assert out[0].cell == _py_morton(n - 1, n - 1, 4)  # clamped corner
    assert out[1].cell is None


def test_morton_locality_prefix_property(spark):
    # quadrant prefix: points in the same half-plane split share the
    # top interleaved bits
    from niamoto_spark.operators.geospatial import morton_grid

    df = spark.createDataFrame(
        [(10.0, 10.0), (11.0, 11.0), (-80.0, -170.0)],
        "lat double, lon double")
    cells = [r.cell for r in morton_grid(df, "lat", "lon",
                                         bits=10).collect()]
    # top 2 bits (one per axis) equal for the nearby pair, different for
    # the far point
    top = [c >> 18 for c in cells]
    assert top[0] == top[1] != top[2]


# ------------------------------------------------------------------ PCA

def _pca_fixture():
    rng = np.random.RandomState(11)
    base = rng.randn(400, 3) @ np.diag([5.0, 2.0, 0.5])
    lift = rng.randn(3, 8)
    return base @ lift + rng.randn(400, 8) * 0.01


def test_pca_fit_matches_numpy(spark):
    from niamoto_spark.operators.pca import pca_fit

    x = _pca_fixture()
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)],
        "id int, vec array<double>")
    model = pca_fit(df.repartition(5), "vec", k=4)

    cov = np.cov(x, rowvar=False)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1]
    assert np.allclose(model["explained_variance"], evals[:4],
                       rtol=1e-8, atol=1e-8)
    assert np.asarray(model["mean"]) == pytest.approx(x.mean(axis=0))
    # components orthonormal
    C = np.asarray(model["components"])
    assert np.allclose(C @ C.T, np.eye(4), atol=1e-9)
    # top-3 capture ~all variance (data is rank-3 + tiny noise)
    assert sum(model["explained_variance_ratio"][:3]) > 0.999


def test_pca_partition_invariance(spark):
    from niamoto_spark.operators.pca import pca_fit

    x = _pca_fixture()
    rows = [(i, row.tolist()) for i, row in enumerate(x)]
    df1 = spark.createDataFrame(rows, "id int, vec array<double>")
    m1 = pca_fit(df1.repartition(1), "vec", k=3)
    m2 = pca_fit(df1.repartition(11), "vec", k=3)
    assert np.allclose(m1["explained_variance"], m2["explained_variance"])
    assert np.allclose(m1["components"], m2["components"], atol=1e-9)


# -------------------------------------------------------- ANN index

def test_saved_index_equals_direct_ivf(spark, sf_dir, tmp_path):
    from niamoto_spark.operators.annindex import (save_ivf_index,
                                                  query_ivf_index)
    from niamoto_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 5 != 0)
    queries = emb.where(F.col("vec_id") % 50 == 0).limit(8)

    path = str(tmp_path / "ivf_index")
    stats = save_ivf_index(corpus, path, "vec_id", "embedding",
                           n_centroids=8, replication=2)
    assert stats["n_assignments"] > 0

    via_index = query_ivf_index(spark, path, queries, "vec_id",
                                "embedding", k=5, nprobe=3)
    direct = ivf_topk(corpus, queries, "vec_id", "embedding", k=5,
                      n_centroids=8, nprobe=3, replication=2)
    a = {(r.query_id, r.rank): (r.neighbor_id, r.similarity)
         for r in via_index.collect()}
    b = {(r.query_id, r.rank): (r.neighbor_id, r.similarity)
         for r in direct.collect()}
    assert a == b


def test_index_rebuild_is_atomic_snapshot(spark, tmp_path):
    from niamoto_spark.operators.annindex import (save_ivf_index,
                                                  query_ivf_index)
    from niamoto_spark.sources import manifest

    rows = [(i, [float(i), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    path = str(tmp_path / "idx")
    save_ivf_index(df, path, "id", "v", n_centroids=4)
    v1 = manifest.current_version(f"{path}/assignments")
    save_ivf_index(df.where(F.col("id") < 20), path, "id", "v",
                   n_centroids=4)
    v2 = manifest.current_version(f"{path}/assignments")
    assert v2 == v1 + 1
    # old snapshot still time-travelable
    old = manifest.read_table(spark, f"{path}/assignments", version=v1)
    new = manifest.read_table(spark, f"{path}/assignments")
    assert old.select("neighbor_id").distinct().count() == 40
    assert new.select("neighbor_id").distinct().count() == 20
