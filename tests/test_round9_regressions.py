"""Regression tests for the round-8 advisor findings (ADVICE.md r9).

Four defects: beta_partition's inverted presence ternary, ohlc_bars'
modulo-colliding tie-break key, table_cdf's null-position hash
collision and _scan_with_dv's strict unionByName under merge_schema.
"""

import pandas as pd
from pyspark.sql import functions as F

from niamoto_spark.operators.ecological import beta_partition
from niamoto_spark.operators.timeseries import ohlc_bars
from niamoto_spark.sources import manifest as mf


# --- beta_partition presence filter ---------------------------------------

def test_beta_partition_zero_count_is_absence(spark):
    """Explicit zero-count rows (site-by-species matrix absences) must
    NOT count as presences; previously the ternary was inverted and a
    'count' column meant lit(True) (zeros inflated shared/richness)."""
    df = spark.createDataFrame(
        [("A", "s1", 3), ("A", "s2", 1), ("A", "s3", 0),
         ("B", "s1", 2), ("B", "s2", 5), ("B", "s3", 4)],
        "site string, sp string, count int")
    r = beta_partition(df, "site", "sp").collect()[0]
    # A = {s1, s2}, B = {s1, s2, s3}: a=2, b=0, c=1 (pure nestedness)
    assert (r["a"], r["b"], r["c"]) == (2, 0, 1)
    assert r["beta_sim"] == 0.0
    assert r["beta_sor"] == r["beta_sne"] == 0.2


def test_beta_partition_no_count_column(spark):
    """Without a count column every (site, sp) row is a presence —
    previously this branch referenced the missing 'count' column."""
    df = spark.createDataFrame(
        [("A", "s1"), ("A", "s2"), ("B", "s2"), ("B", "s3")],
        "site string, sp string")
    r = beta_partition(df, "site", "sp").collect()[0]
    assert (r["a"], r["b"], r["c"]) == (1, 1, 1)


def test_beta_partition_custom_count_col(spark):
    df = spark.createDataFrame(
        [("A", "s1", 1), ("A", "s2", 0), ("B", "s1", 1)],
        "site string, sp string, n int")
    r = beta_partition(df, "site", "sp", count_col="n").collect()[0]
    assert (r["a"], r["b"], r["c"]) == (1, 0, 0)


# --- ohlc_bars composite order key ----------------------------------------

def test_ohlc_tiebreaks_congruent_mod_1e6(spark):
    """Tiebreak ids congruent mod 1e6 collided on the old BIGINT
    composite key; the struct key orders on the full value."""
    df = spark.createDataFrame(
        [("k", 100.0, 10.0, 1_000_001), ("k", 100.0, 20.0, 1)],
        "k string, t double, v double, i long")
    r = ohlc_bars(df, "k", "t", "v", "i", granule_s=3600).collect()[0]
    assert r["open"] == 20.0      # tiebreak 1 first
    assert r["close"] == 10.0     # tiebreak 1_000_001 last


def test_ohlc_negative_tiebreak(spark):
    """Negative tiebreaks gave a negative modulo under the old key."""
    df = spark.createDataFrame(
        [("k", 50.0, 1.0, -5), ("k", 50.0, 2.0, 3), ("k", 60.0, 9.0, 0)],
        "k string, t double, v double, i long")
    r = ohlc_bars(df, "k", "t", "v", "i", granule_s=3600).collect()[0]
    assert r["open"] == 1.0       # -5 orders before 3
    assert r["close"] == 9.0      # later timestamp wins regardless
    assert r["n"] == 3


# --- table_cdf null-position hash -----------------------------------------

def test_table_cdf_detects_null_position_shift(spark, tmp_path):
    """(x, NULL) -> (NULL, x) hashed identically under bare xxhash64
    (NULL args are a no-op), silently dropping the update."""
    p = str(tmp_path / "t")
    a = spark.createDataFrame([(1, "p", None), (2, "q", "r")],
                              "k int, x string, y string")
    b = spark.createDataFrame([(1, None, "p"), (2, "q", "r")],
                              "k int, x string, y string")
    mf.append(a, p)
    mf.overwrite(b, p)
    rows = {r["k"]: r for r in
            mf.table_cdf(spark, p, 0, 1, key_cols=["k"]).collect()}
    assert set(rows) == {1}                   # k=2 unchanged, k=1 updated
    assert rows[1]["change"] == "updated"
    assert rows[1]["x_old"] == "p" and rows[1]["x_new"] is None
    assert rows[1]["y_old"] is None and rows[1]["y_new"] == "p"


# --- _scan_with_dv + merge_schema -----------------------------------------

def test_dv_scan_merge_schema_union(spark, tmp_path):
    """DV-touched files and clean files with different column sets must
    union with null-widening (allowMissingColumns), matching mergeSchema
    semantics, instead of raising."""
    p = str(tmp_path / "t")
    mf.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                    "id int, s string"), p)
    mf.append(spark.createDataFrame([(3, "c", 7.0)],
                                    "id int, s string, extra double"), p)
    v, n = mf.delete_where_mor(spark, p, "id = 1")
    assert n == 1
    out = mf.read_table(spark, p, merge_schema=True)
    assert "extra" in out.columns
    got = {(r["id"], r["extra"]) for r in out.collect()}
    assert got == {(2, None), (3, 7.0)}


# --- md5 oracle-lane dedup variants (q349/q350) ---------------------------

def test_minhash_md5_lane_matches_python_refit(spark):
    """The md5/universal-hash minhash signature is engine-independent:
    a pure-Python recomputation of the same formula reproduces Spark's
    signature exactly (this is what makes the q349 DuckDB oracle a
    full value check)."""
    import hashlib

    from pyspark.sql import functions as F

    from niamoto_spark.operators.dedup import minhash_lsh_candidates_md5

    text = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame([(1, text), (2, text + " tail")],
                               "doc_id bigint, text string")
    out = minhash_lsh_candidates_md5(df, "doc_id", "text",
                                     jaccard_threshold=0.0)
    rows = out.collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]

    # python refit of est_jaccard
    P = 2147483647

    def sig(t):
        words = t.lower().split()
        shingles = sorted({" ".join(words[j:j + 3])
                           for j in range(len(words) - 2)})
        hb = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
              for s in shingles]
        return [min((((i + 1) * 2654435761 % P) * h + (i * 40503 + 7)) % P
                    for h in hb) for i in range(16)]

    a, b = sig(text), sig(text + " tail")
    agree = sum(1 for x, y in zip(a, b) if x == y)
    assert rows[0]["est_jaccard"] == round(agree / 16, 4)


def test_simhash_md5_deterministic_and_banded(spark):
    from niamoto_spark.operators.dedup import (simhash_md5,
                                               simhash_near_pairs_md5)

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta eta"),
         (3, "totally unrelated words elsewhere entirely")],
        "doc_id bigint, text string")
    fp = {r["doc_id"]: r["simhash"] for r in
          simhash_md5(df, "doc_id", "text").collect()}
    assert all(0 <= v < (1 << 60) for v in fp.values())
    # repartitioned input gives identical fingerprints
    fp2 = {r["doc_id"]: r["simhash"] for r in
           simhash_md5(df.repartition(5), "doc_id", "text").collect()}
    assert fp == fp2
    pairs = simhash_near_pairs_md5(df, "doc_id", "text", max_hamming=15)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got


def test_curation_md5_near_dup_family(spark):
    """CurationConfig(near_dup_hash='md5') routes the near-dup stage
    through the cross-engine hash family (the q351 oracle lane) and
    still drops duplicate clusters."""
    from niamoto_spark.operators.curation import (CurationConfig,
                                                  curate_corpus)

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, text), (2, text + " tail"), (3, "something else entirely "
                                             "with many distinct words here")],
        "doc_id bigint, text string")
    kept, stats = curate_corpus(
        docs, "doc_id", "text",
        CurationConfig(min_quality=0.0, min_tokens=1,
                       near_dup_threshold=0.3, minhash_num_hashes=16,
                       minhash_bands=4, near_dup_hash="md5",
                       stages=["near_dedup"]))
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {1, 3}                       # 2 is 1's near-dup
    row = stats.collect()[0]
    assert (row["stage"], row["docs_in"], row["docs_out"]) \
        == ("near_dedup", 3, 2)


def test_ohlc_oracle_key_matches_operator_beyond_1e6(spark):
    """The DuckDB oracle key must agree with ohlc_bars' struct ordering
    for event ids beyond 1e6 (the old mod-1e6 oracle collided there —
    found in the r9 self-review; gate fixtures never exceed 1e5 ids)."""
    import duckdb

    rows = [("a", 100, 10.0, 1_000_001), ("a", 100, 20.0, 5),
            ("a", 100, 30.0, 2_000_003), ("a", 200, 7.0, 1)]
    df = spark.createDataFrame(
        rows, "k string, t long, v double, i long")
    got = ohlc_bars(df, "k", "t", "v", "i", granule_s=86400).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE e(k VARCHAR, t BIGINT, v DOUBLE, i BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?, ?, ?)", rows)
    o = con.execute("""
        SELECT arg_min(v, CAST(t AS HUGEINT) * 1099511627776 + i) AS o,
               arg_max(v, CAST(t AS HUGEINT) * 1099511627776 + i) AS c
        FROM e""").fetchone()
    assert (got["open"], got["close"]) == o
    assert got["open"] == 20.0 and got["close"] == 7.0


def test_urllib_transport_returns_status_on_http_error():
    """4xx/5xx must come back as (status, parsed body) so the vendor
    deployers' error lanes own the message — urlopen raises HTTPError,
    which previously escaped the transport (r9 self-review)."""
    import http.server
    import threading

    from niamoto_spark.deployers import _urllib_transport

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = b'{"error": "bad token"}'
            self.send_response(401)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        status, payload = _urllib_transport(
            "POST", f"http://127.0.0.1:{srv.server_port}/x", {}, b"{}")
        assert status == 401
        assert payload == {"error": "bad token"}
    finally:
        srv.shutdown()


def test_covariance_profile_shifted_mean_parity(spark):
    """One-pass moment formula vs numpy on shifted-mean data: fine at
    double precision for moderate shifts; the docstring documents the
    |mean| >> sigma catastrophic-cancellation regime."""
    import numpy as np

    from niamoto_spark.operators.pca import covariance_profile

    rng = np.random.default_rng(7)
    x = rng.normal(loc=100.0, scale=0.5, size=(400, 4))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>")
    got = {r["dim"]: (r["mean"], r["variance"])
           for r in covariance_profile(df, "embedding").collect()}
    for d in range(4):
        assert abs(got[d][0] - x[:, d].mean()) < 1e-6
        assert abs(got[d][1] - x[:, d].var(ddof=1)) < 1e-6


def test_covariance_profile_two_pass_survives_cancellation(spark):
    """|mean| >> sigma: the one-pass formula loses precision; the
    two-pass (center, then Gram) variant stays exact to numpy."""
    import numpy as np

    from niamoto_spark.operators.pca import covariance_profile

    rng = np.random.default_rng(11)
    # float32-quantized inputs with mean 1e4 and sigma 1e-2: the
    # cancellation regime the docstring warns about
    x = (10_000.0 + rng.normal(scale=0.01, size=(300, 3))).astype(
        np.float32).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>")
    got = {r["dim"]: r["variance"] for r in
           covariance_profile(df, "embedding", round_dp=10,
                              two_pass=True).collect()}
    for d in range(3):
        truth = x[:, d].var(ddof=1)
        assert abs(got[d] - truth) / truth < 1e-6
    # and both variants agree on well-behaved (zero-centered) data
    y = rng.normal(size=(200, 3))
    dfy = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(y)],
        "vec_id long, embedding array<double>")
    one = covariance_profile(dfy, "embedding").collect()
    two = covariance_profile(dfy, "embedding", two_pass=True).collect()
    assert [tuple(r) for r in one] == [tuple(r) for r in two]
