"""database_aggregator, enrichment (rate-limited cache), custom_formatter,
and the overwrite/upsert sinks."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from niamoto_spark.operators.enrichment import (RateLimitedCache,
                                                api_enrichment,
                                                custom_formatter,
                                                reference_enrichment_profile)
from niamoto_spark.operators.sql_aggregator import (database_aggregator,
                                                    render_template)
from niamoto_spark.plans.guards import UnsafeQueryError
from niamoto_spark.sources.sinks import overwrite_table, upsert_table


def test_database_aggregator_formats_and_computed(spark):
    spark.createDataFrame(pd.DataFrame({"v": [1.0, 2.0, 3.0]})) \
        .createOrReplaceTempView("t_vals")
    res = database_aggregator(
        spark,
        queries={
            "total": {"sql": "SELECT sum(v) FROM t_vals", "format": "scalar"},
            "all_rows": {"sql": "SELECT v FROM t_vals ORDER BY v",
                         "format": "series"},
            "top": {"sql": "SELECT v, v * 2 AS d FROM t_vals ORDER BY v DESC",
                    "format": "single_row"},
            "tbl": {"sql": "SELECT v FROM t_vals ORDER BY v LIMIT 2",
                    "format": "table"},
        },
        computed_fields={"mean": "total / len(all_rows)"})
    assert res["total"] == 6.0
    assert res["all_rows"] == [1.0, 2.0, 3.0]
    assert res["top"] == {"v": 3.0, "d": 6.0}
    assert res["tbl"] == [{"v": 1.0}, {"v": 2.0}]
    assert res["mean"] == 2.0


def test_database_aggregator_rejects_ddl(spark):
    with pytest.raises(UnsafeQueryError):
        database_aggregator(spark, queries={
            "x": {"sql": "DROP TABLE t_vals", "format": "scalar"}})


def test_template_param_injection_blocked():
    with pytest.raises(ValueError):
        render_template("SELECT {col} FROM t", {"col": "1; DROP TABLE t"})
    assert render_template("SELECT {col} FROM t", {"col": "v"}) == "SELECT v FROM t"


def test_rate_limited_cache_dedups_and_paces():
    clock = {"t": 0.0}
    sleeps = []

    def fake_clock():
        return clock["t"]

    def fake_sleep(s):
        sleeps.append(s)
        clock["t"] += s

    calls = []
    rlc = RateLimitedCache(lambda k: calls.append(k) or {"name": k},
                           rate_limit=2.0, clock=fake_clock, sleeper=fake_sleep)
    rlc.get("a"); rlc.get("b"); rlc.get("a")   # cached second 'a'
    assert calls == ["a", "b"]
    assert rlc.fetch_count == 2
    assert sleeps and sleeps[0] == pytest.approx(0.5)  # paced at 2 rps


def test_api_enrichment_join(spark):
    df = spark.createDataFrame(pd.DataFrame(
        {"tid": [1, 2, 1], "x": ["a", "b", "c"]}))
    out = api_enrichment(df, "tid", lambda k: {"rank": f"genus_{k}"},
                         rate_limit=0)
    rows = {(r["tid"], r["x"]): json.loads(r["extra_data"]) for r in out.collect()}
    assert rows[(1, "a")] == {"rank": "genus_1"}
    assert rows[(2, "b")] == {"rank": "genus_2"}


def test_reference_enrichment_profile(spark):
    df = spark.createDataFrame(pd.DataFrame(
        {"extra_data": ['{"api": {"status": "LC", "n": 4}}']}))
    out = reference_enrichment_profile(
        df, "extra_data",
        {"redlist": "api.status", "count": "api.n"},
        {"count": "number"}).collect()[0]
    prof = {p["label"]: (p["value"], p["type"]) for p in out["profile"]}
    assert prof == {"redlist": ("LC", "text"), "count": ("4", "number")}


def test_custom_formatter(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": [1], "b": [2]}))
    out = custom_formatter(df, rename={"a": "alpha"},
                           literals={"unit": "m"},
                           select=["alpha", "unit"]).collect()[0]
    assert out.asDict() == {"alpha": 1, "unit": "m"}


def test_overwrite_table_atomic(tmp_path, spark):
    p = str(tmp_path / "tbl")
    overwrite_table(spark.range(5), p)
    assert spark.read.parquet(p).count() == 5
    overwrite_table(spark.range(3), p)
    assert spark.read.parquet(p).count() == 3
    from niamoto_spark.sources.sinks import _side
    assert not os.path.exists(_side(p, ".__staging__"))
    assert not os.path.exists(_side(p, ".__backup__"))


def test_upsert_table_key_semantics(tmp_path, spark):
    p = str(tmp_path / "tbl")
    base = spark.createDataFrame(pd.DataFrame(
        {"id": [1, 2, 3], "v": ["a", "b", "c"]}))
    upsert_table(spark, base, p, "id")
    upd = spark.createDataFrame(pd.DataFrame(
        {"id": [2, 4], "v": ["B", "d"]}))
    upsert_table(spark, upd, p, "id")
    got = {r["id"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_api_enrichment_max_keys_guard(spark):
    """A fact-table-sized key column must raise, not OOM the driver
    (VERDICT r8 next-#4)."""
    from pyspark.sql import functions as F

    df = spark.range(50).select(F.col("id").alias("tid"))
    with pytest.raises(ValueError, match="distinct keys"):
        api_enrichment(df, "tid", lambda k: {"v": k},
                       rate_limit=0, max_keys=10)
    # raising the cap explicitly proceeds
    out = api_enrichment(df, "tid", lambda k: {"v": k},
                         rate_limit=0, max_keys=100)
    assert out.count() == 50


def test_api_enrichment_distributed_pacing(spark):
    """distributed=True fetches on executors under per-partition token
    buckets at rate_limit/num_partitions: aggregate pacing stays under
    rate_limit (each partition may burst its first request, so minimum
    wall span is (n_keys - num_partitions) / rate_limit)."""
    import time as _time

    from pyspark.sql import functions as F

    df = spark.range(9).select(F.col("id").alias("tid"))

    def fetch(k):
        return {"k": k, "t": _time.time()}

    out = api_enrichment(df, "tid", fetch, rate_limit=30.0,
                         distributed=True, num_partitions=3)
    rows = {r["tid"]: json.loads(r["extra_data"]) for r in out.collect()}
    assert set(rows) == set(range(9))
    assert all(rows[i]["k"] == str(i) for i in range(9))
    ts = sorted(v["t"] for v in rows.values())
    span = ts[-1] - ts[0]
    assert span >= (9 - 3) / 30.0 * 0.95   # paced, not a burst


def test_api_enrichment_distributed_matches_driver_path(spark):
    df = spark.createDataFrame(pd.DataFrame(
        {"tid": [1, 2, 1], "x": ["a", "b", "c"]}))
    a = api_enrichment(df, "tid", lambda k: {"rank": f"g_{k}"},
                       rate_limit=0)
    b = api_enrichment(df, "tid", lambda k: {"rank": f"g_{k}"},
                       rate_limit=0, distributed=True, num_partitions=2)
    key = lambda r: (r["tid"], r["x"])  # noqa: E731
    assert sorted(map(lambda r: (key(r), r["extra_data"]), a.collect())) \
        == sorted(map(lambda r: (key(r), r["extra_data"]), b.collect()))
