"""Deployers and read_any format dispatch."""


def test_local_deployer(tmp_path):
    from niamoto_spark.deployers import deploy_local_copy

    src = tmp_path / "site"; src.mkdir()
    (src / "index.html").write_text("<html/>")
    out = deploy_local_copy(str(src), str(tmp_path / "public"))
    assert out["files"] == 1
    assert (tmp_path / "public" / "index.html").exists()


def test_all_deployers_resolve_to_implementations():
    """All six reference deployer names resolve to real implementations
    (round 9): git/rsync flows for github/ssh, vendor REST flows behind
    the injectable transport for the other four."""
    from niamoto_spark.registry import PluginType, get_plugin, load_all

    load_all()
    for name in ("github", "ssh", "netlify", "cloudflare", "vercel",
                 "render", "local_copy"):
        fn = get_plugin(name, PluginType.DEPLOYER)
        assert fn.__name__ == f"deploy_{name}", name


# --- read_any format dispatch ----------------------------------------------

def test_read_any_dispatches_by_extension(spark, tmp_path):
    import pyspark.sql.functions as F

    from niamoto_spark.sources.files import read_any, write_orc

    df = spark.range(0, 10).withColumn("v", F.col("id") * 2)
    orc = str(tmp_path / "t.orc")
    pq = str(tmp_path / "t.parquet")
    js = str(tmp_path / "t.jsonl")
    write_orc(df, orc)
    df.write.parquet(pq)
    df.write.json(js)
    for p in (orc, pq, js):
        back = read_any(spark, p)
        assert back.count() == 10
        assert sorted(r["v"] for r in back.collect())[:3] == [0, 2, 4]
    import pytest as _pt
    with _pt.raises(ValueError, match="unrecognized extension"):
        read_any(spark, "/tmp/whatever.foo")
