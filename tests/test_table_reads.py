"""Reading back the tables the pipeline wrote (``sources.sinks.read_table``).

Each phase reads tables an earlier phase wrote.  A bare
``spark.read.parquet`` starts a job to infer a schema that Spark already
stored in the table's footer; ``read_table`` reads that footer on the
driver instead.  These tests pin the jobs each phase of
``examples/config`` runs, check that the footer schema is the one
inference returns, that a rewritten table is never read with its old
schema, and that tables Spark did not write, or wrote partitioned, read
exactly as before.
"""

import os

import pytest
from pyspark.sql import functions as F

from niamoto_spark.catalog import EntityRegistry
from niamoto_spark.cli import main
from niamoto_spark.pipeline import Pipeline
from niamoto_spark.sources.sinks import overwrite_table, read_table

HERE = os.path.dirname(os.path.abspath(__file__))
CONFIG = os.path.join(os.path.dirname(HERE), "examples", "config")

# most jobs per phase of ``run`` on examples/config: a bare read of a
# warehouse table adds one (13, 17 and 12 or 13 with bare reads)
PHASE_JOBS = {"import": 12, "transform": 13, "export": 9}


def _jobs(spark, group, call):
    """The result of ``call()`` and the ids of the jobs it ran, all
    under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(scope="module")
def project(spark, tmp_path_factory):
    """examples/config run through the CLI, one job group per phase;
    returns the warehouse and the jobs of each phase."""
    root = tmp_path_factory.mktemp("reads")
    wh, out = str(root / "wh"), str(root / "out")
    jobs = {}
    for phase in PHASE_JOBS:
        args = [phase, "--config", CONFIG, "--warehouse", wh]
        if phase == "export":
            args += ["--out", out]
        rc, jobs[phase] = _jobs(spark, f"reads-{phase}-{id(root)}",
                                lambda: main(args))
        assert rc == 0
    return wh, jobs


def test_phase_job_counts(project):
    _, jobs = project
    counts = {p: len(j) for p, j in jobs.items()}
    assert all(counts[p] <= n for p, n in PHASE_JOBS.items()), counts


def _tables(spark, wh):
    registry = EntityRegistry.open(os.path.join(wh, "registry.json"))
    pipe = Pipeline(spark, warehouse=wh, registry=registry)
    return [registry.get(n).path for n in registry.names()] + \
        [pipe.group_table(g) for g in ("plots", "taxons")]


def test_every_table_reads_with_its_inferred_schema_and_no_job(spark,
                                                               project):
    wh, _ = project
    tables = _tables(spark, wh)
    assert len(tables) == 6 and all(os.path.isdir(p) for p in tables)
    for i, path in enumerate(tables):
        df, jobs = _jobs(spark, f"read-{i}-{id(project)}",
                         lambda: read_table(spark, path))
        inferred = spark.read.parquet(path).schema
        assert jobs == [], path
        assert df.schema == inferred, path
        assert df.schema.json() == inferred.json(), path


def test_rewritten_table_reads_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    overwrite_table(spark.range(3), path)
    assert read_table(spark, path).columns == ["id"]
    overwrite_table(spark.range(3).withColumn("extra", F.col("id") * 2),
                    path)
    df = read_table(spark, path)
    assert df.columns == ["id", "extra"]
    assert sorted(r.extra for r in df.collect()) == [0, 2, 4]


def _same_read(spark, path):
    df, ref = read_table(spark, path), spark.read.parquet(path)
    assert df.schema == ref.schema
    assert sorted(df.collect()) == sorted(ref.collect())


def test_tables_spark_did_not_write_read_as_before(spark, testdata_registry):
    """A pyarrow-written file carries no Spark schema in its footer, so it
    is read by inference, whose parquet type mapping it keeps."""
    _same_read(spark, testdata_registry.get("nation").path)


def test_partitioned_table_reads_as_before(spark, tmp_path):
    path = str(tmp_path / "parts")
    (spark.range(6).withColumn("k", F.col("id") % 2)
     .write.partitionBy("k").parquet(path))
    _same_read(spark, path)
    assert read_table(spark, path).columns == ["id", "k"]
