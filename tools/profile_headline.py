"""Per-query profiling for the optimization rounds: best-of-N wall time
under BOTH the bench action (.count()) and the noop sink (guide §1.4),
plus .explain('formatted') dumped to plans/<tag>/<query>_<suffix>.txt.

Usage:
    python tools/profile_headline.py [--sf=/root/testdata/sf0.1] \
        [--runs=5] [--plans=plans/r14] [--suffix=before] [q01... names]

Prints one line per query: name, count-best, noop-best, rows.
"""
from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    runs, plans_dir, suffix = 5, None, "before"
    names: list[str] = []
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
        elif a.startswith("--plans="):
            plans_dir = a.split("=", 1)[1]
        elif a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
        else:
            names.append(a)
    names = names or HEADLINE

    from niamoto_spark.queries import build_queries
    from niamoto_spark.session import get_spark

    spark = get_spark("profile", extra_conf={
        "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "8"),
        "spark.sql.adaptive.enabled": os.environ.get("SPARK_GRAFT_AQE", "false"),
    })
    queries = build_queries()

    # same warm-up as bench.py
    from pyspark.sql import Window, functions as F
    r = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    (n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
      .groupBy("r_name").count()
      .withColumn("rk", F.row_number().over(
          Window.partitionBy("r_name").orderBy("count"))).count())
    r.mapInPandas(lambda it: it, schema=r.schema).count()

    print(f"# load {os.getloadavg()}")
    for name in names:
        fn = queries[name]
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"profile:{name}")
        best_c = best_n = None
        rows = 0
        for _ in range(runs):
            t0 = time.time()
            rows = fn(spark, sf_dir).count()
            dt = time.time() - t0
            best_c = dt if best_c is None else min(best_c, dt)
        for _ in range(runs):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best_n = dt if best_n is None else min(best_n, dt)
        print(f"{name}: count={best_c:.3f}s noop={best_n:.3f}s rows={rows}")
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
    print(f"# load {os.getloadavg()}")


if __name__ == "__main__":
    main()
