"""Benchmark of niamoto_spark's ``run`` pipeline and headline query catalog.

    python3 perfbench/run.py --workload pipeline_small --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --runs 3   # every gated workload, one table

One run is one fresh process, as one ``python -m niamoto_spark run`` is.  It
generates the workload's inputs from the seed in a child process (untimed,
reused by later runs with that seed), starts the default ``get_spark()``
session (``setup_s``: process start to session up, generation left out),
runs one repetition in it (``wall_s``: cold, as a CLI user sees it) and
checks every output.  The last line on stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 1`` the run then alternates untraced and traced warm
repetitions for ``--seconds`` (traced: Spark's event log on, one job group
per benchmark span) and reports per-layer metrics instead.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
KEEP_INPUTS = 8  # input sets kept per workload, newest first
#: set-ups timed per untraced run, the run's own and the rest in fresh
#: child processes after it; setup_s is their median.  Each costs ~11 s, so a
#: third would lengthen a 50 s run by a fifth.
SETUP_SAMPLES = 2


def host_settings() -> dict:
    """Pin what the session reads from the environment before the JVM
    starts, and record it: results at different core counts never compare."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        # a quarter of the host's memory: session.py's 48g default does not
        # fit small hosts, and the host is shared
        "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM")
        or f"{max(1, mem_kb // (4 << 20))}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # the session's Python workers import niamoto_spark as well
        "PYTHONPATH": REPO,
        # Python-side temporary files stay inside the checkout too
        "TMPDIR": os.path.join(WORK, "tmp"),
    }
    os.makedirs(env["TMPDIR"], exist_ok=True)
    os.environ.update(env)
    import pyspark

    return {**env, "pyspark": pyspark.__version__,
            "mem_total_gb": round(mem_kb / 2**20, 1)}


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        return int(next(ln for ln in f if ln.startswith("VmHWM")).split()[1]) / 1024


def start_session():
    from niamoto_spark.session import get_spark

    return get_spark()


def shutdown_jvm() -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def setup_sample() -> float:
    """One more set-up, timed in a fresh process once this one's JVM is
    gone, so nothing else runs beside it."""
    p = subprocess.run([sys.executable, os.path.abspath(__file__), "--setup-only"],
                       cwd=WORK, capture_output=True, text=True, timeout=60, check=True)
    return float(p.stdout.strip().splitlines()[-1])


def measure(args, host: dict) -> dict:
    import spans as tr
    import workloads

    wl = workloads.WORKLOADS[args.workload](WORK, args.seed)
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    g0 = time.perf_counter()
    wl.prepare(run_dir)
    gen_s = time.perf_counter() - g0
    os.chdir(run_dir)  # stray spark-warehouse / derby files land in here
    checks = workloads.Checks()
    info = {"host": host, "load_before": os.getloadavg()}
    try:
        s0 = time.perf_counter()
        spark = start_session()
        session_s = time.perf_counter() - s0
        setup_s = time.perf_counter() - T0 - gen_s
        tracer = tr.Tracer()
        cold = wl.rep(tracer, checks)
        # the driver JVM's and this process's peak resident memory, before
        # any check builds its reference
        rss = vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid()) \
            + vm_hwm_mb("self")
        info["peak_rss_mb"] = rss
        wl.check(cold, checks)
        info.update(session_s=session_s, steps={
            s.name: s.duration for s in tracer.spans if s.parent is not None})
        if args.trace:
            metrics = trace_run(args, wl, spark, checks, info)
            metrics["session.start_s"] = (session_s, "s")
            metrics["session.peak_rss_mb"] = (rss, "MB")
        else:
            metrics = {"wall_s": (cold["root"].duration, "s")}
    finally:
        shutdown_jvm()
        os.chdir(REPO)
        shutil.rmtree(run_dir, ignore_errors=True)
        prune_inputs(os.path.join(WORK, "inputs"))
    if not args.trace:
        samples = [setup_s]
        for i in range(SETUP_SAMPLES - 1):
            with checks.call(f"set-up {i + 2}"):
                samples.append(setup_sample())
        info["setup_samples"] = samples
        metrics["setup_s"] = (statistics.median(samples), "s")
    failed = len(checks.failures)
    if not args.trace:
        metrics["ok_ratio"] = (1 - failed / checks.attempted, "ratio")
    # the export tree's digest, to pin in digests.json
    info.update(load_after=os.getloadavg(), failures=checks.failures,
                digest=getattr(wl, "digest", None))
    return {"info": info, "attempted": checks.attempted, "failed": failed,
            "metrics": metrics}


def trace_run(args, wl, spark, checks, info) -> dict:
    """After the cold repetition, untraced and traced repetitions in turn
    (untraced first and last, so a warm-up trend cancels in the overhead)
    for ``--seconds``.  A traced repetition runs with Spark's event log on,
    each benchmark span the job group of the jobs it launches, and each job
    tagged with the program line that caused it."""
    import layers
    import spans as tr

    def untraced():
        res = wl.rep(tr.Tracer(), checks)
        wl.check(res, checks)
        return res["root"].duration

    sc = spark.sparkContext
    tracer = tr.Tracer(sc)
    walls, traced, logs = [untraced()], [], []
    t_end = time.perf_counter() + args.seconds
    while not traced or time.perf_counter() < t_end:
        logs.append(os.path.join(wl.run_dir, "eventlog", str(len(logs))))
        with tr.event_log(sc, logs[-1]), tr.python_call_sites(sc, REPO):
            res = wl.rep(tracer, checks)
        traced.append(res["root"].duration)
        wl.check(res, checks)
        walls.append(untraced())
    jobs = tr.read_log([f for d in logs for f in tr.log_files(d)])
    dump = tracer.dump()
    selfs = tr.self_times(dump)
    for root in (s for s in dump if s["parent"] is None):
        total = sum(selfs[i] for i in tr.subtree(dump, root["id"]))
        wall = root["end"] - root["start"]
        checks.expect("span self times add up", abs(total - wall) < 1e-6, f"{total} != {wall}")
    m = layers.metrics(wl, dump, jobs)
    m["trace.overhead_s"] = statistics.median(traced) - statistics.median(walls)
    info.update(walls=walls, traced_walls=traced,
                call_sites=layers.call_sites(dump, jobs))
    return {k: (v, layers.unit(k)) for k, v in m.items()}


def prune_inputs(root: str) -> None:
    """Keep the newest input sets per workload so disk use stays bounded
    across seeds."""
    if not os.path.isdir(root):
        return
    groups: dict[str, list[str]] = {}
    for name in os.listdir(root):
        groups.setdefault(name.split("_s")[0], []).append(os.path.join(root, name))
    for paths in groups.values():
        paths.sort(key=os.path.getmtime, reverse=True)
        for p in paths[KEEP_INPUTS:]:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)


def result_line(attempted: int, failed: int, metrics: dict) -> dict:
    """The run's result: a failed operation makes it incorrect, whatever
    its metrics read."""
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def summarize(values: list[float]) -> str:
    """Median, sample count and the highest percentile with at least ten
    samples beyond it (none below 20 samples)."""
    n = len(values)
    s = f"median {statistics.median(values):.4g}  n={n}"
    if n >= 20:
        q = 100 * (n - 10) // n
        s += f"  p{q} {statistics.quantiles(values, n=100)[q - 1]:.4g}"
    return s


def run_all(args) -> int:
    """Each workload of BENCHMARK.json, ``--runs`` fresh processes each,
    printed as one table of end-to-end metrics."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    rc = 0
    for w in bench["workloads"]:
        values: dict[str, list[float]] = {}
        units = {"peak_rss_mb": "MB"}
        attempted = failed = 0
        for i in range(args.runs):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                   "--seed", str(args.seed + i), "--seconds", str(bench["run_seconds"]),
                   "--trace", "0"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                print(f"{w['name']}: run {i} exited {p.returncode}\n{p.stderr[-2000:]}")
                rc = 1
                continue
            res = json.loads(lines[-1])
            attempted, failed = attempted + res["attempted"], failed + res["failed"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
                units[k] = v["unit"]
            info = json.loads(p.stderr[p.stderr.rindex('{"workload"'):].splitlines()[0])
            values.setdefault("peak_rss_mb", []).append(info["peak_rss_mb"])
        print(f"== {w['name']}  failed_ratio {failed}/{attempted}")
        for k, vals in values.items():
            print(f"  {k:<12} {units[k]:<6} {summarize(vals)}")
        rc = rc or int(failed > 0)
    return rc


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--runs", type=int, default=3,
                   help="with --workload all: fresh processes per workload")
    p.add_argument("--setup-only", action="store_true",
                   help="time one set-up (process start to session up) and print it")
    args = p.parse_args()
    if not (args.workload or args.setup_only):
        p.error("--workload is required")
    for need in ("niamoto_spark", os.path.join("examples", "config")):
        if not os.path.isdir(os.path.join(REPO, need)):
            print(f"perfbench: {need} not found under {REPO}", file=sys.stderr)
            return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, REPO)
    host = host_settings()
    if args.setup_only:
        start_session()
        print(time.perf_counter() - T0)
        shutdown_jvm()
        return 0
    res = measure(args, host)
    info = res.pop("info")
    print(json.dumps({"workload": args.workload, "seed": args.seed, **info},
                     default=str), file=sys.stderr)
    for f in info["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps(result_line(res["attempted"], res["failed"], res["metrics"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
