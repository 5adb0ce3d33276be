"""SparkSession factory.

Local-mode defaults size themselves to the host (``local[N]`` over
``$SPARK_GRAFT_CPUS``, all cores by default, in a single JVM), but every
setting is chosen to also be correct on a real cluster:

- AQE on: runtime coalescing + skew-join splitting replaces hand-tuned
  partition counts when data volumes jump 100x.
- shuffle.partitions sized to cores locally; on a cluster this is superseded
  by AQE's coalescing (initialPartitionNum stays high enough to split skew).
- Arrow enabled: every pandas interchange (createDataFrame, mapInPandas,
  pandas UDFs) goes through columnar Arrow batches instead of pickled rows.
- autoBroadcastJoinThreshold left at default; dimension tables (region,
  nation, hierarchies) are additionally hinted with F.broadcast() at call
  sites because they are *known* small regardless of stats availability.

Every CLI run is a fresh process, so every run pays the driver JVM's cold
start: parsing and verifying the ~18k Spark, Scala and JDK classes it
loads.  When this process launches the JVM itself, it starts it from a
dynamic class-data-sharing (AppCDS) archive keyed by the JDK and the Spark
jars (:func:`cds_launch`); the first run on a host writes that archive
when its JVM exits.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shlex
import shutil
import threading
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.shuffle.partitions": None,  # filled from cpu count
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # INT96 (the legacy default) carries NO min/max footer statistics, so
    # timestamp columns would be invisible to zone maps (manifest.py) and
    # to parquet row-group pruning.  TIMESTAMP_MICROS is the modern
    # annotated int64 every engine stats-prunes on.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def driver_memory(total_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: a quarter of the host's memory
    (``total_bytes``, default the physical memory) in whole GiB, at least
    1g — the host may be shared, and concurrent plans share this heap."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total_bytes // (4 << 30))}g"


#: the JVM's CDS log would share the CLI's stdout: the first run's dump
#: warns about every class it skips
_CDS_LOG_OFF = "-Xlog:cds*=off"
#: longest wait at exit for the JVM that writes the archive (on 4 cores a
#: CLI run's dump took 14 s, the test suite's 20 s)
_DUMP_WAIT_S = 600


@dataclass(frozen=True)
class CdsLaunch:
    """How to launch the driver JVM with a CDS archive."""

    java_opts: str  # the whole spark.driver.extraJavaOptions to launch with
    conf_dir: str   # SPARK_CONF_DIR for the launch: an empty directory
    archive: str    # <cache>/cds/<key>.jsa
    dump: str | None  # where this JVM writes the archive, if none exists yet


def _java() -> str | None:
    """The ``java`` that ``spark-class`` runs, resolved."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java else None


def archive_key(java: str, jars_dir: str, conf_dir: str) -> str:
    """Key of the CDS archive: the ``java`` binary, the name, size and
    mtime of every jar on Spark's classpath, and the path of the empty
    conf directory that leads that classpath.  An upgrade of either makes
    a new key, so a stale archive is never handed to the JVM; nor is an
    archive copied from another cache, whose classpath the JVM would
    reject without a word."""
    h = hashlib.sha256(f"{conf_dir}\n".encode())
    for path in [java] + sorted(glob.glob(os.path.join(jars_dir, "*.jar"))):
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def cds_launch(conf: dict[str, str]) -> CdsLaunch | None:
    """The CDS launch for a session built from ``conf``, or None to launch
    as Spark does by default.

    None when the JVM is not this process's to launch (a live gateway, or
    ``PYSPARK_GATEWAY_PORT`` under spark-submit), when the conf directory
    holds a file Spark reads, and when the cache cannot be written.  CDS
    will not archive a classpath holding a non-empty directory, and Spark
    puts ``$SPARK_CONF_DIR`` first on it; a conf directory of
    ``*.template`` files only is swapped for an empty one, which Spark
    reads the same way.  The archive is used when it exists, else this
    JVM dumps one to a temp path of its own at exit."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    try:
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(conf_dir) and any(
                not n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        java = _java()
        if java is None:
            return None
        cache = os.path.join(os.environ.get("XDG_CACHE_HOME")
                             or os.path.expanduser("~/.cache"), "niamoto_spark")
        cds_dir, empty = os.path.join(cache, "cds"), os.path.join(cache, "conf")
        key = archive_key(java, os.path.join(spark_home, "jars"), empty)
        os.makedirs(cds_dir, exist_ok=True)
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(cds_dir, os.W_OK):
            return None
    except OSError:
        return None
    archive = os.path.join(cds_dir, f"{key}.jsa")
    dump = None
    if os.path.isfile(archive):
        flag = f"-XX:SharedArchiveFile={archive}"
    else:
        dump = os.path.join(cds_dir, f"{key}.{os.getpid()}.tmp")
        flag = f"-XX:ArchiveClassesAtExit={dump}"
    opts = [conf.get("spark.driver.extraJavaOptions"), shlex.quote(flag), _CDS_LOG_OFF]
    return CdsLaunch(" ".join(o for o in opts if o), empty, archive, dump)


@contextlib.contextmanager
def _conf_dir(path: str | None):
    """``SPARK_CONF_DIR`` set to ``path`` while the gateway launches."""
    if path is None:
        yield
        return
    prev = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if prev is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = prev


def _publish(cds: CdsLaunch, returncode: int) -> None:
    """Move the archive a JVM dumped to its final name if the JVM exited
    with status 0, and delete it otherwise: a killed or failed JVM may
    leave a partial file.  A new archive replaces those of other keys."""
    try:
        if returncode != 0:
            os.remove(cds.dump)
            return
        os.replace(cds.dump, cds.archive)
        cds_dir = os.path.dirname(cds.archive)
        for name in os.listdir(cds_dir):
            path = os.path.join(cds_dir, name)
            if path != cds.archive and not _dumping(name):
                os.remove(path)
    except OSError:
        pass


def _publish_when_done(gateway, cds: CdsLaunch) -> None:
    """Publish the archive once the gateway's JVM exits.  A thread waits
    for the JVM, so a caller that stops it early publishes early; at
    interpreter exit a hook stops the gateway and waits, since the JVM
    writes the archive only as it exits."""
    proc = gateway.proc
    waiter = threading.Thread(target=lambda: _publish(cds, proc.wait()),
                              name="cds-publish", daemon=True)
    waiter.start()

    def at_exit():
        if proc.poll() is None:
            # stopped from here, the context also closes its accumulator
            # server, which would print the JVM's hang-up as a traceback
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            gateway.shutdown()
            proc.stdin.close()  # the gateway's JVM exits on EOF
        waiter.join(_DUMP_WAIT_S)
        if waiter.is_alive():
            proc.kill()
            waiter.join()

    atexit.register(at_exit)


def _dumping(name: str) -> bool:
    """Whether ``<key>.<pid>.tmp`` belongs to a live process."""
    parts = name.split(".")
    if len(parts) != 3 or parts[2] != "tmp" or not parts[1].isdigit():
        return False
    try:
        os.kill(int(parts[1]), 0)
    except ProcessLookupError:
        return False
    except OSError:
        pass
    return True


def get_spark(app_name: str = "niamoto_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, falling back to
    all cores).  On a cluster, pass master=None with spark-submit providing
    the master URL; the conf here remains valid.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = cpus
    # Single-JVM local mode: driver memory is the only pool.  Leave headroom
    # for the OS; on a real cluster the executor memory flags take over.
    conf.setdefault("spark.driver.memory",
                    os.environ.get("SPARK_DRIVER_MEM") or driver_memory())
    if extra_conf:
        conf.update(extra_conf)
    cds = cds_launch(conf)
    if cds is not None:
        conf["spark.driver.extraJavaOptions"] = cds.java_opts
    for k, v in conf.items():
        if v is not None:
            builder = builder.config(k, v)
    with _conf_dir(cds and cds.conf_dir):
        spark = builder.getOrCreate()
    if cds is not None and cds.dump is not None:
        _publish_when_done(SparkContext._gateway, cds)
    spark.sparkContext.setLogLevel("WARN")
    return spark
