"""Session defaults derived from the host, and the driver JVM's
class-data-sharing launch."""

import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext

from niamoto_spark import session
from niamoto_spark.session import driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_memory_is_a_quarter_of_the_host():
    gib = 1 << 30
    assert driver_memory(16_874_930_176) == "3g"     # 15.7 GiB
    assert driver_memory(64 * gib) == "16g"
    assert driver_memory(2 * gib) == "1g"            # never below 1g
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f
                          if ln.startswith("MemTotal")).split()[1])
    assert driver_memory() == f"{max(1, mem_kb // (4 << 20))}g"
    assert driver_memory() == driver_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))


@pytest.fixture
def fake_home(tmp_path, monkeypatch):
    """A Spark home of two jars and a templates-only conf dir, a fresh
    cache, and no gateway: the state of a first CLI run."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    for jar in ("a.jar", "b.jar"):
        (home / "jars" / jar).write_bytes(b"jar")
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "conf" / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return home


def test_templates_only_conf_dir_gets_an_archive(fake_home, tmp_path):
    cds = session.cds_launch({})
    cds_dir = tmp_path / "cache" / "niamoto_spark" / "cds"
    key = session.archive_key(session._java(), str(fake_home / "jars"),
                              cds.conf_dir)
    assert cds.archive == str(cds_dir / f"{key}.jsa")
    assert cds.dump == str(cds_dir / f"{key}.{os.getpid()}.tmp")
    assert cds.java_opts == f"-XX:ArchiveClassesAtExit={cds.dump} -Xlog:cds*=off"
    assert os.listdir(cds.conf_dir) == []
    # once an archive exists, later launches map it
    open(cds.archive, "wb").close()
    cds = session.cds_launch({})
    assert cds.dump is None
    assert cds.java_opts == f"-XX:SharedArchiveFile={cds.archive} -Xlog:cds*=off"


def test_conf_file_spark_reads_leaves_the_launch_alone(fake_home, monkeypatch):
    (fake_home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    assert session.cds_launch({}) is None
    with session._conf_dir(None):
        assert "SPARK_CONF_DIR" not in os.environ
    # the same for a conf dir named by the environment
    monkeypatch.setenv("SPARK_CONF_DIR", str(fake_home / "conf"))
    assert session.cds_launch({}) is None


def test_an_existing_gateway_leaves_the_launch_alone(fake_home, monkeypatch):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    assert session.cds_launch({}) is None
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session.cds_launch({}) is None


def test_callers_java_options_are_kept(fake_home):
    cds = session.cds_launch(
        {"spark.driver.extraJavaOptions": "-Dniamoto.x=1 -XX:+UseG1GC"})
    assert cds.java_opts.startswith("-Dniamoto.x=1 -XX:+UseG1GC -XX:ArchiveClassesAtExit=")


def test_key_follows_every_jar_size_and_mtime(fake_home, tmp_path):
    java, jars, conf = session._java(), str(fake_home / "jars"), str(tmp_path)
    key = session.archive_key(java, jars, conf)
    assert session.archive_key(java, jars, conf) == key
    jar = fake_home / "jars" / "b.jar"
    jar.write_bytes(b"jar, rebuilt")
    sized = session.archive_key(java, jars, conf)
    assert sized != key
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert session.archive_key(java, jars, conf) not in (key, sized)


def test_archive_copied_to_another_cache_is_not_mapped(fake_home, tmp_path,
                                                       monkeypatch):
    """The empty conf dir leads the JVM's classpath, so an archive dumped
    under one cache does not fit a launch from another; the JVM would
    drop it without a word.  Its copy must not be passed as the shared
    archive: the second cache dumps its own."""
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(fake_home))
    java = tmp_path / "java"
    java.write_bytes(b"")
    monkeypatch.setattr(session, "_java", lambda: str(java))
    first = session.cds_launch({})
    open(first.archive, "wb").close()
    assert "SharedArchiveFile" in session.cds_launch({}).java_opts

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "other"))
    cds_dir = tmp_path / "other" / "niamoto_spark" / "cds"
    cds_dir.mkdir(parents=True)
    (cds_dir / os.path.basename(first.archive)).write_bytes(b"")
    second = session.cds_launch({})
    assert second.conf_dir != first.conf_dir
    assert second.archive != str(cds_dir / os.path.basename(first.archive))
    assert "SharedArchiveFile" not in second.java_opts
    assert second.java_opts.startswith("-XX:ArchiveClassesAtExit=")


def test_unwritable_cache_launches_without_an_archive(fake_home, tmp_path,
                                                      monkeypatch):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    assert session.cds_launch({}) is None


def test_conf_dir_is_restored_after_the_launch(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_CONF_DIR", "/etc/spark")
    with session._conf_dir(str(tmp_path)):
        assert os.environ["SPARK_CONF_DIR"] == str(tmp_path)
    assert os.environ["SPARK_CONF_DIR"] == "/etc/spark"
    monkeypatch.delenv("SPARK_CONF_DIR")
    with session._conf_dir(str(tmp_path)):
        pass
    assert "SPARK_CONF_DIR" not in os.environ


def test_archive_is_published_only_after_a_clean_exit(fake_home):
    cds = session.cds_launch({})
    cds_dir = os.path.dirname(cds.archive)
    stale = os.path.join(cds_dir, "0123456789abcdef.jsa")
    dead = os.path.join(cds_dir, "0123456789abcdef.999999999.tmp")
    live = os.path.join(cds_dir, f"0123456789abcdef.{os.getppid()}.tmp")
    for path in (stale, dead, live, cds.dump):
        with open(path, "wb") as f:
            f.write(b"archive")
    session._publish(cds, 1)  # a failed JVM's file is never published
    assert sorted(os.listdir(cds_dir)) == sorted(
        os.path.basename(p) for p in (stale, dead, live))
    with open(cds.dump, "wb") as f:
        f.write(b"archive")
    session._publish(cds, 0)
    # other keys' archives and dead processes' dumps go; a live dump stays
    assert sorted(os.listdir(cds_dir)) == sorted(
        os.path.basename(p) for p in (cds.archive, live))
    session._publish(cds, 0)  # nothing dumped: nothing changes
    assert os.path.isfile(cds.archive)


#: runs the CLI module as ``python -m niamoto_spark`` does, then reports
#: the driver JVM's own command-line flags on stderr.  An accumulator
#: update leaves a connection open to the accumulator server, which the
#: JVM's exit must not turn into a traceback.
_CLI_PROBE = """
import json, runpy, sys
try:
    runpy.run_module("niamoto_spark", run_name="__main__", alter_sys=True)
finally:
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is None:
        raise SystemExit("no driver JVM")
    acc = sc.accumulator(0)
    sc.parallelize(range(4), 2).foreach(lambda x: acc.add(x))
    bean = sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    print("JVM_ARGS " + json.dumps(list(bean.getInputArguments())), file=sys.stderr)
"""


def _cli_import(tmp_path, cache):
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="2",
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, env.get("PYTHONPATH")) if p))
    p = subprocess.run(
        [sys.executable, "-c", _CLI_PROBE, "import",
         "--config", os.path.join(REPO, "examples", "config"),
         "--warehouse", str(tmp_path / "wh")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    assert "Traceback" not in p.stderr, p.stderr[-3000:]
    # the CLI's JSON line and nothing else: no JVM log line
    assert p.stdout.splitlines() == [json.dumps(
        {"imported": ["occurrences", "plots", "provinces", "taxons"]})], p.stdout
    line = next(ln for ln in p.stderr.splitlines() if ln.startswith("JVM_ARGS "))
    return json.loads(line[len("JVM_ARGS "):])


def test_cli_builds_the_archive_once_and_starts_from_it(tmp_path):
    """First run: the JVM dumps at exit and the archive appears under
    its key with no temp file left.  Second run: the JVM maps it."""
    cache = tmp_path / "cache"
    cds_dir = cache / "niamoto_spark" / "cds"
    args1 = _cli_import(tmp_path, cache)
    files = os.listdir(cds_dir)
    assert len(files) == 1 and files[0].endswith(".jsa"), files
    archive = str(cds_dir / files[0])
    dumps = [a.split("=", 1)[1] for a in args1
             if a.startswith("-XX:ArchiveClassesAtExit=")]
    assert len(dumps) == 1 and dumps[0].endswith(".tmp")
    assert os.path.dirname(dumps[0]) == str(cds_dir)
    args2 = _cli_import(tmp_path, cache)
    assert f"-XX:SharedArchiveFile={archive}" in args2
    assert not any(a.startswith("-XX:ArchiveClassesAtExit") for a in args2)
    assert os.listdir(cds_dir) == files


def test_cli_runs_without_an_archive_when_the_cache_is_unwritable(tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    args = _cli_import(tmp_path, blocker)
    assert not any("SharedArchiveFile" in a or "ArchiveClassesAtExit" in a
                   for a in args)
