"""Session defaults: the driver JVM's class-data-sharing archive
(session.cds_archive) and the shuffle-partition count.

Tests that could train an archive point ``$XDG_CACHE_HOME`` at a temp
dir; the ones that need a trained archive reuse the one the session
fixture's JVM maps."""

import fcntl
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from butterfly_osm_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "4g"

# a session in a child process: the archives its driver JVM maps, and
# one query
_PROBE = """
import json, sys
from butterfly_osm_spark.session import get_spark
spark = get_spark(master="local[1]", shuffle_partitions="2", extra_conf=json.loads(sys.argv[1]))
with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/maps") as f:
    maps = sorted({line.split()[-1] for line in f if line.rstrip().endswith(".jsa")})
rows = spark.range(10).selectExpr("id % 3 AS k").groupBy("k").count().orderBy("k").collect()
print(json.dumps({"maps": maps, "rows": [list(r) for r in rows]}))
"""


def _env(xdg=None, **extra):
    """This process's environment for a child, without the conf dir a
    session in this process may have set, with ``$XDG_CACHE_HOME`` at
    ``xdg`` when given."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    if xdg is not None:
        env["XDG_CACHE_HOME"] = str(xdg)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    return {**env, "SPARK_GRAFT_DRIVER_MEM": HEAP, **extra}


def _probe(env, conf=None):
    """Run ``_PROBE``; its stdout must be the one JSON line."""
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, json.dumps(conf or {})],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout[-3000:]
    out = json.loads(lines[0])
    assert out["rows"] == [[0, 4], [1, 3], [2, 3]]
    return out


def _cached(out) -> list[str]:
    """The archives from this process's cache dir a probe's JVM mapped."""
    return [m for m in out["maps"] if m.startswith(session.cache_dir())]


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """An empty cache dir for this process, and the archive stem in it."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    os.makedirs(session.cache_dir())
    return session.archive_path(HEAP).removesuffix(".jsa")


def _fixture_archive(spark) -> str:
    """The archive the session fixture's JVM was started with."""
    args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    found = [a.split("=", 1)[1] for a in args if a.startswith("-XX:SharedArchiveFile=")]
    assert found, f"the session JVM maps no archive: {list(args)}"
    return found[-1]


def test_session_jvm_maps_spark_classes_from_the_archive(spark, tmp_path):
    """The fixture's driver JVM has the archive mapped, and a driver
    started from the same cache loads SparkContext from it."""
    path = _fixture_archive(spark)
    assert path == session.archive_path(session.default_driver_memory())
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/maps") as f:
        assert path in f.read()

    # the spark-submit arguments scripts/submit.sh takes: the archive in
    # the driver's JVM options, then the conf dir it needs
    args = subprocess.run(
        [sys.executable, "-m", "butterfly_osm_spark.session"],
        env=_env(), cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    assert args[-1] == f"SPARK_CONF_DIR={session.cache_dir()}/conf"
    opts = next(a for a in args if a.startswith("spark.driver.defaultJavaOptions="))
    assert opts.startswith(f"spark.driver.defaultJavaOptions={session.JIT_OPTIONS} -XX:SharedArchiveFile={path} ")

    log = tmp_path / "class-load.txt"
    out = _probe(_env(), {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"})
    assert path in out["maps"]
    loads = [line for line in log.read_text().splitlines() if " org.apache.spark.SparkContext " in line]
    assert loads and "source: shared objects file (top)" in loads[0], loads


@pytest.mark.parametrize("damage", ["garbage", "bad-header", "truncated"])
def test_damaged_archive_starts_without_it(spark, cache, damage):
    """A file at the archive path that is not a whole archive is not
    mapped: the session starts and answers a query, with nothing on
    stdout but its result. The package rejects a file without the
    archive magic or of another size than training recorded (HotSpot dies
    with SIGBUS mapping a truncated one); HotSpot rejects a bad header."""
    real = _fixture_archive(spark)
    if damage == "truncated":
        with open(real, "rb") as src, open(cache + ".jsa", "wb") as f:
            f.write(src.read(os.path.getsize(real) // 2))
        shutil.copy(real.removesuffix(".jsa") + ".size", cache + ".size")
    else:
        body = os.urandom(1 << 16)
        with open(cache + ".jsa", "wb") as f:
            f.write(body if damage == "garbage" else session._ARCHIVE_MAGIC + body)
        with open(cache + ".size", "w") as f:
            f.write(str(os.path.getsize(cache + ".jsa")))
    assert (session.cds_archive(HEAP) is None) == (damage != "bad-header")
    assert not _cached(_probe(_env(os.environ["XDG_CACHE_HOME"])))


def test_archive_key_follows_jdk_jars_and_oops_mode(tmp_path, monkeypatch):
    """A changed jar (size or mtime) or JDK gives a new archive name; heaps
    that keep compressed oops share one, a 32 GB heap does not."""
    jdk, jars = tmp_path / "jdk", tmp_path / "spark" / "jars"
    jdk.mkdir()
    jars.mkdir(parents=True)
    (jdk / "release").write_text('JAVA_VERSION="17.0.1"\n')
    jar = jars / "spark-core.jar"
    jar.write_bytes(b"x" * 100)
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(tmp_path / "spark"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))

    seen = [session.archive_path(HEAP)]
    assert session.archive_path("8046m") == seen[0]
    assert session.archive_path("32g") not in seen
    jar.write_bytes(b"x" * 101)
    seen.append(session.archive_path(HEAP))
    os.utime(jar, ns=(0, 0))
    seen.append(session.archive_path(HEAP))
    (jdk / "release").write_text('JAVA_VERSION="17.0.2"\n')
    seen.append(session.archive_path(HEAP))
    assert len(set(seen)) == 4
    assert all(os.path.dirname(p) == str(tmp_path / "cache" / "butterfly_osm_spark") for p in seen)


def test_conf_dir_with_configuration_turns_cds_off(tmp_path, monkeypatch):
    """A conf dir that holds more than templates is left as it is, and no
    archive flag is added, in get_spark or in submit.sh's arguments."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-env.sh.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    assert session._cds_conf_dir() == str(tmp_path / "cache" / "butterfly_osm_spark" / "conf")

    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.executor.cores 2\n")
    assert session._cds_conf_dir() is None
    assert session.cds_archive(HEAP) is None
    assert "SPARK_CONF_DIR" not in os.environ
    own = tmp_path / "my-conf"
    own.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(own))
    assert session.cds_archive(HEAP) is None
    assert os.environ["SPARK_CONF_DIR"] == str(own)

    for conf_dir in (None, str(own)):
        extra = {"SPARK_HOME": str(spark_home)} | ({"SPARK_CONF_DIR": conf_dir} if conf_dir else {})
        out = subprocess.run(
            [sys.executable, "-m", "butterfly_osm_spark.session"],
            env=_env(tmp_path / "cache", **extra), cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout
        assert "SharedArchiveFile" not in out and "SPARK_CONF_DIR" not in out
        assert f"spark.driver.defaultJavaOptions={session.JIT_OPTIONS}" in out.splitlines()
    assert os.listdir(tmp_path / "cache" / "butterfly_osm_spark") == ["conf"]


def test_training_lock_held_starts_without_archive(cache):
    """While another process trains, a session neither waits for it nor
    starts a training of its own."""
    with open(cache + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        t = time.perf_counter()
        assert session.cds_archive(HEAP) is None
        assert time.perf_counter() - t < 5
        assert not _cached(_probe(_env(os.environ["XDG_CACHE_HOME"])))
    assert not any(os.path.exists(cache + ext) for ext in (".jsa", ".log", ".failed"))


def test_failed_training_is_not_retried(cache, monkeypatch):
    """A training run that fails leaves <key>.failed with the reason, and
    no later session trains again."""
    monkeypatch.setattr(sys, "executable", "/bin/false")
    assert session.cds_archive(HEAP) is None
    with open(cache + ".failed") as f:
        assert "exit status 1" in f.read()
    assert not os.path.exists(cache + ".jsa")

    calls = []
    monkeypatch.setattr(session, "_train", lambda *a: calls.append(a))
    assert session.cds_archive(HEAP) is None
    assert calls == []


def test_shuffle_partitions_follow_the_cores(monkeypatch):
    """Twice the cores, at least 32: unchanged up to 16 cores."""
    for cpus, want in ((4, 32), (16, 32), (24, 48)):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
        assert session.default_shuffle_partitions() == want


def test_collect_budget_parses_driver_memory(monkeypatch):
    """The collect budget is COLLECT_FRACTION of the session's
    spark.driver.memory (a bare number or an m/g suffix), and of
    default_driver_memory() when the session does not set it."""
    from types import SimpleNamespace

    def fake(conf):
        return SimpleNamespace(sparkContext=SimpleNamespace(getConf=lambda: conf))

    frac = session.COLLECT_FRACTION
    budget = session.collect_budget_bytes
    assert budget(fake({"spark.driver.memory": "7680m"})) == int((7680 << 20) * frac)
    assert budget(fake({"spark.driver.memory": "8g"})) == int((8 << 30) * frac)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert budget(fake({})) == int((2 << 30) * frac)


def test_cached_results_coalesce(spark):
    """A persisted shuffle result is sized by AQE like any other stage:
    its cached plan may change output partitioning, so a small
    ``groupBy`` is cached in fewer partitions than the session's 8
    shuffle partitions (each cached partition is a task when written and
    again whenever it is read)."""
    from pyspark.sql import functions as F

    df = spark.range(10_000).groupBy((F.col("id") % 100).alias("k")).count().persist()
    try:
        assert df.count() == 100
        assert df.rdd.getNumPartitions() < 8
    finally:
        df.unpersist()
