"""SparkSession factory with the engine's scale-oriented defaults.

Defaults mirror what we would ship on a 1000-executor cluster: AQE on
(runtime re-plan, skew-join split, partition coalescing), Arrow-backed
pandas UDFs, zstd parquet. On the sandbox we run local[N]; the same
config ships via spark-submit --py-files unchanged.

Cached plans coalesce too. Spark's default keeps a persisted plan's
output partitioning (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
is false), so AQE never coalesces the final shuffle of a ``persist``-ed
result: every one of the shuffle partitions becomes a task when the
cache is written and again each time it is read. Single-pass operators
return lazy plans and cache nothing; what still persists is loop state
and the results built on it (the graph loops: ``bfs_hops``,
``isochrone_ms``, ``pagerank``, ``kcore_peel``, ``time_matrix``,
``route_paths``; ``tiles.cell_compact``), ``zonal_stats``'s decoded
samples, ``incremental_dedup``'s verified pairs, BPE merges and k-means.
The package lets AQE size those by bytes like any other stage. When
``minhash_lsh`` still persisted its pairs, a traced perfbench
``raster_dedup`` run (sf0.001, 4-core x86-64 VM, 32 shuffle partitions)
went from 105 tasks to 11 for its 25-row result and its scheduler wait
from 17.7 s to 0.2 s.

Resources come from the host, not from constants: ``local[N]`` takes N
from the cores this process may run on (``os.sched_getaffinity``) and
the driver heap is half the physical RAM, at most 48 GB.
``$SPARK_GRAFT_CPUS`` and ``$SPARK_GRAFT_DRIVER_MEM`` override them. A
collect to the driver may take ``COLLECT_FRACTION`` of that heap
(``collect_budget_bytes``).

JIT thresholds. Every build and benchmark pass is a cold driver JVM,
and HotSpot's C2 compiler spent about half of such a job's CPU
recompiling Spark's own per-job machinery, not per-row code. A JFR
``jdk.Compilation`` recording of one ``snap_build`` run (perfbench,
4-core x86-64 VM, JDK 17) showed 44.4 s of C2 time over 3,726 compiles:
JDK serialization, class loading and lambdas 17.2 s, Janino (which
compiles the generated code) 9.9 s, Scala and Catalyst 6.7 s, py4j and
pickling about 2 s. ``JIT_OPTIONS`` raises the four tier-4 (C2) compile
thresholds to 10x the JDK 17 defaults, so code that runs only a few
thousand times per job stays at C1 while per-row code still reaches C2
early in a pass. In one ``snap_build`` run's driver JVM (per-thread CPU
from ``/proc/<pid>/task``) the C2 threads then used 7.0 s instead of
20.0 s, and the whole JVM 26.7 s instead of 37.8 s.
Two other settings were measured and rejected on the ``bench.py`` sf0.1
headline (local[4], min of 3 passes): 30x the defaults cut C2 time
further but slowed the headline from a median of 15.3 s to 19.8 s
(knn_nodes 6.8 -> 9.5 s, image_tiles 0.19 -> 0.53 s: per-row code
reached C2 too late), and stopping at C1 (``-XX:TieredStopAtLevel=1``)
slowed it from 37-40 s to 54-61 s.

The options are set as ``spark.{driver,executor}.defaultJavaOptions``,
which Spark puts in front of ``extraJavaOptions``; HotSpot takes the
last value of a repeated flag, so a caller overrides a threshold (or
restores a JDK default) by naming it in ``extraJavaOptions``, e.g.
``-XX:Tier4InvocationThreshold=5000``. Driver options only reach a JVM
that ``get_spark`` starts itself: under ``spark-submit`` the driver is
running before it is called, so ``scripts/submit.sh`` passes
``launch_conf()`` on the command line (``python -m
butterfly_osm_spark.session`` prints those arguments).

Class-data sharing. A cold driver JVM also loads, parses and verifies
the same ~15,000 Spark, Scala and Hadoop classes on every start:
perfbench's ``setup_s`` was still about 21 s of scaled CPU per run with
the JIT options. ``cds_archive`` keeps one dynamic AppCDS archive per
(JDK ``release`` file, Spark jars' names, sizes and mtimes,
compressed-oops mode) key, and a driver JVM that ``get_spark`` starts
maps it with ``-XX:SharedArchiveFile`` instead of parsing the classes
again. Over 10 alternating perfbench pairs (4-core x86-64 VM, JDK 17,
Spark 4.1.2, ``--seconds 1``) ``snap_build`` ``setup_s`` fell from a
median of 21.3 to 14.7 and ``cpu_s`` from 45.6 to 42.9; a traced run's
driver took 14,928 classes from the archive and 1,350 from jars. The
archive is written once per key, about 177 MB, by a child process that
runs a short fixed workload (``_training_run``, 35-40 s) with
``-XX:ArchiveClassesAtExit``; training inside a user's run instead
made that run's set-up 30 s. The archives live in
``$XDG_CACHE_HOME/butterfly_osm_spark`` (else
``~/.cache/butterfly_osm_spark``); delete that directory to retrain.
Three catches:

- HotSpot neither dumps nor maps an archive when a non-empty directory
  is on the classpath, and Spark puts ``$SPARK_CONF_DIR`` (default
  ``$SPARK_HOME/conf``, which ships only ``*.template`` files) first.
  The driver then runs with an empty package-owned conf dir, but only
  when no configuration is lost by it; a caller's ``$SPARK_CONF_DIR``
  turns class-data sharing off.
- An archive only serves a JVM in the compressed-oops mode it was
  dumped in, and HotSpot drops compressed oops for heaps of 32 GB and
  more: an archive trained at 8 GB was silently unused at 40 GB. The
  mode is part of the key; heaps under 32 GB share one archive.
- Janino's JARs are signed, and HotSpot does not archive classes from
  signed JARs (779 of the 1,350 above); the training log
  (``<key>.log``) lists them.

Only the driver maps the archive: executor JVMs on a cluster do not
have the file. A missing, locked, failed (``<key>.failed``) or damaged
archive starts the driver as before. HotSpot rejects an archive with a
bad header itself, but dies (SIGBUS) mapping a truncated one, so
training records the archive's size (``<key>.size``) and only a file
of that size is mapped. HotSpot's own CDS warnings go to stderr, since
a run's stdout may be its result.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

# tier-4 (C2) compile thresholds: 10x the JDK 17 defaults (5000, 600,
# 15000, 40000); see the module docstring
JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def default_cpus() -> int:
    """Cores for ``local[N]``: ``$SPARK_GRAFT_CPUS``, else the cores this
    process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """Driver heap: ``$SPARK_GRAFT_DRIVER_MEM``, else half the host's
    physical RAM, at most 48 GB. In local mode the heap shares the RAM
    with one Python worker per core and the page cache the scans read
    through; a heap sized past the RAM grows until the kernel kills it."""
    if mem := os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return mem
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(48 << 10, ram_mb // 2)}m"


# share of the driver heap one collect to the driver may take. The bytes
# are estimated from the schema's row width, and the numpy kernels that
# read the rows (connected components: ``dedup._component_labels``) hold
# several arrays of the same length at once.
COLLECT_FRACTION = 1 / 16


def collect_budget_bytes(spark: SparkSession) -> int:
    """Bytes one collect to the driver may take: ``COLLECT_FRACTION`` of
    the session's ``spark.driver.memory`` (``default_driver_memory()``
    when the session does not set it)."""
    mem = spark.sparkContext.getConf().get("spark.driver.memory") or default_driver_memory()
    return int(_heap_bytes(mem) * COLLECT_FRACTION)


def default_shuffle_partitions() -> int:
    """Shuffle partition count: twice ``default_cpus()``, at least 32. On
    a real cluster this is ~2-3x the total cores and AQE coalesces down;
    locally AQE coalesces JVM stages to their bytes, and Python-group
    gathers cap their width at 2x the cores (partitioning.py)."""
    return max(32, 2 * default_cpus())


def launch_conf(archive: str | None = None) -> dict[str, str]:
    """The settings a JVM takes at launch: the driver heap, the JIT
    options and, when given, the class-data archive the driver maps
    (``cds_archive``). They take effect only where the JVM is started
    after they are set (see the module docstring for ``spark-submit``)."""
    driver = JIT_OPTIONS if archive is None else f"{JIT_OPTIONS} -XX:SharedArchiveFile={archive} {_CDS_LOG}"
    return {
        "spark.driver.memory": default_driver_memory(),
        "spark.driver.defaultJavaOptions": driver,
        "spark.executor.defaultJavaOptions": JIT_OPTIONS,
    }


# -- class-data sharing (see the module docstring) -----------------------------

# the first four bytes of a dynamic (top-layer) CDS archive, HotSpot's
# CDS_DYNAMIC_ARCHIVE_MAGIC in native byte order
_ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)
# HotSpot logs CDS warnings to stdout by default; a session's stdout can be
# a program's result (bench.py's and perfbench's last JSON line)
_CDS_LOG = "-Xlog:cds*=off:stdout -Xlog:cds*=warning:stderr"
# directories Spark's launcher also puts on the driver classpath; the
# archive key does not cover what they hold
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_TRAIN_TIMEOUT_S = 900


def cache_dir() -> str:
    """Where the archives live: ``$XDG_CACHE_HOME/butterfly_osm_spark``,
    else ``~/.cache/butterfly_osm_spark``."""
    root = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(root, "butterfly_osm_spark")


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home  # what launch_gateway runs

    return _find_spark_home()


def _java_home() -> str | None:
    """The JDK Spark's launcher runs the driver on: ``$JAVA_HOME``, else
    the one of ``java`` on the PATH."""
    if home := os.environ.get("JAVA_HOME"):
        return home
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _heap_bytes(mem: str) -> int:
    """Bytes of a ``spark.driver.memory`` value (a bare number is MiB)."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if m is None:
        raise ValueError(f"not a memory size: {mem!r}")
    return int(m[1]) << {"k": 10, "m": 20, "g": 30, "t": 40}[m[2] or "m"]


def archive_path(heap: str) -> str | None:
    """The archive file for this JDK, Spark classpath and driver heap:
    its name digests the JDK's ``release`` file, the (name, size, mtime)
    of every Spark jar and the compressed-oops mode, which HotSpot drops
    for heaps of 32 GB and more and which an archive must match. None
    when the JDK has no ``release`` file."""
    jdk = _java_home()
    if jdk is None:
        return None
    try:
        with open(os.path.join(jdk, "release"), "rb") as f:
            release = f.read()
    except OSError:
        return None
    jars = sorted(
        (e.name, e.stat().st_size, e.stat().st_mtime_ns)
        for e in os.scandir(os.path.join(_spark_home(), "jars"))
        if e.name.endswith(".jar")
    )
    coops = _heap_bytes(heap) < 32 << 30
    key = hashlib.sha256(repr((release, jars, coops)).encode()).hexdigest()[:20]
    return os.path.join(cache_dir(), f"{key}.jsa")


def _cds_conf_dir() -> str | None:
    """The empty directory to run the driver with as ``$SPARK_CONF_DIR``:
    Spark puts the conf dir first on the classpath, and HotSpot neither
    dumps nor maps an archive with a non-empty directory there. None when
    swapping it would drop configuration: the caller set
    ``$SPARK_CONF_DIR`` (or another classpath directory), or Spark's
    default conf dir holds more than ``*.template`` files."""
    empty = os.path.join(cache_dir(), "conf")
    given = os.environ.get("SPARK_CONF_DIR")
    if given and os.path.abspath(given) != empty or any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    default = os.path.join(_spark_home(), "conf")
    if not given and os.path.isdir(default) and any(not f.endswith(".template") for f in os.listdir(default)):
        return None
    os.makedirs(empty, exist_ok=True)
    return None if os.listdir(empty) else empty


def _is_archive(path: str, size: int | None = None) -> bool:
    """Whether ``path`` starts as a dynamic archive does and, when given,
    holds ``size`` bytes. HotSpot checks an archive's header, but a file
    cut short crashes the JVM (SIGBUS) as it maps the missing pages."""
    try:
        with open(path, "rb") as f:
            return f.read(4) == _ARCHIVE_MAGIC and (size is None or os.fstat(f.fileno()).st_size == size)
    except OSError:
        return False


def _recorded_size(stem: str) -> int | None:
    """The byte count ``_train`` recorded for ``<stem>.jsa``."""
    try:
        with open(stem + ".size") as f:
            return int(f.read())
    except (OSError, ValueError):
        return None


def cds_archive(heap: str) -> str | None:
    """The archive a driver JVM with ``heap`` should map, trained first if
    it is missing. When one is returned, ``$SPARK_CONF_DIR`` is set to the
    empty conf dir it needs. None (the driver starts without an archive)
    when the conf dir cannot be swapped, another process holds the
    training lock, training failed once (``<key>.failed``), or the file
    is not the whole archive training wrote."""
    try:
        conf_dir = _cds_conf_dir()
        path = conf_dir and archive_path(heap)
        # the option value is split on whitespace and quotes
        if not path or re.search(r"[\s'\"\\]", path):
            return None
        stem = path.removesuffix(".jsa")
        if not os.path.exists(path) and not os.path.exists(stem + ".failed"):
            _train(stem, heap, conf_dir)
    except (OSError, ValueError):
        return None
    size = _recorded_size(stem)
    if size is None or not _is_archive(path, size):
        return None
    os.environ["SPARK_CONF_DIR"] = conf_dir
    return path


def _train(stem: str, heap: str, conf_dir: str) -> None:
    """Write ``<stem>.jsa`` from a child process running ``_training_run``
    under an exclusive lock; a process that finds the lock held returns
    at once. A failed run leaves ``<stem>.failed`` with the reason, the
    child's output (the JVM's CDS warnings among it) is ``<stem>.log``."""
    with open(stem + ".lock", "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return
        if os.path.exists(stem + ".jsa") or os.path.exists(stem + ".failed"):
            return  # finished by another process since the caller looked
        tmp = f"{stem}.{os.getpid()}.tmp"
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = {
            **os.environ,
            "SPARK_CONF_DIR": conf_dir,
            "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        }
        code = f"from butterfly_osm_spark.session import _training_run; _training_run({tmp!r}, {heap!r})"
        with open(stem + ".log", "w") as log:
            # its own process group, so a timeout also stops the JVM
            child = subprocess.Popen(
                [sys.executable, "-c", code], env=env, stdin=subprocess.DEVNULL,
                stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                rc = child.wait(_TRAIN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(child.pid, signal.SIGKILL)
                rc = f"killed after {_TRAIN_TIMEOUT_S} s"
        if rc == 0 and _is_archive(tmp):
            # the size first: a .jsa on disk is then always a whole one
            with open(stem + ".size", "w") as f:
                f.write(str(os.path.getsize(tmp)))
            os.replace(tmp, stem + ".jsa")
            return
        with open(stem + ".failed", "w") as f:
            f.write(f"training run exit status {rc}, archive written: {_is_archive(tmp)}; see {stem}.log\n")
        if os.path.exists(tmp):
            os.remove(tmp)


def _training_run(dump: str, heap: str) -> None:
    """The fixed workload whose classes the archive holds, run by the
    child process ``_train`` starts: session start, the benchmarks'
    warm-up, a parquet write and read, shuffle and broadcast joins, a
    window rank, a bucketed table, pandas map/group/collect, all on
    in-memory data. The driver JVM writes ``dump`` as it exits."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="cds-training-")
    try:
        spark = get_spark(
            app_name="butterfly-osm-spark-cds-training",
            extra_conf={
                "spark.driver.memory": heap,
                "spark.driver.defaultJavaOptions": f"{JIT_OPTIONS} -XX:ArchiveClassesAtExit={dump}",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        n = spark.sparkContext.defaultParallelism
        spark.range(100_000).select(F.sum(F.hash("id"))).collect()
        spark.range(n, numPartitions=n).groupBy("id").applyInPandas(lambda pdf: pdf, "id long").count()

        spark.range(20_000).select("id", (F.col("id") % 97).alias("k"), F.rand(1).alias("v")).write.parquet(
            os.path.join(work, "t")
        )
        t = read_parquet(spark, os.path.join(work, "t"))
        dim = spark.createDataFrame(pd.DataFrame({"k": range(97), "name": [str(i) for i in range(97)]}))
        t.join(dim.hint("merge"), "k").count()
        rn = F.row_number().over(Window.partitionBy("k").orderBy("v", "id"))
        ranked = t.join(F.broadcast(dim), "k").withColumn("rn", rn).where("rn <= 3")
        ranked.write.bucketBy(8, "k").sortBy("k").saveAsTable("cds_training")
        spark.table("cds_training").groupBy("k").count().collect()
        t.mapInPandas(lambda it: (pdf[pdf.v > 0.5] for pdf in it), t.schema).count()
        t.groupBy("k").applyInPandas(lambda pdf: pdf.head(1), t.schema).count()
        ranked.toPandas()

        # the JVM exits, writing the archive, when its stdin closes
        jvm = SparkContext._gateway.proc
        spark.stop()
        jvm.stdin.close()
        jvm.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def get_spark(
    app_name: str = "butterfly-osm-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[default_cpus()]``. A driver JVM this
    call starts maps the class-data archive (``cds_archive``) unless
    ``extra_conf`` sets ``spark.driver.defaultJavaOptions``.
    """
    extra_conf = extra_conf or {}
    archive = None
    if (
        SparkContext._gateway is None  # no JVM in this process yet
        and "PYSPARK_GATEWAY_PORT" not in os.environ  # nor one started by spark-submit
        and "spark.driver.defaultJavaOptions" not in extra_conf
    ):
        archive = cds_archive(extra_conf.get("spark.driver.memory") or default_driver_memory())
    b = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{default_cpus()}]")
        # AQE: runtime partition coalescing + skew-join split — the Spark
        # analog of the reference's hand-tuned tile sizing and dense-cell
        # skew fixes (reference docs/architecture.md:381-386, #525).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE size a persisted result by its bytes too: by default a
        # cached plan keeps every shuffle partition (see module docstring)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", shuffle_partitions or str(default_shuffle_partitions()))
        # Arrow for pandas UDF exchange (reference streams Arrow IPC tiles,
        # route/src/matrix/arrow_stream.rs — Arrow is our native exchange too).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # zstd cold-section compression analog (route/src/formats/zstd_compress.rs).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # scan-split size: at fixture scale the default 128 MB puts whole
        # tables in one scan task; 4 MB splits files larger than 4 MB by
        # row group. A smaller file is still one task whatever its row
        # groups: spark.sql.files.openCostInBytes (default 4 MB) keeps the
        # split size at or above 4 MB (sf0.1 image_geo.parquet, 3.6 MB in
        # 13 row groups, scans in one task). On a real 100 TB deployment
        # this goes back to 128-256 MB (the R13 cache-aware tile-size
        # analog — sized to the data, not hardcoded).
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_GRAFT_MAX_PART", "4m"))
        # Deterministic timezone-free behavior.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**launch_conf(archive), **extra_conf}.items():
        b = b.config(k, v)
    return b.getOrCreate()


# the key under which Spark serializes its own schema into the parquet
# footers it writes; Spark's schema inference prefers it to the parquet
# types when present
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def part_files(table_dir: str) -> list[str]:
    """Sorted names of the ``part-*.parquet`` data files of a table
    directory written by Spark (markers, checksums and hidden files are
    not data)."""
    return sorted(
        f for f in os.listdir(table_dir) if f.startswith("part-") and f.endswith(".parquet")
    )


def _first_footer(path: str) -> str | None:
    """The local parquet file whose footer Spark's non-merging schema
    inference would read: ``path`` itself, or the first part file of a
    table directory. None when there is none (empty directory, non-local
    URI)."""
    if os.path.isfile(path):
        return path
    if os.path.isdir(path) and (parts := part_files(path)):
        return os.path.join(path, parts[0])
    return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    The schema comes from one footer read on the driver, by the rule
    Spark's own inference uses without ``mergeSchema``: the first data
    file's footer, Spark's serialized schema if the file carries one,
    else the parquet types (timestamps without a time zone read as
    TIMESTAMP_NTZ when ``spark.sql.parquet.inferTimestampNTZ.enabled``,
    as Spark infers them). Paths with no local footer, and footers with
    types the Arrow conversion lacks, fall back to the plain read."""
    first = _first_footer(path)
    if first is None:
        return spark.read.parquet(path)
    arrow = pq.read_schema(first)
    serialized = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if serialized:
        schema = StructType.fromJson(json.loads(serialized))
    else:
        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
        try:
            schema = from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)
        except TypeError:  # a type Arrow conversion lacks (unsigned ints): let Spark infer
            return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


if __name__ == "__main__":
    # spark-submit arguments for the session defaults, one per line, then
    # SPARK_CONF_DIR=<dir> when the driver maps the class-data archive
    # (trained here if missing) and needs that conf dir (scripts/submit.sh)
    archive = cds_archive(default_driver_memory())
    print("--master", f"local[{default_cpus()}]", sep="\n")
    for k, v in launch_conf(archive).items():
        print("--conf", f"{k}={v}", sep="\n")
    if archive:
        print(f"SPARK_CONF_DIR={os.environ['SPARK_CONF_DIR']}")
