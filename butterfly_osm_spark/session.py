"""SparkSession factory with the engine's scale-oriented defaults.

Defaults mirror what we would ship on a 1000-executor cluster: AQE on
(runtime re-plan, skew-join split, partition coalescing), Arrow-backed
pandas UDFs, zstd parquet. On the sandbox we run local[N]; the same
config ships via spark-submit --py-files unchanged.

Resources come from the host, not from constants: ``local[N]`` takes N
from the cores this process may run on (``os.sched_getaffinity``) and
the driver heap is half the physical RAM, at most 48 GB.
``$SPARK_GRAFT_CPUS`` and ``$SPARK_GRAFT_DRIVER_MEM`` override them.

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
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

# Shuffle partition count: on a real cluster this is ~2-3x total cores and
# AQE coalesces down. Locally 32 is not matched to the cores: AQE
# coalesces JVM stages to their bytes, and Python-group gathers cap their
# width at 2x the cores (partitioning.py).
_DEFAULT_SHUFFLE_PARTITIONS = "32"

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


def launch_conf() -> dict[str, str]:
    """The settings a JVM takes at launch: the driver heap and the JIT
    options. They take effect only where the JVM is started after they
    are set (see the module docstring for ``spark-submit``)."""
    return {
        "spark.driver.memory": default_driver_memory(),
        "spark.driver.defaultJavaOptions": JIT_OPTIONS,
        "spark.executor.defaultJavaOptions": JIT_OPTIONS,
    }


def get_spark(
    app_name: str = "butterfly-osm-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[default_cpus()]``.
    """
    b = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{default_cpus()}]")
        # AQE: runtime partition coalescing + skew-join split — the Spark
        # analog of the reference's hand-tuned tile sizing and dense-cell
        # skew fixes (reference docs/architecture.md:381-386, #525).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle_partitions or _DEFAULT_SHUFFLE_PARTITIONS)
        # Arrow for pandas UDF exchange (reference streams Arrow IPC tiles,
        # route/src/matrix/arrow_stream.rs — Arrow is our native exchange too).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # zstd cold-section compression analog (route/src/formats/zstd_compress.rs).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # scan-split size: at fixture scale the default 128 MB puts whole
        # tables in one scan task; 4 MB exposes row-group parallelism. On a
        # real 100 TB deployment this goes back to 128-256 MB (the R13
        # cache-aware tile-size analog — sized to the data, not hardcoded).
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("SPARK_GRAFT_MAX_PART", "4m"))
        # Deterministic timezone-free behavior.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in launch_conf().items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
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
    # spark-submit arguments for the session defaults, one per line
    # (scripts/submit.sh)
    print("--master", f"local[{default_cpus()}]", sep="\n")
    for k, v in launch_conf().items():
        print("--conf", f"{k}={v}", sep="\n")
