"""SparkSession factory with the engine's scale-oriented defaults.

Defaults mirror what we would ship on a 1000-executor cluster: AQE on
(runtime re-plan, skew-join split, partition coalescing), Arrow-backed
pandas UDFs, zstd parquet. On the sandbox we run local[N]; the same
config ships via spark-submit --py-files unchanged.
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


def get_spark(
    app_name: str = "butterfly-osm-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
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
