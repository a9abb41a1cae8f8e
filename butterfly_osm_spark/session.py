"""SparkSession factory with the engine's scale-oriented defaults.

Defaults mirror what we would ship on a 1000-executor cluster: AQE on
(runtime re-plan, skew-join split, partition coalescing), Arrow-backed
pandas UDFs, zstd parquet. On the sandbox we run local[N]; the same
config ships via spark-submit --py-files unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

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
