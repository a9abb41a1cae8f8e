"""Partitioning helpers for Python-boundary group stages.

AQE partition coalescing (on in session.py, and the right default for
JVM stages) sizes post-shuffle partitions by BYTES. A gather feeding a
``groupBy(...).applyInPandas`` Python stage is routinely tiny in bytes
but heavy in per-group compute — coalescing such a shuffle to one or two
partitions serializes the whole Python stage (measured round-6:
``trace_contours`` 3.6 s -> 1.8 s at sf0.1/local[32] once the gather
kept its parallelism). The fix is an explicit-count repartition:
``repartition(n, keys)`` has shuffle origin REPARTITION_BY_NUM, which
AQE never coalesces, while ``FlatMapGroupsInPandas`` accepts the
resulting ``HashPartitioning(keys, n)`` so NO second exchange is added.

``n`` derives from ``spark.sql.shuffle.partitions`` — the session knob
that already scales with deployment size (a real cluster sets 2-3x total
cores) — never a hard-coded local constant. It is floored at the
scheduler's ``defaultParallelism`` so every core gets a group task, and
capped at 2x it: each Python task pays a fixed cost (worker hand-off,
Arrow set-up) that buys nothing once every core is busy, and the shuffle
setting often carries a floor tuned for a larger host (32 partitions on
4 cores ran 32 Python tasks per gather). Two waves leave room for uneven
group sizes. On a cluster, where shuffle partitions are 2-3x the cores,
the cap changes little.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def python_group_partitions(df: DataFrame) -> int:
    """Partition count for a Python-group gather: the session's shuffle
    parallelism (scale-configured), floored at the scheduler's default
    and capped at twice it."""
    spark = df.sparkSession
    dp = spark.sparkContext.defaultParallelism
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 — conf may be "auto" on some builds
        n = dp
    return min(max(n, dp), 2 * dp)


def repartition_for_python_groups(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``df`` by ``keys`` with an explicit count so the
    downstream ``groupBy(keys).applyInPandas`` keeps full parallelism
    (AQE cannot coalesce REPARTITION_BY_NUM) and inserts no extra
    exchange (the partitioning already satisfies its distribution)."""
    return df.repartition(python_group_partitions(df), *keys)
