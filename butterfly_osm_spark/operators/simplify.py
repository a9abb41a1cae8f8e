"""Polyline simplification (Douglas-Peucker) — vector-tile geometry
reduction.

The reference ships way polylines to clients at multiple zooms
(route/src/server/geometry.rs polyline6 encoding; tiles thin geometry
before encode) — Douglas-Peucker is THE standard reduction: keep a
vertex iff dropping it would move the line more than a tolerance.

The recursion is inherently sequential PER WAY (each kept vertex
re-splits its span), so this is the graft's sanctioned pandas-UDF
shape (same tier as Viterbi/TSP/contour-trace: per-group sequential
kernels over Arrow batches, groups bounded by way length — fixture
ways are <= ~60 vertices; a planet-scale run groups by way_id, the
same key the vertex join already shuffles on, so the UDF adds no
exchange). The identical kernel function runs single-threaded at
fixture-generation time to produce ``simplify_truth`` — the driver
oracle verifies the distributed run reproduces it row-for-row
(the tsp_trips plumbing-parity discipline, its queries.py entry).

Distances are planar in e7 grid units (lon/lat isotropic — documented:
this is grid-space thinning for tile rendering, not geodesic
generalization); float64 throughout, argmax ties resolve to the first
index — deterministic because gentime and executors run the SAME code
on the SAME dtype.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

SIMPLIFY_TOL_E7 = 20_000.0  # ~140-220 m planar tolerance


def dp_keep_indices(x: np.ndarray, y: np.ndarray, tol: float) -> list[int]:
    """Indices of vertices kept by Douglas-Peucker at tolerance ``tol``
    (same units as x/y). Endpoints always kept; iterative stack (no
    Python recursion limit); point-to-SEGMENT distance (t clamped)."""
    n = len(x)
    if n <= 2:
        return list(range(n))
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    tol2 = float(tol) * float(tol)
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        xi, yi = x[i], y[i]
        dx, dy = x[j] - xi, y[j] - yi
        seg_x = x[i + 1 : j]
        seg_y = y[i + 1 : j]
        l2 = dx * dx + dy * dy
        if l2 == 0.0:
            d2 = (seg_x - xi) ** 2 + (seg_y - yi) ** 2
        else:
            t = np.clip(((seg_x - xi) * dx + (seg_y - yi) * dy) / l2, 0.0, 1.0)
            d2 = (seg_x - (xi + t * dx)) ** 2 + (seg_y - (yi + t * dy)) ** 2
        k = int(np.argmax(d2))
        if d2[k] > tol2:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return np.flatnonzero(keep).tolist()


@F.pandas_udf(ArrayType(IntegerType()))
def _dp_udf(lons: pd.Series, lats: pd.Series) -> pd.Series:
    return pd.Series(
        [
            dp_keep_indices(
                np.asarray(lo, dtype=np.float64),
                np.asarray(la, dtype=np.float64),
                SIMPLIFY_TOL_E7,
            )
            for lo, la in zip(lons, lats)
        ]
    )


def line_simplify(way_nodes: DataFrame, nodes: DataFrame) -> DataFrame:
    """(way_id, seq, node_id): the vertices each way keeps after
    Douglas-Peucker thinning at SIMPLIFY_TOL_E7 — ``seq`` is the
    ORIGINAL vertex sequence number, so downstream joins (coords, tile
    cover) keep working on the thinned chain."""
    from ..partitioning import repartition_for_python_groups

    wv = way_nodes.join(nodes, way_nodes.node_id == nodes.id).select(
        "way_id", "seq", "node_id", "lat_e7", "lon_e7"
    )
    # pin the way_id gather width: the window + groupBy + DP pandas-UDF
    # chain all reuse this one exchange, and AQE's byte-based coalescing
    # must not serialize the per-way Python DP (see partitioning.py)
    wv = repartition_for_python_groups(wv, "way_id")
    w = Window.partitionBy("way_id").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    arrs = (
        wv.withColumn("seqs", F.collect_list("seq").over(w))
        .withColumn("nids", F.collect_list("node_id").over(w))
        .withColumn("lats", F.collect_list("lat_e7").over(w))
        .withColumn("lons", F.collect_list("lon_e7").over(w))
        .groupBy("way_id")
        .agg(
            F.first("seqs").alias("seqs"),
            F.first("nids").alias("nids"),
            F.first("lats").alias("lats"),
            F.first("lons").alias("lons"),
        )
    )
    kept = arrs.select("way_id", "seqs", "nids", _dp_udf("lons", "lats").alias("keep"))
    return kept.select(
        "way_id", F.explode("keep").alias("k"), "seqs", "nids"
    ).select(
        "way_id",
        F.element_at("seqs", F.col("k") + 1).alias("seq"),
        F.element_at("nids", F.col("k") + 1).alias("node_id"),
    )


def line_simplify_oracle_sql(fix: str) -> str:
    """Plumbing-parity oracle: simplify_truth is a single-threaded
    generation-time run of the identical dp_keep_indices kernel; the
    row verifies the distributed collect/UDF/explode run reproduces it
    exactly (DP contract invariants are pytest-gated)."""
    return f"SELECT way_id, seq, node_id FROM read_parquet('{fix}/simplify_truth.parquet')"
