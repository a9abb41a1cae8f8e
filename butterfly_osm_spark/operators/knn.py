"""kNN snap (J5): one grid kernel answers every target table; the gate
only decides where it runs.

Reference semantics: concentric cell rings around the query cell with an
early exit once the accepted k-th best distance beats the next ring's
inner edge (route/src/server/snap_index.rs:833-904 ``iterate_rings``;
k-th-best tracking :625-754, the #525 dense-cell fix), under a 5 km snap
cutoff (route/src/server/spatial.rs:9). The reference also sizes its
grid cells from data density (``cell_log2``, snap_index.rs:183-201) —
without that, urban cells hold thousands of points and every ring scan
goes quadratic (the exact #525 pathology, reproduced here at sf1 before
this fix).

Spark-first shape (SURVEY.md §7.1 step 5):
- resolution: the COARSEST grid level whose p95 cell occupancy stays
  under ``OCC_TARGET``, refined finer while the ring-2 rectangle still
  covers the cutoff (``_occupancy_res``). The driver path counts cells
  with ``np.unique`` on the collected targets; the tiled path runs
  ``adaptive_res`` (res-13 counts rolled up to every parent level, two
  shuffles) once for all tiles. Every fixture scale lands at res 11
  (425 rectangle cells).
- kernel (``_grid_topk``): the targets sorted by ``(cell, node_id)``
  into numpy arrays, the reference's cell-sorted in-memory snap grid.
  Rectangles of Chebyshev radius R = RING_R0, RING_R0 * RING_GROWTH, ...
  (2, 16, ...) are walked until R covers the cutoff; each rectangle row
  is one contiguous key range of the sorted cells (``np.searchsorted``).
  After covering ±R cells any unexplored point is at least R * min_edge
  metres away, so a query retires once it holds k candidates and its
  k-th beats that bound (or the rectangle covers the whole cutoff).
- driver path (target table within ``BROADCAST_MAX_ROWS``): the targets
  are collected once as Arrow — at most one row past the bound, so an
  oversized table never reaches the driver — and the queries stream
  through ONE ``mapInArrow`` running the kernel. No join, no exchange:
  the arrays ride in the kernel's closure, which PySpark ships as a
  broadcast for the plan's lifetime once it passes 1 MB.
- tiled path (a larger target table): the reference answers a snap from
  one packed grid per 0.1° region (``region_tiles.rs:53``), and so does
  this path. Tiles are the finest res whose cell edge is at least the
  cutoff (``_tile_res``: res 7, 0.1°, for 5 km). Queries are keyed by
  their tile; each target is replicated to every tile its ±cutoff bbox
  overlaps (the halo, at most 2x2 tiles), so every target within the
  cutoff of a query sits in the query's tile. Targets of tiles without
  queries are dropped by a semi-join before the Python boundary, and one
  cogroup per tile builds a grid from the tile's targets and runs the
  same kernel.
- final rank: ``(d2, node_id)`` (W1 deterministic ties), an
  ``np.lexsort`` in the kernel. Both paths hand ``(query_id, rank,
  node_id, d2)`` to ``_output``, so ``dist_m`` is always Spark's half-up
  ``round`` (numpy rounds half-even). Both return a lazy plan that
  caches nothing.

Ranking uses the reference's equirectangular metric with FIXED constants
(spatial.rs:226-230) — pure arithmetic on fixed-point ints, bit-identical
across Spark / numpy / DuckDB, so ranks match the SQL oracle exactly.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from .. import cells
from ..geo import M_PER_DEG_LAT, M_PER_DEG_LON, equirect_d2_np, equirect_d2_sql

CUTOFF_M = 5_000.0  # reference SNAP_CUTOFF (spatial.rs:9)
# p95 cell occupancy ceiling (reference warns >8192/cell). The density
# pick is then refined finer while the phase-2 ring still covers the
# cutoff — see _occupancy_res. Measured on the former Spark ring join
# (honest repeats, results identical):
#   sf0.1: res 11 5.3-9.1 s < res 10 9.6-84 s < res 9 18-27 s
#   sf1:   res 12 87 s      < res 11 220 s    < res 13 ~490 s
# i.e. finer wins (candidate volume dominates) EXCEPT when the finer
# grid's cover radius outgrows the R0*growth phase-2 rectangle — then
# open queries hit 1000+-cell shells and the join explodes (the sf1
# res-13 cliff). Occupancy target 64 + covering refinement picks the
# measured winner at both scales.
OCC_TARGET = 64
RES_FLOOR, RES_CEIL = 7, 13
# ring schedule: R = R0, R0*G, ... The kernel ranks every candidate of
# a step's rectangle at once, so the schedule trades steps for candidate
# volume: at p95 occupancy 64 the 5x5 first rectangle answers almost
# every query, and one more step covers the cutoff for the rest. Not a
# correctness knob (any schedule gives the same rows).
RING_R0 = 2
RING_GROWTH = 8


def _edge_m(res: int) -> tuple[float, float]:
    deg = cells.SIZE_E7[res] / 1e7
    return deg * M_PER_DEG_LON, deg * M_PER_DEG_LAT


def _occupancy_res(p95: dict[int, int], cutoff_m: float, occ_target: int = OCC_TARGET) -> int:
    """Working res from the p95 cell occupancy of every level: the
    coarsest level in [7, 13] at or under ``occ_target``, then finer (4x
    less candidate volume per level) while the R0*growth phase-2
    rectangle still covers the cutoff — past that point open queries meet
    1000+-cell shells (measured res-13 cliff at sf1, ~490 s vs 87 s at
    res 12)."""
    res = next(
        (r for r in range(RES_FLOOR, RES_CEIL + 1) if p95.get(r, 0) <= occ_target), RES_CEIL
    )
    while res < RES_CEIL:
        nlon, nlat = _edge_m(res + 1)
        if max(int(cutoff_m / nlon) + 1, int(cutoff_m / nlat) + 1) > RING_R0 * RING_GROWTH:
            break
        res += 1
    return res


def adaptive_res(
    targets: DataFrame, cutoff_m: float = CUTOFF_M, occ_target: int = OCC_TARGET
) -> tuple[int, dict[int, int]]:
    """Working res (``_occupancy_res``) and the p95 cell occupancy of
    every level (res -> p95), counted in Spark.

    One fine-grained count, then every parent level derived from the
    distinct-cell table in a single stacked aggregation.
    """
    fine = targets.select(cells.cell_col("lon_e7", "lat_e7", RES_CEIL).alias("c13")).groupBy(
        "c13"
    ).agg(F.count(F.lit(1)).alias("n"))
    stacked = fine.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("res"),
                        cells.parent_col("c13", RES_CEIL, r).alias("cell"),
                    )
                    for r in range(RES_FLOOR, RES_CEIL + 1)
                ]
            )
        ).alias("rc"),
        "n",
    ).select(F.col("rc.res").alias("res"), F.col("rc.cell").alias("cell"), "n")
    occ = (
        stacked.groupBy("res", "cell")
        .agg(F.sum("n").alias("occ"))
        .groupBy("res")
        .agg(F.expr("percentile_approx(occ, 0.95)").alias("p95"))
        .collect()
    )
    p95 = {r["res"]: r["p95"] for r in occ}
    return _occupancy_res(p95, cutoff_m, occ_target), p95


def _p95_np(lon_e7: np.ndarray, lat_e7: np.ndarray) -> dict[int, int]:
    """``adaptive_res``'s occupancy rollup over driver-side arrays:
    res-13 ``np.unique`` counts summed into every parent level, p95 as the
    smallest occupancy that at least 95 % of cells do not exceed
    (percentile_approx's definition)."""
    c13, n = np.unique(cells.cell_np(lon_e7, lat_e7, RES_CEIL), return_counts=True)
    p95 = {}
    for r in range(RES_FLOOR, RES_CEIL + 1):
        _, inv = np.unique(cells.parent_np(c13, r), return_inverse=True)
        occ = np.bincount(inv, weights=n)
        p95[r] = int(np.quantile(occ, 0.95, method="inverted_cdf")) if occ.size else 0
    return p95


# The driver path collects the target table only up to this many rows
# (16 B a row, 64 MB of Arrow held on the driver and again in each
# kernel's closure); a larger table takes the tiled path. The same bound
# caps the candidates one kernel step holds in memory.
BROADCAST_MAX_ROWS = 4_000_000


class _Grid(NamedTuple):
    """Target rows sorted by ``(cell, node_id)`` at ``res``: the packed
    cell, the coordinates, ``key`` (node_id's dense rank, the tie-break)
    and the ids themselves (an Arrow array of node_id's type)."""

    res: int
    cell: np.ndarray
    lon: np.ndarray
    lat: np.ndarray
    key: np.ndarray
    ids: pa.Array


def _grid(targets: pa.Table, res: int) -> _Grid:
    """``(node_id, lon_e7, lat_e7)`` rows as a ``_Grid`` at ``res`` (any
    res gives the same answers)."""
    lon = targets.column("lon_e7").to_numpy()
    lat = targets.column("lat_e7").to_numpy()
    ids = targets.column("node_id").combine_chunks()
    cell = cells.cell_np(lon, lat, res)
    key = np.unique(ids.to_numpy(zero_copy_only=False), return_inverse=True)[1]
    order = np.lexsort((key, cell))
    return _Grid(res, cell[order], lon[order], lat[order], key[order], ids.take(order))


def _topk_ranges(
    g: _Grid, qlon, qlat, qk, rows_q: np.ndarray, lo: np.ndarray, n: np.ndarray, cut2: float
):
    """Exact top-k per query over grid rows ``[lo, lo + n)`` of its
    rectangle rows (``rows_q`` names each row's query), inside the cutoff
    and ranked by ``(d2, node_id)``: (query, 0-based rank, grid row, d2)
    sorted by query then rank."""
    q = np.repeat(rows_q, n)
    gi = np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(n.sum())
    d2 = equirect_d2_np(qlon[q], qlat[q], g.lon[gi], g.lat[gi])
    inside = d2 <= cut2
    q, gi, d2 = q[inside], gi[inside], d2[inside]
    order = np.lexsort((g.key[gi], d2, q))
    q, gi, d2 = q[order], gi[order], d2[order]
    rank = np.arange(q.size) - np.searchsorted(q, q)
    top = rank < qk[q]
    return q[top], rank[top], gi[top], d2[top]


def _grid_topk(g: _Grid, qlon, qlat, qk, cutoff_m: float):
    """The ring walk over a ``_Grid``, for one batch of queries:
    (query index, 0-based rank, grid row, d2) of every answer row.

    Each rectangle row ``y`` spans cells ``(x0..x1, y)``, whose packed ids
    are consecutive, so it is one ``searchsorted`` key range of the sorted
    cells. Open queries are ranked in groups of at most about
    ``BROADCAST_MAX_ROWS`` candidates."""
    edge_lon_m, edge_lat_m = _edge_m(g.res)
    min_edge = min(edge_lon_m, edge_lat_m)
    rx_max = int(cutoff_m / edge_lon_m) + 1
    ry_max = int(cutoff_m / edge_lat_m) + 1
    qx, qy = cells.xy_np(qlon, qlat, g.res)
    out = [(np.zeros(0, np.int64),) * 3 + (np.zeros(0),)]
    open_q = np.flatnonzero(qk > 0)
    R = RING_R0
    while open_q.size:
        rx, ry = min(R, rx_max), min(R, ry_max)
        covers_cutoff = R >= rx_max and R >= ry_max
        bound_m = min(R * min_edge, cutoff_m)
        h = 2 * ry + 1
        rows_q = np.repeat(open_q, h)
        rows_y = (qy[open_q, None] + np.arange(-ry, ry + 1)).ravel()
        lo = np.searchsorted(g.cell, cells.pack_np(np.maximum(qx[rows_q] - rx, 0), rows_y, g.res))
        hi = np.searchsorted(g.cell, cells.pack_np(qx[rows_q] + rx, rows_y, g.res), side="right")
        n = hi - lo
        per_q = n.reshape(-1, h).sum(axis=1)
        group = (np.cumsum(per_q) - per_q) // max(BROADCAST_MAX_ROWS, 1)
        still_open = []
        for gid in np.unique(group):
            qs = open_q[group == gid]
            sel = np.repeat(group == gid, h)
            q, rank, gi, d2 = _topk_ranges(g, qlon, qlat, qk, rows_q[sel], lo[sel], n[sel], cutoff_m**2)
            found = np.bincount(q, minlength=len(qk))[qs]
            kth = np.zeros(len(qk))
            last = np.flatnonzero(np.diff(q, append=-1))  # each query's k-th (last) row
            kth[q[last]] = d2[last]
            done = covers_cutoff | ((found >= qk[qs]) & (kth[qs] < bound_m**2))
            retired = np.zeros(len(qk), dtype=bool)
            retired[qs[done]] = True
            keep = retired[q]
            out.append((q[keep], rank[keep], gi[keep], d2[keep]))
            still_open.append(qs[~done])
        open_q = np.concatenate(still_open)
        R *= RING_GROWTH
    return tuple(np.concatenate(c) for c in zip(*out))


def _answer(g: _Grid, queries, cutoff_m: float) -> pa.Table:
    """``(query_id, rank, node_id, d2)`` of every answer row of
    ``queries`` (an Arrow batch or table with ``query_id, lon_e7, lat_e7,
    k``) over ``g``; rank is 1-based."""
    cols = (queries.column(c).to_numpy(zero_copy_only=False) for c in ("lon_e7", "lat_e7", "k"))
    q, rank, gi, d2 = _grid_topk(g, *cols, cutoff_m)
    return pa.table(
        {
            "query_id": queries.column("query_id").take(q),
            "rank": (rank + 1).astype(np.int32),
            "node_id": g.ids.take(gi),
            "d2": d2,
        }
    )


def _answer_schema(queries: DataFrame, id_type) -> StructType:
    return StructType(
        [
            queries.schema["query_id"],
            StructField("rank", IntegerType()),
            StructField("node_id", id_type),
            StructField("d2", DoubleType()),
        ]
    )


def _grid_join(queries: DataFrame, targets: pa.Table, id_type, cutoff_m: float) -> DataFrame:
    """The driver path: one ``mapInArrow`` over the queries, no join.
    ``targets`` holds ``(node_id, lon_e7, lat_e7)``; ``id_type`` is
    node_id's Spark type."""
    res = _occupancy_res(
        _p95_np(targets.column("lon_e7").to_numpy(), targets.column("lat_e7").to_numpy()), cutoff_m
    )
    g = _grid(targets, res)

    def answer(batches):
        for b in batches:
            yield from _answer(g, b, cutoff_m).to_batches()

    q = queries.select("query_id", "lon_e7", "lat_e7", "k")
    return _output(q.mapInArrow(answer, _answer_schema(queries, id_type)))


def _tile_res(cutoff_m: float) -> int:
    """The finest res whose cells are at least ``cutoff_m`` on their
    shorter edge, so a target's ±cutoff bbox meets at most 2x2 tiles."""
    fits = [r for r in range(cells.RES_MAX + 1) if min(_edge_m(r)) >= cutoff_m]
    return max(fits, default=cells.RES_MIN)


def _tiled_join(queries: DataFrame, targets: DataFrame, id_type, cutoff_m: float) -> DataFrame:
    """The tiled path: the grid kernel once per tile, over the targets of
    the tile and its halo, in one cogroup. ``targets`` holds ``(node_id,
    lon_e7, lat_e7)``."""
    from ..partitioning import repartition_for_python_groups

    tile_res = _tile_res(cutoff_m)
    res = adaptive_res(targets, cutoff_m)[0]
    s = cells.SIZE_E7[tile_res]

    def tile_span(coord: str, off: int, m_per_deg: float) -> Column:
        # the tiles from one ±cutoff bbox edge to the other, the bbox
        # widened by one e7 unit so every target whose d2 passes the
        # cutoff lies inside it
        half = int(cutoff_m / m_per_deg * 1e7) + 1
        c = F.col(coord).cast("long")
        lo, hi = (F.floor((c + (off + d)) / s).cast("long") for d in (-half, half))
        return F.explode(F.sequence(lo, hi))

    tile = cells.cell_col("lon_e7", "lat_e7", tile_res).alias("tile")
    q = queries.select("query_id", "lon_e7", "lat_e7", "k", tile)
    t = (
        targets.select("*", tile_span("lon_e7", cells.OFF_LON_E7, M_PER_DEG_LON).alias("tx"))
        .select("*", tile_span("lat_e7", cells.OFF_LAT_E7, M_PER_DEG_LAT).alias("ty"))
        .select(
            "node_id",
            "lon_e7",
            "lat_e7",
            # packed like cells.cell_col
            (F.lit(tile_res << cells.RES_SHIFT) + F.col("ty") * F.lit(1 << cells.Y_SHIFT) + F.col("tx"))
            .cast("long")
            .alias("tile"),
        )
        .join(q.select("tile").distinct(), "tile", "left_semi")
    )

    def answer(tile_queries: pa.Table, tile_targets: pa.Table) -> pa.Table:
        return _answer(_grid(tile_targets, res), tile_queries, cutoff_m)

    return _output(
        repartition_for_python_groups(q, "tile")
        .groupBy("tile")
        .cogroup(repartition_for_python_groups(t, "tile").groupBy("tile"))
        .applyInArrow(answer, _answer_schema(queries, id_type))
    )


def knn_join(
    queries: DataFrame,
    targets: DataFrame,
    cutoff_m: float = CUTOFF_M,
    target_id: str = "id",
) -> DataFrame:
    """Top-k nearest targets per query point under the snap cutoff.

    Output: (query_id, rank, node_id, dist_m) — rank 1-based by
    (d2, node_id); dist_m rounded to mm. Queries with no target inside
    the cutoff produce no rows (reference empty-snap semantics). The
    result is a lazy plan with nothing cached.
    """
    nodes = targets.select(F.col(target_id).alias("node_id"), "lon_e7", "lat_e7")
    id_type = targets.schema[target_id].dataType
    # the phash_knn guard: at most one row past the bound reaches the driver
    rows = nodes.limit(BROADCAST_MAX_ROWS + 1).toArrow()
    if rows.num_rows <= BROADCAST_MAX_ROWS:
        return _grid_join(queries, rows, id_type, cutoff_m)
    return _tiled_join(queries, nodes, id_type, cutoff_m)


def _output(ranked: DataFrame) -> DataFrame:
    return ranked.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "node_id",
        F.round(F.sqrt("d2"), 3).alias("dist_m"),
    )


def knn_oracle_sql(fix: str, cutoff_m: float = CUTOFF_M) -> str:
    """Brute-force oracle with bbox prefilter; identical metric/tie-break."""
    d2 = equirect_d2_sql("q.lon_e7", "q.lat_e7", "n.lon_e7", "n.lat_e7")
    dlon = int(cutoff_m / M_PER_DEG_LON * 1e7)
    dlat = int(cutoff_m / M_PER_DEG_LAT * 1e7)
    return f"""
WITH cand AS (
  SELECT q.query_id, q.k, n.id AS node_id, {d2} AS d2
  FROM read_parquet('{fix}/query_points.parquet') q
  JOIN read_parquet('{fix}/osm_nodes.parquet') n
    ON n.lon_e7 BETWEEN q.lon_e7 - {dlon} AND q.lon_e7 + {dlon}
   AND n.lat_e7 BETWEEN q.lat_e7 - {dlat} AND q.lat_e7 + {dlat}
), ranked AS (
  SELECT query_id, k, node_id, d2,
         row_number() OVER (PARTITION BY query_id ORDER BY d2, node_id) AS rank
  FROM cand WHERE d2 <= {cutoff_m * cutoff_m!r})
SELECT query_id, CAST(rank AS INT) AS rank, node_id, round(sqrt(d2), 3) AS dist_m
FROM ranked WHERE rank <= k
"""
