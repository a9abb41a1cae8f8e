"""Point-in-polygon join (J8): cover-cell probe + ray-casting refine.

Reference semantics: bbox/grid envelope prefilter (J7,
route/src/server/snap_index.rs:767-812 ``samples_in_envelope``) then
even-odd ray casting per candidate (route/src/server/avoid.rs:521-550
``find_avoided_edges``; standalone even-odd PIP
route/src/server/catchment.rs:439-460,
route/src/range/sparse_contour.rs:920-933).

Spark-first design (SURVEY.md §7.1 step 4):
1. polygons -> cover cells at an adaptive resolution (reference adaptive
   cell sizing, sparse_contour.rs:515-545). Cells are ``full`` (entirely
   inside: no edge bbox touches the cell AND the cell center is inside)
   or ``partial``. The classifier is conservative — anything not provably
   full is partial, so correctness never depends on it, only the amount
   of ray-casting work.
2. points probe the cover on cell_id (res is packed inside the id).
3. ``full``-cell candidates pass with ZERO per-point work (the big win at
   scale); ``partial``-cell candidates are ray-cast.

ONE probe-and-refine kernel answers every call (``_cover_probe``, the
knn grid kernel's shape): built from ``(polygon_id, ring)`` rows, it
holds their cover sorted by cell and their closed edge arrays, computes
each point's cell at every cover res, probes the cover with
``np.searchsorted`` (several polygons may share a cell), passes ``full``
candidates and ray-casts ``partial`` ones. One bounded collect of ring
sizes (at most one polygon past the count bound) places it, against
``BROADCAST_MAX_ROWS``:
- request-sized polygon sets (the default): the rings are collected once
  as Arrow and the kernel runs in ONE ``mapInArrow`` over the points
  (``_cover_join``). No join, no explode, no exchange;
- unbounded polygon sets (nothing may be collected to the driver): the
  kernel runs once per res-7 (0.1 degree) tile, in one
  ``cogroup(...).applyInArrow`` (``_tiled_join``), over the tile's points
  and the rings whose bbox overlaps the tile. Every cover cell is at res
  ``MIN_RES`` or finer, so it nests in exactly one tile, and each point
  meets every cover cell that can hold it in its own tile.

Both placements return a lazy plan: nothing is cached, broadcast by hand
or left to release.

The ray-cast uses the exact expression ``px < (x2-x1)*(py-y1)/(y2-y1)+x1``
in float64 so the DuckDB oracle (same expression in SQL) matches
bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import cells

# Adaptive resolution: finest res whose cover for the polygon bbox stays
# under this cell count.
MAX_COVER_CELLS = 256
MIN_RES, MAX_RES = 7, 13
# hold the polygon cover and edges on the driver (and in the kernel's
# closure) only below this row count: the "request-sized polygon set"
# assumption is an input property, not an invariant — a million-polygon
# overlay must run the kernel per tile instead
BROADCAST_MAX_ROWS = 4_000_000

_COVER_SCHEMA = StructType(
    [
        StructField("polygon_id", StringType()),
        StructField("res", IntegerType()),
        StructField("cell_id", LongType()),
        StructField("coverage", StringType()),  # 'full' | 'partial'
    ]
)
_PAIRS = pa.schema([("point_id", pa.string()), ("polygon_id", pa.string())])
_PAIRS_DDL = "point_id string, polygon_id string"


def _raycast_np(px: np.ndarray, py: np.ndarray, x1, y1, x2, y2) -> np.ndarray:
    """Even-odd crossing parity for points (px,py) vs an edge set —
    vectorized (n_points x n_edges). Expression order matches the SQL
    oracle exactly (IEEE determinism)."""
    px = px[:, None]
    py = py[:, None]
    cond = (y1[None, :] > py) != (y2[None, :] > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1)[None, :] * (py - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
    crossing = cond & (px < xint)
    return (crossing.sum(axis=1) % 2).astype(bool)


def _pick_res(min_x: int, max_x: int, min_y: int, max_y: int) -> int:
    for res in range(MAX_RES, MIN_RES - 1, -1):
        s = cells.SIZE_E7[res]
        nx = (max_x + cells.OFF_LON_E7) // s - (min_x + cells.OFF_LON_E7) // s + 1
        ny = (max_y + cells.OFF_LAT_E7) // s - (min_y + cells.OFF_LAT_E7) // s + 1
        if nx * ny <= MAX_COVER_CELLS:
            return res
    return MIN_RES


def _cover_ring(vx: np.ndarray, vy: np.ndarray) -> tuple[int, np.ndarray, np.ndarray]:
    """Cover of one closed ring (int64 vertex coordinates in ring order):
    its res, the packed ids of the cells kept and whether each is
    ``partial`` (an edge bbox touches it) rather than ``full``."""
    ex1, ey1 = vx, vy
    ex2, ey2 = np.roll(vx, -1), np.roll(vy, -1)
    res = _pick_res(int(vx.min()), int(vx.max()), int(vy.min()), int(vy.max()))
    s = cells.SIZE_E7[res]
    gx, gy = cells.cover_bbox_py(int(vx.min()), int(vy.min()), int(vx.max()), int(vy.max()), res)
    bx0 = (np.minimum(ex1, ex2) + cells.OFF_LON_E7) // s
    bx1 = (np.maximum(ex1, ex2) + cells.OFF_LON_E7) // s
    by0 = (np.minimum(ey1, ey2) + cells.OFF_LAT_E7) // s
    by1 = (np.maximum(ey1, ey2) + cells.OFF_LAT_E7) // s
    touch = (
        (gx[:, None] >= bx0[None, :])
        & (gx[:, None] <= bx1[None, :])
        & (gy[:, None] >= by0[None, :])
        & (gy[:, None] <= by1[None, :])
    ).any(axis=1)
    cx = (gx * s - cells.OFF_LON_E7 + s // 2).astype(np.float64)
    cy = (gy * s - cells.OFF_LAT_E7 + s // 2).astype(np.float64)
    inside = _raycast_np(
        cx, cy, ex1.astype(np.float64), ey1.astype(np.float64), ex2.astype(np.float64), ey2.astype(np.float64)
    )
    keep = touch | inside
    return res, cells.pack_np(gx, gy, res)[keep], touch[keep]


def _driver_cover(rings: pa.Table) -> tuple[pa.Table, dict]:
    """``polygon_cover_cells`` rows of Arrow ``(polygon_id, ring)`` rows,
    and each polygon's closed float64 edge arrays ``(x1, y1, x2, y2)``
    for the refine kernel."""
    ring = rings.column("ring").combine_chunks()
    offs = ring.offsets.to_numpy()
    xs = ring.values.field("lon_e7").to_numpy().astype(np.int64)
    ys = ring.values.field("lat_e7").to_numpy().astype(np.int64)
    pids = rings.column("polygon_id").combine_chunks()
    owner, res, cell_id, partial = ([np.zeros(0, t)] for t in (np.int64, np.int32, np.int64, bool))
    edge_map = {}
    for i, pid in enumerate(pids.to_pylist()):
        vx, vy = xs[offs[i] : offs[i + 1]], ys[offs[i] : offs[i + 1]]
        r, c, p = _cover_ring(vx, vy)
        owner.append(np.full(len(c), i))
        res.append(np.full(len(c), r, dtype=np.int32))
        cell_id.append(c)
        partial.append(p)
        fx, fy = vx.astype(np.float64), vy.astype(np.float64)
        edge_map[pid] = (fx, fy, np.roll(fx, -1), np.roll(fy, -1))
    cover = pa.table(
        {
            "polygon_id": pids.take(np.concatenate(owner)),
            "res": np.concatenate(res),
            "cell_id": np.concatenate(cell_id),
            "coverage": np.where(np.concatenate(partial), "partial", "full"),
        }
    )
    return cover, edge_map


def polygon_cover_cells(polygons: DataFrame) -> DataFrame:
    """(polygon_id, res, cell_id, coverage) — ``_driver_cover`` over each
    Arrow batch of the polygons, in one ``mapInArrow``. A polygon's cover
    depends on its own ring alone, so any batching gives the same rows."""

    def cover(batches):
        for b in batches:
            yield from _driver_cover(pa.Table.from_batches([b]))[0].to_batches()

    rings = polygons.select(F.col("polygon_id").cast("string").alias("polygon_id"), "ring")
    return rings.mapInArrow(cover, _COVER_SCHEMA)


def _probe(lon: np.ndarray, lat: np.ndarray, cell: np.ndarray, res_list) -> tuple[np.ndarray, np.ndarray]:
    """(point row, cover row) of every cover cell holding a point, probed
    at each cover res: ``cell`` is the sorted packed cover ids, and one
    ``searchsorted`` key range per point and res holds every polygon
    sharing the point's cell."""
    q, ci = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for res in res_list:
        c = cells.cell_np(lon, lat, res)
        lo = np.searchsorted(cell, c)
        n = np.searchsorted(cell, c, side="right") - lo
        q.append(np.repeat(np.arange(len(c)), n))
        ci.append(np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(n.sum()))
    return np.concatenate(q), np.concatenate(ci)


def _cover_probe(rings: pa.Table):
    """The probe-and-refine kernel over ``(polygon_id, ring)`` rows: the
    returned ``answer(points)`` maps an Arrow batch or table of
    ``(point_id, lon_e7, lat_e7)`` points to its ``(point_id,
    polygon_id)`` pairs. The rings' cover is sorted by cell and rides in
    its closure with their closed edge arrays; it probes the cover at each
    cover res, passes ``full`` candidates and ray-casts ``partial`` ones."""
    cover, edge_map = _driver_cover(rings)
    order = np.argsort(cover.column("cell_id").to_numpy(), kind="stable")
    cover = cover.take(order)
    cell = cover.column("cell_id").to_numpy()
    partial = cover.column("coverage").to_numpy(zero_copy_only=False) == "partial"
    poly = cover.column("polygon_id").combine_chunks().dictionary_encode()
    owner = poly.indices.to_numpy()
    pids = poly.dictionary
    edges = [edge_map[pid] for pid in pids.to_pylist()]
    res_list = sorted(set(cover.column("res").to_pylist()))

    def answer(points) -> pa.Table:
        lon = np.asarray(points.column("lon_e7"))
        lat = np.asarray(points.column("lat_e7"))
        q, ci = _probe(lon, lat, cell, res_list)
        keep = ~partial[ci]
        # partial candidates grouped by polygon with index slices
        part = np.flatnonzero(~keep)
        o = owner[ci[part]]
        grp = np.argsort(o, kind="stable")
        rows, o = part[grp], o[grp]
        bounds = np.searchsorted(o, np.arange(len(pids) + 1))
        px, py = lon.astype(np.float64)[q[rows]], lat.astype(np.float64)[q[rows]]
        for k in np.flatnonzero(np.diff(bounds)):
            g = slice(bounds[k], bounds[k + 1])
            keep[rows[g]] = _raycast_np(px[g], py[g], *edges[k])
        return pa.Table.from_arrays(
            [points.column("point_id").take(q[keep]), pids.take(owner[ci[keep]])], schema=_PAIRS
        )

    return answer


def _cover_join(points: DataFrame, rings: pa.Table) -> DataFrame:
    """The driver path: ``_cover_probe`` over the collected rings, in one
    ``mapInArrow`` over ``(point_id, lon_e7, lat_e7)`` points, no join."""
    answer = _cover_probe(rings)

    def run(batches):
        for b in batches:
            yield from answer(b).to_batches()

    return points.mapInArrow(run, _PAIRS_DDL)


def _tiled_join(points: DataFrame, rings: DataFrame) -> DataFrame:
    """The tiled path: ``_cover_probe`` once per ``MIN_RES`` tile, over
    the ``(polygon_id, ring)`` rows whose ring bbox overlaps the tile, in
    one cogroup with the tile's ``(point_id, lon_e7, lat_e7)`` points."""
    from ..partitioning import repartition_for_python_groups

    # the ring bbox's tiles, row by row: its west-edge tiles from south
    # to north, each widened east by the bbox's tile width
    lon, lat = F.col("ring.lon_e7"), F.col("ring.lat_e7")
    sw = cells.cell_col(F.array_min(lon), F.array_min(lat), MIN_RES)
    nw = cells.cell_col(F.array_min(lon), F.array_max(lat), MIN_RES)
    se = cells.cell_col(F.array_max(lon), F.array_min(lat), MIN_RES)
    west = F.explode(F.sequence(sw, nw, F.lit(1 << cells.Y_SHIFT).cast("long")))
    r = rings.select("*", west.alias("west"), (se - sw).alias("width")).select(
        F.explode(F.sequence("west", F.col("west") + F.col("width"))).alias("tile"), "polygon_id", "ring"
    )
    p = points.select(cells.cell_col("lon_e7", "lat_e7", MIN_RES).alias("tile"), "*")

    def answer(tile_points: pa.Table, tile_rings: pa.Table) -> pa.Table:
        if tile_points.num_rows == 0:
            return _PAIRS.empty_table()
        return _cover_probe(tile_rings.select(["polygon_id", "ring"]))(tile_points)

    return (
        repartition_for_python_groups(p, "tile")
        .groupBy("tile")
        .cogroup(repartition_for_python_groups(r, "tile").groupBy("tile"))
        .applyInArrow(answer, _PAIRS_DDL)
    )


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    id_col: str = "image_id",
    lon_col: str = "lon_e7",
    lat_col: str = "lat_e7",
    out_id: str = "point_id",
) -> DataFrame:
    """(out_id, polygon_id) pairs where the point is inside the polygon
    (even-odd). Points exactly on edges follow the raycast convention.
    Both columns are strings: the point id is cast.

    One bounded collect of ring sizes places the probe-and-refine kernel
    (``_cover_probe``): at most ``BROADCAST_MAX_ROWS // MAX_COVER_CELLS``
    polygons holding at most ``BROADCAST_MAX_ROWS`` ring vertices in total
    (request-sized polygon sets) take the driver path, where their rings
    are collected once as Arrow and the kernel runs in one ``mapInArrow``
    over the points (``_cover_join``): no join and no exchange. Past the
    gate (unbounded polygon sets, nothing may be collected) the same
    kernel runs once per res-7 tile in one cogroup (``_tiled_join``).
    The kernel uses the exact float64 op order of the SQL oracle
    (``(x2-x1)*(py-y1)/(y2-y1)+x1``), so results stay bit-exact. The
    result is a lazy plan with nothing to release."""
    pts = points.where(F.col(lon_col).isNotNull() & F.col(lat_col).isNotNull()).select(
        F.col(id_col).cast("string").alias("point_id"),
        F.col(lon_col).alias("lon_e7"),
        F.col(lat_col).alias("lat_e7"),
    )
    # what the driver would hold: cover rows (at most MAX_COVER_CELLS per
    # polygon above the res-7 floor) and one edge per ring vertex — a few
    # polygons with huge rings must not pass on their polygon count. At
    # most one polygon past the count bound reaches the driver.
    cap = BROADCAST_MAX_ROWS // MAX_COVER_CELLS
    sizes = polygons.select(F.size("ring").alias("n")).limit(max(cap + 1, 0)).toArrow()
    n_vertices = pc.sum(sizes.column("n")).as_py() or 0
    rings = polygons.select(F.col("polygon_id").cast("string").alias("polygon_id"), "ring")
    if sizes.num_rows <= cap and n_vertices <= BROADCAST_MAX_ROWS:
        pairs = _cover_join(pts, rings.toArrow())
    else:
        pairs = _tiled_join(pts, rings)
    return pairs.withColumnRenamed("point_id", out_id)


def pip_oracle_sql(fix: str, point_table: str = "image_geo", id_col: str = "image_id", out_id: str = "point_id") -> str:
    """DuckDB oracle: bbox prefilter + the identical even-odd raycast,
    expressed relationally over the normalized polygon_edges fixture."""
    return f"""
WITH bbox AS (
  SELECT polygon_id, min(least(x1, x2)) AS minx, max(greatest(x1, x2)) AS maxx,
         min(least(y1, y2)) AS miny, max(greatest(y1, y2)) AS maxy
  FROM read_parquet('{fix}/polygon_edges.parquet') GROUP BY polygon_id
), cand AS (
  SELECT p.{id_col} AS {out_id}, CAST(p.lon_e7 AS DOUBLE) AS px, CAST(p.lat_e7 AS DOUBLE) AS py, b.polygon_id
  FROM read_parquet('{fix}/{point_table}.parquet') p JOIN bbox b
    ON p.lon_e7 >= b.minx AND p.lon_e7 <= b.maxx AND p.lat_e7 >= b.miny AND p.lat_e7 <= b.maxy
), crossings AS (
  SELECT c.{out_id}, c.polygon_id, count(*) AS n
  FROM cand c JOIN read_parquet('{fix}/polygon_edges.parquet') e ON c.polygon_id = e.polygon_id
  WHERE (CAST(e.y1 AS DOUBLE) > c.py) <> (CAST(e.y2 AS DOUBLE) > c.py)
    AND c.px < CAST(e.x2 - e.x1 AS DOUBLE) * (c.py - CAST(e.y1 AS DOUBLE)) / CAST(e.y2 - e.y1 AS DOUBLE) + CAST(e.x1 AS DOUBLE)
  GROUP BY c.{out_id}, c.polygon_id)
SELECT {out_id}, polygon_id FROM crossings WHERE n % 2 = 1
"""
