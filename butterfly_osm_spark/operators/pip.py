"""Point-in-polygon join (J8): cover-cell equi-join + ray-casting refine.

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
2. points join cover cells on cell_id (res is packed inside the id).
3. ``full``-cell candidates pass with ZERO per-point work (the big win at
   scale); ``partial``-cell candidates are ray-cast.

One aggregate over the polygons (row count and ``sum(size(ring))``)
picks one of two paths before anything is collected, against
``BROADCAST_MAX_ROWS``:
- request-sized polygon sets (the default): the rings are collected once
  as Arrow; the cover is computed on the driver with the same numpy math
  and joined as a local broadcast relation (no repartition, no
  ``applyInPandas`` gather, no cover persist); the closed edge arrays
  ride in the refine kernel's closure (the knn grid arrays' way), and
  one vectorized numpy kernel in ``mapInPandas`` over the single cover
  join passes ``full`` candidates and ray-casts ``partial`` ones in
  place — no exchange;
- unbounded polygon sets (nothing may be collected to the driver): the
  cover is computed per polygon in an ``applyInPandas`` gather and read
  once, by a cover join that shuffles on cell_id; the candidates
  shuffle-join per-polygon edge arrays and the even-odd parity
  (``size(filter(edges, crossing)) % 2``) is a JVM higher-order
  expression — no Python boundary, but evaluated per element, so slower
  where both can run (OPTIMIZATION_r06: min 5.44 s vs 3.68 s for the
  numpy refine on pip_images).

Both paths return a lazy plan: nothing is cached, broadcast by hand or
left to release.

The ray-cast uses the exact expression ``px < (x2-x1)*(py-y1)/(y2-y1)+x1``
in float64 so the DuckDB oracle (same expression in SQL) matches
bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
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
# broadcast the polygon cover set only below this row count (same gate
# rationale as operators.knn.BROADCAST_MAX_ROWS: the "request-sized
# polygon set" assumption is an input property, not an invariant — a
# million-polygon overlay must shuffle-join on cell_id instead)
BROADCAST_MAX_ROWS = 4_000_000

_COVER_SCHEMA = StructType(
    [
        StructField("polygon_id", StringType()),
        StructField("res", IntegerType()),
        StructField("cell_id", LongType()),
        StructField("coverage", StringType()),  # 'full' | 'partial'
    ]
)

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


def _cover_one(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("seq")
    res, cell_id, partial = _cover_ring(pdf["x"].to_numpy(np.int64), pdf["y"].to_numpy(np.int64))
    return pd.DataFrame(
        {
            "polygon_id": pdf["polygon_id"].iloc[0],
            "res": np.full(len(cell_id), res, dtype=np.int32),
            "cell_id": cell_id,
            "coverage": np.where(partial, "partial", "full"),
        }
    )


def _driver_cover(rings: pa.Table) -> tuple[pa.Table, dict]:
    """``polygon_cover_cells`` rows of collected ``(polygon_id, ring)``
    rows, computed on the driver with the same numpy math, and each
    polygon's closed float64 edge arrays ``(x1, y1, x2, y2)`` for the
    refine kernel."""
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
    """(polygon_id, res, cell_id, coverage) — distributed, one group per
    polygon, pure numpy per group. The gather keeps explicit parallelism
    (tiny bytes, real per-group compute — see partitioning.py)."""
    from ..partitioning import repartition_for_python_groups

    exploded = polygons.select("polygon_id", F.posexplode("ring").alias("seq", "v")).select(
        "polygon_id", "seq", F.col("v.lon_e7").alias("x"), F.col("v.lat_e7").alias("y")
    )
    exploded = repartition_for_python_groups(exploded, "polygon_id")
    return exploded.groupBy("polygon_id").applyInPandas(_cover_one, schema=_COVER_SCHEMA)


def polygon_edges_df(polygons: DataFrame) -> DataFrame:
    """Closed edge list from the nested ring column (wrap-around edge via
    lead + first over the ring window)."""
    w = Window.partitionBy("polygon_id").orderBy("seq")
    v = polygons.select("polygon_id", F.posexplode("ring").alias("seq", "v")).select(
        "polygon_id", "seq", F.col("v.lon_e7").alias("x1"), F.col("v.lat_e7").alias("y1")
    )
    return v.select(
        "polygon_id",
        "seq",
        "x1",
        "y1",
        F.coalesce(F.lead("x1").over(w), F.first("x1").over(w)).alias("x2"),
        F.coalesce(F.lead("y1").over(w), F.first("y1").over(w)).alias("y2"),
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

    One aggregate over the polygons (row count and ring vertices) picks
    the path before anything is collected. Under ``BROADCAST_MAX_ROWS``
    (request-sized polygon sets) the rings are collected once as Arrow,
    the cover is computed on the driver (``_driver_cover``) and joined as
    a local broadcast relation, and a shuffle-free ``mapInPandas`` refines
    the candidate stream with the polygon edge arrays in its closure.
    Past it (unbounded polygon sets,
    nothing may be collected) the cover is computed distributed
    (``polygon_cover_cells``), the cover join shuffles on cell_id and the
    refine joins per-polygon edge arrays and evaluates the even-odd
    parity as a JVM higher-order expression. Both paths use the exact
    float64 op order of the SQL oracle (``(x2-x1)*(py-y1)/(y2-y1)+x1``),
    so results stay bit-exact (parity pytest covers the fallback). The
    result is a lazy plan with nothing to release."""
    n_polygons, n_vertices = polygons.select(
        F.count(F.lit(1)), F.coalesce(F.sum(F.size("ring")), F.lit(0))
    ).first()
    # what the driver would hold: cover rows (at most MAX_COVER_CELLS per
    # polygon above the res-7 floor) and one edge per ring vertex — a few
    # polygons with huge rings must not pass on their polygon count
    local = max(n_polygons * MAX_COVER_CELLS, n_vertices) <= BROADCAST_MAX_ROWS
    if local:
        cover_tbl, edge_map = _driver_cover(polygons.select("polygon_id", "ring").toArrow())
        res_list = sorted(set(cover_tbl.column("res").to_pylist()))
        cov_sel = F.broadcast(
            points.sparkSession.createDataFrame(cover_tbl.select(["cell_id", "polygon_id", "coverage"]))
        )
    else:
        # unbounded polygon set: distributed cover, shuffle join on cell_id
        # (cover is bounded per polygon by MAX_COVER_CELLS but NOT in
        # polygon count). Points probe every resolution the cover can
        # use, so the cover is read once, by the join.
        res_list = range(MIN_RES, MAX_RES + 1)
        cov_sel = polygon_cover_cells(polygons).select("cell_id", "polygon_id", "coverage")

    # ONE point scan + ONE cover join: each point emits its cell id at
    # every resolution in res_list (res is packed inside the id, so
    # distinct resolutions can never collide on the join key). Fan-out
    # is |res_list| <= 7, vs the previous per-res scan+join+union chain.
    pts = points.select(
        F.col(id_col).alias("point_id"),
        F.col(lon_col).cast("double").alias("px"),
        F.col(lat_col).cast("double").alias("py"),
        F.explode(
            F.array(*[cells.cell_col(lon_col, lat_col, res) for res in res_list])
        ).alias("cell_id"),
    )
    cand = pts.join(cov_sel, "cell_id", "inner").select(
        "point_id", "px", "py", "polygon_id", "coverage"
    )

    if local:
        # request-sized polygon set: the closed edge arrays ride in the
        # kernel's closure (PySpark ships a closure past 1 MB as a
        # broadcast for the plan's lifetime) and the kernel refines the
        # candidate stream in-place — mapInPandas directly over
        # the broadcast cover join output, so the refine path adds ZERO
        # exchanges and no per-polygon task skew (any task refines any
        # polygon's rows). ``full`` rows pass as they are and only
        # ``partial`` rows are ray-cast, in the same kernel: splitting the
        # stream by coverage in the plan instead makes the optimizer push
        # each filter into the local cover relation and broadcast it twice
        # (two jobs).
        def refine_stream(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                keep = (pdf["coverage"] == "full").to_numpy()
                part = np.flatnonzero(~keep)
                # partial rows grouped by polygon with numpy index slices:
                # a pandas groupby per batch cost more than the ray-casts
                codes, pids = pd.factorize(pdf["polygon_id"].to_numpy()[part])
                rows = part[np.argsort(codes, kind="stable")]
                bounds = np.searchsorted(np.sort(codes), np.arange(len(pids) + 1))
                px = pdf["px"].to_numpy(np.float64)[rows]
                py = pdf["py"].to_numpy(np.float64)[rows]
                for k, pid in enumerate(pids):
                    g = slice(bounds[k], bounds[k + 1])
                    keep[rows[g]] = _raycast_np(px[g], py[g], *edge_map[pid])
                yield pdf.loc[keep, ["point_id", "polygon_id"]]

        pairs = cand.mapInPandas(refine_stream, schema="point_id string, polygon_id string")
    else:
        # unbounded polygon set: no driver-side collect — shuffle-join the
        # candidates to per-polygon edge arrays (built by ``transform``
        # over the ring, zero shuffles) and evaluate the even-odd parity
        # as a JVM higher-order expression for ``partial`` rows only
        # (``full`` rows short-circuit the OR). One candidate stream: split
        # by coverage, each branch would rerun the cover kernel. Same
        # float64 op order as the numpy kernel/oracle; NaN/Inf from a
        # horizontal edge (y2 == y1) is neutralized by the conjunction
        # exactly as in numpy (cond is false whenever y1 == y2).
        n_ring = F.size("ring")
        nxt = lambda i: ((i + F.lit(1)) % n_ring) + F.lit(1)  # noqa: E731
        edges_arr = F.transform(
            "ring",
            lambda v, i: F.struct(
                v["lon_e7"].cast("double").alias("x1"),
                v["lat_e7"].cast("double").alias("y1"),
                F.element_at(F.col("ring"), nxt(i))["lon_e7"].cast("double").alias("x2"),
                F.element_at(F.col("ring"), nxt(i))["lat_e7"].cast("double").alias("y2"),
            ),
        )
        poly_edges = polygons.select("polygon_id", edges_arr.alias("edges"))

        def _crossing(e):
            cond = (e["y1"] > F.col("py")) != (e["y2"] > F.col("py"))
            xint = (e["x2"] - e["x1"]) * (F.col("py") - e["y1"]) / (e["y2"] - e["y1"]) + e["x1"]
            return cond & (F.col("px") < xint)

        pairs = (
            cand.join(poly_edges, "polygon_id")
            .filter((F.col("coverage") == "full") | (F.size(F.filter("edges", _crossing)) % 2 == 1))
            .select("point_id", "polygon_id")
        )
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
