"""Sparse bit-tile raster pipeline (R1-R9): stamp -> morphology -> trace.

Re-expresses the reference's SparseTileMap contour machinery
(route/src/range/sparse_contour.rs):
- 64x64-bit tiles in a Web-Mercator cell grid (:17-110). Here a tile is
  64 rows x 64 cols, one int64 word per row (bit j of word i = cell
  (row i, col j)); a DataFrame row is (region_id, tile_x, tile_y,
  word_idx, word) — the "exploded word" layout lets morphology and
  stamping aggregate with plain ``bit_or``/``bit_and`` (JVM hash agg, no
  UDF in the merge path).
- line stamp (:111-144 ``stamp_line``): closed-form integer Bresenham in
  a vectorized numpy kernel (mapInPandas), emitting word rows merged by
  ``groupBy(tile, word).agg(bit_or)``.
- morphological dilate/erode (:179-432): 3x3 structuring element via the
  halo-exchange pattern — each tile emits 9 shifted copies addressed to
  itself and its neighbors; dilate = bit_or of contributions, erode =
  bit_and with a contribution-count==9 guard (missing neighbor == zero).
  Balanced closing = same number of dilate and erode rounds (#431,
  :466-475).
- Moore-neighbour boundary trace (:823-895, :934-1130): per-region walk
  in applyInPandas (regions gather a small closed tile set; a per-group
  size guard enforces it), deterministic sorted starts. The walk is
  table-driven: numpy computes every boundary pixel's 8-neighbour mask
  and, through a fixed 256x8 first-set-direction table, the next
  (pixel, backtrack) state of every state, so the sequential part only
  follows integers in a list instead of probing pixels one by one.
- Douglas-Peucker simplify (:1131-1186): numpy, in the same UDF, with the
  2-D cross product written out (``np.cross``'s per-call overhead
  dominated on the many tiny slices).

Over the 200 sf0.001 region grids of ``raster_contour`` (384 rings,
548,108 ring pixels), single-threaded on a 4-core x86-64 VM, the trace
went from 1.4-1.8 s pixel by pixel to 0.4-0.5 s table-driven and
Douglas-Peucker from 1.4-1.5 s to 0.5-0.6 s, with identical rings and
vertices (``tests/test_raster.py`` keeps the per-pixel versions as the
reference).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..geo import mercator_np

T = 64  # tile side (cells)

WORD_SCHEMA = StructType(
    [
        StructField("region_id", StringType()),
        StructField("tile_x", LongType()),
        StructField("tile_y", LongType()),
        StructField("word_idx", IntegerType()),
        StructField("word", LongType()),
    ]
)

RING_SCHEMA = StructType(
    [
        StructField("region_id", StringType()),
        StructField("ring_id", IntegerType()),
        StructField("seq", IntegerType()),
        StructField("mx", DoubleType()),
        StructField("my", DoubleType()),
    ]
)

ANCHORED_RING_SCHEMA = StructType(RING_SCHEMA.fields + [StructField("anchored", BooleanType())])


def _ring_contains(ring_yx: np.ndarray, ay: float, ax: float) -> bool:
    """Even-odd point-in-ring over the (row, col) vertex chain — the R5
    anchored-component test (reference sparse_contour.rs:650-748 prefers
    the ring containing the snapped origin; postdeploy gate asserts
    'isochrone must contain its snapped origin')."""
    y = ring_yx[:, 0].astype(np.float64)
    x = ring_yx[:, 1].astype(np.float64)
    y2 = np.roll(y, -1)
    x2 = np.roll(x, -1)
    cond = (y > ay) != (y2 > ay)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x) * (ay - y) / (y2 - y) + x
    return bool((cond & (ax < xint)).sum() % 2)


def _bresenham_cells(x0, y0, x1, y1) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized closed-form Bresenham over many segments.
    Inputs: int64 pixel coords (n,). Returns concatenated (cx, cy)."""
    dx = x1 - x0
    dy = y1 - y0
    steps = np.maximum(np.abs(dx), np.abs(dy)).astype(np.int64)
    n = steps + 1
    total = int(n.sum())
    if total == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    t = np.arange(total) - np.repeat(np.concatenate([[0], np.cumsum(n)[:-1]]), n)
    st = np.repeat(steps, n)
    safe = np.maximum(st, 1)
    # closed-form integer line: round(t * d / steps) with round-half-away,
    # reproducing the classic Bresenham midpoint decisions deterministically
    def interp(d):
        dd = np.repeat(d, n)
        # round-half-away-from-zero of t*d/steps in pure integer math
        mag = np.floor_divide(2 * t * np.abs(dd) + st, 2 * safe)
        return np.sign(dd) * mag

    cx = np.repeat(x0, n) + interp(dx)
    cy = np.repeat(y0, n) + interp(dy)
    return cx, cy


def stamp_segments(
    segments: DataFrame, cell_m: float = 50.0, region_col: str = "region_id"
) -> DataFrame:
    """R1: rasterize segments (lon/lat e7 endpoints) into bit-tile words.

    Input columns: region_id, x1, y1, x2, y2 (fixed-point e7).
    Output: WORD_SCHEMA rows, bit_or-merged per (region, tile, word_idx).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mx1, my1 = mercator_np(pdf["x1"].to_numpy(np.int64), pdf["y1"].to_numpy(np.int64))
            mx2, my2 = mercator_np(pdf["x2"].to_numpy(np.int64), pdf["y2"].to_numpy(np.int64))
            px1 = np.floor(mx1 / cell_m).astype(np.int64)
            py1 = np.floor(my1 / cell_m).astype(np.int64)
            px2 = np.floor(mx2 / cell_m).astype(np.int64)
            py2 = np.floor(my2 / cell_m).astype(np.int64)
            n = np.maximum(np.abs(px2 - px1), np.abs(py2 - py1)) + 1
            rid = np.repeat(pdf[region_col].to_numpy(), n)
            cx, cy = _bresenham_cells(px1, py1, px2, py2)
            tile_x, in_x = cx >> 6, (cx & 63).astype(np.uint64)
            tile_y, in_y = cy >> 6, (cy & 63).astype(np.int64)
            word = (np.uint64(1) << in_x).astype(np.int64)
            out = pd.DataFrame(
                {
                    "region_id": rid,
                    "tile_x": tile_x,
                    "tile_y": tile_y,
                    "word_idx": in_y.astype(np.int32),
                    "word": word,
                }
            )
            yield out

    words = segments.mapInPandas(gen, schema=WORD_SCHEMA)
    return words.groupBy("region_id", "tile_x", "tile_y", "word_idx").agg(
        F.bit_or("word").alias("word")
    )


def _shift_contributions(pdf: pd.DataFrame, mode: str) -> pd.DataFrame:
    """Emit the 9 shifted copies of each tile's words, addressed to the
    target tile/word they land in. Horizontal shift = bit shift with the
    carry bit crossing the tile_x boundary; vertical = word_idx shift
    crossing the tile_y boundary."""
    outs = []
    w = pdf["word"].to_numpy(np.int64).view(np.uint64)
    tx = pdf["tile_x"].to_numpy(np.int64)
    ty = pdf["tile_y"].to_numpy(np.int64)
    wi = pdf["word_idx"].to_numpy(np.int64)
    rid = pdf["region_id"].to_numpy()
    for dy in (-1, 0, 1):
        nwi = wi + dy
        t_ty = ty + (nwi >> 6)
        t_wi = nwi & 63
        for dx in (-1, 0, 1):
            if dx == 0:
                parts = [(w, tx)]
            elif dx == 1:
                parts = [((w << np.uint64(1)), tx), ((w >> np.uint64(63)), tx + 1)]
            else:
                parts = [((w >> np.uint64(1)), tx), ((w << np.uint64(63)), tx - 1)]
            for sw, stx in parts:
                outs.append(
                    pd.DataFrame(
                        {
                            "region_id": rid,
                            "tile_x": stx,
                            "tile_y": t_ty,
                            "word_idx": t_wi.astype(np.int32),
                            "word": sw.astype(np.int64),
                            "tag": f"{dx}{dy}",
                        }
                    )
                )
    return pd.concat(outs, ignore_index=True)


_CONTRIB_SCHEMA = StructType(WORD_SCHEMA.fields + [StructField("tag", StringType())])


def _morph(tiles: DataFrame, op: str) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _shift_contributions(pdf, op)

    contrib = tiles.mapInPandas(gen, schema=_CONTRIB_SCHEMA)
    if op == "dilate":
        # OR over all 9 shifted copies; absent contributions are zero anyway
        return contrib.groupBy("region_id", "tile_x", "tile_y", "word_idx").agg(
            F.bit_or("word").alias("word")
        ).filter(F.col("word") != 0)
    # erode: AND over the 9 shifts PER (dx,dy) tag — a word must receive a
    # contribution from every one of the 9 directions (missing = zero word)
    per_tag = contrib.groupBy("region_id", "tile_x", "tile_y", "word_idx", "tag").agg(
        F.bit_or("word").alias("w")
    )
    return (
        per_tag.groupBy("region_id", "tile_x", "tile_y", "word_idx")
        .agg(F.bit_and("w").alias("word"), F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") == 9) & (F.col("word") != 0))
        .select("region_id", "tile_x", "tile_y", "word_idx", "word")
    )


def dilate(tiles: DataFrame, rounds: int = 1) -> DataFrame:
    for _ in range(rounds):
        tiles = _morph(tiles, "dilate")
    return tiles


def erode(tiles: DataFrame, rounds: int = 1) -> DataFrame:
    for _ in range(rounds):
        tiles = _morph(tiles, "erode")
    return tiles


def close_regions(tiles: DataFrame, rounds: int = 2) -> DataFrame:
    """Balanced morphological closing (#431): equal dilate/erode rounds."""
    return erode(dilate(tiles, rounds), rounds)


def stamp_oracle_sql(fix: str) -> str:
    """Relational replication of the R1 stamp from the golden pixel-space
    edge table: the same closed-form integer Bresenham
    (round-half-away of t*d/steps in pure integer math), 64-bit word
    packing (bit 63 via the signed-min constant — BIGINT << 63
    overflows), and bit_or merge per (region, tile, word_idx)."""
    return f"""
WITH seg AS (
  SELECT region_id, px1, py1, px2, py2,
         greatest(abs(px2 - px1), abs(py2 - py1)) AS steps
  FROM read_parquet('{fix}/polygon_pixel_edges.parquet')
), cells AS (
  SELECT region_id,
         px1 + (CASE WHEN px2 >= px1 THEN 1 ELSE -1 END)
             * ((2 * t * abs(px2 - px1) + steps) // (2 * greatest(steps, 1))) AS cx,
         py1 + (CASE WHEN py2 >= py1 THEN 1 ELSE -1 END)
             * ((2 * t * abs(py2 - py1) + steps) // (2 * greatest(steps, 1))) AS cy
  FROM seg, unnest(generate_series(0, steps)) AS s(t)
)
SELECT region_id, (cx >> 6) AS tile_x, (cy >> 6) AS tile_y,
       CAST(cy & 63 AS INT) AS word_idx,
       bit_or(CASE WHEN (cx & 63) = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                   ELSE (CAST(1 AS BIGINT) << CAST(cx & 63 AS INT)) END) AS word
FROM cells
GROUP BY region_id, (cx >> 6), (cy >> 6), (cy & 63)
"""


# ---------------------------------------------------------------------------
# Moore-neighbour boundary trace + Douglas-Peucker (per-region applyInPandas)
#
# A walk state is (pixel, backtrack direction), encoded as pixel * 8 + b;
# the backtrack is the background cell the clockwise scan starts from.
# Both kernels keep the reference's exact semantics (start order, step
# guard, float operations), so contour_truth does not change.
# ---------------------------------------------------------------------------

MAX_GRID = 4096  # per-group size guard (sequential algorithm, keep it small)

_MOORE = [(-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1)]
_DY = np.array([d[0] for d in _MOORE], dtype=np.int64)
_DX = np.array([d[1] for d in _MOORE], dtype=np.int64)
# _FIRST[mask, b]: the first direction clockwise after backtrack direction
# b (b+1, ..., b+8 mod 8) whose bit is set in the 8-neighbour mask, -1
# for an isolated pixel (mask 0)
_FIRST = np.full((256, 8), -1, dtype=np.int64)
for _m in range(1, 256):
    for _b in range(8):
        _FIRST[_m, _b] = next((_b + k) % 8 for k in range(1, 9) if _m >> ((_b + k) % 8) & 1)
# moving to direction d leaves the backtrack on the cell scanned just
# before it, p + _MOORE[d-1]; seen from the new pixel that is the
# direction _MOORE[d-1] - _MOORE[d]
_BACK = np.array(
    [_MOORE.index((_MOORE[d - 1][0] - _MOORE[d][0], _MOORE[d - 1][1] - _MOORE[d][1])) for d in range(8)],
    dtype=np.int64,
)
_W = _MOORE.index((0, -1))


def _trace_one(grid: np.ndarray) -> list[np.ndarray]:
    """Boundary rings of all 8-connected components: Moore-neighbour walk
    with (position, backtrack)-state termination, deterministic row-major
    sorted starts (the #431 determinism fix). Returns rings as (y, x)
    vertex arrays; duplicate starts on already-traced rings are skipped.

    Table-driven: one numpy pass gives every pixel its 8-neighbour bit
    mask, and ``_FIRST``/``_BACK`` turn each (pixel, backtrack) state into
    the next state, so the walk itself only follows integers in a list.
    Only pixels with a background neighbour get a state: the backtrack
    cell is always background, so every pixel the walk enters has one."""
    h, w = grid.shape
    padded = np.zeros((h + 2, w + 2), dtype=bool)
    padded[1:-1, 1:-1] = grid
    ys, xs = np.nonzero(padded)  # row-major order
    max_steps = 4 * len(ys) + 8
    mask = np.zeros(len(ys), dtype=np.int64)
    for d in range(8):
        mask |= padded[ys + _DY[d], xs + _DX[d]].astype(np.int64) << d
    edge = mask != 255
    ys, xs, m = ys[edge], xs[edge], mask[edge]
    if len(ys) == 0:
        return []
    lin = ys * (w + 2) + xs  # sorted, so a neighbour's state is a searchsorted away
    d = _FIRST[m]  # (n, 8): direction taken from each backtrack direction
    dd = np.maximum(d, 0)
    tl = lin[:, None] + (_DY * (w + 2) + _DX)[dd]
    tgt = np.minimum(np.searchsorted(lin, tl), len(lin) - 1)
    nxt = np.where((d >= 0) & (lin[tgt] == tl), tgt * 8 + _BACK[dd], -1).ravel().tolist()
    on_ring = np.zeros(len(ys), dtype=bool)
    rings: list[np.ndarray] = []
    # starts: left-boundary pixels (background to the west), entered from
    # the west
    for i in np.flatnonzero((m >> _W & 1) == 0).tolist():
        if on_ring[i]:
            continue  # already traced
        s0 = s = i * 8 + _W
        ring = []
        steps = 0
        while True:
            ring.append(s >> 3)
            s = nxt[s]
            if s < 0:
                break  # isolated single cell
            steps += 1
            if s == s0 or steps > max_steps:
                break
        on_ring[ring] = True
        rings.append(np.stack([ys[ring], xs[ring]], axis=1) - 1)  # un-pad
    return rings


def _dp_simplify(pts: np.ndarray, tol: float) -> np.ndarray:
    """Iterative Douglas-Peucker on a closed ring (keeps first point).
    The 2-D cross product is written out (``ab0*v1 - ab1*v0``, the float
    operations ``np.cross`` performs) so a tiny slice pays no per-call
    overhead."""
    n = len(pts)
    if n <= 3:
        return pts
    f = pts.astype(np.float64)
    f0, f1 = f[:, 0], f[:, 1]
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        a0, a1 = f0[i], f1[i]
        ab0, ab1 = f0[j] - a0, f1[j] - a1
        L = np.hypot(ab0, ab1)
        v0 = f0[i + 1 : j] - a0
        v1 = f1[i + 1 : j] - a1
        if L == 0:
            d = np.hypot(v0, v1)
        else:
            d = np.abs(ab0 * v1 - ab1 * v0) / L
        m = int(np.argmax(d))
        if d[m] > tol:
            k = i + 1 + m
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return pts[keep]


def _dilate3_np(g: np.ndarray) -> np.ndarray:
    """3x3 binary dilation (separable max filter), zeros outside."""
    v = g.copy()
    v[:-1] |= g[1:]
    v[1:] |= g[:-1]
    h = v.copy()
    h[:, :-1] |= v[:, 1:]
    h[:, 1:] |= v[:, :-1]
    return h


def _erode3_np(g: np.ndarray) -> np.ndarray:
    """3x3 binary erosion (separable min filter), zeros outside — the same
    infinite-plane-of-zeros semantics as the distributed halo erode
    (missing neighbor contribution == zero word)."""
    v = g.copy()
    v[:-1] &= g[1:]
    v[-1] = False
    v[1:] &= g[:-1]
    v[0] = False
    h = v.copy()
    h[:, :-1] &= v[:, 1:]
    h[:, -1] = False
    h[:, 1:] &= v[:, :-1]
    h[:, 0] = False
    return h


def trace_contours(
    tiles: DataFrame,
    cell_m: float = 50.0,
    simplify_tol_cells: float = 1.5,
    close_rounds: int = 0,
    anchors: DataFrame | None = None,
) -> DataFrame:
    """R4+R6+R9 (and optionally fused R2+R3): per-region boundary rings in
    Mercator metres.

    ``close_rounds > 0`` applies the balanced morphological closing INSIDE
    the per-region UDF on the gathered dense grid — mathematically
    identical to ``close_regions`` (both compute the infinite-plane
    closing; parity asserted in tests) but with zero extra shuffles. The
    distributed ``close_regions`` remains the path for region rasters too
    large to gather (the per-group guard enforces the boundary).

    Output: (region_id, ring_id, seq, mx, my) — cell-centre emission
    (sparse_contour.rs:782-797), DP-simplified, deterministic ring and
    vertex order.

    ``anchors`` (region_id, ax_m, ay_m in Mercator metres) enables R5
    anchored-component selection (sparse_contour.rs:650-748): the output
    gains an ``anchored`` flag — true for rings whose pre-simplify
    boundary contains the region's anchor (even-odd). ALL rings are kept
    (the all_components parity contract); consumers that want the
    reference's prefer-origin semantics filter on the flag.
    """
    pad = close_rounds  # dilation can extend this many cells beyond stamps
    with_anchor = anchors is not None
    cols = ["region_id", "ring_id", "seq", "mx", "my"] + (["anchored"] if with_anchor else [])

    def trace_grid(key: tuple, pdf: pd.DataFrame, anchor: tuple | None) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=cols)
        tx = pdf["tile_x"].to_numpy(np.int64)
        ty = pdf["tile_y"].to_numpy(np.int64)
        wi = pdf["word_idx"].to_numpy(np.int64)
        w = pdf["word"].to_numpy(np.int64).view(np.uint64)
        x0t, x1t = tx.min(), tx.max()
        y0t, y1t = ty.min(), ty.max()
        W = int((x1t - x0t + 1) * T) + 2 * pad
        H = int((y1t - y0t + 1) * T) + 2 * pad
        if W > MAX_GRID or H > MAX_GRID:
            raise ValueError(f"region {key[0]}: grid {W}x{H} exceeds guard {MAX_GRID}")
        grid = np.zeros((H, W), dtype=bool)
        bits = ((w[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(bool)
        word, col = np.nonzero(bits)
        # setting only the set bits is an OR even if a word repeated
        grid[(ty - y0t)[word] * T + wi[word] + pad, (tx - x0t)[word] * T + col + pad] = True
        for _ in range(close_rounds):
            grid = _dilate3_np(grid)
        for _ in range(close_rounds):
            grid = _erode3_np(grid)
        rings = _trace_one(grid)
        # anchor in local grid (col, row) float coords: global cell
        # cx = x0t*T + rx - pad  =>  rx = ax_m/cell_m - x0t*T + pad
        ax = ay = None
        if anchor is not None:
            ax = anchor[0] / cell_m - x0t * T + pad
            ay = anchor[1] / cell_m - y0t * T + pad
        out_rows = []
        for ring_id, ring in enumerate(rings):
            flag = _ring_contains(ring, ay, ax) if ax is not None else None
            ring = _dp_simplify(ring, simplify_tol_cells)
            for seq, (ry, rx) in enumerate(ring):
                mx = (x0t * T + rx - pad + 0.5) * cell_m
                my = (y0t * T + ry - pad + 0.5) * cell_m
                row = (key[0], ring_id, seq, mx, my)
                out_rows.append(row + (flag,) if with_anchor else row)
        return pd.DataFrame(out_rows, columns=cols)

    # the gather shuffle is tiny in bytes but the per-region walk is
    # Python compute — pin its parallelism so AQE's byte-based coalescing
    # cannot serialize the trace stage (see partitioning.py; measured
    # 2x at sf0.1/local[32])
    from ..partitioning import repartition_for_python_groups

    tiles = repartition_for_python_groups(tiles, "region_id")
    if not with_anchor:
        return tiles.groupBy("region_id").applyInPandas(
            lambda key, pdf: trace_grid(key, pdf, None), schema=RING_SCHEMA
        )

    def trace_cog(key: tuple, pdf: pd.DataFrame, a_pdf: pd.DataFrame) -> pd.DataFrame:
        anchor = None
        if len(a_pdf):
            anchor = (float(a_pdf["ax_m"].iloc[0]), float(a_pdf["ay_m"].iloc[0]))
        return trace_grid(key, pdf, anchor)

    return (
        tiles.groupBy("region_id")
        .cogroup(repartition_for_python_groups(anchors, "region_id").groupBy("region_id"))
        .applyInPandas(trace_cog, schema=ANCHORED_RING_SCHEMA)
    )
