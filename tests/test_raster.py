"""Raster pipeline invariants (no SQL oracle — sequential-trace semantics):
contour determinism, order independence, origin containment, the grid
guard, the plan shape, and the kernels against per-pixel references."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.errors import PythonException

from butterfly_osm_spark.geo import mercator_np
from butterfly_osm_spark.operators import raster
from butterfly_osm_spark.operators.raster import trace_contours
from butterfly_osm_spark.queries import q_raster_contour


def _edges(spark, fix001):
    return spark.read.parquet(f"{fix001}/polygon_edges.parquet").select(
        F.col("polygon_id").alias("region_id"), "seq", "x1", "y1", "x2", "y2"
    )


def _segments(spark, fix001, n_poly=20):
    segs = _edges(spark, fix001)
    ids = [r.region_id for r in segs.select("region_id").distinct().orderBy("region_id").limit(n_poly).collect()]
    return segs.filter(F.col("region_id").isin(ids)), ids


def test_raster_contour_invariants(spark, fix001):
    segs, ids = _segments(spark, fix001)
    rings = trace_contours(segs, cell_m=50.0).toPandas()
    assert set(rings.region_id) == set(ids), "every polygon must produce a contour"
    # every traced ring must enclose its polygon centroid (outer ring exists)
    edges = spark.read.parquet(f"{fix001}/polygon_edges.parquet").toPandas()
    for rid in ids[:10]:
        e = edges[edges.polygon_id == rid]
        cx_e7, cy_e7 = e.x1.mean(), e.y1.mean()
        mx, my = mercator_np(np.array([cx_e7]), np.array([cy_e7]))
        r0 = rings[(rings.region_id == rid)]
        outer = r0[r0.ring_id == r0.ring_id.min()].sort_values("seq")
        # point-in-ring via raycast in mercator coords
        x1 = outer.mx.to_numpy(); y1 = outer.my.to_numpy()
        x2 = np.roll(x1, -1); y2 = np.roll(y1, -1)
        cond = (y1 > my[0]) != (y2 > my[0])
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (my[0] - y1) / (y2 - y1) + x1
        inside = (cond & (mx[0] < xint)).sum() % 2 == 1
        assert inside, f"{rid}: centroid not inside traced boundary"


def test_raster_contour_deterministic(spark, fix001):
    segs, _ = _segments(spark, fix001, n_poly=8)
    def run():
        return trace_contours(segs, cell_m=50.0).orderBy("region_id", "ring_id", "seq").collect()
    a, b = run(), run()
    assert a == b


def test_contour_ignores_segment_order(spark, fix001):
    """Shuffled rows over several partitions reach each region's kernel in
    any order; the kernel's seq sort gives the golden rows exactly."""
    segs = _edges(spark, fix001).orderBy(F.rand(7)).repartition(3)
    got = (
        trace_contours(segs, cell_m=50.0, close_rounds=2)
        .select("region_id", "ring_id", "seq", F.round("mx", 3).alias("mx"), F.round("my", 3).alias("my"), "anchored")
        .orderBy("region_id", "ring_id", "seq")
        .collect()
    )
    want = pd.read_parquet(f"{fix001}/contour_truth.parquet").sort_values(["region_id", "ring_id", "seq"])
    assert [tuple(r) for r in got] == list(want.itertuples(index=False, name=None))


def test_oversized_region_fails_fast(spark):
    """A region whose grid would pass MAX_GRID cells on a side raises,
    naming the region, instead of allocating the grid."""
    span_e7 = 20_000_000  # 2 degrees of longitude: ~4,450 cells of 50 m
    segs = spark.createDataFrame(
        [("small", 0, 0, 0, 10_000, 10_000), ("wide", 0, 0, 0, span_e7, 0), ("wide", 1, span_e7, 0, 0, 0)],
        "region_id string, seq int, x1 int, y1 int, x2 int, y2 int",
    )
    with pytest.raises(PythonException, match=r"ValueError: region wide: grid \d+x\d+ exceeds guard 4096"):
        trace_contours(segs, cell_m=50.0).collect()


def test_raster_contour_plan_is_one_python_group_stage(spark, fix001):
    """The query is a segment read and one per-region kernel: no stamp
    stage, no bit_or word merge, no cogrouped anchor table."""
    plan = q_raster_contour(spark, fix001)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "MapInPandas" not in plan, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert "bit_or" not in plan, plan


def test_anchored_ring_contains_origin(spark, fix001):
    """R5 postdeploy-gate analog (reference bench/postdeploy_gate.py:703,
    sparse_contour.rs:650-748): for every region, the anchor (the
    polygon's vertex mean = the snapped origin) must lie inside at least
    one traced ring, and that ring carries anchored=true; rings not
    containing the origin are flagged false (spurious-island
    discrimination)."""
    edges = _edges(spark, fix001)
    some = [r.region_id for r in edges.select("region_id").distinct().limit(12).collect()]
    segs = edges.filter(F.col("region_id").isin(some))
    rings = trace_contours(segs, cell_m=50.0, close_rounds=2).toPandas()
    assert set(rings.region_id) == set(some)
    # each segment starts at one vertex, so the x1/y1 mean is the vertex mean
    cent = segs.toPandas().groupby("region_id")[["x1", "y1"]].mean()
    for rid, g in rings.groupby("region_id"):
        flags = g.groupby("ring_id")["anchored"].first()
        assert flags.any(), f"{rid}: no ring contains its origin"
        # the anchored ring really contains the anchor (re-checked here
        # with an independent even-odd test over the emitted vertices)
        amx, amy = mercator_np(np.array([cent.x1[rid]]), np.array([cent.y1[rid]]))
        anch = g[g.anchored]
        ring0 = anch[anch.ring_id == anch.ring_id.iloc[0]].sort_values("seq")
        x = ring0["mx"].to_numpy()
        y = ring0["my"].to_numpy()
        x2, y2 = np.roll(x, -1), np.roll(y, -1)
        cond = (y > amy[0]) != (y2 > amy[0])
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x) * (amy[0] - y) / (y2 - y) + x
        # DP-simplified ring: allow the anchor's parity on the simplified
        # polygon too (tolerant check — deep-interior anchors are robust)
        assert bool((cond & (amx[0] < xint)).sum() % 2), f"{rid}: anchored ring fails PIP"


def test_dem_sample_matches_numpy_oracle(spark, fix001):
    import pandas as pd

    from butterfly_osm_spark.operators.elevation import bilinear_np, dem_sample

    pts = spark.read.parquet(f"{fix001}/query_points.parquet").limit(300)
    got = {r.query_id: r.elev_m for r in dem_sample(pts, spark.read.parquet(f"{fix001}/raster_tiles.parquet")).collect()}
    tiles = spark.read.parquet(f"{fix001}/raster_tiles.parquet").toPandas()
    tmap = {(r.tile_lat, r.tile_lon): r for _, r in tiles.iterrows()}
    for r in pts.collect():
        tl = (int(np.floor(r.lat_e7 / 1e7)), int(np.floor(r.lon_e7 / 1e7)))
        want = np.nan
        if tl in tmap:
            t = tmap[tl]
            data = np.frombuffer(t.data, dtype=">i2").astype(np.int16)
            fx = np.array([r.lon_e7 / 1e7 - tl[1]])
            fy = np.array([r.lat_e7 / 1e7 - tl[0]])
            # same mode-free round-half-up the operator applies
            want = (np.floor(bilinear_np(data, t.samples_per_side, fx, fy) * 1000.0 + 0.5) / 1000.0)[0]
        g = got[r.query_id]
        assert (np.isnan(want) and (g is None or np.isnan(g))) or g == want


# ---------------------------------------------------------------------------
# Reference kernels: the per-pixel Moore walk and the np.cross
# Douglas-Peucker that the table-driven kernels replaced, kept verbatim
# (renamed) so the fast kernels are held to identical rings and vertices.
# ---------------------------------------------------------------------------

_MOORE = [(-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1)]


def _trace_one_ref(grid: np.ndarray) -> list[np.ndarray]:
    """Boundary rings of all 8-connected components: Moore-neighbour walk
    with (position, backtrack)-state termination, deterministic row-major
    sorted starts (the #431 determinism fix). Returns rings as (y, x)
    vertex arrays; duplicate starts on already-traced rings are skipped."""
    h, w = grid.shape
    padded = np.zeros((h + 2, w + 2), dtype=bool)
    padded[1:-1, 1:-1] = grid
    rings: list[np.ndarray] = []
    on_ring = np.zeros_like(padded, dtype=bool)
    ys, xs = np.nonzero(padded)
    order = np.lexsort((xs, ys))  # row-major: sorted deterministic starts
    for idx in order:
        sy, sx = int(ys[idx]), int(xs[idx])
        if padded[sy, sx - 1] or on_ring[sy, sx]:
            continue  # not a left-boundary start, or already traced
        ring = []
        p = (sy, sx)
        b = (sy, sx - 1)  # backtrack (empty), entered from the left
        state0 = (p, b)
        max_steps = 4 * int(padded.sum()) + 8
        steps = 0
        while True:
            ring.append(p)
            on_ring[p] = True
            # clockwise Moore scan starting at the backtrack cell
            bdir = _MOORE.index((b[0] - p[0], b[1] - p[1]))
            nxt = None
            for k in range(1, 9):
                d = (bdir + k) % 8
                ny, nx = p[0] + _MOORE[d][0], p[1] + _MOORE[d][1]
                if padded[ny, nx]:
                    nxt = (ny, nx)
                    b = (p[0] + _MOORE[(bdir + k - 1) % 8][0], p[1] + _MOORE[(bdir + k - 1) % 8][1])
                    break
            if nxt is None:
                break  # isolated single cell
            p = nxt
            steps += 1
            if (p, b) == state0 or steps > max_steps:
                break
        rings.append(np.array(ring, dtype=np.int64) - 1)  # un-pad
    return rings


def _dp_simplify_ref(pts: np.ndarray, tol: float) -> np.ndarray:
    """Iterative Douglas-Peucker on a closed ring (keeps first point)."""
    n = len(pts)
    if n <= 3:
        return pts
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        a, b = pts[i].astype(np.float64), pts[j].astype(np.float64)
        ab = b - a
        L = np.hypot(*ab)
        seg = pts[i + 1 : j].astype(np.float64)
        if L == 0:
            d = np.hypot(seg[:, 0] - a[0], seg[:, 1] - a[1])
        else:
            d = np.abs(np.cross(ab, seg - a)) / L
        m = int(np.argmax(d))
        if d[m] > tol:
            k = i + 1 + m
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return pts[keep]


def _assert_kernels_match_reference(grid: np.ndarray) -> int:
    want = _trace_one_ref(grid)
    got = raster._trace_one(grid)
    assert len(got) == len(want)
    for g, r in zip(got, want):
        assert g.dtype == r.dtype and g.shape == r.shape and np.array_equal(g, r)
        assert np.array_equal(raster._dp_simplify(g, 1.5), _dp_simplify_ref(r, 1.5))
    return len(want)


def _grid(text: str) -> np.ndarray:
    return np.array([[c == "#" for c in row] for row in text.split()], dtype=bool)


def test_trace_kernels_match_reference_on_fixture_grids(fix001):
    """Every sf0.001 polygon, stamped and closed (2 rounds) the way the
    contour_truth golden is built, traces to the reference's rings, and
    each ring simplifies to the reference's kept vertices."""
    edges = pd.read_parquet(f"{fix001}/polygon_pixel_edges.parquet")
    n_rings = 0
    for _, e in edges.groupby("region_id", sort=True):
        cx, cy = raster._bresenham_cells(*(e[c].to_numpy(np.int64) for c in ("px1", "py1", "px2", "py2")))
        pad = 2
        grid = np.zeros((cy.max() - cy.min() + 1 + 2 * pad, cx.max() - cx.min() + 1 + 2 * pad), dtype=bool)
        grid[cy - cy.min() + pad, cx - cx.min() + pad] = True
        for _ in range(pad):
            grid = raster._dilate3_np(grid)
        for _ in range(pad):
            grid = raster._erode3_np(grid)
        n_rings += _assert_kernels_match_reference(grid)
    assert n_rings > edges.region_id.nunique()  # some regions have holes or islands


@pytest.mark.parametrize(
    "grid",
    [
        np.zeros((0, 0), dtype=bool),
        np.zeros((5, 7), dtype=bool),
        _grid("#"),
        _grid("... .#. ..."),
        _grid("#.... .#... ..#.. ...#. ....#"),  # diagonal-only chain
        _grid("....# ...#. ..#.. .#... #...."),  # the other diagonal
        _grid("##### #...# #.#.# #...# #####"),  # ring with a hole and an island
        _grid("###... ###... ###... ...### ...### ...###"),  # touching at a corner
        _grid("##.## ##.## ....."),  # two components side by side
        _grid("####### #.....# #.###.# #.#.#.# #.###.# #.....# #######"),  # nested rings
        _grid("#.#.# ..... #.#.#"),  # isolated pixels
        np.ones((4, 6), dtype=bool),  # every pixel on the grid border
        _grid("..#.. .###. ##### .###. ..#.."),
    ],
)
def test_trace_kernels_match_reference_on_edge_cases(grid):
    _assert_kernels_match_reference(grid)


def _morph_ref(g: np.ndarray, op) -> np.ndarray:
    """Per-pixel 3x3 max (``np.any``) or min (``np.all``), zeros outside."""
    h, w = g.shape
    p = np.zeros((h + 2, w + 2), dtype=bool)
    p[1:-1, 1:-1] = g
    out = np.zeros_like(g)
    for y in range(h):
        for x in range(w):
            out[y, x] = op(p[y : y + 3, x : x + 3])
    return out


_RNG = np.random.default_rng(431)


@pytest.mark.parametrize("rounds", [1, 2])
@pytest.mark.parametrize(
    "grid",
    [
        *(_RNG.random((h, w)) < p for h, w, p in [(17, 23, 0.2), (30, 30, 0.45), (9, 40, 0.7), (25, 12, 0.05)]),
        _grid("#"),
        _grid("..... ..#.. ....."),  # one pixel
        _grid("##... ##... ....."),  # blob touching the pad
        np.ones((6, 5), dtype=bool),
        np.indices((8, 9)).sum(axis=0) % 2 == 0,  # checkerboard
        np.zeros((4, 4), dtype=bool),
    ],
)
def test_closing_matches_naive_reference(grid, rounds):
    """The fused closing (``rounds`` dilations, then as many erosions)
    equals the per-pixel 3x3 max/min closing on the same bounded grid."""
    got, want = grid, grid
    for _ in range(rounds):
        got, want = raster._dilate3_np(got), _morph_ref(want, np.any)
    for _ in range(rounds):
        got, want = raster._erode3_np(got), _morph_ref(want, np.all)
    assert got.dtype == bool and np.array_equal(got, want)
