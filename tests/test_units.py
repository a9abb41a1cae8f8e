"""Unit tests for the keystone kernels: cells, codecs, geo, invariants.
Fixture shapes mirror the reference's in-module synthetic tests
(spatial.rs:392-525, sparse_contour.rs:1188-1671, region_tiles.rs:277-333)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from butterfly_osm_spark import cells
from butterfly_osm_spark.codecs.png import (
    decode_image,
    decode_png,
    decode_qnt,
    encode_png,
    encode_qnt,
    psnr_db,
)

LON = st.integers(min_value=-1_799_999_999, max_value=1_799_999_999)
LAT = st.integers(min_value=-899_999_999, max_value=899_999_999)
RES = st.integers(min_value=cells.RES_MIN, max_value=cells.RES_MAX)


@given(LON, LAT, RES)
@settings(max_examples=200, deadline=None)
def test_cell_pack_unpack_roundtrip(lon, lat, res):
    c = cells.cell_py(lon, lat, res)
    x, y, r = cells.unpack_np(np.array([c]))
    assert r[0] == res
    mnx, mny, mxx, mxy = cells.cell_bounds_py(c)
    assert mnx <= lon < mxx
    assert mny <= lat < mxy


@given(LON, LAT, st.integers(7, 13), st.integers(0, 6))
@settings(max_examples=200, deadline=None)
def test_parent_consistency(lon, lat, res, up):
    parent_res = res - up
    c = cells.cell_np(np.array([lon]), np.array([lat]), res)
    direct = cells.cell_np(np.array([lon]), np.array([lat]), parent_res)
    via_parent = cells.parent_np(c, parent_res)
    assert direct[0] == via_parent[0]


def test_cell_boundary_half_open():
    # point exactly on a cell edge belongs to the higher cell (floor_to_cell
    # convention, snap_index.rs:327-336)
    res = 7
    s = cells.SIZE_E7[res]
    lon = s - cells.OFF_LON_E7  # exactly the boundary between x=0 and x=1
    assert cells.cell_py(lon, 0, res) != cells.cell_py(lon - 1, 0, res)


def test_png_roundtrip_bit_exact():
    rng = np.random.default_rng(42)
    for shape in [(16, 16), (32, 64), (7, 13)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)


def test_qnt_lossy_psnr_gate():
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    dec = decode_qnt(encode_qnt(img, q=4))
    assert psnr_db(img, dec) >= 40.0  # BASELINE.json lossy invariant


def test_fixture_images_decode_and_phash(fix001):
    import pyarrow.parquet as pq

    from butterfly_osm_spark.fixtures.generate import _phash64_batch

    t = pq.read_table(f"{fix001}/images.parquet").to_pandas().head(100)
    for _, r in t.iterrows():
        img = decode_image(r["bytes"], r["fmt"])
        assert img.shape == (r["h"], r["w"])
        if r["fmt"] == "png":
            # lossless: stored phash must match the decoded image exactly
            assert _phash64_batch(img) == r["phash"]
        else:
            src_like = img  # lossy: check PSNR gate vs re-quantized roundtrip
            assert psnr_db(src_like, decode_qnt(encode_qnt(img, q=4))) >= 40.0


def test_knn_invariants(spark, fix001):
    from butterfly_osm_spark.operators.knn import CUTOFF_M, knn_join

    out = knn_join(
        spark.read.parquet(f"{fix001}/query_points.parquet"),
        spark.read.parquet(f"{fix001}/osm_nodes.parquet"),
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    ks = {
        r.query_id: r.k for r in spark.read.parquet(f"{fix001}/query_points.parquet").collect()
    }
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert len(rows) <= ks[q]
        dists = [r.dist_m for r in rows]
        assert dists == sorted(dists), "kNN distances must be non-decreasing"
        assert all(d <= CUTOFF_M for d in dists)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))


def test_salted_join_identical_results(spark, fix001):
    """FIXTURES.md §9: salted and unsalted plans produce identical result
    sets. The threshold must actually trigger (asserted) — a too-high
    threshold makes this test vacuous."""
    from butterfly_osm_spark import cells
    from butterfly_osm_spark.operators.salt import hot_cells
    from butterfly_osm_spark.operators.tiles import RADIUS_RES, radius_prefilter

    q = spark.read.parquet(f"{fix001}/query_points.parquet")
    p = spark.read.parquet(f"{fix001}/image_geo.parquet")
    threshold = 3
    pc = p.select("image_id", cells.cell_col("lon_e7", "lat_e7", RADIUS_RES).alias("cell_id"))
    assert hot_cells(pc, threshold=threshold).count() > 0, "threshold must trigger real salting"
    plain = {tuple(r) for r in radius_prefilter(q, p, 500.0).collect()}
    salted = {tuple(r) for r in radius_prefilter(q, p, 500.0, salt_threshold=threshold).collect()}
    assert plain == salted and len(plain) > 0


def test_convex_hull_invariants(spark, fix001):
    """A9: every client lies inside (or on) its store's hull; hull is convex
    and CCW — checked against the candidate set from the same radius join."""
    from butterfly_osm_spark.operators.aggregates import CATCH_RADIUS_M, convex_hull, _clients

    stores = spark.read.parquet(f"{fix001}/query_points.parquet")
    pts = spark.read.parquet(f"{fix001}/image_geo.parquet")
    hull = convex_hull(stores, pts).toPandas()
    cand = (
        _clients(stores, pts, CATCH_RADIUS_M)
        .join(
            pts.selectExpr("image_id as point_id", "lon_e7 as plon", "lat_e7 as plat"),
            "point_id",
        )
        .toPandas()
    )
    checked = 0
    for qid, h in hull.groupby("query_id"):
        h = h.sort_values("seq")
        hx = h.lon_e7.to_numpy(np.int64)
        hy = h.lat_e7.to_numpy(np.int64)
        if len(hx) < 3:
            continue
        ex, ey = np.roll(hx, -1) - hx, np.roll(hy, -1) - hy
        # convexity + CCW: every turn is a left turn
        cross = ex * np.roll(ey, -1) - ey * np.roll(ex, -1)
        assert (cross >= 0).all(), f"{qid}: hull not convex/CCW"
        c = cand[cand.query_id == qid]
        px = c.plon.to_numpy(np.int64)[:, None]
        py = c.plat.to_numpy(np.int64)[:, None]
        side = ex[None, :] * (py - hy[None, :]) - ey[None, :] * (px - hx[None, :])
        assert (side >= 0).all(), f"{qid}: client outside hull"
        checked += 1
    assert checked > 10


def test_pip_subset_of_bbox(spark, fix001):
    import duckdb

    from butterfly_osm_spark.operators.pip import pip_join

    hits = {
        (r.point_id, r.polygon_id)
        for r in pip_join(
            spark.read.parquet(f"{fix001}/image_geo.parquet"),
            spark.read.parquet(f"{fix001}/polygons.parquet"),
        ).collect()
    }
    bbox = duckdb.sql(
        f"""
        WITH b AS (SELECT polygon_id, min(least(x1,x2)) mnx, max(greatest(x1,x2)) mxx,
                          min(least(y1,y2)) mny, max(greatest(y1,y2)) mxy
                   FROM '{fix001}/polygon_edges.parquet' GROUP BY polygon_id)
        SELECT g.image_id, b.polygon_id FROM '{fix001}/image_geo.parquet' g JOIN b
          ON g.lon_e7 BETWEEN mnx AND mxx AND g.lat_e7 BETWEEN mny AND mxy
        """
    ).fetchall()
    assert hits <= set(map(tuple, bbox)), "PIP output must be subset of bbox prefilter"
    assert len(hits) > 0


def test_pip_oracle_at_session_defaults(fix001):
    """Regression for the round-1 salt-dtype bug: pip_join must hash-match
    the DuckDB oracle under the SHIPPED session defaults (local[32],
    32 shuffle partitions, AQE on) — the exact config where the Long/Int
    cogroup-salt mismatch silently dropped ~half the ray-cast rows while
    local[8]/8 happened to pass. Both paths run: the driver path and,
    with the gate forced shut, the tiled path, whose cogroup keys a
    differently typed tile would split the same way. Runs in a subprocess
    because the pytest session fixture already owns a local[8] JVM."""
    import subprocess
    import sys

    script = f"""
import duckdb
from butterfly_osm_spark.session import get_spark
from butterfly_osm_spark.operators import pip

spark = get_spark(app_name="pip-regression", master="local[32]", shuffle_partitions="32")
fix = {fix001!r}
want = sorted(map(tuple, duckdb.sql(pip.pip_oracle_sql(fix)).fetchall()))
for gate in (pip.BROADCAST_MAX_ROWS, -1):
    pip.BROADCAST_MAX_ROWS = gate
    got = sorted(
        (r.point_id, r.polygon_id)
        for r in pip.pip_join(
            spark.read.parquet(fix + "/image_geo.parquet"),
            spark.read.parquet(fix + "/polygons.parquet"),
        ).collect()
    )
    assert got == want, f"pip mismatch at local[32], gate {{gate}}: spark={{len(got)}} oracle={{len(want)}}"
print("PIP_LOCAL32_OK", len(got))
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=600,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    assert "PIP_LOCAL32_OK" in proc.stdout


def test_pip_broadcast_gate_fallback_parity(spark, fix001, monkeypatch):
    """With the driver gate forced shut (BROADCAST_MAX_ROWS=0) the tiled
    path must produce the identical (point, polygon) set — the gate is a
    plan choice, never a semantics choice. Planning it runs one job, the
    ring-size collect, and its final adaptive plan runs the kernel in
    exactly one cogroup, with no pandas gather, join or cached frame."""
    import os
    import time

    import duckdb

    from butterfly_osm_spark.operators import pip

    from .conftest import group_job_ids

    points = spark.read.parquet(fix001 + "/image_geo.parquet")
    polygons = spark.read.parquet(fix001 + "/polygons.parquet")
    monkeypatch.setattr(pip, "BROADCAST_MAX_ROWS", 0)
    paths = _pip_paths(pip, monkeypatch)
    sc = spark.sparkContext
    group = f"pip-tiled-plan-{os.getpid()}-{time.time_ns()}"
    sc.setJobGroup(group, "pip_join tiled plan")
    try:
        out = pip.pip_join(points, polygons)
        jobs = group_job_ids(sc, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert paths == ["tiled"], paths
    assert len(jobs) == 1, f"jobs {list(jobs)}"
    got = sorted((r.point_id, r.polygon_id) for r in out.collect())
    want = sorted(map(tuple, duckdb.sql(pip.pip_oracle_sql(fix001)).fetchall()))
    assert got == want
    # the final adaptive plan, without the initial plan AQE prints too
    plan = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInArrow") == 1, plan
    for op in ("FlatMapGroupsInPandas", "Join", "InMemoryTableScan"):
        assert op not in plan, plan


def _pip_paths(pip, monkeypatch):
    """Spy on pip_join's two placements of its kernel: the returned list
    gets ``"driver"`` for every driver-path plan and ``"tiled"`` for
    every tiled one."""
    return _path_spy(monkeypatch, pip, _cover_join="driver", _tiled_join="tiled")


def _path_spy(monkeypatch, module, **labels):
    """Wrap each ``module`` function named in ``labels``: the returned list
    gets the function's label for every call."""
    paths = []

    def spy(label, join):
        def run(*a, **kw):
            paths.append(label)
            return join(*a, **kw)

        return run

    for name, label in labels.items():
        monkeypatch.setattr(module, name, spy(label, getattr(module, name)))
    return paths


def test_pip_driver_cover_is_one_arrow_kernel(spark, fix001):
    """The driver-cover path answers with one ``mapInArrow`` kernel over
    the points: its plan holds no BroadcastExchange, Generate or join;
    building it runs two jobs, the ring-size collect and the ring
    collect; and it gives the oracle's pairs, which the fallback test
    holds the tiled path to as well."""
    import os
    import time

    import duckdb

    from butterfly_osm_spark.operators import pip

    from .conftest import group_job_ids

    points = spark.read.parquet(fix001 + "/image_geo.parquet")
    polygons = spark.read.parquet(fix001 + "/polygons.parquet")
    sc = spark.sparkContext
    group = f"pip-plan-{os.getpid()}-{time.time_ns()}"
    sc.setJobGroup(group, "pip_join plan")
    try:
        out = pip.pip_join(points, polygons)
        jobs = group_job_ids(sc, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 2, f"jobs {list(jobs)}"
    plan = out._jdf.queryExecution().executedPlan().toString()
    for op in ("BroadcastExchange", "Generate", "Join", "CartesianProduct"):
        assert op not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    got = sorted((r.point_id, r.polygon_id) for r in out.collect())
    assert got == sorted(map(tuple, duckdb.sql(pip.pip_oracle_sql(fix001)).fetchall()))


def _ring(cx, cy, rx, ry, n=12):
    """A closed ``n``-gon ring around ``(cx, cy)`` as int e7 vertices."""
    a = 2 * np.pi * np.arange(n) / n
    return list(zip((cx + rx * np.cos(a)).astype(int).tolist(), (cy + ry * np.sin(a)).astype(int).tolist()))


@pytest.mark.parametrize("gate", ["driver", "tiled"])
@pytest.mark.parametrize("case", ["mixed", "no-polygons", "no-points", "tile-edge"])
def test_pip_kernel_edge_cases_match_brute_force(spark, monkeypatch, gate, case):
    """Both paths against brute-force ``_raycast_np`` over every
    (point, polygon): overlapping polygons whose covers share cells, covers
    at res 8 and res 13 in one call, a concave ring, points with no
    candidate, an empty polygon set and an empty point set; and a polygon
    whose bbox edges lie exactly on res-7 tile boundaries and one over a
    tile corner, with points on those boundaries and on both sides of
    them. The point id is a bigint
    (zonal_stats passes a cast id) and the output stays ``(out_id string,
    polygon_id string)``."""
    from butterfly_osm_spark.operators import pip

    rings = {
        # two overlapping 0.6-degree polygons: res-8 covers sharing cells
        "big_a": _ring(130_000_000, 450_000_000, 3_000_000, 3_000_000),
        "big_b": _ring(132_000_000, 451_000_000, 3_000_000, 2_500_000),
        # a ~200 m triangle inside both: a res-13 cover
        "tiny": [(131_000_000, 450_500_000), (131_020_000, 450_500_000), (131_010_000, 450_518_000)],
        # a concave L inside big_a
        "ell": [
            (128_000_000, 448_000_000), (129_000_000, 448_000_000), (129_000_000, 448_400_000),
            (128_400_000, 448_400_000), (128_400_000, 449_000_000), (128_000_000, 449_000_000),
        ],
    }
    if case == "no-polygons":
        rings = {}
    if case == "tile-edge":
        rings = {
            # bbox from the west/south edge of one res-7 tile to the
            # east/north edge of another (13.0-13.3 E, 45.0-45.2 N; a tile
            # is 1_000_000 e7 units)
            "edge": [(130_000_000, 450_000_000), (133_000_000, 450_000_000), (130_000_000, 452_000_000)],
            # a square over the tile corner at 13.1 E, 45.1 N
            "corner": [
                (130_500_000, 450_500_000), (131_500_000, 450_500_000),
                (131_500_000, 451_500_000), (130_500_000, 451_500_000),
            ],
        }
    polygons = spark.createDataFrame(
        [(pid, [{"lon_e7": x, "lat_e7": y} for x, y in ring]) for pid, ring in rings.items()],
        "polygon_id string, ring array<struct<lon_e7:int, lat_e7:int>>",
    )
    xs = np.arange(126_500_000, 135_500_000, 170_000)
    ys = np.arange(446_500_000, 454_000_000, 170_000)
    pts = [(int(x), int(y)) for x in xs for y in ys]
    pts += [(131_000_000 + d, 450_500_000 + d) for d in range(1_000, 20_000, 1_500)]  # in tiny's cells
    pts += [(-700_000_000, -300_000_000), (1_700_000_000, 800_000_000)]  # no candidate
    if case == "no-points":
        pts = []
    if case == "tile-edge":
        # on each tile boundary line the bbox touches, and one e7 unit to
        # either side of it
        lines = [130_000_000, 131_000_000, 133_000_000, 450_000_000, 451_000_000, 452_000_000]
        near = sorted({v + d for v in lines for d in (-1, 0, 1)})
        xs = [v for v in near if v < 200_000_000] + [130_500_000, 131_500_000]
        ys = [v for v in near if v > 200_000_000] + [450_500_000]
        pts = [(x, y) for x in xs for y in ys]
    points = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "sid bigint, lon_e7 int, lat_e7 int"
    )
    px = np.array([p[0] for p in pts], dtype=np.float64)
    py = np.array([p[1] for p in pts], dtype=np.float64)
    want = set()
    for pid, ring in rings.items():
        vx, vy = (np.array(c, dtype=np.float64) for c in zip(*ring))
        inside = pip._raycast_np(px, py, vx, vy, np.roll(vx, -1), np.roll(vy, -1))
        want |= {(str(i), pid) for i in np.flatnonzero(inside)}

    paths = _pip_paths(pip, monkeypatch)
    if gate == "tiled":
        # below zero, so even an empty polygon set is past the gate
        monkeypatch.setattr(pip, "BROADCAST_MAX_ROWS", -1)
    out = pip.pip_join(points, polygons, id_col="sid", out_id="sample")
    assert paths == [gate], paths
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("sample", "string"),
        ("polygon_id", "string"),
    ]
    got = [tuple(r) for r in out.collect()]
    assert len(got) == len(set(got))
    assert set(got) == want
    if case == "mixed":
        cover, _ = pip._driver_cover(polygons.select("polygon_id", "ring").toArrow())
        by = {}
        for pid, res, cell in zip(*(cover.column(c).to_pylist() for c in ("polygon_id", "res", "cell_id"))):
            by.setdefault(pid, (res, set()))[1].add(cell)
        assert by["big_a"][0] == by["big_b"][0] == 8 and by["tiny"][0] == 13 and by["ell"][0] == 10
        assert by["big_a"][1] & by["big_b"][1], "expected covers sharing cells"
        assert {pid for _, pid in want} == set(rings)
        assert not {str(len(pts) - 1), str(len(pts) - 2)} & {i for i, _ in got}
    if case == "tile-edge":
        on_line = {str(i) for i, (x, y) in enumerate(pts) if x == 131_000_000 or y == 451_000_000}
        for pid in rings:
            assert on_line & {i for i, p in want if p == pid}, f"no boundary point inside {pid}"
        assert len({i for i, _ in want}) < len(pts), "no point outside"


def test_pip_driver_cover_equals_distributed_cover(spark, fix001):
    """A polygon's cover does not depend on which polygons share its
    batch, which the tiled path relies on: ``_driver_cover`` over the
    whole table holds exactly the rows of ``polygon_cover_cells`` over the
    polygons spread across three partitions."""
    from butterfly_osm_spark.operators import pip

    polygons = spark.read.parquet(fix001 + "/polygons.parquet")
    cover, edge_map = pip._driver_cover(polygons.select("polygon_id", "ring").toArrow())
    cols = ["polygon_id", "res", "cell_id", "coverage"]
    got = sorted(zip(*(cover.column(c).to_pylist() for c in cols)))
    spread = polygons.repartition(3)
    assert spread.rdd.getNumPartitions() == 3
    want = sorted(map(tuple, pip.polygon_cover_cells(spread).select(*cols).collect()))
    assert got == want
    assert {r[3] for r in got} == {"full", "partial"}
    assert set(edge_map) == {r.polygon_id for r in polygons.select("polygon_id").collect()}


def test_pip_huge_rings_take_the_fallback(spark, monkeypatch):
    """A few polygons whose rings hold more vertices than the gate allows
    take the tiled path even though their cover rows would fit, and both
    paths give the brute-force even-odd pairs."""
    from butterfly_osm_spark.operators import pip

    n_vertices = 3000
    angles = 2 * np.pi * np.arange(n_vertices) / n_vertices
    centers = [(130_000_000, 450_000_000), (130_500_000, 450_000_000), (130_250_000, 450_300_000)]
    rings = {
        f"circle{i}": list(
            zip(
                (cx + 200_000 * np.cos(angles)).astype(int).tolist(),
                (cy + 200_000 * np.sin(angles)).astype(int).tolist(),
            )
        )
        for i, (cx, cy) in enumerate(centers)
    }
    polygons = spark.createDataFrame(
        [(pid, [{"lon_e7": x, "lat_e7": y} for x, y in ring]) for pid, ring in rings.items()],
        "polygon_id string, ring array<struct<lon_e7:int, lat_e7:int>>",
    )
    xs = np.arange(129_700_000, 130_800_000, 23_000)
    ys = np.arange(449_700_000, 450_600_000, 23_000)
    pts = [(f"p{x}_{y}", int(x), int(y)) for x in xs for y in ys]
    points = spark.createDataFrame(pts, "image_id string, lon_e7 int, lat_e7 int")
    px = np.array([p[1] for p in pts], dtype=np.float64)
    py = np.array([p[2] for p in pts], dtype=np.float64)
    want = set()
    for pid, ring in rings.items():
        vx, vy = (np.array(c, dtype=np.float64) for c in zip(*ring))
        inside = pip._raycast_np(px, py, vx, vy, np.roll(vx, -1), np.roll(vy, -1))
        want |= {(pts[i][0], pid) for i in np.flatnonzero(inside)}

    paths = _pip_paths(pip, monkeypatch)
    driver = pip.pip_join(points, polygons)
    assert paths == ["driver"], "expected the driver path under the default gate"
    assert {tuple(r) for r in driver.collect()} == want
    driver.unpersist()
    # the cover-row term (3 polygons x MAX_COVER_CELLS) fits, the ring
    # vertices do not
    monkeypatch.setattr(pip, "BROADCAST_MAX_ROWS", 4 * pip.MAX_COVER_CELLS)
    fallback = pip.pip_join(points, polygons)
    assert paths == ["driver", "tiled"], "expected the tiled path"
    assert {tuple(r) for r in fallback.collect()} == want
    fallback.unpersist()
    assert len(want) > 100


def test_repeated_calls_ship_no_broadcast_and_cache_nothing(spark, fix001, monkeypatch):
    """pip_join (edge map), phash_knn (query batch) and knn_join's driver
    path (sorted target arrays) return lazy plans: their driver-built
    arrays ride in the kernel closure, so three calls of each make no
    ``sc.broadcast`` call, persist no RDD, and a result counted twice
    gives the same count (each count re-runs the plan). The tiled paths
    of knn_join and pip_join (gate forced shut) are lazy too and ship no
    closure array."""
    from butterfly_osm_spark.operators import knn, pip
    from butterfly_osm_spark.operators.images import phash_knn
    from butterfly_osm_spark.operators.knn import knn_join
    from butterfly_osm_spark.operators.pip import pip_join

    from .conftest import persistent_rdd_ids

    sc = spark.sparkContext
    shipped = []
    ship = sc.broadcast
    monkeypatch.setattr(sc, "broadcast", lambda value: shipped.append(1) or ship(value))
    points = spark.read.parquet(fix001 + "/image_geo.parquet")
    polygons = spark.read.parquet(fix001 + "/polygons.parquet")
    images = spark.read.parquet(fix001 + "/images.parquet")
    queries = spark.read.parquet(fix001 + "/query_points.parquet")
    nodes = spark.read.parquet(fix001 + "/osm_nodes.parquet")
    paths = _knn_paths(knn, monkeypatch)
    pip_paths = _pip_paths(pip, monkeypatch)

    def knn_tiled(q, n):
        with monkeypatch.context() as m:
            m.setattr(knn, "BROADCAST_MAX_ROWS", 0)
            return knn_join(q, n)

    def pip_tiled(p, g):
        with monkeypatch.context() as m:
            m.setattr(pip, "BROADCAST_MAX_ROWS", 0)
            return pip_join(p, g)

    before = persistent_rdd_ids(spark)
    for _ in range(3):
        for out in (
            pip_join(points, polygons),
            phash_knn(images),
            knn_join(queries, nodes),
            knn_tiled(queries, nodes),
            pip_tiled(points, polygons),
        ):
            n = out.count()
            assert n > 0
            assert out.count() == n
    assert paths == ["grid", "tiled"] * 3, paths
    assert pip_paths == ["driver", "tiled"] * 3, pip_paths
    assert not shipped, f"{len(shipped)} sc.broadcast calls"
    assert not (persistent_rdd_ids(spark) - before), "a lazy operator cached an RDD"


def _knn_paths(knn, monkeypatch):
    """Spy on knn_join's two paths: the returned list gets ``"grid"`` for
    every driver-path plan and ``"tiled"`` for every tiled one."""
    return _path_spy(monkeypatch, knn, _grid_join="grid", _tiled_join="tiled")


def test_knn_releases_phase_caches(spark, fix001, monkeypatch):
    """knn_join's driver path caches nothing. Measured as a set DELTA
    because earlier tests in the shared session may legitimately hold
    their own bounded result frames (e.g. a CC query's final label
    checkpoint), which clearCache() does not reach."""
    from butterfly_osm_spark.operators import knn

    from .conftest import persistent_rdd_ids

    q = spark.read.parquet(fix001 + "/query_points.parquet")
    n = spark.read.parquet(fix001 + "/osm_nodes.parquet")
    paths = _knn_paths(knn, monkeypatch)
    spark.catalog.clearCache()
    before = persistent_rdd_ids(spark)
    knn.knn_join(q, n).count()
    assert paths == ["grid"], "expected the driver path"
    assert not (persistent_rdd_ids(spark) - before), "the driver path cached an RDD"


@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_knn_grid_matches_tiled_and_oracle(spark, sf, monkeypatch):
    """A request-sized target table is answered on the driver path; with
    the gate forced shut (``BROADCAST_MAX_ROWS = 0``) the same table takes
    the tiled path. The gate is a plan choice, never a semantics choice:
    both plans give identical rows, ties included, and both match the
    DuckDB oracle, on a fixture with k in {1, 8, 64} and queries beyond
    the cutoff."""
    import duckdb

    from butterfly_osm_spark.fixtures.generate import ensure_fixtures
    from butterfly_osm_spark.operators import knn

    fix = ensure_fixtures(sf)
    q = spark.read.parquet(fix + "/query_points.parquet")
    n = spark.read.parquet(fix + "/osm_nodes.parquet")
    assert {r.k for r in q.select("k").distinct().collect()} >= {1, 8, 64}
    paths = _knn_paths(knn, monkeypatch)
    grid = sorted(map(tuple, knn.knn_join(q, n).collect()))
    monkeypatch.setattr(knn, "BROADCAST_MAX_ROWS", 0)
    tiled = sorted(map(tuple, knn.knn_join(q, n).collect()))
    assert paths == ["grid", "tiled"], paths
    want = sorted(map(tuple, duckdb.sql(knn.knn_oracle_sql(fix)).fetchall()))
    assert grid == tiled == want
    assert len({r[0] for r in want}) < q.count(), "no query lies beyond the cutoff"



def test_knn_join_mode_gate_parity(spark, fix001, monkeypatch):
    """The gate sits exactly at ``BROADCAST_MAX_ROWS`` target rows: a
    table of that many rows takes the driver path, one row more than the
    bound takes the tiled path. Either side of the edge gives the
    identical ranked result set, ties included."""
    from butterfly_osm_spark.operators import knn

    q = spark.read.parquet(fix001 + "/query_points.parquet")
    n = spark.read.parquet(fix001 + "/osm_nodes.parquet")
    rows = n.count()
    paths = _knn_paths(knn, monkeypatch)
    monkeypatch.setattr(knn, "BROADCAST_MAX_ROWS", rows)
    at_bound = sorted(map(tuple, knn.knn_join(q, n).collect()))
    monkeypatch.setattr(knn, "BROADCAST_MAX_ROWS", rows - 1)
    past_bound = sorted(map(tuple, knn.knn_join(q, n).collect()))
    assert paths == ["grid", "tiled"], paths
    assert at_bound == past_bound
    assert at_bound, "the fixture answered no query"

def _knn_both_paths(knn, q, n):
    """Sorted rows of the driver path and of the tiled path. The tiled
    path is called directly, so an empty target table reaches it too."""
    from pyspark.sql import functions as F

    grid = sorted(map(tuple, knn.knn_join(q, n).collect()))
    nodes = n.select(F.col("id").alias("node_id"), "lon_e7", "lat_e7")
    tiled = knn._tiled_join(q, nodes, n.schema["id"].dataType, knn.CUTOFF_M)
    return grid, sorted(map(tuple, tiled.collect()))


def test_knn_edge_cases_agree_on_both_paths(spark):
    """Hand-checked answers on a tiny table, identical on both paths:
    equal-d2 ties between duplicate-coordinate nodes rank by node_id, k
    larger than the reachable nodes returns every node inside the cutoff,
    and queries beyond the cutoff or with k = 0 return no rows. The
    queries sit on the south-west corner of their res-7 tile, so the
    tiled path finds the nodes west, south and south-west of them only
    through the halo of the neighbouring tiles."""
    from butterfly_osm_spark.operators import knn

    lon, lat = 130_000_000, 450_000_000  # 13.0 E, 45.0 N: a res-7 tile corner
    assert knn._tile_res(knn.CUTOFF_M) == 7
    n = spark.createDataFrame(
        [
            (30, lon, lat),
            (10, lon, lat),
            (20, lon, lat),
            (7, lon + 100_000, lat),  # 714 m east
            (8, lon, lat + 100_000),  # 1110 m north
            (9, lon + 800_000, lat),  # 5712 m east: beyond the cutoff
            (11, lon - 50_000, lat),  # 357 m west, in the tile to the west
            (12, lon, lat - 50_000),  # 555 m south, in the tile to the south
            (13, lon - 30_000, lat - 30_000),  # 395.943 m south-west, diagonal tile
            (15, lon - 700_000, lat),  # 4998 m west: inside the cutoff
            (14, lon - 701_000, lat),  # 5005.14 m west: beyond the cutoff
        ],
        "id long, lon_e7 int, lat_e7 int",
    )
    q = spark.createDataFrame(
        [
            ("tie", lon, lat, 2),
            ("all", lon, lat, 100),
            ("far", lon, lat + 1_000_000, 8),  # 11.1 km from every node
            ("none", lon, lat, 0),
        ],
        "query_id string, lon_e7 int, lat_e7 int, k int",
    )
    grid, tiled = _knn_both_paths(knn, q, n)
    want = sorted(
        [
            ("tie", 1, 10, 0.0),
            ("tie", 2, 20, 0.0),
            ("all", 1, 10, 0.0),
            ("all", 2, 20, 0.0),
            ("all", 3, 30, 0.0),
            ("all", 4, 11, 357.0),
            ("all", 5, 13, 395.943),
            ("all", 6, 12, 555.0),
            ("all", 7, 7, 714.0),
            ("all", 8, 8, 1110.0),
            ("all", 9, 15, 4998.0),
        ]
    )
    assert grid == want
    assert tiled == want


def test_knn_empty_tables(spark, fix001):
    """An empty query table or an empty target table gives no rows on
    either path."""
    from butterfly_osm_spark.operators import knn

    q = spark.read.parquet(fix001 + "/query_points.parquet")
    n = spark.read.parquet(fix001 + "/osm_nodes.parquet")
    assert _knn_both_paths(knn, q.limit(0), n) == ([], [])
    assert _knn_both_paths(knn, q, n.limit(0)) == ([], [])


def test_knn_plans_pinned(spark, fix001, monkeypatch):
    """The driver path is one ``mapInArrow`` over the query scan, with no
    exchange. The tiled path runs its kernel in exactly one cogroup, with
    no rank window and no cached frame."""
    from butterfly_osm_spark.operators import knn

    q = spark.read.parquet(fix001 + "/query_points.parquet")
    n = spark.read.parquet(fix001 + "/osm_nodes.parquet")
    grid = knn.knn_join(q, n)
    grid.collect()
    plan = grid._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "Exchange" not in plan, plan
    monkeypatch.setattr(knn, "BROADCAST_MAX_ROWS", 0)
    tiled = knn.knn_join(q, n)
    tiled.collect()
    # the final adaptive plan, without the initial plan AQE prints too
    plan = tiled._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInArrow") == 1, plan
    assert "Window" not in plan and "InMemoryTableScan" not in plan, plan


def test_knn_tiled_oracle_at_session_defaults(fix001):
    """The tiled path matches the DuckDB oracle under the session's default
    shuffle partitions and AQE, where a cogroup key typed differently on
    its two sides would split a tile. Runs in a subprocess because the
    pytest session fixture already owns a JVM with 8 shuffle partitions."""
    import os
    import subprocess
    import sys

    script = f"""
import duckdb
from butterfly_osm_spark.session import get_spark
from butterfly_osm_spark.operators import knn

spark = get_spark(app_name="knn-tiled-defaults")
knn.BROADCAST_MAX_ROWS = 0
fix = {fix001!r}
got = sorted(
    map(
        tuple,
        knn.knn_join(
            spark.read.parquet(fix + "/query_points.parquet"),
            spark.read.parquet(fix + "/osm_nodes.parquet"),
        ).collect(),
    )
)
want = sorted(map(tuple, duckdb.sql(knn.knn_oracle_sql(fix)).fetchall()))
assert got == want, f"tiled kNN mismatch: spark={{len(got)}} oracle={{len(want)}}"
print("KNN_TILED_DEFAULTS_OK", spark.conf.get("spark.sql.shuffle.partitions"), len(got))
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, cwd=root, timeout=600
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    assert "KNN_TILED_DEFAULTS_OK" in proc.stdout


CC_CALLERS = (
    "dedup_clusters",
    "simhash_clusters",
    "phash_clusters",
    "embedding_clusters",
    "dbscan_hotspots",
    "cell_regions",
)


def test_cc_callers_leave_no_persisted_rdds(spark, fix001):
    """Every registered connected-components caller returns a lazy plan:
    building and collecting its result leaves no new persisted RDD (the
    labels are a local relation, nothing is cached or checkpointed)."""
    from butterfly_osm_spark.queries import QUERIES

    from .conftest import persistent_rdd_ids

    for name in CC_CALLERS:
        # identity-based accounting: a previous test's async unpersist may
        # complete mid-test, so counts can legally drop
        before = persistent_rdd_ids(spark)
        assert QUERIES[name](spark, "/root/testdata/sf0.001").collect(), name
        assert not (persistent_rdd_ids(spark) - before), f"{name} left a persisted RDD"


def _cc_case(name):
    """(edges, nodes) of one connected-components kernel case."""
    import random

    rng = random.Random(7)
    if name == "chain":  # diameter 10,000 over shuffled ids
        ids = list(range(10_001))
        rng.shuffle(ids)
        return list(zip(ids, ids[1:])), list(range(10_001))
    if name == "two_cliques":  # {10..19} and {0..9} joined by one edge
        a, b = range(10, 20), range(10)
        edges = [(u, v) for c in (a, b) for u in c for v in c if u < v]
        return edges + [(15, 3)], list(range(20))
    if name == "strings":  # label = lexicographic-min id, as phash_clusters documents
        edges = [("img_9", "img_10"), ("img_10", "img_2"), ("b", "a"), ("zz", "za")]
        return edges, sorted({v for e in edges for v in e} | {"img_1"})
    if name == "duplicates_both_directions_self_loops":
        edges = [(5, 7), (7, 5), (5, 7), (7, 7), (9, 9), (8, 6), (6, 8), (6, 5)]
        return edges, list(range(5, 11))
    if name == "empty_edges":
        return [], list(range(5))
    if name == "isolated_nodes":  # nodes 0, 4 and 99 appear in no edge
        return [(1, 2), (3, 2)], [0, 1, 2, 3, 4, 99]
    raise ValueError(name)


@pytest.mark.parametrize(
    "case",
    [
        "chain",
        "two_cliques",
        "strings",
        "duplicates_both_directions_self_loops",
        "empty_edges",
        "isolated_nodes",
    ],
)
def test_connected_components_matches_union_find(spark, case):
    """connected_components' numpy kernel labels every node with its
    component's minimum id, equal to a pure-Python union-find."""
    from butterfly_osm_spark.operators.dedup import connected_components

    from .conftest import union_find

    edges, nodes = _cc_case(case)
    t = "string" if case == "strings" else "bigint"
    e = spark.createDataFrame(edges, f"a {t}, b {t}")
    n = spark.createDataFrame([(v,) for v in nodes], f"node_id {t}")
    labels = connected_components(e, n)
    assert labels.schema.simpleString() == f"struct<id:{t},lab:{t}>"
    got = dict(labels.collect())
    assert got == union_find(edges, nodes)


def test_connected_components_over_budget_raises(spark, monkeypatch):
    """With the collect budget below the sf0.001 pair count,
    dedup_clusters raises before any result exists, naming the edge count
    and the budget."""
    from butterfly_osm_spark import session
    from butterfly_osm_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_pairs = minhash_lsh_pairs(docs, 0.5).count()
    assert n_pairs > 1
    budget = (n_pairs - 1) * 16  # two BIGINT columns: cap = n_pairs - 1 edges
    monkeypatch.setattr(session, "collect_budget_bytes", lambda spark: budget)
    named = rf"at least {n_pairs} edges.* {budget} bytes \({n_pairs - 1} edges"
    with pytest.raises(RuntimeError, match=named):
        dedup_clusters(docs, 0.5)


def test_knn_res_invariance_fine_res_offsets(fix001):
    """The grid kernel's answers are identical at any grid res: at res 13
    the walk spans |dy| >= 8 rectangle rows and more than one step."""
    import pyarrow.parquet as pq

    from butterfly_osm_spark.operators import knn

    nodes = pq.read_table(f"{fix001}/osm_nodes.parquet", columns=["id", "lon_e7", "lat_e7"])
    nodes = nodes.rename_columns(["node_id", "lon_e7", "lat_e7"])
    queries = pq.read_table(f"{fix001}/query_points.parquet")
    qcols = [queries.column(c).to_numpy() for c in ("lon_e7", "lat_e7", "k")]

    def answers(res):
        g = knn._grid(nodes, res)
        q, rank, gi, d2 = knn._grid_topk(g, *qcols, knn.CUTOFF_M)
        return sorted(zip(q.tolist(), rank.tolist(), g.ids.take(gi).to_pylist(), d2.tolist()))

    a = answers(10)
    assert a and a == answers(13)


def test_registry_contract_consistency():
    """Driver-contract invariants: every oracle has a query, every bench
    headline query is registered and oracled, aliases stay in sync."""
    import bench as bench_mod
    from butterfly_osm_spark.queries import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES)
    assert set(ORACLES) == set(QUERIES), "every registered query must be oracled"
    for name in bench_mod.HEADLINE + bench_mod.SCALING_SUITE:
        assert name in QUERIES, name


def test_registry_import_is_cheap():
    """Importing the registry loads no operator module but ``extract``
    (the others load when their query or oracle is called) and starts no
    JVM. Runs in a fresh interpreter: the test session has imported both."""
    import json
    import os
    import subprocess
    import sys

    script = """
import json, sys
import butterfly_osm_spark.queries
from pyspark import SparkContext
print(json.dumps({
    "operators": sorted(m for m in sys.modules if m.startswith("butterfly_osm_spark.operators.")),
    "jvm": SparkContext._gateway is not None or SparkContext._active_spark_context is not None,
}))
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=root, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {"operators": ["butterfly_osm_spark.operators.extract"], "jvm": False}


def test_dedup_pipeline_releases_all_caches(spark):
    """The round-5 leak-class gate (VERDICT r4 "Next round #1"): after a
    full corpus_filter run — which internally runs minhash shingles,
    connected components and the fused quality/repetition leg — the
    session holds exactly the persistent RDDs it held before: no shingle
    persist, no simhash sketch, no pair frame, no labels, no result."""
    from butterfly_osm_spark.operators.dedup import corpus_filter, simhash_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = sc.getPersistentRDDs().size()

    out = corpus_filter(docs)
    assert out.count() == docs.count()  # one auditable row per doc
    assert sc.getPersistentRDDs().size() == before, "corpus_filter cached a frame"

    pairs = simhash_pairs(docs)
    pairs.count()
    assert sc.getPersistentRDDs().size() == before, "simhash_pairs cached a frame"
    assert sc.getPersistentRDDs().size() - before <= 1
    pairs.unpersist()
    assert sc.getPersistentRDDs().size() == before, "simhash_pairs leaked caches"


def test_release_checkpoint_reaches_derived_frames(spark):
    """release_checkpoint must free a localCheckpoint reached only through
    a PROJECTION of the checkpointed frame (ADVICE r4: the analyzed plan
    is a Project over the LogicalRDD, not the LogicalRDD itself)."""
    from butterfly_osm_spark.operators.dedup import release_checkpoint

    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = sc.getPersistentRDDs().size()
    ck = spark.range(1000).selectExpr("id", "id * 2 AS lab").localCheckpoint(eager=True)
    proj = ck.selectExpr("id AS doc_id", "lab AS cluster_id")
    assert proj.count() == 1000
    assert sc.getPersistentRDDs().size() > before
    release_checkpoint(proj)  # only the derived frame in hand
    assert sc.getPersistentRDDs().size() == before


def test_quality_repetition_single_scan_no_exchange(spark):
    """Round-5 fusion gate (VERDICT r4 #6): the fused quality+repetition
    leg of corpus_filter must be MAP-ONLY over ONE documents scan — the
    former separate legs each scanned the text and shuffled (doc_id,
    ngram) pairs. Also pins the map-only rewrite of token_stats."""
    from butterfly_osm_spark.operators.text import quality_repetition, token_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (quality_repetition(docs), token_stats(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert plan.count("documents.parquet") == 1


def test_round5_cluster_ops_invariants_and_release(spark, fix001):
    """Round-5 additions: the cluster semantics invariants (cluster_id =
    component-min member id; the cluster operators cache nothing, see
    test_cc_callers_leave_no_persisted_rdds) and the caching contract of
    the LM operators (zero survivors after the caller releases)."""
    from butterfly_osm_spark.operators.ann import embedding_clusters
    from butterfly_osm_spark.operators.text import unigram_logprob
    from butterfly_osm_spark.operators.tiles import dbscan_hotspots

    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = sc.getPersistentRDDs().size()

    hot = dbscan_hotspots(spark.read.parquet(fix001 + "/osm_nodes.parquet"))
    rows = hot.collect()
    assert rows and all(r.n_points >= 20 for r in rows)
    ids = {r.cell_id for r in rows}
    assert all(r.cluster_id <= r.cell_id and r.cluster_id in ids for r in rows)

    emb = embedding_clusters(spark.read.parquet(fix001 + "/embeddings_nd.parquet"))
    erows = emb.collect()
    eids = {r.vec_id for r in erows}
    assert erows and all(r.cluster_id <= r.vec_id and r.cluster_id in eids for r in erows)
    assert all(r.is_keeper == (r.vec_id == r.cluster_id) for r in erows)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lm = unigram_logprob(docs)
    lrows = lm.collect()
    assert len(lrows) == docs.count()  # one row per doc, no short-doc drop
    assert all(r.n_tokens > 0 and r.logprob_micro < 0 and r.avg_logprob < 0 for r in lrows)
    assert sc.getPersistentRDDs().size() == before, "unigram_logprob cached a frame"
    assert sc.getPersistentRDDs().size() - before <= 1
    lm.unpersist()
    assert sc.getPersistentRDDs().size() == before, "unigram_logprob leaked caches"

    from butterfly_osm_spark.operators.text import perplexity_buckets

    pb = perplexity_buckets(docs)
    prows = pb.collect()
    assert len(prows) == len(lrows) and {r.bucket for r in prows} == {"head", "middle", "tail"}
    assert sc.getPersistentRDDs().size() == before, "perplexity_buckets cached a frame"
    assert sc.getPersistentRDDs().size() - before <= 1
    pb.unpersist()
    assert sc.getPersistentRDDs().size() == before, "perplexity_buckets leaked caches"


def test_heatmap_kde_single_scan_separable(spark, fix001):
    """The separable factorization must touch the point table ONCE (one
    count aggregate); both blur passes run on the vocabulary-sized cell
    table, JVM-only. Correctness vs the direct 25-tap 2D form is pinned
    by the DuckDB oracle sweep; this pins the PLAN."""
    from butterfly_osm_spark.operators.tiles import heatmap_kde

    df = heatmap_kde(spark.read.parquet(fix001 + "/osm_nodes.parquet"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("osm_nodes.parquet") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    assert rows and all(r.heat > 0 for r in rows)
    # total mass is conserved: sum(heat) = 256 * n_points (kernel sums to 16 per axis)
    n = spark.read.parquet(fix001 + "/osm_nodes.parquet").count()
    assert sum(r.heat for r in rows) == 256 * n


def test_zonal_stats_invariants_and_release(spark, fix001):
    """Zonal stats: per-polygon aggregates are consistent (min <= mean <=
    max, n_samples > 0), membership count equals the PIP hit count, and
    the operator honors the caching contract (pip's returned frame and
    the sample frame both released)."""
    from butterfly_osm_spark.operators.elevation import zonal_stats

    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = sc.getPersistentRDDs().size()
    out = zonal_stats(
        spark.read.parquet(fix001 + "/raster_tiles.parquet"),
        spark.read.parquet(fix001 + "/polygons.parquet"),
    )
    rows = out.collect()
    assert rows and all(
        r.n_samples > 0 and r.min_elev <= r.mean_elev <= r.max_elev for r in rows
    )
    assert sc.getPersistentRDDs().size() - before <= 1
    out.unpersist()
    assert sc.getPersistentRDDs().size() == before, "zonal_stats leaked caches"


def test_tfidf_top_terms_invariants_and_release(spark):
    """TF-IDF keyterms: per-doc ranks are 1..k dense, scores non-increasing
    within a doc, ties broken by term ascending; caching contract holds."""
    from butterfly_osm_spark.operators.text import tfidf_top_terms

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = sc.getPersistentRDDs().size()
    out = tfidf_top_terms(docs)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == docs.count()
    for rs in by_doc.values():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        keys = [(-r.score_micro, r.term) for r in rs]
        assert keys == sorted(keys)
    assert sc.getPersistentRDDs().size() == before, "tfidf_top_terms cached a frame"
    assert sc.getPersistentRDDs().size() - before <= 1
    out.unpersist()
    assert sc.getPersistentRDDs().size() == before, "tfidf_top_terms leaked caches"


def test_single_pass_operators_cache_nothing(spark, fix001):
    """The spatial statistics and PMI return lazy plans: running each
    leaves the session's persistent RDDs as they were."""
    from butterfly_osm_spark.operators.spatial_stats import cell_triangles, morans_i
    from butterfly_osm_spark.operators.text import pmi_collocations

    nodes = spark.read.parquet(fix001 + "/osm_nodes.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = sc.getPersistentRDDs().size()
    for name, op, src in (
        ("cell_triangles", cell_triangles, nodes),
        ("morans_i", morans_i, nodes),
        ("pmi_collocations", pmi_collocations, docs),
    ):
        assert op(src).collect()
        assert sc.getPersistentRDDs().size() == before, f"{name} cached a frame"


def test_minhash_and_simhash_run_their_kernel_once(spark):
    """MinHash and SimHash pair their candidates inside band buckets, so
    each executed plan evaluates its Python kernel in one
    ``ArrowEvalPython`` node (a band self-join evaluated it per side)."""
    from butterfly_osm_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (minhash_lsh_pairs(docs), simhash_pairs(docs)):
        df.collect()
        # the final adaptive plan, without the initial plan AQE prints too
        plan = df._jdf.queryExecution().executedPlan().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan


def test_asof_and_stay_points_single_exchange(spark):
    """Round-5c plan pins: the union-tag asof join must plan exactly ONE
    hash exchange (no join operator anywhere — that's the point of the
    plan), and stay_points must reuse a single user_id exchange across
    its windows + aggregation, like sessionize."""
    from butterfly_osm_spark.operators.asof import asof_purchases
    from butterfly_osm_spark.operators.sessions import stay_points
    from butterfly_osm_spark.fixtures.generate import ensure_fixtures

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = asof_purchases(events)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    fix = ensure_fixtures("0.001")
    pings = spark.read.parquet(fix + "/pings.parquet")
    splan = stay_points(pings)._jdf.queryExecution().executedPlan().toString()
    assert splan.count("Exchange hashpartitioning") == 1, splan


def test_bfs_hops_invariants_and_release(spark, fix001):
    """bfs_hops follows the CC-loop caching contract (one persisted
    result, zero survivors after release) and its level-synchronous
    invariants: seeds at hop 0, everything else in (0, max_hops]."""
    from butterfly_osm_spark.operators.dedup import release_checkpoint
    from butterfly_osm_spark.operators.extract import build_edges
    from butterfly_osm_spark.operators.graph import SEED_MOD, bfs_hops

    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = sc.getPersistentRDDs().size()

    edges = build_edges(
        spark.read.parquet(fix001 + "/osm_ways.parquet"),
        spark.read.parquet(fix001 + "/way_nodes.parquet"),
        spark.read.parquet(fix001 + "/osm_nodes.parquet"),
    )
    dist = bfs_hops(edges)
    rows = dist.collect()
    assert rows
    assert all((r.node_id % SEED_MOD == 0) == (r.hops == 0) for r in rows)
    assert all(0 <= r.hops <= 10 for r in rows)
    assert len({r.node_id for r in rows}) == len(rows)  # one row per node
    assert sc.getPersistentRDDs().size() - before <= 1  # only the result
    dist.unpersist()
    release_checkpoint(dist)
    assert sc.getPersistentRDDs().size() == before, "bfs_hops leaked caches"


def test_polygon_metrics_and_interval_join_plans(spark, fix001):
    """Round-5c plan pins: polygon_metrics is one hash exchange with
    map-side partial aggregation and no Python in the plan;
    interval_join plans an EQUI-join (hash/sort-merge) — never the
    broadcast-nested-loop a naive range join degrades to."""
    from butterfly_osm_spark.operators.geometry import polygon_metrics
    from butterfly_osm_spark.operators.sessions import interval_join

    pe = spark.read.parquet(fix001 + "/polygon_edges.parquet")
    plan = polygon_metrics(pe)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial" in plan.lower(), plan  # map-side combine
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    pings = spark.read.parquet(fix001 + "/pings.parquet")
    jplan = interval_join(pings)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in jplan, jplan
    assert "CartesianProduct" not in jplan, jplan


def test_cell_compact_leaf_conservation(spark, fix001):
    """Compaction must partition the original base-res cover exactly:
    sum of 4^(base_res - res) leaf counts equals the distinct base cover
    size, and no compacted cell is an ancestor of another."""
    from butterfly_osm_spark import cells
    from butterfly_osm_spark.operators.tiles import COMPACT_BASE_RES, cell_compact

    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = sc.getPersistentRDDs().size()
    nodes = spark.read.parquet(fix001 + "/osm_nodes.parquet")
    compacted = cell_compact(nodes)
    out = compacted.collect()
    assert sc.getPersistentRDDs().size() - before <= 1  # only the result
    compacted.unpersist()
    assert sc.getPersistentRDDs().size() == before, "cell_compact leaked caches"
    base = (
        nodes.select(cells.cell_col("lon_e7", "lat_e7", COMPACT_BASE_RES).alias("c"))
        .distinct()
        .count()
    )
    assert sum(r.n_leaves for r in out) == base
    assert all(r.n_leaves == 4 ** (COMPACT_BASE_RES - r.res) for r in out)
    # ancestor-freedom: lift every cell to each coarser present res; none
    # of those ancestors may itself be in the set
    by_res = {}
    for r in out:
        by_res.setdefault(r.res, set()).add(r.cell_id)
    for r in out:
        x = r.cell_id & cells.X_MASK
        y = (r.cell_id >> cells.Y_SHIFT) & cells.Y_MASK
        for pr in by_res:
            if pr >= r.res:
                continue
            dr = r.res - pr
            anc = (pr << cells.RES_SHIFT) | ((y >> dr) << cells.Y_SHIFT) | (x >> dr)
            assert anc not in by_res[pr], (r.cell_id, anc)


def test_isochrone_invariants_and_release(spark, fix001):
    """isochrone_ms: seeds at 0 ms, everything within budget, triangle
    consistency vs hop seeds (time >= 0 and monotone non-teleporting);
    caching contract: one persisted result, zero survivors."""
    from butterfly_osm_spark.functions.model import compile_way_attrs
    from butterfly_osm_spark.operators.dedup import release_checkpoint
    from butterfly_osm_spark.operators.extract import build_edges
    from butterfly_osm_spark.operators.graph import BUDGET_MS, SEED_MOD, isochrone_ms

    sc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    before = sc.getPersistentRDDs().size()

    ways = spark.read.parquet(fix001 + "/osm_ways.parquet")
    edges = build_edges(
        ways,
        spark.read.parquet(fix001 + "/way_nodes.parquet"),
        spark.read.parquet(fix001 + "/osm_nodes.parquet"),
    )
    iso = isochrone_ms(edges, compile_way_attrs(ways))
    rows = iso.collect()
    assert rows
    assert all((r.node_id % SEED_MOD == 0) == (r.time_ms == 0) for r in rows)
    assert all(0 <= r.time_ms <= BUDGET_MS for r in rows)
    assert len({r.node_id for r in rows}) == len(rows)
    assert sc.getPersistentRDDs().size() - before <= 1
    iso.unpersist()
    release_checkpoint(iso)
    assert sc.getPersistentRDDs().size() == before, "isochrone_ms leaked caches"


def test_line_simplify_dp_contract(spark, fix001):
    """DP guarantee: endpoints survive, kept vertices are a subsequence
    of the original chain, and every DROPPED vertex lies within
    SIMPLIFY_TOL_E7 of the segment between its surrounding kept
    vertices — checked geometrically, independent of the golden."""
    import duckdb

    from butterfly_osm_spark.operators.simplify import SIMPLIFY_TOL_E7, line_simplify

    kept = line_simplify(
        spark.read.parquet(fix001 + "/way_nodes.parquet"),
        spark.read.parquet(fix001 + "/osm_nodes.parquet"),
    ).toPandas()
    full = duckdb.sql(
        f"""SELECT w.way_id, w.seq, n.lon_e7 AS x, n.lat_e7 AS y
            FROM '{fix001}/way_nodes.parquet' w
            JOIN '{fix001}/osm_nodes.parquet' n ON w.node_id = n.id
            ORDER BY w.way_id, w.seq"""
    ).df()
    dropped_total = 0
    for way_id, g in full.groupby("way_id"):
        ks = sorted(kept[kept.way_id == way_id].seq.tolist())
        seqs = g.seq.tolist()
        assert ks[0] == seqs[0] and ks[-1] == seqs[-1], way_id
        assert set(ks) <= set(seqs)
        xs = dict(zip(g.seq, g.x))
        ys = dict(zip(g.seq, g.y))
        for a, b in zip(ks, ks[1:]):
            xi, yi, xj, yj = xs[a], ys[a], xs[b], ys[b]
            dx, dy = xj - xi, yj - yi
            l2 = dx * dx + dy * dy
            for s in range(a + 1, b):
                if s not in xs:
                    continue
                px, py = xs[s] - xi, ys[s] - yi
                t = 0.0 if l2 == 0 else min(1.0, max(0.0, (px * dx + py * dy) / l2))
                d2 = (px - t * dx) ** 2 + (py - t * dy) ** 2
                assert d2 <= SIMPLIFY_TOL_E7**2 + 1e-6, (way_id, s, d2)
                dropped_total += 1
    assert dropped_total > 100  # the tolerance actually thins the chains


def test_kcore_peel_star_and_release(spark, fix001):
    """kcore_peel: the 2-leaf star pins the vanished-vertex semantics —
    leaves peel round 1 (degree 1), the centre drops to degree 0 and
    must peel round 2, NOT masquerade as core; a 4-cycle is 2-core
    (peel_round 0); caching contract: one persisted result, zero
    survivors after release."""
    from butterfly_osm_spark.operators.dedup import release_checkpoint
    from butterfly_osm_spark.operators.graph import kcore_peel

    from .conftest import persistent_rdd_ids

    spark.catalog.clearCache()
    before = persistent_rdd_ids(spark)

    # star: 10-(11), 10-(12); square: 1-2-3-4-1; antenna off the square: 4-20
    pairs = [(10, 11), (10, 12), (1, 2), (2, 3), (3, 4), (4, 1), (4, 20)]
    edges = spark.createDataFrame(
        [(u, v) for u, v in pairs], "u_node long, v_node long"
    )
    out = kcore_peel(edges)
    got = {r.node_id: r.peel_round for r in out.collect()}
    assert got == {11: 1, 12: 1, 10: 2, 20: 1, 1: 0, 2: 0, 3: 0, 4: 0}
    assert len(persistent_rdd_ids(spark) - before) <= 1
    out.unpersist()
    release_checkpoint(out)
    assert not (persistent_rdd_ids(spark) - before), "kcore_peel leaked caches"


def test_time_matrix_invariants_and_release(spark, fix001):
    """time_matrix: each source reaches itself at 0 ms, all labels within
    budget, and per-source rows are a superset-consistent restriction of
    single-source relaxation (matrix row for (s, d) can never beat a
    direct edge bound); caching contract: zero survivors after release."""
    from butterfly_osm_spark.functions.model import compile_way_attrs
    from butterfly_osm_spark.operators.dedup import release_checkpoint
    from butterfly_osm_spark.operators.extract import build_edges
    from butterfly_osm_spark.operators.graph import MTX_BUDGET_MS, MTX_SRC_MOD, time_matrix

    from .conftest import persistent_rdd_ids

    spark.catalog.clearCache()
    before = persistent_rdd_ids(spark)

    ways = spark.read.parquet(fix001 + "/osm_ways.parquet")
    edges = build_edges(
        ways,
        spark.read.parquet(fix001 + "/way_nodes.parquet"),
        spark.read.parquet(fix001 + "/osm_nodes.parquet"),
    )
    mtx = time_matrix(edges, compile_way_attrs(ways))
    rows = mtx.collect()
    assert rows
    srcs = {r.src for r in rows}
    assert all(s % MTX_SRC_MOD == 0 for s in srcs)
    # every source labels itself at 0; no other row is 0
    assert all((r.src == r.dst) == (r.time_ms == 0) for r in rows)
    assert all(0 <= r.time_ms <= MTX_BUDGET_MS for r in rows)
    assert len({(r.src, r.dst) for r in rows}) == len(rows)
    assert len(persistent_rdd_ids(spark) - before) <= 1
    mtx.unpersist()
    release_checkpoint(mtx)
    assert not (persistent_rdd_ids(spark) - before), "time_matrix leaked caches"


def test_dem_slope_flat_and_ramp(spark):
    """dem_slope on a synthetic tile: a flat plateau has slope 0
    everywhere; a pure-east ramp of +1/cell has dzdx = 8, dzdy = 0,
    slope 1.0; borders and VOID-adjacent windows are absent."""
    import numpy as np

    from butterfly_osm_spark.operators.elevation import VOID, dem_slope

    side = 6
    flat = (np.ones((side, side), dtype=">i2") * 100).tobytes()
    ramp_arr = np.tile(np.arange(side, dtype=">i2"), (side, 1))
    ramp_arr[0, 0] = VOID  # kills the (1,1) window only
    ramp = ramp_arr.astype(">i2").tobytes()
    tiles = spark.createDataFrame(
        [(0, 0, side, bytearray(flat)), (1, 1, side, bytearray(ramp))],
        "tile_lat int, tile_lon int, samples_per_side int, data binary",
    )
    rows = dem_slope(tiles).collect()
    flat_rows = [r for r in rows if r.tile_lat == 0]
    assert len(flat_rows) == (side - 2) ** 2
    assert all(r.dzdx == 0 and r.dzdy == 0 and r.slope == 0.0 for r in flat_rows)
    ramp_rows = {(r.row, r.col): r for r in rows if r.tile_lat == 1}
    assert (1, 1) not in ramp_rows  # VOID neighbour excluded
    assert len(ramp_rows) == (side - 2) ** 2 - 1
    assert all(r.dzdx == 8 and r.dzdy == 0 and r.slope == 1.0 for r in ramp_rows.values())
    # interior only
    assert all(1 <= r.row <= side - 2 and 1 <= r.col <= side - 2 for r in rows)


def test_phash_knn_contract(spark, fix001):
    """phash_knn: never returns the query itself, ranks are contiguous
    from 1, per-rank hamming is non-decreasing, and the top-1 neighbour
    of any exact-duplicate phash has hamming 0."""
    from butterfly_osm_spark.operators.images import PHKNN_K, phash_knn

    images = spark.read.parquet(fix001 + "/images.parquet")
    out = phash_knn(images).collect()
    assert out
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= PHKNN_K
        hams = [r.hamming for r in rs]
        assert hams == sorted(hams)


def test_phash_knn_query_batch_guard(spark, fix001, monkeypatch):
    """A query batch over ``PHKNN_MAX_QUERIES`` rows (139 at sf0.001)
    raises, and at most one row past the bound reaches the driver."""
    from butterfly_osm_spark.operators import images as img

    images = spark.read.parquet(fix001 + "/images.parquet")
    frame = type(images)
    collect = frame.collect
    collected = []

    def counting_collect(df):
        rows = collect(df)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(img, "PHKNN_MAX_QUERIES", 100)
    monkeypatch.setattr(frame, "collect", counting_collect)
    with pytest.raises(ValueError, match="broadcast guard"):
        img.phash_knn(images)
    assert collected == [101]


def test_osm_diff_strata(spark, fix001):
    """osm_diff recovers exactly the synthetic changeset strata: every
    %13==5 way deleted, %13==7 modified, %13==9 cloned as added under a
    negative id — and nothing else."""
    from butterfly_osm_spark.operators.diff import osm_diff, synth_snapshot_b

    ways = spark.read.parquet(fix001 + "/osm_ways.parquet")
    ids = {r.id for r in ways.select("id").collect()}
    out = osm_diff(ways, synth_snapshot_b(ways)).collect()
    got = {(r.way_id, r.status) for r in out}
    want = (
        {(i, "deleted") for i in ids if i % 13 == 5}
        | {(i, "modified") for i in ids if i % 13 == 7}
        | {(-i, "added") for i in ids if i % 13 == 9}
    )
    assert got == want


def test_traj_sim_join_exact_threshold(spark, fix001):
    """traj_sim_join: membership decided by exact integers — recompute
    per-user cell sets driver-side and check every emitted pair passes
    den*inter >= num*uni and no qualifying pair is missing."""
    from butterfly_osm_spark.operators.sessions import (
        TRAJ_CELL_E7,
        TRAJ_JACCARD_DEN,
        TRAJ_JACCARD_NUM,
        traj_sim_join,
    )

    pings = spark.read.parquet(fix001 + "/pings.parquet")
    got = {
        (r.user_a, r.user_b): (r.inter, r.uni)
        for r in traj_sim_join(pings).collect()
    }
    cells = {}
    for r in pings.collect():
        # python int // is floor division — matches floor(v / cell) in
        # both engines (quotients never sit within an ulp of an integer)
        cells.setdefault(r.user_id, set()).add(
            (r.lon_e7 // TRAJ_CELL_E7, r.lat_e7 // TRAJ_CELL_E7)
        )
    users = sorted(cells)
    want = {}
    for i, ua in enumerate(users):
        for ub in users[i + 1 :]:
            inter = len(cells[ua] & cells[ub])
            uni = len(cells[ua] | cells[ub])
            if inter and TRAJ_JACCARD_DEN * inter >= TRAJ_JACCARD_NUM * uni:
                want[(ua, ub)] = (inter, uni)
    assert got == want


def test_cell_regions_partition(spark, fix001):
    """cell_regions: labels form a partition — every occupied cell
    labeled exactly once, region_size sums to n_cells, every region_id
    is the min packed id of its members, and two queen-adjacent cells
    always share a region."""
    from butterfly_osm_spark.operators.spatial_stats import cell_regions

    nodes = spark.read.parquet(fix001 + "/osm_nodes.parquet")
    out = cell_regions(nodes)
    rows = out.collect()
    assert len({(r.x, r.y) for r in rows}) == len(rows)
    by_region = {}
    for r in rows:
        by_region.setdefault(r.region_id, []).append(r)
    for rid, members in by_region.items():
        assert all(m.region_size == len(members) for m in members)
        assert rid == min(m.x * 2_147_483_648 + m.y for m in members)
    cellset = {(r.x, r.y): r.region_id for r in rows}
    for (x, y), rid in cellset.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (dx, dy) != (0, 0) and (x + dx, y + dy) in cellset:
                    assert cellset[(x + dx, y + dy)] == rid


def test_car_arc_weights_positive_from_edge_length_floor(spark, fix001):
    """Every edge is at least 1 m long (build_edges saturates length_mm at
    1000), so every car arc weight round(length_mm * 3.6 / speed_car_kmh)
    is >= 1 ms without a floor of its own. route_paths' pred-tree
    acyclicity and the oracles' recursive CTE termination rest on it, and
    Spark and both oracles compute the same unfloored expression."""
    from pyspark.sql import functions as F

    from butterfly_osm_spark.functions.model import compile_way_attrs
    from butterfly_osm_spark.operators.extract import build_edges

    ways = spark.read.parquet(fix001 + "/osm_ways.parquet")
    edges = build_edges(
        ways,
        spark.read.parquet(fix001 + "/way_nodes.parquet"),
        spark.read.parquet(fix001 + "/osm_nodes.parquet"),
    )
    n_edges, min_len = edges.agg(F.count(F.lit(1)), F.min("length_mm")).first()
    assert n_edges > 0 and min_len >= 1000
    car = edges.join(compile_way_attrs(ways).filter(F.col("access_car")), "way_id")
    n_arcs, min_w = car.agg(
        F.count(F.lit(1)), F.min(F.round(F.col("length_mm") * 3.6 / F.col("speed_car_kmh")))
    ).first()
    assert n_arcs > 0 and min_w >= 1


def test_route_paths_are_valid_shortest_paths(spark, fix001):
    """route_paths: every (src, dst) path starts at src, ends at dst,
    every hop is a real directed car arc, and the summed arc weights
    equal the time_matrix cell — paths are not merely plausible, they
    COST what the matrix says."""
    from butterfly_osm_spark.functions.model import compile_way_attrs
    from butterfly_osm_spark.operators.dedup import release_checkpoint
    from butterfly_osm_spark.operators.extract import build_edges
    from butterfly_osm_spark.operators.graph import _car_adjacency, route_paths, time_matrix

    ways = spark.read.parquet(fix001 + "/osm_ways.parquet")
    edges = build_edges(
        ways,
        spark.read.parquet(fix001 + "/way_nodes.parquet"),
        spark.read.parquet(fix001 + "/osm_nodes.parquet"),
    )
    wa = compile_way_attrs(ways)
    adj = _car_adjacency(edges, wa)
    arcs = {(r.s, r.d): r.w for r in adj.collect()}
    adj.unpersist()
    mtx = time_matrix(edges, wa)
    cells_t = {(r.src, r.dst): r.time_ms for r in mtx.collect()}
    mtx.unpersist()
    release_checkpoint(mtx)
    paths = route_paths(edges, wa)
    rows = paths.collect()
    paths.unpersist()
    release_checkpoint(paths)
    by_pair = {}
    for r in rows:
        by_pair.setdefault((r.src, r.dst), {})[r.seq] = r.node_id
    assert set(by_pair) == set(cells_t)  # one path per matrix cell
    for (src, dst), seqmap in by_pair.items():
        seq = [seqmap[i] for i in range(1, len(seqmap) + 1)]
        assert seq[0] == src and seq[-1] == dst
        cost = 0
        for a, b in zip(seq, seq[1:]):
            assert (a, b) in arcs, f"hop {a}->{b} is not a car arc"
            cost += arcs[(a, b)]
        assert cost == cells_t[(src, dst)], f"path cost != matrix cell for {(src, dst)}"


def test_session_jvm_takes_raised_c2_thresholds(spark):
    """The session's driver JVM runs with session.JIT_OPTIONS: the four
    tier-4 (C2) compile thresholds at 10x the JDK 17 defaults."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    want = {
        "Tier4InvocationThreshold": "50000",
        "Tier4MinInvocationThreshold": "6000",
        "Tier4CompileThreshold": "150000",
        "Tier4BackEdgeThreshold": "400000",
    }
    assert {name: bean.getVMOption(name).getValue() for name in want} == want


def test_session_defaults_follow_the_host(monkeypatch, tmp_path):
    """Without overrides, local[N] takes N from the usable cores and the
    driver heap fits in physical RAM; $SPARK_GRAFT_CPUS and
    $SPARK_GRAFT_DRIVER_MEM win when set, also in the spark-submit
    arguments scripts/submit.sh takes from the session module."""
    import os
    import subprocess
    import sys

    from butterfly_osm_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.default_cpus() == len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem = session.default_driver_memory()
    assert mem.endswith("m") and 0 < int(mem[:-1]) * 1024 <= total_kb
    assert session.launch_conf()["spark.driver.memory"] == mem

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    # a conf dir of the caller's turns the class-data archive off (its
    # arguments are checked in tests/test_session.py)
    (tmp_path / "spark-defaults.conf").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert session.default_cpus() == 3
    assert session.default_driver_memory() == "5g"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    args = subprocess.run(
        [sys.executable, "-m", "butterfly_osm_spark.session"],
        cwd=root, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    assert args[:2] == ["--master", "local[3]"]
    assert "spark.driver.memory=5g" in args
    assert f"spark.driver.defaultJavaOptions={session.JIT_OPTIONS}" in args
