"""kNN snap (J5): request-sized target tables are answered from a
driver-built packed grid in one shuffle-free Arrow kernel; larger ones
(and an explicit ``res``) by iterative ring widening over a candidate
join.

Reference semantics: concentric cell rings around the query cell with an
early exit once the accepted k-th best distance beats the next ring's
inner edge (route/src/server/snap_index.rs:833-904 ``iterate_rings``;
k-th-best tracking :625-754, the #525 dense-cell fix), under a 5 km snap
cutoff (route/src/server/spatial.rs:9). The reference also sizes its
grid cells from data density (``cell_log2``, snap_index.rs:183-201) —
without that, urban cells hold thousands of points and the candidate
join goes quadratic (the exact #525 pathology, reproduced here at sf1
before this fix).

Spark-first shape (SURVEY.md §7.1 step 5):
- resolution: the COARSEST grid level whose p95 cell occupancy stays
  under ``OCC_TARGET``, refined finer while the ring-2 rectangle still
  covers the cutoff (``_occupancy_res``). The grid path counts cells
  with ``np.unique`` on the collected targets; the ring loop runs
  ``adaptive_res`` (res-13 counts rolled up to every parent level, two
  shuffles). Every fixture scale lands at res 11 (425 rectangle cells).
- grid (``res`` not given, target table within ``BROADCAST_MAX_ROWS``):
  the targets are collected once as Arrow — at most one row past the
  bound, so an oversized table never reaches the driver — and sorted by
  ``(cell, node_id)`` into numpy arrays, the reference's cell-sorted
  in-memory snap grid. The queries stream through ONE ``mapInArrow``
  kernel (``_grid_topk``): each rectangle row is one contiguous key
  range of the sorted cells (``np.searchsorted``), and a query retires
  under the ring loop's own contract below. No join, no exchange, no
  persist: the arrays ride in the kernel's closure, which PySpark ships
  as a broadcast for the plan's lifetime once it passes 1 MB, so the
  result stays lazy with nothing to release.
- ring loop (explicit ``res``, or a target table past the bound):
  rectangles of Chebyshev radius R = RING_R0, RING_R0 * RING_GROWTH, ...
  (2, 16, ...) until R covers the cutoff. Which queries continue is
  decided inside the plan (anti-joins on the ring-bound test); the
  driver only counts the open set after each widening phase, which
  sizes the next phase's join. The query side of the candidate join is
  broadcast (bounded request batch), so the target table never shuffles
  by cell — the only full shuffle per phase is candidates -> query_id.
- ring-bound contract: after covering ±R cells, any unexplored point is
  at least R * min_edge metres away; a query is DONE when it holds k
  candidates and its k-th beats that bound (or the rect covers the whole
  cutoff).
- final rank: ``(d2, node_id)`` (W1 deterministic ties) — a
  ``row_number()`` window on the ring loop, an ``np.lexsort`` in the
  grid kernel. Both hand ``(query_id, rank, node_id, d2)`` to
  ``_output``, so ``dist_m`` is always Spark's half-up ``round`` (numpy
  rounds half-even).

Ranking uses the reference's equirectangular metric with FIXED constants
(spatial.rs:226-230) — pure arithmetic on fixed-point ints, bit-identical
across Spark / numpy / DuckDB, so ranks match the SQL oracle exactly.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from .. import cells
from ..geo import (
    M_PER_DEG_LAT,
    M_PER_DEG_LON,
    equirect_d2_col,
    equirect_d2_np,
    equirect_d2_sql,
)

CUTOFF_M = 5_000.0  # reference SNAP_CUTOFF (spatial.rs:9)
# p95 cell occupancy ceiling (reference warns >8192/cell). The density
# pick is then refined finer while the phase-2 ring still covers the
# cutoff — see _occupancy_res. Measured (honest repeats, results identical):
#   sf0.1: res 11 5.3-9.1 s < res 10 9.6-84 s < res 9 18-27 s
#   sf1:   res 12 87 s      < res 11 220 s    < res 13 ~490 s
# i.e. finer wins (candidate volume dominates) EXCEPT when the finer
# grid's cover radius outgrows the R0*growth phase-2 rectangle — then
# open queries hit 1000+-cell shells and the join explodes (the sf1
# res-13 cliff). Occupancy target 64 + covering refinement picks the
# measured winner at both scales.
OCC_TARGET = 64
RES_FLOOR, RES_CEIL = 7, 13
# ring schedule: R = R0, R0*G, ... — measured at sf0.1/local[32]:
# (R0=2, G=8) resolves ~all queries in phase 1 (25-cell rect at p95
# occupancy 64) and finishes in ONE more covering phase, 1.8x faster than
# (1, 4)'s three phases; a single full-rect phase (R0=rx_max) is 2.8x
# slower there. The grid kernel walks the same schedule.
# Stage-count x candidate-volume trade, not a correctness knob (results
# hash-identical across schedules).
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


# broadcast the exploded query-cell side only below this row count: ~4M
# rows x ~40 B is a few hundred MB of driver assembly — beyond it the
# "bounded request batch" assumption no longer holds and the plan must
# fall back to a shuffle join (measured: an unconditional hint OOM-killed
# the sf4/local[2] scaling level at 24M exploded rows). The same bound
# caps the target rows the grid path collects, and the candidates one
# grid-kernel step holds in memory.
BROADCAST_MAX_ROWS = 4_000_000


def _candidates(
    queries: DataFrame,
    targets_cells: DataFrame,
    res: int,
    rx: int,
    ry: int,
    prev_rx: int = -1,
    prev_ry: int = -1,
    broadcast: bool = True,
) -> DataFrame:
    """Explode queries by the (2rx+1)x(2ry+1) cell rectangle — MINUS the
    previously-covered (2prev_rx+1)x(2prev_ry+1) rectangle (ring-shell
    emission: widening phases only scan NEW cells; the top-k partial from
    the inner rectangle is carried forward instead of re-scanned)."""
    # offsets via nested sequence-explodes, not a literal array: a phase-2
    # rectangle is >1000 offsets and a 1000-element literal array blows up
    # the generated codegen method (janino compile seconds per call); two
    # sequence explodes + a shell filter keep the generated code O(1)-sized
    # regardless of R.
    q = (
        queries.withColumn("qcell", cells.cell_col("lon_e7", "lat_e7", res))
        .select(
            "query_id",
            F.col("lon_e7").alias("qlon"),
            F.col("lat_e7").alias("qlat"),
            "k",
            "qcell",
            F.explode(F.sequence(F.lit(-rx), F.lit(rx))).alias("dx"),
        )
        .select(
            "query_id",
            "qlon",
            "qlat",
            "k",
            "qcell",
            "dx",
            F.explode(F.sequence(F.lit(-ry), F.lit(ry))).alias("dy"),
        )
        .filter(~((F.abs("dx") <= F.lit(prev_rx)) & (F.abs("dy") <= F.lit(prev_ry))))
        .select(
            "query_id",
            "qlon",
            "qlat",
            "k",
            # dy/dx are ints from sequence(); the step multiply MUST be
            # long — dy * 2^28 overflows int32 for |dy| >= 8 (fine
            # resolutions), and ANSI mode (Spark 4 default) fails the task
            (
                F.col("qcell")
                + F.col("dy").cast("long") * F.lit(1 << cells.Y_SHIFT).cast("long")
                + F.col("dx").cast("long")
            ).alias("cell_id"),
        )
    )
    # queries are the reference's bounded request batch (snap server
    # semantics) — broadcast the exploded query-cell side so the target
    # table streams through a broadcast join with NO shuffle by cell; the
    # only full shuffle left in a phase is the candidate->query_id rank.
    # Over the gate (broadcast=False, decided by knn_join from EXACT
    # open-set counts) the join is pinned to shuffle_merge: the ring
    # loop's phase frames are persisted, and a cached subtree is compiled
    # from STATIC stats (no AQE re-plan inside the cache build), where
    # Catalyst's anti-join selectivity estimate makes the shell-exploded
    # side look broadcastable — the cache build then dies at scale on
    # Spark's 8 GiB broadcast cap (observed at sf4/res-13: "Cannot
    # broadcast the table that is larger than 8.0 GiB: 10.0 GiB" inside
    # CachedRDDBuilder.buildBuffers). Pin the decision structurally.
    qj = F.broadcast(q) if broadcast else q.hint("shuffle_merge")
    j = targets_cells.join(qj, "cell_id", "inner")
    return j.select(
        "query_id",
        "k",
        "node_id",
        equirect_d2_col("qlon", "qlat", "nlon", "nlat").alias("d2"),
    )


def _rank_topk(cand: DataFrame, cutoff_m: float) -> DataFrame:
    # sort-based rank window, NOT a collect_list/array_sort agg: measured
    # 2x faster on 11M-candidate phases (ObjectHashAggregate array churn
    # loses to Tungsten radix sort) and the shuffle volume is identical.
    # Also measured and REJECTED: adding a literal `rank <= kmax` conjunct
    # to trigger Spark 4's WindowGroupLimit rank pushdown (`rank <= k` is
    # a column predicate, which the rule can't use). The partial
    # WindowGroupLimit pre-sorts every map partition by (query_id, d2,
    # node_id) BEFORE the exchange — an extra full local sort of the 11M
    # candidates that cost 3.5x (26 s vs 7.4 s alternating A/B at
    # sf0.1/local[32]) and only trims shuffle bytes, which a post-shuffle
    # single sort handles cheaper here. Worth re-testing on a real
    # network-bound cluster; locally the plain window wins.
    w = Window.partitionBy("query_id").orderBy("d2", "node_id")
    return (
        cand.filter(F.col("d2") <= F.lit(cutoff_m * cutoff_m))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
    )


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


def _grid(targets: pa.Table, cutoff_m: float) -> _Grid:
    """``(node_id, lon_e7, lat_e7)`` rows as a ``_Grid`` at the res the
    occupancy rule picks (any res gives the same rows)."""
    lon = targets.column("lon_e7").to_numpy()
    lat = targets.column("lat_e7").to_numpy()
    ids = targets.column("node_id").combine_chunks()
    res = _occupancy_res(_p95_np(lon, lat), cutoff_m)
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
    """The ring loop over a ``_Grid``, for one batch of queries:
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


def _grid_join(queries: DataFrame, targets: pa.Table, id_type, cutoff_m: float) -> DataFrame:
    """The grid path: one ``mapInArrow`` over the queries, no join.
    ``id_type`` is node_id's Spark type."""
    g = _grid(targets, cutoff_m)
    schema = StructType(
        [
            queries.schema["query_id"],
            StructField("rank", IntegerType()),
            StructField("node_id", id_type),
            StructField("d2", DoubleType()),
        ]
    )

    def answer(batches):
        for b in batches:
            q, rank, gi, d2 = _grid_topk(
                g,
                b.column("lon_e7").to_numpy(zero_copy_only=False),
                b.column("lat_e7").to_numpy(zero_copy_only=False),
                b.column("k").to_numpy(zero_copy_only=False),
                cutoff_m,
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("query_id").take(q), pa.array((rank + 1).astype(np.int32)), g.ids.take(gi), pa.array(d2)],
                names=["query_id", "rank", "node_id", "d2"],
            )

    return _output(queries.select("query_id", "lon_e7", "lat_e7", "k").mapInArrow(answer, schema))


def knn_join(
    queries: DataFrame,
    targets: DataFrame,
    res: int | None = None,
    cutoff_m: float = CUTOFF_M,
    target_id: str = "id",
) -> DataFrame:
    """Top-k nearest targets per query point under the snap cutoff.

    Output: (query_id, rank, node_id, dist_m) — rank 1-based by
    (d2, node_id); dist_m rounded to mm. Queries with no target inside
    the cutoff produce no rows (reference empty-snap semantics).

    Caching contract: the grid path returns a LAZY frame and caches
    nothing — the sink evaluates the plan exactly once. The ring loop
    returns a PERSISTED frame (bounded: <= sum(k) rows) — the per-phase
    partials are materialized through it and released before returning.
    A caller looping over many knn_join calls in one session should
    unpersist the returned frame once consumed (a no-op on the lazy
    frame), or clearCache between iterations, as bench.py does.
    """
    if res is None:
        # the phash_knn guard: at most one row past the bound reaches the driver
        grid_rows = (
            targets.select(F.col(target_id).alias("node_id"), "lon_e7", "lat_e7")
            .limit(BROADCAST_MAX_ROWS + 1)
            .toArrow()
        )
        if grid_rows.num_rows <= BROADCAST_MAX_ROWS:
            return _grid_join(queries, grid_rows, targets.schema[target_id].dataType, cutoff_m)
        res = adaptive_res(targets, cutoff_m)[0]
    tc = targets.select(
        F.col(target_id).alias("node_id"),
        F.col("lon_e7").alias("nlon"),
        F.col("lat_e7").alias("nlat"),
        cells.cell_col("lon_e7", "lat_e7", res).alias("cell_id"),
    )

    edge_lon_m, edge_lat_m = _edge_m(res)
    min_edge = min(edge_lon_m, edge_lat_m)
    # floor-grid cover bound per axis: every point within cutoff lies
    # within this many cells of the query cell
    rx_max = int(cutoff_m / edge_lon_m) + 1
    ry_max = int(cutoff_m / edge_lat_m) + 1

    # coarse emptiness prefilter (J10 tile-membership): queries whose
    # cutoff rectangle at a coarse level contains NO target cell can never
    # produce a row — drop them before any ring work (the reference's
    # region-tile membership gate, region_tiles.rs:98-120)
    coarse = min(8, res)  # never coarser than the chosen working res
    ce_lon, ce_lat = _edge_m(coarse)
    crx, cry = int(cutoff_m / ce_lon) + 1, int(cutoff_m / ce_lat) + 1
    tcells = tc.select(cells.parent_col("cell_id", res, coarse).alias("ccell")).distinct()
    qoff = F.array(
        *[
            F.lit(dy * (1 << cells.Y_SHIFT) + dx)
            for dx in range(-crx, crx + 1)
            for dy in range(-cry, cry + 1)
        ]
    )
    q_live = (
        queries.withColumn("qc", cells.cell_col("lon_e7", "lat_e7", coarse))
        .withColumn("off", F.explode(qoff))
        .withColumn("ccell", F.col("qc") + F.col("off"))
        .join(F.broadcast(tcells), "ccell", "left_semi")
        .select("query_id", "lon_e7", "lat_e7", "k")
        .distinct()
    )

    # Ring loop, broadcast decided PER PHASE: the exploded query-cell side
    # is exactly n_open x shell_cells rows, both known before the phase
    # runs (the batch count, then the persisted open set's count).
    # A one-shot gate on the WIDEST phase (round-3's rule) was doubly
    # wrong: it disabled the broadcast for the tiny early phases — where
    # most queries resolve — and, combined with the shuffle_merge pin,
    # cost ~4x on the sf0.1 headline (measured 37.9 s vs 8.8 s); while
    # per-phase exact counts still reject the genuinely unbounded sf4
    # res-13 shells that killed the cached-plan broadcast.
    n_open = queries.count()
    remaining = q_live
    carried: DataFrame | None = None  # top-k-so-far of still-open queries
    parts: list[DataFrame] = []
    phase_frames: list[DataFrame] = []  # persisted partials, released below
    R = RING_R0
    prev_rx = prev_ry = -1
    while True:
        covers_cutoff = R >= rx_max and R >= ry_max
        rx, ry = min(R, rx_max), min(R, ry_max)
        shell_cells = (2 * rx + 1) * (2 * ry + 1) - (
            (2 * prev_rx + 1) * (2 * prev_ry + 1) if prev_rx >= 0 else 0
        )
        # only the NEW shell of cells is scanned this phase; the inner
        # rectangle's contribution is the carried top-k partial (any point
        # outside a query's inner top-k can never enter the global top-k)
        bc = n_open * shell_cells <= BROADCAST_MAX_ROWS
        cand = _candidates(remaining, tc, res, rx, ry, prev_rx, prev_ry, broadcast=bc)
        if carried is not None:
            cand = cand.unionByName(carried)
        ranked = _rank_topk(cand, cutoff_m)
        if covers_cutoff:
            parts.append(ranked)
            break
        ranked = ranked.persist()
        phase_frames.append(ranked)
        bound_m = min(R * min_edge, cutoff_m)
        kth = ranked.groupBy("query_id").agg(
            F.max("rank").alias("n_found"), F.max("d2").alias("kth_d2"), F.first("k").alias("k")
        )
        done_q = kth.filter(
            (F.col("n_found") >= F.col("k")) & (F.col("kth_d2") < F.lit(bound_m * bound_m))
        ).select("query_id")
        parts.append(ranked.join(done_q, "query_id", "left_semi"))
        # queries with zero candidates so far are absent from ranked and
        # must keep widening — hence anti-join on the done set. The open
        # set is persisted so the next shell explode plans over a table,
        # not the re-planned anti-join: sf0.1/local[32], two min-of-3
        # rounds, 7.21/8.49 s lazy vs 6.72/7.90 s persisted, results
        # hash-identical; the cost is one small persist + count per phase.
        remaining = remaining.join(done_q, "query_id", "left_anti").persist()
        n_open = remaining.count()
        phase_frames.append(remaining)
        carried = ranked.join(done_q, "query_id", "left_anti").select(
            "query_id", "k", "node_id", "d2"
        )
        prev_rx, prev_ry = rx, ry
        R *= RING_GROWTH

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = _output(out)
    if phase_frames:
        # materialize the (bounded: <= sum(k) rows) result once, then
        # release every per-phase partial — previously the partials stayed
        # cached for the session lifetime and contaminated later
        # measurements (bench worked around it with clearCache)
        out = out.persist()
        out.count()
        for f in phase_frames:
            f.unpersist()
    return out


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
