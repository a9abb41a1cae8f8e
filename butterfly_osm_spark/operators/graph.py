"""Graph traversal over the extracted edge graph: multi-source BFS hops.

The reference's core product is graph search over the extracted road
network (route/src/nbg edge-based graph; its CCH/PHAST kernels answer
distance queries — docs/architecture.md matrix/isochrone sections).
Full CCH is out of graft scope (SURVEY §2.3), but the distributed
building block every fleet/logistics pipeline needs — "hop distance to
the nearest depot" over the road graph — is expressible Spark-first as
iterative frontier expansion, the same loop discipline as
``connected_components`` (dedup.py): each round is one O(frontier x
avg-degree) equi-join shuffle plus an anti-join against the settled
set; the only driver traffic is the scalar frontier count that decides
termination. Label tables are ``localCheckpoint``-ed per round (the
union-grow plan would otherwise deepen linearly) and every superseded
checkpoint's blocks are freed immediately (clearCache cannot reach
RDD-level blocks — the r4 lesson).

Seeds are chosen deterministically (node_id % seed_mod == 0 — a
scattered ~1 % "depot set"), so the operator is differential-testable:
the DuckDB oracle replays the same expansion as a hop-bounded recursive
CTE over the identical edge derivation.

At 100 TB the per-round join shuffles on node id — the same key the
edge table would be bucketed by (extract.py scale notes), so rounds
are co-located scans; diameter-bounded termination (max_hops) keeps the
round count fixed regardless of graph size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import release_checkpoint

SEED_MOD = 97
MAX_HOPS = 10


def bfs_hops(edges: DataFrame, seed_mod: int = SEED_MOD, max_hops: int = MAX_HOPS) -> DataFrame:
    """(node_id, hops): minimum number of edge hops from each reachable
    graph vertex to its nearest seed vertex (node_id % seed_mod == 0),
    treating extracted edges as undirected, capped at ``max_hops``.
    Vertices farther than ``max_hops`` from every seed are absent.

    Returns one persisted O(|V|) frame; caller releases it (the
    eager_release contract, dedup.py).
    """
    adj = (
        edges.select(F.col("u_node").alias("s"), F.col("v_node").alias("d"))
        .unionByName(edges.select(F.col("v_node").alias("s"), F.col("u_node").alias("d")))
        .distinct()
        .persist()
    )
    verts = adj.select(F.col("s").alias("node_id")).distinct()
    dist = (
        verts.filter(F.col("node_id") % seed_mod == 0)
        .select("node_id", F.lit(0).cast("int").alias("hops"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for h in range(1, max_hops + 1):
        grown = (
            frontier.join(adj, frontier.node_id == adj.s)
            .select(F.col("d").alias("node_id"))
            .distinct()
            .join(dist, "node_id", "left_anti")
            .select("node_id", F.lit(h).cast("int").alias("hops"))
            .localCheckpoint(eager=True)
        )
        n_new = grown.count()
        if n_new == 0:
            release_checkpoint(grown)
            break
        nxt = dist.unionByName(grown).localCheckpoint(eager=True)
        # nxt is materialized; the superseded round's blocks (and grown's,
        # now folded into nxt) are dead — free them immediately. The live
        # frontier below is a FILTER over nxt (shares its checkpoint), so
        # only dist ever owns blocks across iterations.
        release_checkpoint(dist)
        release_checkpoint(grown)
        dist = nxt
        frontier = dist.filter(F.col("hops") == h)
    adj.unpersist()
    out = dist.persist()
    out.count()
    release_checkpoint(dist)
    return out


def bfs_hops_oracle_sql(
    edges_sql: str, seed_mod: int = SEED_MOD, max_hops: int = MAX_HOPS
) -> str:
    """Hop-bounded recursive-CTE replay over the same edge derivation
    (``edges_sql`` = full SELECT producing (u_node, v_node, ...))."""
    return f"""
WITH RECURSIVE e AS ({edges_sql}),
adj AS (
  SELECT DISTINCT s, d FROM (
    SELECT u_node AS s, v_node AS d FROM e
    UNION ALL
    SELECT v_node AS s, u_node AS d FROM e
  )
),
walk(node_id, hops) AS (
  SELECT DISTINCT s AS node_id, 0 AS hops FROM adj WHERE s % {seed_mod} = 0
  UNION
  SELECT a.d, w.hops + 1 FROM walk w JOIN adj a ON a.s = w.node_id
  WHERE w.hops < {max_hops}
)
SELECT node_id, CAST(min(hops) AS INT) AS hops FROM walk GROUP BY node_id
"""


# ---------------------------------------------------------------------------
# weighted isochrone: time-bounded reachability (the reference's headline)
# ---------------------------------------------------------------------------

BUDGET_MS = 300_000  # 5-minute drive-time isochrone


def isochrone_ms(
    edges: DataFrame,
    way_attrs: DataFrame,
    seed_mod: int = SEED_MOD,
    budget_ms: int = BUDGET_MS,
    max_iters: int = 40,
) -> DataFrame:
    """(node_id, time_ms): minimum car travel time from the nearest seed
    vertex, for every vertex within ``budget_ms`` — the distributed
    analog of the reference's isochrone engine (block-gated PHAST,
    route/src/range; README '1526 iso/s'): full PHAST needs the CCH
    hierarchy (out of graft scope, SURVEY §2.3), but the reachability
    semantics are exactly label-correcting relaxation, which Spark
    expresses as the same bounded loop as :func:`bfs_hops` with an
    integer edge weight and a budget prune.

    Edge weights: ``round(length_mm * 3.6 / speed_car_kmh)`` ms — one
    IEEE expression per row, deterministic in both engines; oneway ways
    relax forward only. Each round is one frontier x adjacency
    equi-join shuffle (node-id keyed, the bucket key at scale) plus a
    min-merge; only IMPROVED labels re-enter the frontier, so rounds
    shrink monotonically; positive integer weights + the budget prune
    guarantee termination. Checkpoint hygiene identical to bfs_hops.

    Returns one persisted O(reachable) frame; caller releases it.
    """
    adj = _car_adjacency(edges, way_attrs)
    dist = (
        adj.select(F.col("s").alias("node_id"))
        .distinct()
        .filter(F.col("node_id") % seed_mod == 0)
        .select("node_id", F.lit(0).cast("long").alias("time_ms"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    iters = 0
    while True:
        iters += 1
        if iters > max_iters:
            raise RuntimeError(f"isochrone_ms did not converge in {max_iters} rounds")
        cand = (
            frontier.join(adj, frontier.node_id == adj.s)
            .select(F.col("d").alias("node_id"), (F.col("time_ms") + F.col("w")).alias("t"))
            .filter(F.col("t") <= budget_ms)
            .groupBy("node_id")
            .agg(F.min("t").alias("t"))
        )
        improved = (
            cand.join(dist.select("node_id", F.col("time_ms").alias("t_old")), "node_id", "left")
            .where(F.col("t_old").isNull() | (F.col("t") < F.col("t_old")))
            .select("node_id", F.col("t").alias("time_ms"))
            .localCheckpoint(eager=True)
        )
        n_improved = improved.count()
        if frontier is not dist:
            release_checkpoint(frontier)
        if n_improved == 0:
            release_checkpoint(improved)
            break
        new_dist = (
            dist.unionByName(improved)
            .groupBy("node_id")
            .agg(F.min("time_ms").alias("time_ms"))
            .localCheckpoint(eager=True)
        )
        release_checkpoint(dist)
        dist, frontier = new_dist, improved
    adj.unpersist()
    out = dist.persist()
    out.count()
    release_checkpoint(dist)
    return out


def isochrone_oracle_sql(
    edges_sql: str,
    way_attrs_sql: str,
    seed_mod: int = SEED_MOD,
    budget_ms: int = BUDGET_MS,
) -> str:
    """Budget-bounded recursive-CTE replay over the identical directed
    weighted graph derivation (positive weights + the budget prune bound
    the recursion; UNION dedups (node, t) states)."""
    return f"""
{_car_arcs_sql(edges_sql, way_attrs_sql)},
walk(node_id, t) AS (
  SELECT DISTINCT s AS node_id, CAST(0 AS BIGINT) AS t FROM dir WHERE s % {seed_mod} = 0
  UNION
  SELECT dir.d, walk.t + dir.w FROM walk JOIN dir ON dir.s = walk.node_id
  WHERE walk.t + dir.w <= {budget_ms}
)
SELECT node_id, min(t) AS time_ms FROM walk GROUP BY node_id
"""


# ---------------------------------------------------------------------------
# PageRank: fixed-point power iteration over the road graph
# ---------------------------------------------------------------------------

PR_ITERS = 5
PR_SCALE = 1_000_000_000_000  # 1e12 fixed-point rank units


def pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """(node_id, pr_fp, pagerank): ``iters`` power-iteration rounds of
    PageRank (damping 0.85, ranks normalised to mean 1.0) over the
    undirected road graph — the distributed importance metric the
    reference's hierarchy construction orders contraction by (node
    importance in route/src/cch nested dissection; SURVEY graph notes).

    Cross-engine exactness: ranks are BIGINT fixed-point (1e12 = rank
    1.0) and every round is pure integer arithmetic — contribution =
    ``pr div outdeg`` (Spark ``div`` == DuckDB ``//`` on positives),
    next = 0.15 + 0.85 x sum(contrib) in the same scaled integer form —
    so partition/summation order cannot perturb results and the DuckDB
    oracle (unrolled CTE per round) reproduces Spark bit-for-bit. The
    one double column is a final display division, rounded to 6 dp.

    Scale shape (100 TB): per round exactly one node-keyed join shuffle
    (rank x adjacency) and one node-keyed sum — both on the key the edge
    table is bucketed by (extract.py), so on a bucketed warehouse the
    rounds are co-located scans. The undirected graph has no dangling
    vertices (every vertex sources >= 1 arc), so no rank mass leaks and
    no driver-side correction term is needed; driver traffic is zero.
    Rank tables are localCheckpoint-ed per round with immediate release
    of the superseded round (the CC-loop lineage discipline).
    """
    adj = (
        edges.select(F.col("u_node").alias("s"), F.col("v_node").alias("d"))
        .unionByName(edges.select(F.col("v_node").alias("s"), F.col("u_node").alias("d")))
        .distinct()
        .persist()
    )
    deg = adj.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg")).persist()
    base = (15 * PR_SCALE) // 100
    rank = deg.select(
        F.col("s").alias("node_id"), F.lit(PR_SCALE).cast("long").alias("pr_fp")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = (
            rank.join(deg, rank.node_id == deg.s)
            .select("node_id", F.expr("pr_fp div outdeg").alias("c"))
            .join(adj, F.col("node_id") == adj.s)
            .select(F.col("d").alias("node_id"), "c")
        )
        nxt = (
            contrib.groupBy("node_id")
            .agg((F.lit(base) + F.expr("85 * sum(c) div 100")).alias("pr_fp"))
            .localCheckpoint(eager=True)
        )
        release_checkpoint(rank)
        rank = nxt
    out = rank.select(
        "node_id", "pr_fp", F.round(F.col("pr_fp").cast("double") / PR_SCALE, 6).alias("pagerank")
    )
    from .dedup import eager_release

    res = eager_release(out, [adj, deg])
    release_checkpoint(rank)
    return res


def pagerank_oracle_sql(edges_sql: str, iters: int = PR_ITERS) -> str:
    """Unrolled per-round CTE replay of the identical integer arithmetic."""
    base = (15 * PR_SCALE) // 100
    ctes = [
        f"""e AS ({edges_sql})""",
        """adj AS (
  SELECT DISTINCT s, d FROM (
    SELECT u_node AS s, v_node AS d FROM e
    UNION ALL
    SELECT v_node AS s, u_node AS d FROM e
  )
)""",
        "deg AS (SELECT s, count(*) AS outdeg FROM adj GROUP BY s)",
        f"r0 AS (SELECT s AS node_id, CAST({PR_SCALE} AS BIGINT) AS pr_fp FROM deg)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT a.d AS node_id,
         CAST({base} + (85 * sum(r.pr_fp // g.outdeg)) // 100 AS BIGINT) AS pr_fp
  FROM r{i - 1} r JOIN deg g ON g.s = r.node_id JOIN adj a ON a.s = r.node_id
  GROUP BY a.d
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node_id, pr_fp, round(CAST(pr_fp AS DOUBLE) / {PR_SCALE}, 6) AS pagerank
FROM r{iters}
"""
    )

# ---------------------------------------------------------------------------
# k-core peel: iterative dead-end trimming (routing-graph preprocessing)
# ---------------------------------------------------------------------------

KCORE_K = 2
KCORE_ROUNDS = 8


def kcore_peel(edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> DataFrame:
    """(node_id, peel_round): iterative degree-<k peeling of the
    undirected road graph — round r removes every vertex whose degree in
    the surviving graph is < ``k`` (and its incident edges); vertices
    still standing after ``rounds`` rounds get ``peel_round = 0``.

    SEMANTICS CAVEAT (ADVICE r5): ``peel_round = 0`` means "survived
    ``rounds`` peel rounds", NOT a true k-core guarantee — an antenna
    chain peels one vertex per round, so a dead-end chain deeper than
    ``rounds`` contracted segments still reads 0. Spark and the DuckDB
    oracle share the bound (differentially green by construction);
    consumers needing the exact k-core must raise ``rounds`` to the
    graph's peel depth (the oracle unroll bound is a test-scale limit).
    For k=2 this is exactly the dead-end/antenna
    chain trimming a routing preprocessor applies before hierarchy
    construction (the reference contracts degree-1 chains during graph
    simplification — route/src/nbg graph build; SURVEY §2.3 notes):
    peel_round tells how deep each vertex sits in an antenna.

    Determinism: membership-only logic (degree thresholds on exact
    integer counts) — no floats, no ordering sensitivity. The DuckDB
    oracle unrolls the identical ``rounds`` rounds as a CTE chain.

    A vertex can drop to degree 0 without ever having been weak (all
    its neighbours peel in one round: a 2-leaf star's centre), so the
    SURVIVING VERTEX SET is tracked explicitly and weakness is judged
    as ``coalesce(deg, 0) < k`` over it — vanished-from-the-edge-set
    vertices peel the following round rather than masquerading as core.

    Scale shape: each round is one degree aggregate, one vertex-keyed
    left join and two node-keyed anti-joins over the SURVIVING sets
    (monotonically shrinking); both working tables are
    localCheckpoint-ed per round with immediate release of the
    superseded round (the CC-loop discipline — the round body
    references its own output three times, exactly the cell_compact
    lesson). Fixed ``rounds`` bounds the loop regardless of graph
    size; driver traffic is one scalar count per round.

    Returns one persisted O(|V|) frame; caller releases it.
    """
    und = (
        edges.select(
            F.least("u_node", "v_node").alias("a"), F.greatest("u_node", "v_node").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    cur = und.localCheckpoint(eager=True)
    all_verts = (
        cur.select(F.col("a").alias("node_id"))
        .unionByName(cur.select(F.col("b").alias("node_id")))
        .distinct()
        .persist()
    )
    all_verts.count()
    vset = all_verts.localCheckpoint(eager=True)
    peel_frames: list[DataFrame] = []
    for r in range(1, rounds + 1):
        deg = (
            cur.select(F.col("a").alias("node_id"))
            .unionByName(cur.select(F.col("b").alias("node_id")))
            .groupBy("node_id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        weak = (
            vset.join(deg, "node_id", "left")
            .filter(F.coalesce("deg", F.lit(0)) < k)
            .select("node_id", F.lit(r).cast("int").alias("peel_round"))
            .localCheckpoint(eager=True)
        )
        if weak.count() == 0:
            release_checkpoint(weak)
            break
        peel_frames.append(weak)
        wk = weak.select("node_id")
        new_vset = vset.join(wk, "node_id", "left_anti").localCheckpoint(eager=True)
        nxt = (
            cur.join(wk.withColumnRenamed("node_id", "a"), "a", "left_anti")
            .join(wk.withColumnRenamed("node_id", "b"), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        release_checkpoint(cur)
        release_checkpoint(vset)
        cur, vset = nxt, new_vset
    peeled = None
    for f in peel_frames:
        peeled = f if peeled is None else peeled.unionByName(f)
    if peeled is None:
        out = all_verts.select("node_id", F.lit(0).cast("int").alias("peel_round"))
    else:
        out = all_verts.join(peeled, "node_id", "left").select(
            "node_id", F.coalesce("peel_round", F.lit(0)).cast("int").alias("peel_round")
        )
    from .dedup import eager_release

    res = eager_release(out, [all_verts])
    release_checkpoint(cur)
    release_checkpoint(vset)
    for f in peel_frames:
        release_checkpoint(f)
    return res


def kcore_peel_oracle_sql(edges_sql: str, k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    """Unrolled per-round CTE chain replaying the identical peel."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        """adj0 AS MATERIALIZED (
  SELECT DISTINCT least(u_node, v_node) AS a, greatest(u_node, v_node) AS b
  FROM e WHERE u_node <> v_node
)""",
    ]
    parts.append(
        "verts0 AS MATERIALIZED "
        "(SELECT DISTINCT a AS node_id FROM adj0 UNION SELECT DISTINCT b FROM adj0)"
    )
    peel_union = []
    for r in range(1, rounds + 1):
        p, c, v, nc, nv = f"peel{r}", f"adj{r - 1}", f"verts{r - 1}", f"adj{r}", f"verts{r}"
        parts.append(
            f"""{p} AS MATERIALIZED (
  SELECT {v}.node_id FROM {v}
  LEFT JOIN (
    SELECT n AS node_id, count(*) AS deg FROM (
      SELECT a AS n FROM {c} UNION ALL SELECT b FROM {c}
    ) GROUP BY n
  ) d USING (node_id)
  WHERE coalesce(d.deg, 0) < {k}
)"""
        )
        parts.append(
            f"""{nv} AS MATERIALIZED (
  SELECT node_id FROM {v} WHERE node_id NOT IN (SELECT node_id FROM {p})
)"""
        )
        parts.append(
            f"""{nc} AS MATERIALIZED (
  SELECT a, b FROM {c}
  WHERE a NOT IN (SELECT node_id FROM {p})
    AND b NOT IN (SELECT node_id FROM {p})
)"""
        )
        peel_union.append(f"SELECT node_id, {r} AS peel_round FROM {p}")
    peels = " UNION ALL ".join(peel_union)
    return f"""{", ".join(parts)},
peeled AS (SELECT node_id, min(peel_round) AS peel_round FROM ({peels}) GROUP BY node_id)
SELECT v.node_id, CAST(coalesce(p.peel_round, 0) AS INT) AS peel_round
FROM verts0 v LEFT JOIN peeled p USING (node_id)
"""


# ---------------------------------------------------------------------------
# many-to-many drive-time matrix (the reference's headline product shape)
# ---------------------------------------------------------------------------

MTX_SRC_MOD = 397
MTX_BUDGET_MS = 600_000  # 10-minute drive-time horizon per source


def time_matrix(
    edges: DataFrame,
    way_attrs: DataFrame,
    src_mod: int = MTX_SRC_MOD,
    budget_ms: int = MTX_BUDGET_MS,
    max_iters: int = 40,
) -> DataFrame:
    """(src, dst, time_ms): exact minimum car travel time from every
    source vertex (node_id % src_mod == 0) to every vertex reachable
    within ``budget_ms`` — the distributed analog of the reference's
    many-to-many matrix endpoint (route/src/matrix; README's headline
    'matrix cells/s'). Full CCH is out of graft scope; the semantics are
    :func:`isochrone_ms`'s label-correcting relaxation with the state
    keyed by (src, node) instead of node, so all sources relax in the
    SAME per-round shuffle — one job answers the whole matrix, which is
    exactly why the reference batches matrix queries instead of running
    one Dijkstra per cell.

    Determinism: integer ms weights (round(length_mm * 3.6 / kmh) — one
    IEEE expression, identical in DuckDB), min-merge per (src, dst).
    Scale shape: per round ONE (node-keyed) frontier x adjacency join +
    one (src, node) min-merge; only IMPROVED labels re-enter; positive
    weights + the budget prune terminate the loop. Checkpoint hygiene
    identical to bfs_hops/isochrone_ms. The budget bounds output to
    O(sources x horizon); an unbounded matrix would instead shard the
    source set (the reference's own batching strategy).

    Returns one persisted frame; caller releases it.
    """
    adj = _car_adjacency(edges, way_attrs)
    dist = _relax_from_sources(adj, src_mod, budget_ms, max_iters)
    adj.unpersist()
    out = dist.select("src", F.col("node_id").alias("dst"), "time_ms").persist()
    out.count()
    release_checkpoint(dist)
    return out


def _car_adjacency(edges: DataFrame, way_attrs: DataFrame) -> DataFrame:
    """PERSISTED directed weighted car arcs (s, d, w ms) — caller
    unpersists."""
    wa = way_attrs.select("way_id", "speed_car_kmh", "access_car", "oneway").filter(
        F.col("access_car")
    )
    # w >= 1 is the invariant the route_paths pred-tree acyclicity and the
    # oracles' recursive CTE termination rest on. build_edges' length_mm
    # >= 1000 clamp guarantees it for any car speed up to 3600 km/h, so w
    # needs no floor and stays the expression both oracles compute
    # (asserted by test_car_arc_weights_positive_from_edge_length_floor).
    ew = edges.join(wa, "way_id").select(
        "u_node",
        "v_node",
        "oneway",
        F.round(F.col("length_mm") * 3.6 / F.col("speed_car_kmh")).cast("long").alias("w"),
    )
    fwd = ew.select(F.col("u_node").alias("s"), F.col("v_node").alias("d"), "w")
    bwd = ew.filter(~F.col("oneway")).select(
        F.col("v_node").alias("s"), F.col("u_node").alias("d"), "w"
    )
    return fwd.unionByName(bwd).persist()


def _car_arcs_sql(edges_sql: str, way_attrs_sql: str) -> str:
    """The oracles' ``e``/``wa``/``dir`` CTE prefix: the directed weighted
    car arcs ``dir(s, d, w)`` of :func:`_car_adjacency`, in SQL."""
    w = "CAST(round(length_mm * 3.6 / speed_car_kmh) AS BIGINT)"
    return f"""WITH RECURSIVE e AS ({edges_sql}),
wa AS ({way_attrs_sql}),
dir AS (
  SELECT u_node AS s, v_node AS d,
         {w} AS w
  FROM e JOIN wa USING (way_id) WHERE access_car
  UNION ALL
  SELECT v_node, u_node, {w}
  FROM e JOIN wa USING (way_id) WHERE access_car AND NOT oneway
)"""


def _relax_from_sources(
    adj: DataFrame, src_mod: int, budget_ms: int, max_iters: int
) -> DataFrame:
    """Label-correcting relaxation keyed by (src, node); returns the
    converged CHECKPOINTED dist table (src, node_id, time_ms) — caller
    release_checkpoints it."""
    dist = (
        adj.select(F.col("s").alias("node_id"))
        .distinct()
        .filter(F.col("node_id") % src_mod == 0)
        .select(F.col("node_id").alias("src"), "node_id", F.lit(0).cast("long").alias("time_ms"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    iters = 0
    while True:
        iters += 1
        if iters > max_iters:
            raise RuntimeError(f"relaxation did not converge in {max_iters} rounds")
        cand = (
            frontier.join(adj, frontier.node_id == adj.s)
            .select("src", F.col("d").alias("node_id"), (F.col("time_ms") + F.col("w")).alias("t"))
            .filter(F.col("t") <= budget_ms)
            .groupBy("src", "node_id")
            .agg(F.min("t").alias("t"))
        )
        improved = (
            cand.join(
                dist.select("src", "node_id", F.col("time_ms").alias("t_old")),
                ["src", "node_id"],
                "left",
            )
            .where(F.col("t_old").isNull() | (F.col("t") < F.col("t_old")))
            .select("src", "node_id", F.col("t").alias("time_ms"))
            .localCheckpoint(eager=True)
        )
        n_improved = improved.count()
        if frontier is not dist:
            release_checkpoint(frontier)
        if n_improved == 0:
            release_checkpoint(improved)
            break
        new_dist = (
            dist.unionByName(improved)
            .groupBy("src", "node_id")
            .agg(F.min("time_ms").alias("time_ms"))
            .localCheckpoint(eager=True)
        )
        release_checkpoint(dist)
        dist, frontier = new_dist, improved
    return dist


def route_paths(
    edges: DataFrame,
    way_attrs: DataFrame,
    src_mod: int = MTX_SRC_MOD,
    budget_ms: int = MTX_BUDGET_MS,
    max_iters: int = 40,
) -> DataFrame:
    """(src, dst, seq, node_id): the actual shortest path behind every
    :func:`time_matrix` cell — the reference's route-reconstruction
    product (route/src/server route geometry; a matrix without paths
    answers "how far", this answers "which way").

    Determinism: the predecessor of each settled label is the
    lexicographic minimum ``struct(t_pred + w, pred)`` over incoming
    arcs — the (cost, id) total order picks ONE canonical shortest-path
    tree per source, identical in DuckDB's ``row_number() OVER (ORDER
    BY t, u)`` formulation, so paths (not just costs) hash-match
    cross-engine.

    Scale shape: relaxation is the shared :func:`_relax_from_sources`
    loop; the pred table is ONE additional dist x adjacency join + one
    (src, node)-keyed struct-min aggregate; reconstruction walks all
    (src, dst) pairs SIMULTANEOUSLY (one pred join per round, rounds =
    max path hops, budget-bounded) — never one driver-side walk per
    pair. Frames are checkpointed per round with superseded-round
    release (CC discipline).

    Returns one persisted frame; caller releases it.
    """
    adj = _car_adjacency(edges, way_attrs)
    dist = _relax_from_sources(adj, src_mod, budget_ms, max_iters)
    pred = (
        dist.join(adj, dist.node_id == adj.s)
        .select(
            "src",
            F.col("d").alias("node_id"),
            F.struct((F.col("time_ms") + F.col("w")).alias("t"), F.col("s").alias("u")).alias(
                "cand"
            ),
        )
        .groupBy("src", "node_id")
        .agg(F.min("cand").alias("m"))
        .select("src", "node_id", F.col("m.u").alias("pred"))
        .persist()
    )
    pred.count()
    adj.unpersist()
    frontier = dist.select(
        "src", F.col("node_id").alias("dst"), F.col("node_id").alias("cur"),
        F.lit(0).cast("int").alias("back"),
    ).localCheckpoint(eager=True)
    release_checkpoint(dist)
    frames = [frontier]
    hops = 0
    while True:
        hops += 1
        if hops > max_iters:
            raise RuntimeError(f"route_paths walk exceeded {max_iters} hops")
        nxt = (
            frontier.filter(F.col("cur") != F.col("src"))
            .join(
                pred.select("src", F.col("node_id").alias("cur"), "pred"),
                ["src", "cur"],
            )
            .select("src", "dst", F.col("pred").alias("cur"), (F.col("back") + 1).alias("back"))
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            release_checkpoint(nxt)
            break
        frames.append(nxt)
        frontier = nxt
    pred.unpersist()
    allrows = frames[0]
    for f in frames[1:]:
        allrows = allrows.unionByName(f)
    lens = allrows.groupBy("src", "dst").agg(F.max("back").alias("pathlen"))
    out = allrows.join(lens, ["src", "dst"]).select(
        "src",
        "dst",
        (F.col("pathlen") - F.col("back") + 1).cast("int").alias("seq"),
        F.col("cur").alias("node_id"),
    )
    from .dedup import eager_release

    res = eager_release(out, [])
    for f in frames:
        release_checkpoint(f)
    return res


def route_paths_oracle_sql(
    edges_sql: str,
    way_attrs_sql: str,
    src_mod: int = MTX_SRC_MOD,
    budget_ms: int = MTX_BUDGET_MS,
) -> str:
    """Recursive replay: dist walk -> canonical pred tree (row_number
    over (t, u)) -> simultaneous backward path walk."""
    return f"""
{_car_arcs_sql(edges_sql, way_attrs_sql)},
walk(src, node_id, t) AS (
  SELECT DISTINCT s AS src, s AS node_id, CAST(0 AS BIGINT) AS t
  FROM dir WHERE s % {src_mod} = 0
  UNION
  SELECT walk.src, dir.d, walk.t + dir.w FROM walk JOIN dir ON dir.s = walk.node_id
  WHERE walk.t + dir.w <= {budget_ms}
),
dist AS (SELECT src, node_id, min(t) AS t FROM walk GROUP BY src, node_id),
predc AS (
  SELECT d0.src, dir.d AS node_id, d0.t + dir.w AS t, dir.s AS u
  FROM dist d0 JOIN dir ON dir.s = d0.node_id
),
pred AS (
  SELECT src, node_id, u FROM (
    SELECT src, node_id, u, row_number() OVER (PARTITION BY src, node_id ORDER BY t, u) AS rn
    FROM predc
  ) WHERE rn = 1
),
paths(src, dst, cur, back) AS (
  SELECT src, node_id, node_id, 0 FROM dist
  UNION ALL
  SELECT p.src, p.dst, pr.u, p.back + 1
  FROM paths p JOIN pred pr ON pr.src = p.src AND pr.node_id = p.cur
  WHERE p.cur <> p.src
),
lens AS (SELECT src, dst, max(back) AS pathlen FROM paths GROUP BY src, dst)
SELECT p.src, p.dst, CAST(l.pathlen - p.back + 1 AS INT) AS seq, p.cur AS node_id
FROM paths p JOIN lens l ON l.src = p.src AND l.dst = p.dst
"""


def time_matrix_oracle_sql(
    edges_sql: str,
    way_attrs_sql: str,
    src_mod: int = MTX_SRC_MOD,
    budget_ms: int = MTX_BUDGET_MS,
) -> str:
    """Budget-bounded recursive-CTE replay keyed by (src, node)."""
    return f"""
{_car_arcs_sql(edges_sql, way_attrs_sql)},
walk(src, node_id, t) AS (
  SELECT DISTINCT s AS src, s AS node_id, CAST(0 AS BIGINT) AS t
  FROM dir WHERE s % {src_mod} = 0
  UNION
  SELECT walk.src, dir.d, walk.t + dir.w FROM walk JOIN dir ON dir.s = walk.node_id
  WHERE walk.t + dir.w <= {budget_ms}
)
SELECT src, node_id AS dst, min(t) AS time_ms FROM walk GROUP BY src, node_id
"""
