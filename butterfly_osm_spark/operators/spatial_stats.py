"""Grid-graph spatial statistics: triangle census and Moran's I.

The reference ships density classification and per-region aggregate
surfaces (butterfly-common profile density stats; docs/architecture.md
tile aggregation) but no corpus-level *spatial statistics* layer; a
100 TB geo-curation pipeline needs exactly two such primitives, and
both are expressible as pure relational plans over the repo's integer
cell grid (cells.py, P11 fixed-point):

- ``cell_triangles`` — triangle census + global clustering coefficient
  of the queen-adjacency (8-neighbour) graph of OCCUPIED cells: how
  blob-like vs filament-like the mapped area is. The classic triangle
  join (orient edges small->large id; two joins wedge->close) is
  LINEAR here, not the social-graph worst case: a grid graph has max
  degree 8, so per-edge wedge fan-out is bounded by a constant and no
  degree-ordering trick is needed — worth stating because it is the
  reason the naive-looking 3-way self-join IS the 100 TB plan.
- ``morans_i`` — Moran's I spatial autocorrelation of per-cell node
  counts under rook (4-neighbour) adjacency, the standard "is density
  clustered or random" test statistic. Cross-engine exactness comes
  from algebra, not floats: with x_i the integer cell counts, expand

      num = sum_adj (n*x_i - S)(n*x_j - S) = n^2*P - n*S*Q + S^2*W
      den = sum_i  (n*x_i - S)^2 * ... = n^2*D2 - n*S^2
      I   = n * num / (W * den)

  where P = sum_adj x_i*x_j, Q = sum_adj (x_i+x_j), D2 = sum x_i^2,
  S = sum x_i, W = directed-adjacency count. Every aggregate is an
  exact BIGINT sum (each term bounded far below 2^63 even at sf4);
  the n^2-scaled combine runs in DECIMAL(38,0) / HUGEINT on the ONE
  final row, and int -> double conversion routes through VARCHAR in
  DuckDB (direct HUGEINT->DOUBLE truncates — the polygon_metrics
  lesson, geometry.py).

Scale shape (100 TB): both operators reduce the corpus to the occupied
CELL VOCABULARY with one partial-aggregated groupBy (the tile_pyramid
posture); all adjacency work — a bounded 8-offset explode + cell-equi
self-join — runs on that vocabulary, never on raw rows. No UDFs, no
driver traffic beyond the single result row. Both return a lazy plan and
cache nothing; the plan builds the vocabulary twice (two scans of the two
coordinate columns), because the join sides carry an inferred not-null
filter that keeps them from sharing one exchange with the count side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cells
from ..geo import bearing_deg_col

STAT_RES = 10  # ~1.1 km cells: dense enough for adjacency structure


def _occ_xy(nodes: DataFrame, res: int) -> DataFrame:
    """Distinct occupied integer cell coordinates (x, y) at ``res``."""
    s = cells.SIZE_E7[res]
    return nodes.select(
        ((F.col("lon_e7").cast("long") + cells.OFF_LON_E7) / s).cast("long").alias("x"),
        ((F.col("lat_e7").cast("long") + cells.OFF_LAT_E7) / s).cast("long").alias("y"),
    )


def _occ_xy_sql(fix: str, res: int) -> str:
    s = cells.SIZE_E7[res]
    return f"""
  SELECT (CAST(lon_e7 AS BIGINT) + {cells.OFF_LON_E7}) // {s} AS x,
         (CAST(lat_e7 AS BIGINT) + {cells.OFF_LAT_E7}) // {s} AS y
  FROM read_parquet('{fix}/osm_nodes.parquet')
"""


def cell_triangles(nodes: DataFrame, res: int = STAT_RES) -> DataFrame:
    """One row: (n_cells, n_edges, n_wedges, n_triangles, global_cc) of
    the queen-adjacency graph over occupied res-``res`` cells.

    Plan: corpus -> distinct occupied cells (one partial-agg exchange);
    edges by 8-offset explode + (x, y) equi-join keeping the
    lexicographic (x, y) orientation so each undirected edge appears
    once; triangles close wedges with two more vocabulary-sized
    equi-joins. Max degree 8 bounds every fan-out.
    """
    occ = _occ_xy(nodes, res).distinct()
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    nbr = occ.select(
        "x",
        "y",
        F.explode(
            F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offs])
        ).alias("o"),
    ).select(
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        (F.col("x") + F.col("o.dx")).alias("bx"),
        (F.col("y") + F.col("o.dy")).alias("by"),
    )
    edges = (
        nbr.join(occ, (nbr.bx == occ.x) & (nbr.by == occ.y))
        .select("ax", "ay", "bx", "by")
        .filter((F.col("ax") < F.col("bx")) | ((F.col("ax") == F.col("bx")) & (F.col("ay") < F.col("by"))))
    )
    deg = (
        edges.select(F.col("ax").alias("x"), F.col("ay").alias("y"))
        .unionByName(edges.select(F.col("bx").alias("x"), F.col("by").alias("y")))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e1 = edges
    e2 = edges.select(
        F.col("ax").alias("c2ax"), F.col("ay").alias("c2ay"),
        F.col("bx").alias("c2bx"), F.col("by").alias("c2by"),
    )
    e3 = edges.select(
        F.col("ax").alias("c3ax"), F.col("ay").alias("c3ay"),
        F.col("bx").alias("c3bx"), F.col("by").alias("c3by"),
    )
    tri = (
        e1.join(e2, (F.col("c2ax") == e1.bx) & (F.col("c2ay") == e1.by))
        .join(
            e3,
            (F.col("c3ax") == e1.ax)
            & (F.col("c3ay") == e1.ay)
            & (F.col("c3bx") == F.col("c2bx"))
            & (F.col("c3by") == F.col("c2by")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    counts = occ.agg(F.count(F.lit(1)).alias("n_cells")).crossJoin(
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
    ).crossJoin(
        deg.agg(F.expr("sum(deg * (deg - 1) div 2)").alias("n_wedges"))
    ).crossJoin(tri)
    return counts.select(
        "n_cells",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            3.0 * F.col("n_triangles").cast("double") / F.col("n_wedges").cast("double"), 6
        ).alias("global_cc"),
    )


def cell_triangles_oracle_sql(fix: str, res: int = STAT_RES) -> str:
    return f"""
WITH occ AS (SELECT DISTINCT x, y FROM ({_occ_xy_sql(fix, res)})),
edges AS (
  SELECT a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
  FROM occ a JOIN occ b
    ON abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1
   AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
),
deg AS (
  SELECT x, y, count(*) AS deg FROM (
    SELECT ax AS x, ay AS y FROM edges
    UNION ALL
    SELECT bx, by FROM edges
  ) GROUP BY x, y
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.ax = e1.bx AND e2.ay = e1.by
  JOIN edges e3 ON e3.ax = e1.ax AND e3.ay = e1.ay AND e3.bx = e2.bx AND e3.by = e2.by
)
SELECT (SELECT count(*) FROM occ) AS n_cells,
       (SELECT count(*) FROM edges) AS n_edges,
       CAST((SELECT sum(deg * (deg - 1) // 2) FROM deg) AS BIGINT) AS n_wedges,
       n_triangles,
       round(3.0 * CAST(n_triangles AS DOUBLE)
             / CAST((SELECT sum(deg * (deg - 1) // 2) FROM deg) AS DOUBLE), 6) AS global_cc
FROM tri
"""


def morans_i(nodes: DataFrame, res: int = STAT_RES) -> DataFrame:
    """One row: (n_cells, w_sum, morans_i) — Moran's I of per-cell node
    counts under rook adjacency over occupied cells (see module doc for
    the exact-integer expansion)."""
    cnt = _occ_xy(nodes, res).groupBy("x", "y").agg(F.count(F.lit(1)).alias("v"))
    rook = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    nbr = cnt.select(
        "x",
        "y",
        "v",
        F.explode(
            F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in rook])
        ).alias("o"),
    ).select(
        F.col("v").alias("vi"),
        (F.col("x") + F.col("o.dx")).alias("bx"),
        (F.col("y") + F.col("o.dy")).alias("by"),
    )
    adj = nbr.join(cnt, (nbr.bx == cnt.x) & (nbr.by == cnt.y)).select(
        F.col("vi"), F.col("v").alias("vj")
    )
    per_cell = cnt.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.expr("sum(v * v)").alias("d2"),
    )
    per_pair = adj.agg(
        F.count(F.lit(1)).alias("w"),
        F.expr("sum(vi * vj)").alias("p"),
        F.expr("sum(vi + vj)").alias("q"),
    )
    # one-row combine in DECIMAL(38,0): n^2 * P etc. exceed BIGINT at sf4
    return per_cell.crossJoin(per_pair).selectExpr(
        "n AS n_cells",
        "w AS w_sum",
        """round(
             CAST(n AS DOUBLE) *
             CAST(CAST(n AS DECIMAL(18,0)) * n * p - CAST(n AS DECIMAL(18,0)) * s * q
                  + CAST(s AS DECIMAL(18,0)) * s * w AS DOUBLE)
             / (CAST(w AS DOUBLE) *
                CAST(CAST(n AS DECIMAL(18,0)) * n * d2 - CAST(n AS DECIMAL(18,0)) * s * s AS DOUBLE)),
           6) AS morans_i""",
    )


def morans_i_oracle_sql(fix: str, res: int = STAT_RES) -> str:
    return f"""
WITH cnt AS (
  SELECT x, y, count(*) AS v FROM ({_occ_xy_sql(fix, res)}) GROUP BY x, y
),
adj AS (
  SELECT a.v AS vi, b.v AS vj
  FROM cnt a JOIN cnt b
    ON (abs(a.x - b.x) + abs(a.y - b.y)) = 1
),
per_cell AS (
  SELECT count(*) AS n, sum(v) AS s, sum(v * v) AS d2 FROM cnt
),
per_pair AS (
  SELECT count(*) AS w, sum(CAST(vi AS BIGINT) * vj) AS p, sum(CAST(vi AS BIGINT) + vj) AS q FROM adj
)
SELECT CAST(n AS BIGINT) AS n_cells, CAST(w AS BIGINT) AS w_sum,
       round(
         CAST(n AS DOUBLE) *
         CAST(CAST(CAST(n AS HUGEINT) * n * p - CAST(n AS HUGEINT) * s * q
                   + CAST(s AS HUGEINT) * s * w AS VARCHAR) AS DOUBLE)
         / (CAST(w AS DOUBLE) *
            CAST(CAST(CAST(n AS HUGEINT) * n * d2 - CAST(n AS HUGEINT) * s * s AS VARCHAR) AS DOUBLE)),
       6) AS morans_i
FROM per_cell, per_pair
"""


def cell_regions(nodes: DataFrame, res: int = STAT_RES) -> DataFrame:
    """(x, y, region_id, region_size): connected-component labels of the
    occupied-cell grid under queen adjacency — landmass/urban-area
    labeling of the occupancy surface (the global sibling of the raster
    pipeline's per-region anchored component, R5: that one floods from a
    seed inside one region; this one labels EVERY region at once).

    region_id is the component's minimum packed cell id (deterministic
    under any plan); region_size the component's cell count.

    Scale shape: one exchange builds the edges. Every node names its own
    cell and that cell's four queen neighbours in the +x / +y half;
    grouped by the named cell, a cell that names itself is occupied and
    the other namers are its occupied neighbours, so each adjacent pair
    is one edge (at most 4 per cell). Components resolve with
    ``dedup.connected_components``, the numpy union-find that labels the
    collected edge list on the driver. The per-node labels are gathered
    once by region, which dedups the cells and counts them; a region's
    cells become one array, which the collect budget already bounds (a
    region of n cells brings at least n - 1 edges to the driver). Cell ids
    pack as x * 2^31 + y (both grid-offset non-negative, well inside
    BIGINT). The DuckDB oracle replays reachability as the recursive
    min-label CTE over the same queen edges.

    Returns a lazy vocabulary-sized plan with nothing cached.
    """
    from .dedup import connected_components

    occ = _occ_xy(nodes, res)
    pack = (F.col("x") * F.lit(2_147_483_648) + F.col("y")).alias("id")
    offs = [(0, 0), (1, -1), (1, 0), (1, 1), (0, 1)]
    named = occ.select(
        pack.alias("by"),
        F.explode(
            F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offs])
        ).alias("o"),
        "x",
        "y",
    ).select(
        ((F.col("x") + F.col("o.dx")) * F.lit(2_147_483_648) + (F.col("y") + F.col("o.dy"))).alias(
            "cell"
        ),
        "by",
    )
    namers = named.groupBy("cell").agg(F.collect_set("by").alias("by"))
    edges = (
        namers.where(F.array_contains("by", F.col("cell")))
        .select("cell", F.explode("by").alias("nbr"))
        .where(F.col("nbr") != F.col("cell"))
    )
    labels = connected_components(edges, occ.select(pack))
    regions = labels.groupBy("lab").agg(F.collect_set("id").alias("ids"))
    return regions.select(
        F.explode("ids").alias("id"), "lab", F.size("ids").cast("long").alias("region_size")
    ).select(
        F.expr("id div 2147483648").alias("x"),
        (F.col("id") % 2_147_483_648).alias("y"),
        F.col("lab").alias("region_id"),
        "region_size",
    )


def cell_regions_oracle_sql(fix: str, res: int = STAT_RES) -> str:
    return f"""
WITH RECURSIVE occ AS (SELECT DISTINCT x, y FROM ({_occ_xy_sql(fix, res)})),
ids AS (SELECT x * 2147483648 + y AS id FROM occ),
edges AS (
  SELECT a.x * 2147483648 + a.y AS src, b.x * 2147483648 + b.y AS dst
  FROM occ a JOIN occ b
    ON abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1
   AND (a.x <> b.x OR a.y <> b.y)
),
reach(node, lab) AS (
  SELECT id, id FROM ids
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node WHERE r.lab < e.dst
),
labs AS (SELECT node AS id, min(lab) AS region_id FROM reach GROUP BY node),
sz AS (SELECT region_id, count(*) AS region_size FROM labs GROUP BY region_id)
SELECT id // 2147483648 AS x, id % 2147483648 AS y, region_id, region_size
FROM labs JOIN sz USING (region_id)
"""


SECT_RES = 8
SECT_DEG = 45.0


def bearing_sectors(
    edges: DataFrame, nodes: DataFrame, res: int = SECT_RES, sector_deg: float = SECT_DEG
) -> DataFrame:
    """(x, y, sector, n_edges): per-cell histogram of road-edge bearings
    in ``sector_deg`` buckets — street-grid orientation analysis (the
    city-orientation-entropy study shape: gridded cities concentrate
    mass in 2 sectors, organic ones spread it), and the statistic the
    reference's bearing kernel (nbg/mod.rs:45-57, P5) exists to feed.

    Plan shape: edges join nodes TWICE on the bucket key (u, v coords —
    the same equi-joins extraction already runs), bearing + cell + sector
    all single JVM expressions, then ONE partial+final count aggregate
    on (cell, sector). Output is vocabulary-sized. The bearing triplet
    (Column / numpy / SQL) is the sector_lasso-proven cross-engine
    kernel, so the DuckDB oracle replays the histogram exactly.
    """
    un = nodes.select(
        F.col("id").alias("u_node"), F.col("lon_e7").alias("ulon"), F.col("lat_e7").alias("ulat")
    )
    vn = nodes.select(
        F.col("id").alias("v_node"), F.col("lon_e7").alias("vlon"), F.col("lat_e7").alias("vlat")
    )
    b = bearing_deg_col("ulon", "ulat", "vlon", "vlat")
    s = cells.SIZE_E7[res]
    return (
        edges.join(un, "u_node")
        .join(vn, "v_node")
        .filter((F.col("ulon") != F.col("vlon")) | (F.col("ulat") != F.col("vlat")))
        .select(
            F.expr(f"(cast(ulon as bigint) + {cells.OFF_LON_E7}) div {s}").alias("x"),
            F.expr(f"(cast(ulat as bigint) + {cells.OFF_LAT_E7}) div {s}").alias("y"),
            F.floor(b / F.lit(sector_deg)).cast("int").alias("sector"),
        )
        .groupBy("x", "y", "sector")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


def bearing_sectors_oracle_sql(
    edges_sql: str, fix: str, res: int = SECT_RES, sector_deg: float = SECT_DEG
) -> str:
    from ..geo import bearing_deg_sql

    s = cells.SIZE_E7[res]
    bearing = bearing_deg_sql("u.lon_e7", "u.lat_e7", "v.lon_e7", "v.lat_e7")
    return f"""
WITH e AS ({edges_sql}),
n AS (SELECT id, lon_e7, lat_e7 FROM read_parquet('{fix}/osm_nodes.parquet'))
SELECT CAST((CAST(u.lon_e7 AS BIGINT) + {cells.OFF_LON_E7}) // {s} AS BIGINT) AS x,
       CAST((CAST(u.lat_e7 AS BIGINT) + {cells.OFF_LAT_E7}) // {s} AS BIGINT) AS y,
       CAST(floor(({bearing}) / {sector_deg}) AS INT) AS sector,
       count(*) AS n_edges
FROM e JOIN n u ON u.id = e.u_node JOIN n v ON v.id = e.v_node
WHERE u.lon_e7 <> v.lon_e7 OR u.lat_e7 <> v.lat_e7
GROUP BY 1, 2, 3
"""
