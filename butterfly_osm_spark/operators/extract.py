"""Extraction joins — the reference's step 1-3 build pipeline as DataFrames.

Reproduces the semantics of:
- included-way semi-join (J1): ways with access in >=1 mode
  (route/src/nbg/mod.rs:315-361, the decision-node collection, and
  ``has_any_access``)
- the big coordinate lookup join (J2): way node refs -> (lat, lon); the
  reference binary-searches a sorted array (nbg/mod.rs:260-313
  ``NodeCoords``); here it is a plain equi-join that Catalyst executes as
  sort-merge or broadcast depending on table sizes
- node-usage count (J3/A1): nodes referenced >=2x by included ways become
  decision nodes (graph vertices), together with way endpoints
  (route/src/nbg/mod.rs:319-360). The reference counts in one walk over
  sorted refs; here it is a ``count(1) OVER (PARTITION BY node_id)``
  window over the J2 output
- edge emission (nbg/mod.rs:397-498 ``emit_edges``): split each way at
  decision nodes into edges, haversine polyline length with the
  ``length_mm.max(1000)`` saturation (nbg/mod.rs:456-458)

Scale notes: everything is window + equi-join + hash agg — no UDFs, no
driver-side collection, and one exchange, on way id. The J2 join and the
usage window need none when both inputs are bucketed by node id into the
same number of buckets, as the checkpointed build's
``way_nodes_sorted``/``nodes_sorted`` stages are (Iceberg sorted tables
mirror the reference's sorted nodes.sa / binary-search access pattern).
The build sizes that shared count to its input (``reference_pipeline``:
one bucket per scan split of the larger raw table, one at fixture
scale), so a small build reads each bucketed input in one task. Over
unbucketed parquet the join shuffles on node id unless Catalyst
broadcasts the nodes side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cells
from ..geo import haversine_m_col, haversine_m_sql
from ..functions.model import DEFAULT_MODEL


def highway_classes(model=None) -> list[str]:
    """The highway classes at least one mode of ``model`` grants access to."""
    return sorted({c for m in (model or DEFAULT_MODEL).values() for c in m})


def included_way_ids(ways: DataFrame, model=None) -> DataFrame:
    """J1: ways with access in at least one mode -> (way_id).

    A mode grants access exactly when its speed table lists the way's
    highway class (``compile_way_attrs``: ``access_<mode>`` is
    ``speed IS NOT NULL`` and every model speed is a literal), so this is
    an ``IN`` over the union of the model's classes, as in the oracle."""
    return ways.filter(F.col("tags").getItem("highway").isin(highway_classes(model))).select(
        F.col("id").alias("way_id")
    )


def way_vertices(way_nodes: DataFrame, nodes: DataFrame) -> DataFrame:
    """J2: attach coordinates to each (way_id, seq, node_id) vertex."""
    return way_nodes.join(nodes, way_nodes.node_id == nodes.id, "inner").select(
        "way_id", "seq", "node_id", "lat_e7", "lon_e7"
    )


def build_edges(ways: DataFrame, way_nodes: DataFrame, nodes: DataFrame, model=None) -> DataFrame:
    """Full extraction pipeline -> edges table.

    Output: (way_id, edge_seq, u_node, v_node, n_pts, length_mm)
    - edge_seq: 0-based dense index of the edge within its way
    - n_pts: vertex count of the edge polyline (>= 2)
    - length_mm: round(sum(haversine segment m) * 1000), saturated >= 1000
      (the reference's minimum-length clamp, nbg/mod.rs:456-458)

    A vertex is a decision vertex when its node is used >= 2 times by the
    included ways (J3/A1). That count is a window partitioned by node_id,
    which needs no exchange when the inputs are bucketed by node id (the
    J2 join keeps that partitioning); every later window and the edge
    aggregate share one exchange on way_id. Way endpoints need no term of
    their own: an endpoint that another included way also uses is counted
    >= 2 times, the first vertex's flag shifts every cut index of its way
    by the same amount, and the last vertex starts no pair.
    """
    wn = way_nodes.join(included_way_ids(ways, model), "way_id", "left_semi")
    wv = way_vertices(wn, nodes).withColumn(
        "is_dec",
        (F.count(F.lit(1)).over(Window.partitionBy("node_id")) >= 2).cast("int"),
    )

    w_seq = Window.partitionBy("way_id").orderBy("seq")
    # consecutive vertex pairs: pair i spans (seq i, seq i+1)
    pairs = wv.select(
        "way_id",
        "seq",
        "node_id",
        "lat_e7",
        "lon_e7",
        F.lead("node_id").over(w_seq).alias("nxt_node"),
        F.lead("lat_e7").over(w_seq).alias("nxt_lat"),
        F.lead("lon_e7").over(w_seq).alias("nxt_lon"),
        # cut index: number of decision vertices at seq' <= i. Pairs strictly
        # between two decision vertices share the same cut index -> edge group.
        F.sum("is_dec").over(w_seq.rowsBetween(Window.unboundedPreceding, 0)).alias("grp"),
    ).filter(F.col("nxt_node").isNotNull())

    seg_len = haversine_m_col("lon_e7", "lat_e7", "nxt_lon", "nxt_lat")
    edges = (
        pairs.withColumn("seg_m", seg_len)
        .groupBy("way_id", "grp")
        .agg(
            F.min_by("node_id", "seq").alias("u_node"),
            F.max_by("nxt_node", "seq").alias("v_node"),
            (F.count(F.lit(1)) + 1).alias("n_pts"),
            F.greatest(F.round(F.sum("seg_m") * 1000).cast("long"), F.lit(1000)).alias("length_mm"),
        )
    )
    w_way = Window.partitionBy("way_id").orderBy("grp")
    return edges.select(
        "way_id",
        (F.row_number().over(w_way) - 1).cast("int").alias("edge_seq"),
        "u_node",
        "v_node",
        F.col("n_pts").cast("int").alias("n_pts"),
        "length_mm",
    )


def border_matrix(
    ways: DataFrame,
    way_nodes: DataFrame,
    nodes: DataFrame,
    res: int = 7,
    model=None,
) -> DataFrame:
    """J14 cross-region overlay: per-(src,dst) region border matrix.

    Reference semantics (route/src/server/overlay.rs:1-30): ways crossing a
    region border contribute border nodes; the overlay keeps a small
    per-(src,dst) matrix that bridges per-region engines. Graft analog:
    regions are the 0.1-degree coarse cells (region_tiles.rs), a crossing
    is a consecutive vertex pair of an included way whose cells differ, and
    the matrix aggregates crossing count + min/total segment length —
    exactly the broadcast-able "border table" a partition-bridging join
    consumes. Directed by way traversal order (W5).

    Output: (src_region, dst_region, n_cross, min_seg_mm, total_seg_mm).
    """
    included = included_way_ids(ways, model)
    wv = way_vertices(way_nodes.join(included, "way_id", "left_semi"), nodes)
    w_seq = Window.partitionBy("way_id").orderBy("seq")
    pairs = wv.select(
        "way_id",
        "seq",
        "lat_e7",
        "lon_e7",
        cells.cell_col("lon_e7", "lat_e7", res).alias("src_region"),
        F.lead("lat_e7").over(w_seq).alias("nxt_lat"),
        F.lead("lon_e7").over(w_seq).alias("nxt_lon"),
    ).filter(F.col("nxt_lat").isNotNull())
    pairs = pairs.withColumn(
        "dst_region", cells.cell_col("nxt_lon", "nxt_lat", res)
    ).filter(F.col("src_region") != F.col("dst_region"))
    seg_mm = F.round(
        haversine_m_col("lon_e7", "lat_e7", "nxt_lon", "nxt_lat") * 1000
    ).cast("long")
    return (
        pairs.withColumn("seg_mm", seg_mm)
        .groupBy("src_region", "dst_region")
        .agg(
            F.count(F.lit(1)).alias("n_cross"),
            F.min("seg_mm").alias("min_seg_mm"),
            F.sum("seg_mm").alias("total_seg_mm"),
        )
    )


def border_matrix_oracle_sql(fix: str, res: int = 7, model=None) -> str:
    """DuckDB replication of border_matrix (same CTE algebra as edges)."""
    cls_list = ", ".join(f"'{c}'" for c in highway_classes(model))
    src_cell = cells.cell_sql("lon_e7", "lat_e7", res)
    dst_cell = cells.cell_sql("nxt_lon", "nxt_lat", res)
    hav = haversine_m_sql("lon_e7", "lat_e7", "nxt_lon", "nxt_lat")
    return f"""
WITH included AS (
  SELECT DISTINCT way_id FROM read_parquet('{fix}/way_tags.parquet')
  WHERE key = 'highway' AND value IN ({cls_list})
), wv AS (
  SELECT w.way_id, w.seq, n.lat_e7, n.lon_e7
  FROM read_parquet('{fix}/way_nodes.parquet') w
  JOIN included i ON w.way_id = i.way_id
  JOIN read_parquet('{fix}/osm_nodes.parquet') n ON w.node_id = n.id
), pairs AS (
  SELECT way_id, seq, lat_e7, lon_e7,
         lead(lat_e7) OVER w AS nxt_lat,
         lead(lon_e7) OVER w AS nxt_lon
  FROM wv WINDOW w AS (PARTITION BY way_id ORDER BY seq)
), crossings AS (
  SELECT {src_cell} AS src_region, {dst_cell} AS dst_region,
         CAST(round({hav} * 1000) AS BIGINT) AS seg_mm
  FROM pairs WHERE nxt_lat IS NOT NULL AND {src_cell} <> {dst_cell})
SELECT src_region, dst_region,
       count(*) AS n_cross,
       min(seg_mm) AS min_seg_mm,
       CAST(sum(seg_mm) AS BIGINT) AS total_seg_mm
FROM crossings
GROUP BY src_region, dst_region
"""


def edges_oracle_sql(fix: str, model=None) -> str:
    """DuckDB SQL computing the identical edges table from the normalized
    fixtures (way_nodes/way_tags/osm_nodes). Same window/group algebra."""
    cls_list = ", ".join(f"'{c}'" for c in highway_classes(model))
    hav = haversine_m_sql("lon_e7", "lat_e7", "nxt_lon", "nxt_lat")
    return f"""
WITH included AS (
  SELECT DISTINCT way_id FROM read_parquet('{fix}/way_tags.parquet')
  WHERE key = 'highway' AND value IN ({cls_list})
), wn AS (
  SELECT w.way_id, w.seq, w.node_id FROM read_parquet('{fix}/way_nodes.parquet') w
  JOIN included i ON w.way_id = i.way_id
), usage AS (
  SELECT node_id, count(*) AS n_uses FROM wn GROUP BY node_id
), endpoints AS (
  SELECT DISTINCT node_id FROM (
    SELECT node_id, seq, max(seq) OVER (PARTITION BY way_id) AS max_seq FROM wn)
  WHERE seq = 0 OR seq = max_seq
), dec AS (
  SELECT node_id FROM usage WHERE n_uses >= 2 UNION SELECT node_id FROM endpoints
), wv AS (
  SELECT wn.way_id, wn.seq, wn.node_id, n.lat_e7, n.lon_e7,
         CASE WHEN d.node_id IS NOT NULL THEN 1 ELSE 0 END AS is_dec
  FROM wn JOIN read_parquet('{fix}/osm_nodes.parquet') n ON wn.node_id = n.id
  LEFT JOIN dec d ON wn.node_id = d.node_id
), pairs AS (
  SELECT way_id, seq, node_id, lat_e7, lon_e7,
         lead(node_id) OVER w AS nxt_node,
         lead(lat_e7) OVER w AS nxt_lat,
         lead(lon_e7) OVER w AS nxt_lon,
         sum(is_dec) OVER (PARTITION BY way_id ORDER BY seq
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM wv WINDOW w AS (PARTITION BY way_id ORDER BY seq)
), seg AS (
  SELECT *, {hav} AS seg_m FROM pairs WHERE nxt_node IS NOT NULL
), e AS (
  SELECT way_id, grp,
         arg_min(node_id, seq) AS u_node,
         arg_max(nxt_node, seq) AS v_node,
         CAST(count(*) + 1 AS INT) AS n_pts,
         greatest(CAST(round(sum(seg_m) * 1000) AS BIGINT), 1000) AS length_mm
  FROM seg GROUP BY way_id, grp)
SELECT way_id,
       CAST(row_number() OVER (PARTITION BY way_id ORDER BY grp) - 1 AS INT) AS edge_seq,
       u_node, v_node, n_pts, length_mm
FROM e
"""
