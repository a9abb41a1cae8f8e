"""DEM raster sampling (S14 + R10-R12): SRTM-shaped 1-degree tiles,
bilinear sub-pixel sampling with void handling.

Reference: route/src/server/elevation.rs — .hgt tiles (row-major
big-endian i16, north-to-south rows, :23-135), bilinear interpolation
with void (-32768) propagation (:67-135), filename-keyed 1-degree tiling
(:137-223), bbox coverage test (:446-470).

Spark shape: points get a (tile_lat, tile_lon) key (floor of degrees —
a J4 cell join at 1-degree resolution), cogrouped with the tile table;
each group decodes its tile binary ONCE and samples all its points
vectorized. The tile payload never shuffles more than once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

VOID = -32768
E7 = 10_000_000

_OUT_SCHEMA = StructType(
    [StructField("query_id", StringType()), StructField("elev_m", DoubleType())]
)


def bilinear_np(
    data: np.ndarray, side: int, fx: np.ndarray, fy: np.ndarray
) -> np.ndarray:
    """Bilinear sample; fx, fy in [0, 1) within the tile (fy measured from
    the SOUTH edge, rows stored north-to-south like .hgt). NaN where any
    contributing corner is void (elevation.rs void propagation)."""
    g = data.reshape(side, side)
    x = fx * (side - 1)
    y = (1.0 - fy) * (side - 1)  # row 0 = north edge
    x0 = np.clip(np.floor(x).astype(np.int64), 0, side - 2)
    y0 = np.clip(np.floor(y).astype(np.int64), 0, side - 2)
    dx = x - x0
    dy = y - y0
    q00 = g[y0, x0].astype(np.float64)
    q01 = g[y0, x0 + 1].astype(np.float64)
    q10 = g[y0 + 1, x0].astype(np.float64)
    q11 = g[y0 + 1, x0 + 1].astype(np.float64)
    anyvoid = (
        (g[y0, x0] == VOID) | (g[y0, x0 + 1] == VOID) | (g[y0 + 1, x0] == VOID) | (g[y0 + 1, x0 + 1] == VOID)
    )
    v = q00 * (1 - dx) * (1 - dy) + q01 * dx * (1 - dy) + q10 * (1 - dx) * dy + q11 * dx * dy
    v[anyvoid] = np.nan
    return v


def dem_sample(points: DataFrame, raster_tiles: DataFrame) -> DataFrame:
    """(query_id, elev_m) — bilinear elevation per point; NULL on voids or
    uncovered tiles. Points columns: query_id, lon_e7, lat_e7."""
    pts = points.select(
        "query_id",
        "lon_e7",
        "lat_e7",
        F.floor(F.col("lat_e7").cast("double") / F.lit(float(E7))).cast("int").alias("tile_lat"),
        F.floor(F.col("lon_e7").cast("double") / F.lit(float(E7))).cast("int").alias("tile_lon"),
    )

    def sample(key, pts_pdf: pd.DataFrame, tile_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pts_pdf) == 0:
            return pd.DataFrame({"query_id": pd.Series(dtype=str), "elev_m": pd.Series(dtype=float)})
        if len(tile_pdf) == 0:
            return pd.DataFrame({"query_id": pts_pdf["query_id"], "elev_m": np.nan})
        side = int(tile_pdf["samples_per_side"].iloc[0])
        data = np.frombuffer(tile_pdf["data"].iloc[0], dtype=">i2").astype(np.int16)
        tlat, tlon = key
        fx = (pts_pdf["lon_e7"].to_numpy(np.float64) / E7) - tlon
        fy = (pts_pdf["lat_e7"].to_numpy(np.float64) / E7) - tlat
        v = bilinear_np(data, side, fx, fy)
        # round-half-up via floor(x*1000+0.5): mode-free, so the SQL oracle
        # (same expression) agrees even on exact .0005 boundaries where
        # np.round (half-even) and SQL round (half-up) diverge
        return pd.DataFrame(
            {"query_id": pts_pdf["query_id"].to_numpy(), "elev_m": np.floor(v * 1000.0 + 0.5) / 1000.0}
        )

    from ..partitioning import repartition_for_python_groups

    return (
        repartition_for_python_groups(pts, "tile_lat", "tile_lon")
        .groupBy("tile_lat", "tile_lon")
        .cogroup(
            repartition_for_python_groups(raster_tiles, "tile_lat", "tile_lon").groupBy(
                "tile_lat", "tile_lon"
            )
        )
        .applyInPandas(sample, schema=_OUT_SCHEMA)
    )


def elevation_frontier(
    way_nodes: DataFrame, nodes: DataFrame, raster_tiles: DataFrame, threshold_m: float = 250.0
) -> DataFrame:
    """R8 frontier extraction over the DEM field: way segments whose
    endpoint elevations straddle ``threshold_m``; cut fraction
    (T - e_u) / (e_v - e_u) and the interpolated cut point (P9 math).

    Reference: route/src/range/frontier.rs:95-151 computes exactly this
    over a distance field ((T-d)/w cut fractions, interpolated cut
    points); the scalar field here is bilinear DEM elevation.
    """
    from pyspark.sql import Window

    node_elev = dem_sample(
        nodes.select(F.col("id").cast("string").alias("query_id"), "lon_e7", "lat_e7"),
        raster_tiles,
    ).select(F.col("query_id").cast("long").alias("id"), "elev_m")
    wv = (
        way_nodes.join(nodes, way_nodes.node_id == nodes.id)
        .join(node_elev, nodes.id == node_elev.id)
        .select("way_id", "seq", "lon_e7", "lat_e7", "elev_m")
    )
    w = Window.partitionBy("way_id").orderBy("seq")
    pairs = wv.select(
        "way_id",
        F.col("seq").cast("int").alias("seq"),
        "lon_e7",
        "lat_e7",
        "elev_m",
        F.lead("lon_e7").over(w).alias("nlon"),
        F.lead("lat_e7").over(w).alias("nlat"),
        F.lead("elev_m").over(w).alias("nelev"),
    ).filter(F.col("nlon").isNotNull() & F.col("elev_m").isNotNull() & F.col("nelev").isNotNull())
    T = F.lit(threshold_m)
    crossing = (F.col("elev_m") < T) != (F.col("nelev") < T)
    frac = (T - F.col("elev_m")) / (F.col("nelev") - F.col("elev_m"))
    return pairs.filter(crossing).select(
        "way_id",
        "seq",
        F.round(frac, 6).alias("cut_frac"),
        F.round(F.col("lon_e7") + (F.col("nlon") - F.col("lon_e7")) * frac, 2).alias("cut_lon"),
        F.round(F.col("lat_e7") + (F.col("nlat") - F.col("lat_e7")) * frac, 2).alias("cut_lat"),
    )


def elevation_profile(
    way_nodes: DataFrame, nodes: DataFrame, raster_tiles: DataFrame, interval_m: float = 100.0
) -> DataFrame:
    """R11: resample each way at ``interval_m`` arc steps and sample the
    DEM at every step (route/src/server/elevation.rs:360-445).

    Plan: cumulative-length pairs (P9 algebra) x exploded arc sequence ->
    containing-segment join -> linear interp -> tile-cogrouped bilinear
    sample. Output (way_id, k, lon_e7, lat_e7, elev_m)."""
    from pyspark.sql import Window

    from ..geo import haversine_m_col

    wv = way_nodes.join(nodes, way_nodes.node_id == nodes.id).select(
        "way_id", "seq", "lon_e7", "lat_e7"
    )
    w = Window.partitionBy("way_id").orderBy("seq")
    pairs = wv.select(
        "way_id",
        "seq",
        "lon_e7",
        "lat_e7",
        F.lead("lon_e7").over(w).alias("nlon"),
        F.lead("lat_e7").over(w).alias("nlat"),
    ).filter(F.col("nlon").isNotNull())
    seg = pairs.withColumn("seg_m", haversine_m_col("lon_e7", "lat_e7", "nlon", "nlat"))
    seg = seg.withColumn(
        "cum_before",
        F.coalesce(F.sum("seg_m").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0.0)),
    )
    totals = seg.groupBy("way_id").agg((F.sum("seg_m")).alias("total"))
    arcs = totals.select(
        "way_id",
        F.explode(F.sequence(F.lit(0), F.floor(F.col("total") / F.lit(interval_m)).cast("int"))).alias("k"),
    ).withColumn("arc_m", F.col("k") * F.lit(interval_m))
    hit = arcs.join(seg, "way_id").filter(
        (F.col("cum_before") <= F.col("arc_m"))
        & (F.col("arc_m") < F.col("cum_before") + F.col("seg_m"))
    )
    frac = (F.col("arc_m") - F.col("cum_before")) / F.col("seg_m")
    pts = hit.select(
        "way_id",
        "k",
        F.round(F.col("lon_e7") + (F.col("nlon") - F.col("lon_e7")) * frac)
        .cast("int")
        .alias("lon_e7"),
        F.round(F.col("lat_e7") + (F.col("nlat") - F.col("lat_e7")) * frac)
        .cast("int")
        .alias("lat_e7"),
    )
    sampled = dem_sample(
        pts.select(
            F.concat_ws("#", F.col("way_id").cast("string"), F.col("k").cast("string")).alias(
                "query_id"
            ),
            "lon_e7",
            "lat_e7",
        ),
        raster_tiles,
    )
    split = F.split(F.col("query_id"), "#")
    return sampled.select(
        split.getItem(0).cast("long").alias("way_id"),
        split.getItem(1).cast("int").alias("k"),
        "elev_m",
    ).join(pts, ["way_id", "k"]).select("way_id", "k", "lon_e7", "lat_e7", "elev_m")


def dem_coverage(points: DataFrame, raster_tiles: DataFrame) -> DataFrame:
    """R12: which points fall on a loaded DEM tile (semi-join on tile key)."""
    pts = points.select(
        "query_id",
        F.floor(F.col("lat_e7").cast("double") / F.lit(float(E7))).cast("int").alias("tile_lat"),
        F.floor(F.col("lon_e7").cast("double") / F.lit(float(E7))).cast("int").alias("tile_lon"),
    )
    return pts.join(
        raster_tiles.select("tile_lat", "tile_lon"), ["tile_lat", "tile_lon"], "left_semi"
    ).select("query_id", "tile_lat", "tile_lon")


def _bilinear_ctes(fix: str, pts_cte: str = "pts") -> str:
    """SQL CTE chain computing ``elev(query_id, elev_m)`` by bilinear
    interpolation over the ``raster_cells`` fixture (the pre-encode
    ground-truth grid — so the Spark binary decode is differentially
    verified). Expression order mirrors bilinear_np exactly."""
    return f"""
_p AS (
  SELECT query_id, lon_e7, lat_e7,
         CAST(floor(CAST(lat_e7 AS DOUBLE) / 10000000.0) AS INT) AS tlat,
         CAST(floor(CAST(lon_e7 AS DOUBLE) / 10000000.0) AS INT) AS tlon
  FROM {pts_cte}
), _pj AS (
  SELECT p.*, t.samples_per_side AS side
  FROM _p p LEFT JOIN read_parquet('{fix}/raster_tiles.parquet') t
    ON t.tile_lat = p.tlat AND t.tile_lon = p.tlon
), _c AS (
  SELECT query_id, tlat, tlon, side,
         (CAST(lon_e7 AS DOUBLE) / 10000000.0 - tlon) * (side - 1) AS x,
         (1.0 - (CAST(lat_e7 AS DOUBLE) / 10000000.0 - tlat)) * (side - 1) AS y
  FROM _pj WHERE side IS NOT NULL
), _i AS (
  SELECT query_id, tlat, tlon, side, x, y,
         least(greatest(CAST(floor(x) AS BIGINT), 0), side - 2) AS x0,
         least(greatest(CAST(floor(y) AS BIGINT), 0), side - 2) AS y0
  FROM _c
), elev AS (
  SELECT i.query_id,
         CASE WHEN q00.v = -32768 OR q01.v = -32768 OR q10.v = -32768 OR q11.v = -32768
              THEN NULL
              ELSE floor((CAST(q00.v AS DOUBLE) * (1 - (x - x0)) * (1 - (y - y0))
                        + CAST(q01.v AS DOUBLE) * (x - x0) * (1 - (y - y0))
                        + CAST(q10.v AS DOUBLE) * (1 - (x - x0)) * (y - y0)
                        + CAST(q11.v AS DOUBLE) * (x - x0) * (y - y0)) * 1000.0 + 0.5) / 1000.0
         END AS elev_m
  FROM _i i
  JOIN read_parquet('{fix}/raster_cells.parquet') q00
    ON q00.tile_lat = i.tlat AND q00.tile_lon = i.tlon AND q00."row" = i.y0 AND q00."col" = i.x0
  JOIN read_parquet('{fix}/raster_cells.parquet') q01
    ON q01.tile_lat = i.tlat AND q01.tile_lon = i.tlon AND q01."row" = i.y0 AND q01."col" = i.x0 + 1
  JOIN read_parquet('{fix}/raster_cells.parquet') q10
    ON q10.tile_lat = i.tlat AND q10.tile_lon = i.tlon AND q10."row" = i.y0 + 1 AND q10."col" = i.x0
  JOIN read_parquet('{fix}/raster_cells.parquet') q11
    ON q11.tile_lat = i.tlat AND q11.tile_lon = i.tlon AND q11."row" = i.y0 + 1 AND q11."col" = i.x0 + 1
  UNION ALL
  SELECT query_id, NULL AS elev_m FROM _pj WHERE side IS NULL
)"""


def dem_sample_oracle_sql(fix: str, point_table: str = "query_points") -> str:
    return f"""
WITH pts AS (
  SELECT query_id, lon_e7, lat_e7 FROM read_parquet('{fix}/{point_table}.parquet')
), {_bilinear_ctes(fix)}
SELECT query_id, coalesce(elev_m, -32768.0) AS elev_m FROM elev
"""


def elev_frontier_oracle_sql(fix: str, threshold_m: float = 250.0) -> str:
    t = float(threshold_m)
    return f"""
WITH pts AS (
  SELECT CAST(id AS VARCHAR) AS query_id, lon_e7, lat_e7
  FROM read_parquet('{fix}/osm_nodes.parquet')
), {_bilinear_ctes(fix)},
wv AS (
  SELECT w.way_id, w.seq, n.lon_e7, n.lat_e7, e.elev_m
  FROM read_parquet('{fix}/way_nodes.parquet') w
  JOIN read_parquet('{fix}/osm_nodes.parquet') n ON w.node_id = n.id
  JOIN elev e ON e.query_id = CAST(n.id AS VARCHAR)
), pairs AS (
  SELECT way_id, CAST(seq AS INT) AS seq, lon_e7, lat_e7, elev_m,
         lead(lon_e7) OVER (PARTITION BY way_id ORDER BY seq) AS nlon,
         lead(lat_e7) OVER (PARTITION BY way_id ORDER BY seq) AS nlat,
         lead(elev_m) OVER (PARTITION BY way_id ORDER BY seq) AS nelev
  FROM wv
)
SELECT way_id, seq,
       round(({t!r} - elev_m) / (nelev - elev_m), 6) AS cut_frac,
       round(lon_e7 + (nlon - lon_e7) * (({t!r} - elev_m) / (nelev - elev_m)), 2) AS cut_lon,
       round(lat_e7 + (nlat - lat_e7) * (({t!r} - elev_m) / (nelev - elev_m)), 2) AS cut_lat
FROM pairs
WHERE nlon IS NOT NULL AND elev_m IS NOT NULL AND nelev IS NOT NULL
  AND ((elev_m < {t!r}) <> (nelev < {t!r}))
"""


def elev_profile_oracle_sql(fix: str, interval_m: float = 100.0) -> str:
    from ..geo import haversine_m_sql

    hv = haversine_m_sql("lon_e7", "lat_e7", "nlon", "nlat")
    iv = float(interval_m)
    return f"""
WITH wv AS (
  SELECT w.way_id, w.seq, n.lon_e7, n.lat_e7
  FROM read_parquet('{fix}/way_nodes.parquet') w
  JOIN read_parquet('{fix}/osm_nodes.parquet') n ON w.node_id = n.id
), pr AS (
  SELECT way_id, seq, lon_e7, lat_e7,
         lead(lon_e7) OVER (PARTITION BY way_id ORDER BY seq) AS nlon,
         lead(lat_e7) OVER (PARTITION BY way_id ORDER BY seq) AS nlat
  FROM wv
), seg AS (
  SELECT *, {hv} AS seg_m FROM pr WHERE nlon IS NOT NULL
), seg2 AS (
  SELECT *, coalesce(sum(seg_m) OVER (PARTITION BY way_id ORDER BY seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum_before
  FROM seg
), totals AS (
  SELECT way_id, sum(seg_m) AS total FROM seg GROUP BY way_id
), arcs AS (
  SELECT way_id, k, k * {iv!r} AS arc_m
  FROM totals, unnest(generate_series(0, CAST(floor(total / {iv!r}) AS INT))) AS t(k)
), hit AS (
  SELECT a.way_id, a.k, s.lon_e7, s.lat_e7, s.nlon, s.nlat,
         (a.arc_m - s.cum_before) / s.seg_m AS frac
  FROM arcs a JOIN seg2 s ON a.way_id = s.way_id
   AND s.cum_before <= a.arc_m AND a.arc_m < s.cum_before + s.seg_m
), ppts AS (
  SELECT way_id, k,
         CAST(round(lon_e7 + (nlon - lon_e7) * frac) AS INT) AS lon_e7,
         CAST(round(lat_e7 + (nlat - lat_e7) * frac) AS INT) AS lat_e7
  FROM hit
), pts AS (
  SELECT CAST(way_id AS VARCHAR) || '#' || CAST(k AS VARCHAR) AS query_id, lon_e7, lat_e7
  FROM ppts
), {_bilinear_ctes(fix)}
SELECT p.way_id, CAST(p.k AS INT) AS k, p.lon_e7, p.lat_e7,
       coalesce(e.elev_m, -32768.0) AS elev_m
FROM ppts p JOIN elev e
  ON e.query_id = CAST(p.way_id AS VARCHAR) || '#' || CAST(p.k AS VARCHAR)
"""


def dem_coverage_oracle_sql(fix: str) -> str:
    return f"""
SELECT q.query_id,
       CAST(floor(CAST(q.lat_e7 AS DOUBLE) / 10000000.0) AS INT) AS tile_lat,
       CAST(floor(CAST(q.lon_e7 AS DOUBLE) / 10000000.0) AS INT) AS tile_lon
FROM read_parquet('{fix}/query_points.parquet') q
WHERE EXISTS (
  SELECT 1 FROM read_parquet('{fix}/raster_tiles.parquet') t
  WHERE t.tile_lat = CAST(floor(CAST(q.lat_e7 AS DOUBLE) / 10000000.0) AS INT)
    AND t.tile_lon = CAST(floor(CAST(q.lon_e7 AS DOUBLE) / 10000000.0) AS INT))
"""


# ---------------------------------------------------------------------------
# Zonal statistics (raster->vector aggregate, the classic GIS "zonal stats"):
# per-polygon elevation aggregates over every DEM sample falling inside the
# polygon. Composes the existing kernels — tile decode (S14), cell-cover +
# even-odd raycast PIP (J8), and a doc_id-keyed aggregate — so the raster
# payload is decoded ONCE (map-only fan-out) and only (sample_id, lon, lat,
# v) scalars ever shuffle. Reference analog: the coverage/sampling semantics
# of elevation.rs:446-470 aggregated over the PIP join of docs/api.md.
# ---------------------------------------------------------------------------

from pyspark.sql.types import IntegerType, LongType

_PTS_SCHEMA = StructType(
    [
        StructField("sample_id", LongType()),
        StructField("lon_e7", LongType()),
        StructField("lat_e7", LongType()),
        StructField("v", IntegerType()),
    ]
)


def dem_points(raster_tiles: DataFrame) -> DataFrame:
    """Explode every DEM tile into its sample grid: (sample_id, lon_e7,
    lat_e7, v), one row per sample. Coordinates are registered on the
    integer e7 lattice with half-up rounding computed in PURE INTEGER
    arithmetic — ``(col * 1e7 + (side-1)//2) // (side-1)`` — so the
    DuckDB oracle derives bit-identical coordinates from the relational
    ``raster_cells`` truth (no float lattice anywhere). Row 0 is the
    NORTH edge (.hgt convention, elevation.rs:23-135). Map-only: one
    Arrow-batched pass over the tile table, nothing shuffles."""

    def explode_tiles(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                side = int(r["samples_per_side"])
                g = np.frombuffer(r["data"], dtype=">i2").astype(np.int32)
                rows, cols = np.divmod(np.arange(side * side, dtype=np.int64), side)
                half, den = (side - 1) // 2, side - 1
                tlat, tlon = int(r["tile_lat"]), int(r["tile_lon"])
                yield pd.DataFrame(
                    {
                        "sample_id": (((tlat + 90) * 360 + (tlon + 180)) * side + rows)
                        * side
                        + cols,
                        "lon_e7": tlon * E7 + (cols * E7 + half) // den,
                        "lat_e7": (tlat + 1) * E7 - (rows * E7 + half) // den,
                        "v": g,
                    }
                )

    return raster_tiles.mapInPandas(explode_tiles, schema=_PTS_SCHEMA)


def zonal_stats(raster_tiles: DataFrame, polygons: DataFrame) -> DataFrame:
    """(polygon_id, n_samples, min_elev, max_elev, mean_elev): elevation
    aggregates over the DEM samples inside each polygon (even-odd raycast
    membership; void samples excluded — standard nodata handling).

    Scale shape: tiles decode map-only (`dem_points`); membership is the
    proven J8 path (cover-cell equi-join + salted raycast refinement);
    the final aggregate shuffles polygon-keyed SCALARS. min/max/sum are
    exact integer arithmetic (i16 samples), the single mean division is
    rounded to 3 dp. The decoded samples are persisted because the plan
    reads them twice (pip's probe side and the value join) and decoding
    is a Python kernel; the result is ONE persisted polygon-sized frame,
    the sample frame is released before returning (caller unpersists
    the result)."""
    from .dedup import eager_release
    from .pip import pip_join

    pts = dem_points(raster_tiles).where(F.col("v") != VOID).persist()
    # pip's pair contract carries STRING ids (image_id heritage) — cast the
    # numeric sample id through it and back
    hits = pip_join(
        pts.withColumn("sid", F.col("sample_id").cast("string")), polygons, id_col="sid"
    )
    out = (
        hits.join(
            pts.select(F.col("sample_id").cast("string").alias("point_id"), "v"),
            "point_id",
        )
        .groupBy("polygon_id")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.min("v").cast("int").alias("min_elev"),
            F.max("v").cast("int").alias("max_elev"),
            F.round(
                F.sum("v").cast("double") / F.count(F.lit(1)).cast("double"), 3
            ).alias("mean_elev"),
        )
    )
    return eager_release(out, [pts])


def zonal_stats_oracle_sql(fix: str) -> str:
    """Differential oracle: sample coordinates re-derived from the
    PRE-ENCODE ``raster_cells`` truth with the identical integer-lattice
    arithmetic (so the Spark binary decode is differentially verified),
    then the same bbox-prefilter + even-odd raycast as pip_oracle_sql."""
    return f"""
WITH pts AS (
  SELECT (((c.tile_lat + 90) * 360 + (c.tile_lon + 180)) * t.samples_per_side + c."row")
           * t.samples_per_side + c."col" AS sample_id,
         CAST(c.tile_lon AS BIGINT) * {E7}
           + (CAST(c."col" AS BIGINT) * {E7} + (t.samples_per_side - 1) // 2)
             // (t.samples_per_side - 1) AS lon_e7,
         CAST(c.tile_lat + 1 AS BIGINT) * {E7}
           - (CAST(c."row" AS BIGINT) * {E7} + (t.samples_per_side - 1) // 2)
             // (t.samples_per_side - 1) AS lat_e7,
         c.v
  FROM read_parquet('{fix}/raster_cells.parquet') c
  JOIN read_parquet('{fix}/raster_tiles.parquet') t
    ON c.tile_lat = t.tile_lat AND c.tile_lon = t.tile_lon
  WHERE c.v <> {VOID}
), bbox AS (
  SELECT polygon_id, min(least(x1, x2)) AS minx, max(greatest(x1, x2)) AS maxx,
         min(least(y1, y2)) AS miny, max(greatest(y1, y2)) AS maxy
  FROM read_parquet('{fix}/polygon_edges.parquet') GROUP BY polygon_id
), cand AS (
  SELECT p.sample_id, CAST(p.lon_e7 AS DOUBLE) AS px, CAST(p.lat_e7 AS DOUBLE) AS py,
         p.v, b.polygon_id
  FROM pts p JOIN bbox b
    ON p.lon_e7 >= b.minx AND p.lon_e7 <= b.maxx AND p.lat_e7 >= b.miny AND p.lat_e7 <= b.maxy
), crossings AS (
  SELECT c.sample_id, c.polygon_id, any_value(c.v) AS v, count(*) AS n
  FROM cand c JOIN read_parquet('{fix}/polygon_edges.parquet') e ON c.polygon_id = e.polygon_id
  WHERE (CAST(e.y1 AS DOUBLE) > c.py) <> (CAST(e.y2 AS DOUBLE) > c.py)
    AND c.px < CAST(e.x2 - e.x1 AS DOUBLE) * (c.py - CAST(e.y1 AS DOUBLE)) / CAST(e.y2 - e.y1 AS DOUBLE) + CAST(e.x1 AS DOUBLE)
  GROUP BY c.sample_id, c.polygon_id
)
SELECT polygon_id, count(*) AS n_samples,
       CAST(min(v) AS INT) AS min_elev, CAST(max(v) AS INT) AS max_elev,
       round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 3) AS mean_elev
FROM crossings WHERE n % 2 = 1
GROUP BY polygon_id
"""


def dem_slope(raster_tiles: DataFrame) -> DataFrame:
    """(tile_lat, tile_lon, row, col, dzdx, dzdy, slope): Horn 3x3
    finite-difference gradient per interior DEM pixel — the terrain
    derivative layer (slope/aspect/hillshade all derive from these two
    integers) the reference's elevation stack feeds into route costs
    (elevation.rs tile sampling; SURVEY §2 R10-R12 ring).

    dzdx/dzdy are EXACT integer Horn sums of the eight i16 neighbours
    (east-positive / south-positive, row 0 = north edge — the .hgt
    convention); the only float is the final magnitude
    ``round(sqrt(dzdx² + dzdy²) / 8, 3)`` (IEEE sqrt is
    correctly-rounded, so cross-engine exact). Windows touching a VOID
    sample or a tile border are skipped (nodata discipline; a
    production run would ghost-exchange 1-pixel halos between
    neighbouring tiles — at one tile per task the halo is the only
    cross-task traffic this op would ever need).

    Scale shape: MAP-ONLY — each tile decodes and differentiates inside
    one Arrow batch; nothing shuffles, no driver traffic. The DuckDB
    oracle recomputes the identical stencil relationally from the
    PRE-ENCODE ``raster_cells`` truth (zonal_stats discipline), so a
    green row differentially verifies the binary decode AND the
    stencil.
    """
    schema = (
        "tile_lat int, tile_lon int, row int, col int, "
        "dzdx int, dzdy int, slope double"
    )

    def gen(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                side = int(r["samples_per_side"])
                if side < 3:
                    continue
                g = np.frombuffer(r["data"], dtype=">i2").astype(np.int64).reshape(side, side)
                ok = g != VOID

                def z(dr, dc):
                    return g[1 + dr : side - 1 + dr, 1 + dc : side - 1 + dc]

                def v(dr, dc):
                    return ok[1 + dr : side - 1 + dr, 1 + dc : side - 1 + dc]

                allok = np.ones((side - 2, side - 2), dtype=bool)
                for dr in (-1, 0, 1):
                    for dc in (-1, 0, 1):
                        allok &= v(dr, dc)
                dzdx = (z(-1, 1) + 2 * z(0, 1) + z(1, 1)) - (
                    z(-1, -1) + 2 * z(0, -1) + z(1, -1)
                )
                dzdy = (z(1, -1) + 2 * z(1, 0) + z(1, 1)) - (
                    z(-1, -1) + 2 * z(-1, 0) + z(-1, 1)
                )
                rr, cc = np.nonzero(allok)
                if len(rr) == 0:
                    continue
                gx, gy = dzdx[rr, cc], dzdy[rr, cc]
                yield pd.DataFrame(
                    {
                        "tile_lat": np.full(len(rr), int(r["tile_lat"]), dtype=np.int32),
                        "tile_lon": np.full(len(rr), int(r["tile_lon"]), dtype=np.int32),
                        "row": (rr + 1).astype(np.int32),
                        "col": (cc + 1).astype(np.int32),
                        "dzdx": gx.astype(np.int32),
                        "dzdy": gy.astype(np.int32),
                        "slope": np.round(np.sqrt((gx * gx + gy * gy).astype(np.float64)) / 8.0, 3),
                    }
                )

    return raster_tiles.mapInPandas(gen, schema=schema)


def dem_slope_oracle_sql(fix: str) -> str:
    """Independent relational Horn stencil over the raster_cells truth."""
    return f"""
WITH c AS (SELECT * FROM read_parquet('{fix}/raster_cells.parquet')),
t AS (SELECT tile_lat, tile_lon, samples_per_side AS side
      FROM read_parquet('{fix}/raster_tiles.parquet')),
win AS (
  SELECT a.tile_lat, a.tile_lon, a.row, a.col,
         count(*) AS n_nbr,
         sum(CASE WHEN b.v = {VOID} THEN 1 ELSE 0 END) AS n_void,
         sum(b.v * (CASE WHEN b.col = a.col + 1 THEN (CASE WHEN b.row = a.row THEN 2 ELSE 1 END)
                         WHEN b.col = a.col - 1 THEN -(CASE WHEN b.row = a.row THEN 2 ELSE 1 END)
                         ELSE 0 END)) AS dzdx,
         sum(b.v * (CASE WHEN b.row = a.row + 1 THEN (CASE WHEN b.col = a.col THEN 2 ELSE 1 END)
                         WHEN b.row = a.row - 1 THEN -(CASE WHEN b.col = a.col THEN 2 ELSE 1 END)
                         ELSE 0 END)) AS dzdy
  FROM c a
  JOIN t ON t.tile_lat = a.tile_lat AND t.tile_lon = a.tile_lon
  JOIN c b ON b.tile_lat = a.tile_lat AND b.tile_lon = a.tile_lon
          AND b.row BETWEEN a.row - 1 AND a.row + 1
          AND b.col BETWEEN a.col - 1 AND a.col + 1
  WHERE a.row BETWEEN 1 AND t.side - 2 AND a.col BETWEEN 1 AND t.side - 2
  GROUP BY a.tile_lat, a.tile_lon, a.row, a.col
)
SELECT tile_lat, tile_lon, CAST(row AS INT) AS row, CAST(col AS INT) AS col,
       CAST(dzdx AS INT) AS dzdx, CAST(dzdy AS INT) AS dzdy,
       round(sqrt(CAST(dzdx * dzdx + dzdy * dzdy AS DOUBLE)) / 8, 3) AS slope
FROM win WHERE n_nbr = 9 AND n_void = 0
"""
