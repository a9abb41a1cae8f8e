"""G8: cell-level incremental recompute for the PIP overlay.

Reference semantics (route/src/server/exclude.rs:514, docs/
architecture.md:172-256): when an avoid polygon changes, the recompute
touches only the triangles/cells the polygon intersects — work is
proportional to the polygon size, not the graph size.

Spark shape: the published (point, polygon) pair table is PARTITIONED BY
the point's coarse cell (res 7, ~7 km). Each run fingerprints the polygon
set per coarse cell (bit_xor of per-polygon content hashes over the
polygon's coarse bbox cover — order-independent, no overflow) and diffs
against the stored fingerprint map. Only cells whose fingerprint changed
(polygon added / removed / edited) are recomputed: the point scan is
partition-pruned to those cells, the polygon side is semi-join-pruned to
polygons covering them, and the delete-then-append publish touches only
the changed partition directories. Changing one polygon therefore re-runs
the cover/raycast work for ~|its bbox cover| cells — at 100 TB this is
the difference between re-running the overlay stage and touching 0.1 % of
it. Re-running with an unchanged polygon set recomputes nothing.

The fingerprint map commit (tmp -> rename, written only after the data
commit) makes the protocol idempotent: a crash between the partition
delete/append and the map write leaves the old map in place, so the next
run re-diffs the same cells and repeats the (idempotent) delete+append.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cells
from .operators.pip import pip_join

COARSE_RES = 7  # ~7.1 km cells; a 20 km-radius polygon covers <= ~36


def poly_coarse_cover(polygons: DataFrame) -> DataFrame:
    """(polygon_id, cell_p): res-7 cells intersecting the ring bbox —
    a superset of the coarse parents of the PIP cover cells, so every
    (point, polygon) candidate pair's point-cell is covered."""
    s = cells.SIZE_E7[COARSE_RES]
    lons = F.expr("transform(ring, v -> v.lon_e7)")
    lats = F.expr("transform(ring, v -> v.lat_e7)")
    b = polygons.select(
        "polygon_id",
        F.floor((F.array_min(lons).cast("long") + F.lit(cells.OFF_LON_E7)) / F.lit(s)).alias("x0"),
        F.floor((F.array_max(lons).cast("long") + F.lit(cells.OFF_LON_E7)) / F.lit(s)).alias("x1"),
        F.floor((F.array_min(lats).cast("long") + F.lit(cells.OFF_LAT_E7)) / F.lit(s)).alias("y0"),
        F.floor((F.array_max(lats).cast("long") + F.lit(cells.OFF_LAT_E7)) / F.lit(s)).alias("y1"),
    )
    cx = b.select("polygon_id", F.explode(F.sequence("x0", "x1")).alias("cx"), "y0", "y1")
    cxy = cx.select("polygon_id", "cx", F.explode(F.sequence("y0", "y1")).alias("cy"))
    return cxy.select(
        "polygon_id",
        (
            F.lit(COARSE_RES << cells.RES_SHIFT)
            + F.col("cy") * F.lit(1 << cells.Y_SHIFT)
            + F.col("cx")
        )
        .cast("long")
        .alias("cell_p"),
    )


def cell_fingerprints(polygons: DataFrame) -> DataFrame:
    """(cell_p, fp): order-independent fingerprint of the polygon content
    covering each coarse cell.

    Combine = xxhash64 over the SORTED per-polygon hash list — order-
    independent (sort) but NOT involutive: bit_xor would self-cancel on an
    even number of identical (polygon_id, ring) rows, silently skipping
    recompute when duplicate rows are added or removed."""
    h = F.xxhash64(F.to_json(F.struct("polygon_id", "ring"))).alias("h")
    combined = F.xxhash64(
        F.concat_ws(",", F.transform(F.sort_array(F.collect_list("h")), lambda x: x.cast("string")))
    )
    return (
        polygons.select("polygon_id", h)
        .join(poly_coarse_cover(polygons), "polygon_id")
        .groupBy("cell_p")
        .agg(combined.alias("fp"))
    )


def incremental_pip(
    spark: SparkSession,
    out_dir: str,
    points: DataFrame,
    polygons: DataFrame,
    id_col: str = "image_id",
) -> tuple[DataFrame, dict]:
    """Publish/refresh the partitioned PIP pair table under ``out_dir``.

    Returns (pairs DataFrame read from the published table, info dict with
    the recompute scope: full flag, changed cell list, total cell count).
    """
    fp_path = os.path.join(out_dir, "_cell_fp.json")
    data_dir = os.path.join(out_dir, "pairs")
    os.makedirs(out_dir, exist_ok=True)

    new_fp = {str(r["cell_p"]): str(r["fp"]) for r in cell_fingerprints(polygons).collect()}
    old_fp = None
    if os.path.exists(fp_path):
        with open(fp_path) as f:
            old_fp = json.load(f)
    pts = points.withColumn("cell_p", cells.cell_col("lon_e7", "lat_e7", COARSE_RES))
    pt_cells = pts.select(F.col(id_col).alias("point_id"), "cell_p")

    if old_fp is None:
        changed = sorted(new_fp)
        pairs = pip_join(points, polygons, id_col=id_col)
        out = pairs.join(pt_cells, "point_id")
        shutil.rmtree(data_dir, ignore_errors=True)
        out.write.partitionBy("cell_p").mode("overwrite").parquet(data_dir)
        pairs.unpersist()  # published to parquet; drop the cached copy
        info = {"full": True, "changed_cells": changed, "n_cells_total": len(new_fp)}
    else:
        changed = sorted(
            k for k in set(new_fp) | set(old_fp) if old_fp.get(k) != new_fp.get(k)
        )
        if changed:
            ch_df = spark.createDataFrame([(int(c),) for c in changed], "cell_p BIGINT")
            pts_ch = pts.join(F.broadcast(ch_df), "cell_p", "left_semi")
            poly_keys = (
                poly_coarse_cover(polygons)
                .join(F.broadcast(ch_df), "cell_p", "left_semi")
                .select("polygon_id")
                .distinct()
            )
            poly_ch = polygons.join(F.broadcast(poly_keys), "polygon_id", "left_semi")
            # delete-then-append: exact partition replacement incl. cells
            # whose pair set became empty; idempotent under crash-rerun
            for c in changed:
                shutil.rmtree(os.path.join(data_dir, f"cell_p={c}"), ignore_errors=True)
            if poly_ch.limit(1).count() > 0:  # all-removed: deletes suffice
                pairs = pip_join(pts_ch.drop("cell_p"), poly_ch, id_col=id_col)
                out = pairs.join(pt_cells, "point_id")
                out.write.partitionBy("cell_p").mode("append").parquet(data_dir)
                pairs.unpersist()  # published to parquet; drop the cached copy
        info = {"full": False, "changed_cells": changed, "n_cells_total": len(new_fp)}

    tmp = fp_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(new_fp, f)
    os.rename(tmp, fp_path)
    # a pair table can legitimately hold zero partitions (no polygons, or
    # every polygon removed): parquet then has no data files to infer a
    # schema from, so return a typed empty frame instead of crashing
    has_rows = os.path.isdir(data_dir) and any(
        e.startswith("cell_p=") for e in os.listdir(data_dir)
    )
    if not has_rows:
        return (
            spark.createDataFrame([], "point_id STRING, polygon_id STRING, cell_p BIGINT"),
            info,
        )
    # not session.read_parquet: the cell_p column comes from partition
    # discovery over the cell_p=<n> directories, which a footer lacks
    return spark.read.parquet(data_dir), info
