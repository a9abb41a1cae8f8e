"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end slice (SURVEY.md §7.2):
"which images fall inside each polygon, and what is each one's nearest
OSM node?" — fixtures -> cell encode -> polygon cover join -> ray-cast
PIP refine -> k-ring kNN -> result table.

``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with DuckDB-verifiable semantics (see
butterfly_osm_spark/queries.py). Spatial queries run over this repo's
deterministic seed-42 fixtures (generated on demand under fixtures/);
text/dedup/ANN queries run over the driver's pre-registered views.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: PIP join + nearest-node snap per image."""
    import os

    from butterfly_osm_spark.fixtures.generate import ensure_fixtures
    from butterfly_osm_spark.operators.knn import knn_join
    from butterfly_osm_spark.operators.pip import pip_join

    fix = ensure_fixtures("0.001")

    def read(name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(fix, f"{name}.parquet"))

    geo = read("image_geo")
    hits = pip_join(geo, read("polygons"), out_id="image_id")

    knn_q = geo.select(F.col("image_id").alias("query_id"), "lon_e7", "lat_e7", F.lit(1).alias("k"))
    nearest = knn_join(knn_q, read("osm_nodes")).select(
        F.col("query_id").alias("image_id"),
        F.col("node_id").alias("nearest_node_id"),
        F.col("dist_m").alias("nearest_node_dist_m"),
    )
    return hits.join(nearest, "image_id", "left").orderBy("image_id", "polygon_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from butterfly_osm_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from butterfly_osm_spark.queries import ORACLES

    return {name: fn() for name, fn in ORACLES.items()}
