"""butterfly_osm_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing semantics of butterfly-osm
(reference at /root/reference, Rust) as idiomatic PySpark: DataFrame/SQL
plans optimized by Catalyst/AQE, vectorized pandas/Arrow UDF kernels for
the genuinely custom geometry/raster/image work, and a parquet-backed
checkpoint table for per-stage lineage + resumable builds.

Subpackages
-----------
- ``cells``      — hierarchical integer grid cells (H3/S2-analog, res 0-13)
- ``geo``        — distance/bearing/projection column expressions
- ``codecs``     — minimal PNG (lossless) + QNT (lossy) image codecs, PSNR
- ``fixtures``   — deterministic synthetic spatial fixtures (seed 42)
- ``operators``  — extraction joins, PIP, kNN, tiling, raster, dedup, ANN, text
- ``checkpoint`` — per-stage per-file lineage + resume
"""

from . import zipcache as _zipcache

__version__ = "0.1.0"

# Python UDF tasks unpickle package functions, so this runs in every worker
_zipcache.install()
