"""Distance / bearing / projection primitives as portable expressions.

Three distance flavors, mirroring the reference exactly:

- **haversine** (great-circle metres) — edge lengths and reported kNN
  distances (reference route/src/nbg/mod.rs:31-42).
- **equirectangular fast distance** — the reference's cell-local metric
  with FIXED constants 111_000 m/deg lat, 71_400 m/deg lon
  (route/src/server/spatial.rs:226-230). Because the constants are fixed
  (no cos(lat) term) this is pure arithmetic on the fixed-point ints and
  therefore bit-identical across Spark, numpy and DuckDB — we use it as
  the RANKING metric for kNN so oracle comparisons are exact.
- **bearing** (route/src/nbg/mod.rs:45-57) for sector aggregations.

Each primitive exists as (a) a Spark Column expression, (b) a numpy
kernel, (c) a SQL string fragment valid in BOTH Spark SQL and DuckDB.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_R_M = 6_371_000.0  # reference nbg/mod.rs:33
M_PER_DEG_LAT = 111_000.0  # reference spatial.rs:226-230
M_PER_DEG_LON = 71_400.0
E7 = 10_000_000.0


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Equirectangular squared distance (EXACT cross-engine determinism)
# ---------------------------------------------------------------------------


def equirect_d2_col(lon1: Column | str, lat1: Column | str, lon2: Column | str, lat2: Column | str) -> Column:
    """Squared equirect distance in m^2 from fixed-point e7 coords.

    Evaluation order is fixed: (d_e7 * M_PER_DEG / 1e7) then square —
    the same order as the numpy kernel and the SQL fragment, so all three
    produce bit-identical IEEE doubles.
    """
    dlat = (_c(lat1).cast("long") - _c(lat2).cast("long")).cast("double") * F.lit(M_PER_DEG_LAT) / F.lit(E7)
    dlon = (_c(lon1).cast("long") - _c(lon2).cast("long")).cast("double") * F.lit(M_PER_DEG_LON) / F.lit(E7)
    return dlat * dlat + dlon * dlon


def equirect_d2_np(lon1: np.ndarray, lat1: np.ndarray, lon2: np.ndarray, lat2: np.ndarray) -> np.ndarray:
    dlat = (lat1.astype(np.int64) - lat2.astype(np.int64)).astype(np.float64) * M_PER_DEG_LAT / E7
    dlon = (lon1.astype(np.int64) - lon2.astype(np.int64)).astype(np.float64) * M_PER_DEG_LON / E7
    return dlat * dlat + dlon * dlon


def equirect_d2_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Valid in both Spark SQL and DuckDB (plain arithmetic only)."""
    dlat = f"(CAST(CAST({lat1} AS BIGINT) - CAST({lat2} AS BIGINT) AS DOUBLE) * {M_PER_DEG_LAT!r} / {E7!r})"
    dlon = f"(CAST(CAST({lon1} AS BIGINT) - CAST({lon2} AS BIGINT) AS DOUBLE) * {M_PER_DEG_LON!r} / {E7!r})"
    return f"({dlat} * {dlat} + {dlon} * {dlon})"


# ---------------------------------------------------------------------------
# Haversine (metres)
# ---------------------------------------------------------------------------


def haversine_m_col(lon1: Column | str, lat1: Column | str, lon2: Column | str, lat2: Column | str) -> Column:
    """Great-circle metres from fixed-point e7 coords — pure SQL functions,
    whole-stage-codegen'd (no UDF). Formula matches nbg/mod.rs:31-42."""
    rlat1 = F.radians(_c(lat1).cast("double") / F.lit(E7))
    rlat2 = F.radians(_c(lat2).cast("double") / F.lit(E7))
    dlat = rlat2 - rlat1
    dlon = F.radians((_c(lon2).cast("long") - _c(lon1).cast("long")).cast("double") / F.lit(E7))
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * EARTH_R_M) * F.asin(F.sqrt(a))


def haversine_m_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Same formula as SQL text; valid in Spark SQL and DuckDB."""
    rl1 = f"radians(CAST({lat1} AS DOUBLE) / {E7!r})"
    rl2 = f"radians(CAST({lat2} AS DOUBLE) / {E7!r})"
    dlat2 = f"(({rl2}) - ({rl1})) / 2"
    dlon2 = f"radians(CAST(CAST({lon2} AS BIGINT) - CAST({lon1} AS BIGINT) AS DOUBLE) / {E7!r}) / 2"
    a = f"(sin({dlat2}) * sin({dlat2}) + cos({rl1}) * cos({rl2}) * sin({dlon2}) * sin({dlon2}))"
    return f"({2.0 * EARTH_R_M!r} * asin(sqrt({a})))"


# ---------------------------------------------------------------------------
# Bearing (degrees 0-360, reference nbg/mod.rs:45-57)
# ---------------------------------------------------------------------------


def bearing_deg_col(lon1: Column | str, lat1: Column | str, lon2: Column | str, lat2: Column | str) -> Column:
    rlat1 = F.radians(_c(lat1).cast("double") / F.lit(E7))
    rlat2 = F.radians(_c(lat2).cast("double") / F.lit(E7))
    dlon = F.radians((_c(lon2).cast("long") - _c(lon1).cast("long")).cast("double") / F.lit(E7))
    y = F.sin(dlon) * F.cos(rlat2)
    x = F.cos(rlat1) * F.sin(rlat2) - F.sin(rlat1) * F.cos(rlat2) * F.cos(dlon)
    return (F.degrees(F.atan2(y, x)) + F.lit(360.0)) % F.lit(360.0)


def bearing_deg_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    rl1 = f"radians(CAST({lat1} AS DOUBLE) / {E7!r})"
    rl2 = f"radians(CAST({lat2} AS DOUBLE) / {E7!r})"
    dlon = f"radians(CAST(CAST({lon2} AS BIGINT) - CAST({lon1} AS BIGINT) AS DOUBLE) / {E7!r})"
    y = f"(sin({dlon}) * cos({rl2}))"
    x = f"(cos({rl1}) * sin({rl2}) - sin({rl1}) * cos({rl2}) * cos({dlon}))"
    return f"(degrees(atan2({y}, {x})) + 360.0) % 360.0"


# ---------------------------------------------------------------------------
# Web-Mercator (reference route/src/range/sparse_contour.rs:433-451)
# ---------------------------------------------------------------------------

MERC_R = 6_378_137.0


def mercator_np(lon_e7: np.ndarray, lat_e7: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lon = np.asarray(lon_e7, dtype=np.float64) / E7
    lat = np.asarray(lat_e7, dtype=np.float64) / E7
    mx = MERC_R * np.radians(lon)
    my = MERC_R * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
    return mx, my
