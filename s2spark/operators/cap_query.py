"""Spherical-cap (radius) queries: all points within angle r of a center.

The S2-idiomatic radius filter: cover each cap with cells (exact cap-cell
predicates, kernel/cap.py), broadcast-hash-join points on ancestor keys,
then a pure-JVM haversine residual.  Contrast with knn.radius_join, which
buckets BOTH sides at a fixed level for query-table x data-table joins;
this operator is for a small literal set of query caps.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel.cap import Cap
from ..kernel.coverer import RegionCoverer
from ..plans import covercache
from ..plans.frames import local_frame
from .spatial_join import cell_rows, covering_probe_join


def cap_coverings(caps: dict[int, tuple[float, float, float]],
                  max_cells: int = 32) -> pd.DataFrame:
    """caps: id -> (lat_deg, lng_deg, radius_rad).

    Cached per cap in plans.covercache: a pure function of (cap,
    max_cells) — don't repay the coverer on every construction."""
    cov = RegionCoverer(max_cells=max_cells)

    def compute(lat, lng, radius):
        phi, theta = math.radians(lat), math.radians(lng)
        axis = (math.cos(phi) * math.cos(theta),
                math.cos(phi) * math.sin(theta), math.sin(phi))
        return cell_rows(cov.get_covering(Cap.from_axis_angle(axis, radius)))

    rows = []
    for cid, spec in caps.items():
        cells = covercache.cached_rows(("cap", tuple(map(float, spec)), max_cells),
                                       lambda: compute(*spec))
        rows.extend((cid, cell, lvl) for cell, lvl in cells)
    return pd.DataFrame(rows, columns=["cap_id", "cov_cell_id", "cov_level"])


def cap_query(spark: SparkSession, points: DataFrame,
              caps: dict[int, tuple[float, float, float]],
              cell_col: str = "cell_id", lat_col: str = "lat",
              lng_col: str = "lng") -> DataFrame:
    """points (leaf cell ids + lat/lng degrees) -> rows x cap_id for each
    containing cap, with distance_rad attached."""
    cov_pdf = cap_coverings(caps)
    centers = local_frame(
        spark,
        [(cid, float(b[0]), float(b[1]), float(b[2])) for cid, b in caps.items()],
        "cap_id int, c_lat double, c_lng double, radius double")
    cov = local_frame(spark, cov_pdf.itertuples(index=False, name=None),
                      "cap_id long, cov_cell_id long, cov_level long")
    joined = (covering_probe_join(points, cov, cov_pdf["cov_level"], cell_col)
              .join(F.broadcast(centers), "cap_id"))

    lat1 = F.radians(F.col(lat_col).cast("double"))
    lng1 = F.radians(F.col(lng_col).cast("double"))
    lat2 = F.radians(F.col("c_lat"))
    lng2 = F.radians(F.col("c_lng"))
    sdlat = F.sin((lat2 - lat1) / 2)
    sdlng = F.sin((lng2 - lng1) / 2)
    # explicit products (not pow) so the oracle SQL is bit-identical
    h = sdlat * sdlat + F.cos(lat1) * F.cos(lat2) * (sdlng * sdlng)
    dist = 2 * F.asin(F.sqrt(F.least(F.lit(1.0), h)))
    return (joined.withColumn("distance_rad", dist)
            .where(F.col("distance_rad") <= F.col("radius"))
            .drop("c_lat", "c_lng", "radius"))
