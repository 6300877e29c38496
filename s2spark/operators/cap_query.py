"""Spherical-cap (radius) queries: all points within angle r of a center.

The S2-idiomatic radius filter: cover each cap with cells (exact cap-cell
predicates, kernel/cap.py), broadcast-hash-join points on ancestor keys
(spatial_join.covering_probe_join), then a pure-JVM haversine residual
whose cap centres and radii are literals in one CASE chain over cap_id —
one broadcast table, one join.  Contrast with knn.radius_join, which
gives every query the same radius: it buckets the data side at the one
level that radius fixes and probes it with each query's <=4 vertex-
neighbour cells there, with no covering; this operator covers each cap
at its own levels, so caps of any radii share one join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import columns as C
from ..kernel.cap import Cap
from ..kernel.coverer import RegionCoverer
from ..plans import covercache
from .spatial_join import cell_rows, covering_probe_join

MAX_CELLS = 32


def cap_coverings(caps: dict[int, tuple[float, float, float]]) -> list[tuple]:
    """caps: id -> (lat_deg, lng_deg, radius_rad); returns (cap_id,
    cov_cell_id, cov_level) rows.

    Cached per cap in plans.covercache: a covering is a pure function of
    the cap — don't repay the coverer on every construction."""
    cov = RegionCoverer(max_cells=MAX_CELLS)

    def compute(lat, lng, radius):
        phi, theta = math.radians(lat), math.radians(lng)
        axis = (math.cos(phi) * math.cos(theta),
                math.cos(phi) * math.sin(theta), math.sin(phi))
        return cell_rows(cov.get_covering(Cap.from_axis_angle(axis, radius)))

    return [(cid, cell, lvl) for cid, spec in caps.items()
            for cell, lvl in covercache.cached_rows(
                ("cap", tuple(map(float, spec))), lambda: compute(*spec))]


def cap_query(spark: SparkSession, points: DataFrame,
              caps: dict[int, tuple[float, float, float]]) -> DataFrame:
    """points (leaf cell_id + lat/lng degrees) -> rows x cap_id for each
    containing cap, with distance_rad attached."""
    joined = covering_probe_join(spark, points, cap_coverings(caps),
                                 "cap_id long, cov_cell_id long, cov_level long")
    lat = F.radians(F.col("lat").cast("double"))
    lng = F.radians(F.col("lng").cast("double"))
    dist = C.case_by("cap_id", {
        cid: C.haversine(lat, lng, F.radians(F.lit(float(c_lat))),
                         F.radians(F.lit(float(c_lng))))
        for cid, (c_lat, c_lng, _) in caps.items()}).cast("double")
    radius = C.case_by("cap_id", {cid: F.lit(float(spec[2]))
                                  for cid, spec in caps.items()})
    return (joined.withColumn("distance_rad", dist)
            .where(F.col("distance_rad") <= radius))
