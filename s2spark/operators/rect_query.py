"""Rectangle (lat/lng bounding-box) queries — the fully-JVM spatial filter.

Unlike polygon containment (which needs the crossing-parity kernel for its
exact residual), a rect's residual predicate is pure Column arithmetic
(lat BETWEEN + wrap-aware lng), so the entire query plan — covering join
plus exact filter — runs inside whole-stage codegen with zero Python.  The
bounds are literals in one CASE chain over rect_id, so the covering table
is the plan's only broadcast.

Coverings come from the exact RectRegion coverer (curved-lat-edge aware,
kernel/rect_region.py), so the coarse phase prunes like the polygon join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import columns as C
from ..kernel.coverer import RegionCoverer
from ..kernel.rect_region import RectRegion
from ..plans import covercache
from .spatial_join import cell_rows, covering_probe_join

MAX_CELLS = 32


def rect_coverings(rects: dict[int, tuple[float, float, float, float]]
                   ) -> list[tuple]:
    """rects: id -> (lat_lo, lng_lo, lat_hi, lng_hi) degrees; returns
    (rect_id, cov_cell_id, cov_level) rows.

    Cached per rect in plans.covercache: a covering is a pure function of
    the rect — serial driver work the query shouldn't repay on every
    construction."""
    cov = RegionCoverer(max_cells=MAX_CELLS)
    return [(rid, cell, lvl) for rid, rect in rects.items()
            for cell, lvl in covercache.cached_rows(
                ("rect", tuple(map(float, rect))),
                lambda: cell_rows(cov.get_covering(RectRegion.from_degrees(*rect))))]


def rect_query(spark: SparkSession, points: DataFrame,
               rects: dict[int, tuple[float, float, float, float]]) -> DataFrame:
    """points (with leaf cell ids + lat/lng degrees) -> rows x rect_id for
    every containing rectangle.  Coarse covering join + exact JVM residual."""
    # coverings are normalized (disjoint) per rect -> at most one match per
    # (point, rect): no dedup shuffle needed
    joined = covering_probe_join(spark, points, rect_coverings(rects),
                                 "rect_id long, cov_cell_id long, cov_level long")
    lat = F.col("lat").cast("double")
    lng = F.col("lng").cast("double")

    def inside(lat_lo, lng_lo, lat_hi, lng_hi):
        # wrap-aware longitude: lo <= hi is a plain interval; lo > hi wraps 180
        lng_ok = (lng.between(lng_lo, lng_hi) if lng_lo <= lng_hi
                  else (lng >= lng_lo) | (lng <= lng_hi))
        return lat.between(lat_lo, lat_hi) & lng_ok

    return joined.where(C.case_by("rect_id", {
        rid: inside(*map(float, bounds))
        for rid, bounds in rects.items()}).cast("boolean"))
