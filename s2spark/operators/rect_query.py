"""Rectangle (lat/lng bounding-box) queries — the fully-JVM spatial filter.

Unlike polygon containment (which needs the crossing-parity kernel for its
exact residual), a rect's residual predicate is pure Column arithmetic
(lat BETWEEN + wrap-aware lng), so the entire query plan — covering join
plus exact filter — runs inside whole-stage codegen with zero Python.

Coverings come from the exact RectRegion coverer (curved-lat-edge aware,
kernel/rect_region.py), so the coarse phase prunes like the polygon join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel.coverer import RegionCoverer
from ..kernel.rect_region import RectRegion
from ..plans import covercache
from .spatial_join import cell_rows, covering_probe_join


def rect_coverings(rects: dict[int, tuple[float, float, float, float]],
                   max_cells: int = 32) -> pd.DataFrame:
    """rects: id -> (lat_lo, lng_lo, lat_hi, lng_hi) degrees.

    Cached per rect in plans.covercache: a covering is a pure function of
    (rect, max_cells) — serial driver work the query shouldn't repay on
    every construction."""
    cov = RegionCoverer(max_cells=max_cells)
    rows = []
    for rid, rect in rects.items():
        cells = covercache.cached_rows(
            ("rect", tuple(map(float, rect)), max_cells),
            lambda: cell_rows(cov.get_covering(RectRegion.from_degrees(*rect))))
        rows.extend((rid, cell, lvl) for cell, lvl in cells)
    return pd.DataFrame(rows, columns=["rect_id", "cov_cell_id", "cov_level"])


def rect_query(spark: SparkSession, points: DataFrame,
               rects: dict[int, tuple[float, float, float, float]],
               cell_col: str = "cell_id", lat_col: str = "lat",
               lng_col: str = "lng") -> DataFrame:
    """points (with leaf cell ids + lat/lng degrees) -> rows x rect_id for
    every containing rectangle.  Coarse covering join + exact JVM residual."""
    cov_pdf = rect_coverings(rects)
    bounds = spark.createDataFrame(
        [(rid, *map(float, b)) for rid, b in rects.items()],
        "rect_id int, lat_lo double, lng_lo double, lat_hi double, lng_hi double")
    # coverings are normalized (disjoint) per rect -> at most one match per
    # (point, rect): no dedup shuffle needed
    joined = (covering_probe_join(points, spark.createDataFrame(cov_pdf),
                                  cov_pdf["cov_level"], cell_col)
              .join(F.broadcast(bounds), "rect_id"))

    lat = F.col(lat_col).cast("double")
    lng = F.col(lng_col).cast("double")
    lat_ok = lat.between(F.col("lat_lo"), F.col("lat_hi"))
    # wrap-aware longitude: lo <= hi is a plain interval; lo > hi wraps 180
    lng_ok = (F.when(F.col("lng_lo") <= F.col("lng_hi"),
                     lng.between(F.col("lng_lo"), F.col("lng_hi")))
              .otherwise((lng >= F.col("lng_lo")) | (lng <= F.col("lng_hi"))))
    return (joined.where(lat_ok & lng_ok)
            .drop("lat_lo", "lng_lo", "lat_hi", "lng_hi"))
