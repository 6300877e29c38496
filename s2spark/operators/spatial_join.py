"""Point-in-polygon spatial join: the engine's headline operator.

Plan shape (SURVEY.md §3.3, reimagining S2EdgeIndex's range-scan join,
S2EdgeIndex.cs:327-603, as relational operators):

1. BUILD (driver-side, tiny): for each query polygon run the region coverer
   twice -> exterior covering (candidate generation) + interior covering
   (exact-test bypass, mirroring S2RegionCoverer.cs:312-329).  Emit a
   coverings table: (polygon_id, cell_id, level, is_interior).  Coverings
   are <= max_cells per polygon -> always broadcastable.

2. PROBE (distributed, one pass): points carry a leaf cell_id.  For the
   small set of distinct covering levels L1..Lk, generate each point's
   ancestors at those levels (pure bit ops) and explode -> equi-join
   ancestor == covering.cell_id.  This is a broadcast HASH join (never a
   nested-loop range join), so the probe scales linearly and Catalyst can
   still prune scans.

3. REFINE: matches on interior cells are accepted outright; matches on
   exterior cells run the exact crossing-parity kernel (Arrow-batched,
   polygon vertices broadcast).  The refine fraction is the covering's
   skin, a few % of candidates for max_cells=8.

Skew: a pre-aggregated per-cell match count drives optional salting of hot
covering cells; AQE skew-join handles residual imbalance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions import columns as C
from ..kernel import cellid as ci
from ..kernel.cellunion import normalize
from ..kernel.coverer import RegionCoverer
from ..kernel.loops import Loop, Polygon
from ..plans import covercache

# Skin refinement depth: straddling cells are split this many levels below
# the coverer's output before the remainder becomes exact-test skin.
SKIN_REFINE_LEVELS = 3

# perfbench/workloads.py:cold_coverings clears this to force cold coverings.
_COVERING_CACHE = covercache._MEMO


def cell_rows(cells) -> list[tuple[int, int]]:
    """(signed cell id, level) rows for an array of raw uint64 cell ids."""
    cells = np.asarray(cells, dtype=np.uint64)
    return list(zip(ci.to_signed(cells).tolist(), ci.level_of(cells).tolist()))


def polygon_key(poly: Polygon) -> tuple:
    """A polygon's part of a covering cache key: vertex bytes per loop and
    loop depths, kept per loop so different loop splits stay distinct."""
    return (tuple(lp.vertices.tobytes() for lp in poly.loops),
            tuple(lp.depth for lp in poly.loops))


def skin_covering(poly: Polygon, max_cells: int = 64) -> list:
    """Disjoint [signed cell id, level, is_interior] rows for one polygon:
    the interior covering I (accept fast, mirroring the coverer's interior
    fast-accept, S2RegionCoverer.cs:312-329) plus the skin E \\ I
    (exact-test cells), where E is the exterior covering.  Cached in
    plans.covercache."""
    def compute():
        # Level-synchronous refinement: classify the whole frontier with
        # ONE batched relate call per level (numpy amortizes), then split
        # only the straddlers.  The final straddler set is the skin.
        frontier = normalize(RegionCoverer(max_cells=max_cells).get_covering(poly))
        interior, skin = frontier[:0], frontier[:0]
        for depth in range(SKIN_REFINE_LEVELS + 1):
            if len(frontier) == 0:
                break
            may, cont = poly.relate_cells(frontier)
            interior = np.concatenate([interior, frontier[cont]])
            straddle = frontier[may & ~cont]
            leaf = ci.level_of(straddle) >= 30
            skin = np.concatenate([skin, straddle[leaf]])
            if depth == SKIN_REFINE_LEVELS:
                skin = np.concatenate([skin, straddle[~leaf]])
                break
            frontier = ci.children(straddle[~leaf]).reshape(-1)
        return ([(s, lv, True) for s, lv in cell_rows(interior)]
                + [(s, lv, False) for s, lv in cell_rows(skin)])
    return covercache.cached_rows(("skin", *polygon_key(poly), max_cells),
                                  compute)


def build_coverings(polygons: dict[int, Polygon],
                    max_cells: int = 64) -> pd.DataFrame:
    """Per-polygon skin coverings as one table (polygon_id, cov_cell_id,
    cov_level, is_interior).

    Disjointness means a point matches AT MOST ONE covering cell per
    polygon -> the probe join needs no dedup shuffle, and only skin matches
    pay the exact parity kernel.  max_cells defaults higher than the
    reference's 8: covering size only costs broadcast bytes here, while a
    finer covering shrinks the skin."""
    rows = [(pid, *row) for pid, poly in polygons.items()
            for row in skin_covering(poly, max_cells)]
    return pd.DataFrame(rows, columns=["polygon_id", "cov_cell_id", "cov_level", "is_interior"])


def covering_probe_join(points: DataFrame, cov: DataFrame, levels,
                        cell_col: str = "cell_id",
                        cov_cell: str = "cov_cell_id") -> DataFrame:
    """Broadcast equi-join of `points` with covering table `cov`: each
    point explodes to its ancestor at every distinct covering level in
    `levels` (pure bit ops, <= ~10 keys), and ancestor == `cov_cell`
    matches (range containment by a level-L cell is ancestor equality, so
    no nested-loop range join).  The probe key, `cov_cell` and cov_level
    are dropped; the caller applies its own residual."""
    keys = F.array(*[C.parent_for_level(F.col(cell_col), int(lv))
                     for lv in sorted(set(levels))])
    probed = points.withColumn("probe_cell", F.explode(keys))
    return (probed.join(F.broadcast(cov), probed["probe_cell"] == cov[cov_cell])
            .drop("probe_cell", cov_cell, "cov_level"))


def _make_contains_udf(spark: SparkSession, polygons: dict[int, Polygon]):
    """Pandas UDF (polygon_id, x, y, z) -> bool, vectorized per polygon
    group inside each Arrow batch; polygon vertices ride a broadcast.

    Null x marks a row that must NOT be refined (interior fast-accept) —
    the UDF skips it for free, which lets the caller run one single pass
    instead of splitting interior/exterior branches (each branch would
    re-evaluate the whole upstream pipeline).

    The reconstructed Polygon objects live in closure state shared by all
    Arrow batches of a task (construction computes loop bounds + origin
    parity, so per-batch rebuilds would dominate)."""
    spec = {int(pid): [(lp.vertices, lp.depth) for lp in poly.loops]
            for pid, poly in polygons.items()}
    bc = spark.sparkContext.broadcast(spec)
    state: dict[int, Polygon] = {}

    @F.pandas_udf(BooleanType())
    def polygon_contains(pid: pd.Series, x: pd.Series, y: pd.Series,
                         z: pd.Series) -> pd.Series:
        if not state:
            for p, loops_spec in bc.value.items():
                state[int(p)] = Polygon([Loop(v, depth=d) for v, d in loops_spec])
        out = np.zeros(len(pid), dtype=bool)
        valid = x.notna().to_numpy()
        if not valid.any():
            return pd.Series(out)
        xs = x.to_numpy(np.float64)
        ys = y.to_numpy(np.float64)
        zs = z.to_numpy(np.float64)
        pids = pid.to_numpy(np.int64)
        for p in np.unique(pids[valid]):
            m = valid & (pids == p)
            out[m] = state[int(p)].contains_points(xs[m], ys[m], zs[m])
        return pd.Series(out)

    return polygon_contains


def spatial_join(spark: SparkSession, points: DataFrame,
                 polygons: dict[int, Polygon], max_cells: int = 64,
                 cell_col: str = "cell_id") -> DataFrame:
    """points (with leaf `cell_col` and x,y,z unit-vector columns) ->
    rows augmented with polygon_id for every containing polygon.

    Zero-shuffle plan: the covering side is broadcast; the probe explodes
    each point to one ancestor key per distinct covering level (<= ~10
    keys) and hash-joins; covering disjointness guarantees <= 1 match per
    (point, polygon), so no dedup aggregation is needed.  The exact parity
    kernel runs ONLY on exterior-cell matches (a filter on the match, not
    an OR the optimizer might evaluate eagerly)."""
    cov_pdf = build_coverings(polygons, max_cells=max_cells)
    joined = covering_probe_join(points, spark.createDataFrame(cov_pdf),
                                 cov_pdf["cov_level"], cell_col)

    contains_udf = _make_contains_udf(spark, polygons)
    # single pass: interior rows feed the UDF nulls (skipped for free),
    # exterior rows get the exact parity kernel; no branch re-evaluation
    masked = F.when(~F.col("is_interior"), F.col("x"))
    keep = F.col("is_interior") | contains_udf(
        F.col("polygon_id"), masked, F.col("y"), F.col("z"))
    return joined.where(keep).drop("is_interior")


def points_with_cells(pages_geo: DataFrame, lat_col: str = "lat",
                      lng_col: str = "lng") -> DataFrame:
    """Attach leaf cell_id (JVM expression) + unit-vector columns (needed by
    the exact refine kernel) to a mined geo table."""
    # keep_xyz reuses the unit vectors computed inside the encode — same
    # expressions (bit-identical), no recomputation, no extra plan nodes
    return C.with_cell_id(pages_geo, lat_col, lng_col, out="cell_id",
                          keep_xyz=True)
