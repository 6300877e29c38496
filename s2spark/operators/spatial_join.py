"""Point-in-polygon spatial join: the engine's headline operator.

Plan shape (SURVEY.md §3.3, reimagining S2EdgeIndex's range-scan join,
S2EdgeIndex.cs:327-603, as relational operators):

1. BUILD (driver-side, tiny): for each query polygon run the region coverer
   twice -> exterior covering (candidate generation) + interior covering
   (exact-test bypass, mirroring S2RegionCoverer.cs:312-329).  Emit
   covering rows: (polygon_id, cov_cell_id, cov_level, is_interior).
   Coverings are small (a MAX_CELLS coverer budget, refined
   SKIN_REFINE_LEVELS deep) -> always broadcastable.

2. PROBE (distributed, one pass): points carry a leaf cell_id.  The
   distinct covering levels L1..Lk ride as one literal array; each point
   explodes to one row per level, and its ancestor at that level is bit
   ops on the level column (the same code for every level set) ->
   equi-join ancestor == covering.cell_id.  This is a broadcast HASH join
   (never a nested-loop range join), so the probe scales linearly and
   Catalyst can still prune scans.

3. REFINE: matches on interior cells are accepted outright; matches on
   exterior cells run the exact crossing-parity kernel (Arrow-batched,
   polygon vertices broadcast).  The refine fraction is the covering's
   skin, a few % of candidates.

Every covering operator (cap, rect, buffered, corridor, the containment
query) has this shape: cached covering rows go into `covering_probe_join`,
then an exact residual.  The salted shuffle variant for polygon sets too
large to broadcast is spatial_join_shuffle.py.
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
from ..plans.frames import local_frame

# Coverer budget for a polygon's exterior covering.  Higher than the
# reference's 8: covering size only costs broadcast bytes here, while a
# finer covering shrinks the skin.
MAX_CELLS = 64
# Skin refinement depth: straddling cells are split this many levels below
# the coverer's output before the remainder becomes exact-test skin.
SKIN_REFINE_LEVELS = 3

# The polygon covering table: build_coverings and the distributed build.
COVERING_SCHEMA = ("polygon_id long, cov_cell_id long, cov_level long, "
                   "is_interior boolean")

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


def skin_covering(poly: Polygon) -> list:
    """Disjoint [signed cell id, level, is_interior] rows for one polygon:
    the interior covering I (accept fast, mirroring the coverer's interior
    fast-accept, S2RegionCoverer.cs:312-329) plus the skin E \\ I
    (exact-test cells), where E is the exterior covering.  Cached in
    plans.covercache.  Raises ValueError on an invalid loop
    (Polygon.check_valid), whose covering would be silently wrong."""
    def compute():
        poly.check_valid()
        # Level-synchronous refinement: classify the whole frontier with
        # ONE batched relate call per level (numpy amortizes), then split
        # only the straddlers.  The final straddler set is the skin.
        frontier = normalize(RegionCoverer(max_cells=MAX_CELLS).get_covering(poly))
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
    return covercache.cached_rows(("skin", *polygon_key(poly)), compute)


def build_coverings(polygons: dict[int, Polygon]) -> pd.DataFrame:
    """Per-polygon skin coverings as one table (polygon_id, cov_cell_id,
    cov_level, is_interior).

    Disjointness means a point matches AT MOST ONE covering cell per
    polygon -> the probe join needs no dedup shuffle, and only skin matches
    pay the exact parity kernel."""
    rows = [(pid, *row) for pid, poly in polygons.items()
            for row in skin_covering(poly)]
    return pd.DataFrame(rows, columns=["polygon_id", "cov_cell_id", "cov_level", "is_interior"])


def covering_probe_join(spark: SparkSession, points: DataFrame, rows,
                        schema: str) -> DataFrame:
    """Broadcast equi-join of `points` (leaf `cell_id` column) with the
    covering rows `rows` of `schema`, which names the covering cell
    `cov_cell_id` and its level `cov_level`.  The rows become a
    LocalRelation; each point explodes to its ancestor at every distinct
    covering level (functions.columns.with_probe_cells: one literal level
    array, bit ops on the level column), and ancestor == cov_cell_id
    matches (range containment by a level-L cell is ancestor
    equality, so no nested-loop range join).  The probe key, cov_cell_id
    and cov_level are dropped; the caller applies its own residual."""
    rows = [tuple(r) for r in rows]
    cov = local_frame(spark, rows, schema)
    at = cov.columns.index("cov_level")
    probed = C.with_probe_cells(points, {r[at] for r in rows})
    return (probed.join(F.broadcast(cov), probed["probe_cell"] == cov["cov_cell_id"])
            .drop("probe_cell", "cov_cell_id", "cov_level"))


def refine_skin(spark: SparkSession, joined: DataFrame,
                polygons: dict[int, Polygon]) -> DataFrame:
    """Covering matches (polygon_id, is_interior, x, y, z) -> the matches
    inside their polygon, is_interior dropped: interior matches pass
    outright, skin matches run the exact parity kernel, a pandas UDF
    vectorized per polygon group inside each Arrow batch, with the polygon
    vertices on a broadcast.

    Null x marks a row that must NOT be refined (interior fast-accept) —
    the UDF skips it for free, so one single pass serves both kinds
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

    # single pass: interior rows feed the UDF nulls (skipped for free),
    # exterior rows get the exact parity kernel; no branch re-evaluation
    masked = F.when(~F.col("is_interior"), F.col("x"))
    keep = F.col("is_interior") | polygon_contains(
        F.col("polygon_id"), masked, F.col("y"), F.col("z"))
    return joined.where(keep).drop("is_interior")


def spatial_join(spark: SparkSession, points: DataFrame,
                 polygons: dict[int, Polygon]) -> DataFrame:
    """points (with leaf cell_id and x,y,z unit-vector columns) ->
    rows augmented with polygon_id for every containing polygon.

    Zero-shuffle plan: the covering side is broadcast; the probe explodes
    each point to one ancestor key per distinct covering level (<= ~10
    keys) and hash-joins; covering disjointness guarantees <= 1 match per
    (point, polygon), so no dedup aggregation is needed.  The exact parity
    kernel runs ONLY on exterior-cell matches (a filter on the match, not
    an OR the optimizer might evaluate eagerly)."""
    joined = covering_probe_join(
        spark, points,
        build_coverings(polygons).itertuples(index=False, name=None),
        COVERING_SCHEMA)
    return refine_skin(spark, joined, polygons)


def points_with_cells(pages_geo: DataFrame) -> DataFrame:
    """Attach leaf cell_id (JVM expression) + unit-vector columns (needed by
    the exact refine kernel) to a mined geo table of `lat`, `lng`."""
    # keep_xyz reuses the unit vectors computed inside the encode — same
    # expressions (bit-identical), no recomputation, no extra plan nodes
    return C.with_cell_id(pages_geo, "lat", "lng", keep_xyz=True)
