"""Edge-edge crossing join: the reference's S2EdgeIndex as a hash join.

The reference builds a quad-tree of (cell, edge) pairs — each edge covered
at a level where cell width ~ edge length — and answers "which edges may
cross this edge" with ancestor probes + range scans
(S2EdgeIndex.cs:327-603).  Relationally, per-edge levels map to an
asymmetric index/probe hash join:

  * LEVEL SET — the per-edge ideal level (MIN_WIDTH.get_max_level of the
    edge's arc length, S2EdgeIndex.cs:327-366) is quantized onto a
    BOUNDED set S of at most MAX_LEVELS levels spanning
    [fit(longest edge), fit(shortest edge)], so the ancestor fan-out per
    edge stays O(|S|) regardless of length spread.  Each edge snaps DOWN
    to the finest S-level no finer than its own fit (the coarsest S level
    is the fit of the longest edge, so a snap level always exists).
  * INDEX cells — the cells of the 9-cell Moore neighborhood of the
    edge start's ancestor at the snapped level THAT THE EDGE ACTUALLY
    INTERSECTS.  A geodesic no longer than a cell width starting in C
    stays inside C and its ring, so the ring is a superset of the
    intersected cells; each ring cell is then kept only if the edge
    meets its padded UV rectangle under gnomonic projection (great
    circles project to straight lines, so the test is a vectorized
    2-D segment-vs-rect clip — the same face-clip idea as the
    reference's S2EdgeUtil edge clipping).  Any crossing point of two
    edges lies in a cell BOTH edges intersect, so both sides indexing
    exactly their intersected cells keeps candidate generation
    COMPLETE while shrinking the same-level partner zone from the
    Chebyshev-2 (5x5-cell) ring-overlap neighborhood to true cell
    co-occupancy.  The filter is conservative: endpoint-containing
    cells are kept by exact integer parent equality, the rect is
    padded (1e-12 UV ~ 1000x the projection's rounding error, still
    <0.1% of a leaf cell), and cells whose face hemisphere the
    projection cannot safely host fall back to kept.
  * PROBE cells — the index cells plus their ancestors at every coarser
    S level (deduplicated; coarse ancestors of a 9-ring collapse to 1-4
    cells).
  * JOIN — probe(A) |><| index(B) UNION index(A) |><| ancestors(B) on
    cell equality.  Branch 1 finds every pair with level(b) <= level(a)
    (a's probe set includes ancestors at b's level, and same-level pairs
    meet own-to-own); branch 2 finds the strictly-finer-b remainder,
    where b's probe-only ancestor at level(a) equals one of a's index
    cells.
    Indexing each side only at its OWN level is what keeps coarse
    buckets linear: a level-0 bucket holds the few genuinely long edges
    plus fine edges' probe ancestors, never fine x fine pairs — the
    all-pairs blowup a single dataset-global coarse level would cause
    when one transcontinental edge meets a corpus of street-level edges.

Scale shape: one shuffle-free explode per side, two hash joins on
uniform cell keys (each linear in candidates), Arrow-batched exact
refine on candidates only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, LongType, StructField,
                               StructType)

from ..kernel import cellid as ci
from ..kernel import metrics
from ..kernel.loops import robust_crossing_batch

EDGE_COLS = ("ax", "ay", "az", "bx", "by", "bz")
# Size of the level set S (module docstring): the per-edge ancestor fan-out.
MAX_LEVELS = 4

def _edge_angle():
    # built lazily: Column construction needs a live SparkContext, and
    # executors import this module to unpickle the cell UDF
    return F.acos(F.greatest(F.lit(-1.0), F.least(
        F.lit(1.0),
        F.col("ax") * F.col("bx") + F.col("ay") * F.col("by")
        + F.col("az") * F.col("bz"))))


def _fit_levels(ax, ay, az, bx, by, bz) -> np.ndarray:
    """Vectorized MIN_WIDTH.get_max_level of each edge's arc length
    (the reference's per-edge ideal level, S2EdgeIndex.cs:327-366)."""
    dot = np.clip(ax * bx + ay * by + az * bz, -1.0, 1.0)
    ang = np.arccos(dot)
    val = 2.0 * metrics.MIN_WIDTH.deriv / np.maximum(ang, 1e-300)
    exps = np.frexp(val)[1]          # IEEE exponent + 1 == S2.Exp
    lv = np.where(ang <= 0, ci.MAX_LEVEL, exps - 1)
    return np.clip(lv, 0, ci.MAX_LEVEL).astype(np.int64)


def _level_set(edges_a: DataFrame, edges_b: DataFrame) -> tuple[int, ...]:
    """Bounded ascending level set S chosen from the FIT-LEVEL HISTOGRAM.

    Snapping an edge k levels below its fit covers it with cells 2^k
    wider than needed — collision candidates grow ~4^k — so S must sit
    where the mass is, not spread evenly over the range (a single
    near-zero-length edge would otherwise drag a linspace level set away
    from the bulk).  The histogram is one tiny agg per side (<= 31 rows,
    independent of row count); the coarsest fit level is always included
    (every edge needs a snap level <= its fit), and the remaining
    MAX_LEVELS-1 levels minimize the count-weighted total coarsening
    sum(cnt[l] * (l - snap(l))) by exhaustive search over present levels
    (<= C(30, 3) combos, driver-side)."""
    # fit level as a Column: get_max_level == IEEE_exponent(val) - 1 ==
    # floor(log2(val)) for dim-1 metrics (metrics.py: Metric.get_max_level)
    val = 2.0 * metrics.MIN_WIDTH.deriv / F.greatest(_edge_angle(),
                                                     F.lit(1e-300))
    lvl = F.greatest(F.lit(0), F.least(F.lit(ci.MAX_LEVEL),
                                       F.floor(F.log2(val)))).alias("lvl")
    counts: dict[int, int] = {}
    max_ang = 0.0
    # ONE Spark job for both sides (they were two until round 5 — each
    # re-evaluated its trig-heavy edge subtree and paid job overhead
    # separately, ~9 s of the flagship query's latency at sf0.1); a
    # self-join (same DataFrame object both sides) scans once — doubling
    # its counts would rescale the cost function linearly, leaving the
    # level-set argmin unchanged
    per_side = edges_a.select(lvl, _edge_angle().alias("ang"))
    if edges_b is not edges_a:
        per_side = per_side.unionByName(
            edges_b.select(lvl, _edge_angle().alias("ang")))
    rows = (per_side.groupBy("lvl")
            .agg(F.count(F.lit(1)).alias("cnt"), F.max("ang").alias("mx"))
            .collect())
    for r in rows:
        counts[int(r["lvl"])] = counts.get(int(r["lvl"]), 0) + int(r["cnt"])
        max_ang = max(max_ang, float(r["mx"]))
    if not counts:
        return (0,)                       # both sides empty
    # the Column-side floor(log2(...)) above can disagree with the UDF's
    # exact frexp by one level at power-of-two boundaries; anchor the
    # coarsest level with the exact computation, inflated one part in
    # 10^9 so any ULP divergence rounds COARSER (safe: snap level must be
    # <= every edge's true fit or its 9-ring covering is incomplete)
    lo_exact = max(0, min(ci.MAX_LEVEL,
                          metrics.MIN_WIDTH.get_max_level(
                              max(max_ang, 1e-300) * (1 + 1e-9))))
    counts.setdefault(lo_exact, 0)
    present = sorted(counts)
    lo = min(present)
    if len(present) <= MAX_LEVELS:
        return tuple(present)

    def cost(chosen: tuple[int, ...]) -> int:
        total = 0
        for lv, cnt in counts.items():
            snap = max(c for c in chosen if c <= lv)
            total += cnt * (lv - snap)
        return total

    from itertools import combinations
    best, best_cost = (lo,), cost((lo,))
    for extra in combinations([p for p in present if p != lo],
                              MAX_LEVELS - 1):
        ch = (lo,) + extra
        c = cost(ch)
        if c < best_cost:
            best, best_cost = ch, c
    return tuple(sorted(best))


# UV-rect padding for the touch filter: ~1000x the float64 rounding error
# of the gnomonic projection / st_to_uv arithmetic (both O(1e-16) on O(1)
# coordinates), yet <0.1% of even a LEAF cell's UV width (2/2^30 ~ 1.9e-9),
# so over-inclusion is a handful of grazing cells, never a blowup.
_CLIP_PAD = 1e-12
# minimum dot(endpoint, face normal) for the gnomonic projection onto that
# face to be used; below it the cell is conservatively kept instead.  0.1
# bounds |u|,|v| <= 10 so fp error stays ~1e-15 (well under _CLIP_PAD); a
# ring cell's edge sits within ~1.5 cell widths of the cell's own face
# (where w >= 1/sqrt(3)), so w < 0.1 only occurs at the coarsest levels,
# where keeping the few cells outright is cheap.
_MIN_W = 0.1


def _cells_touched(cells: np.ndarray, lv: int,
                   sx, sy, sz, ex, ey, ez,
                   end_parent: np.ndarray) -> np.ndarray:
    """Conservative per-(edge, cell) test: does the geodesic (s -> e)
    intersect the level-`lv` cell?  `cells` is (k, 9) uint64 ring cells
    for k edges; returns a (k, 9) bool mask that is True for every truly
    intersected cell (and possibly a few grazing extras).

    Central (gnomonic) projection onto each cell's face maps great
    circles to straight lines, so the arc becomes the 2-D segment
    between the projected endpoints and the cell a padded axis-aligned
    UV rectangle: a Liang-Barsky slab test decides intersection.  Valid
    whenever both endpoints lie strictly inside the face's open
    hemisphere (the minor arc then stays inside it and the projection
    is a bijection); otherwise — and for cells containing an endpoint,
    where no projection is needed — the cell is kept outright."""
    shape = cells.shape
    flat = cells.reshape(-1)
    face = (flat >> np.uint64(ci.POS_BITS)).astype(np.int64)

    # endpoint-containing cells: exact integer containment, no fp at all
    keep = (cells == cells[:, :1]) | (cells == end_parent[:, None])

    # per-face w = dot(p, face_normal); face normals are +-axis vectors
    def w_of(face_arr, px, py, pz):
        comp = np.select([face_arr % 3 == 0, face_arr % 3 == 1],
                         [px, py], default=pz)
        return np.where(face_arr >= 3, -comp, comp)

    sxf, syf, szf = (np.broadcast_to(a[:, None], shape).reshape(-1)
                     for a in (sx, sy, sz))
    exf, eyf, ezf = (np.broadcast_to(a[:, None], shape).reshape(-1)
                     for a in (ex, ey, ez))
    w0 = w_of(face, sxf, syf, szf)
    w1 = w_of(face, exf, eyf, ezf)
    unsafe = (w0 <= _MIN_W) | (w1 <= _MIN_W)

    u0, v0 = ci.valid_face_xyz_to_uv(face, sxf, syf, szf)
    u1, v1 = ci.valid_face_xyz_to_uv(face, exf, eyf, ezf)

    # cell UV bounds from the leaf (i, j) of the cell center
    _, i, j = ci.to_face_ij_orientation(flat)
    size = np.int64(1) << np.int64(ci.MAX_LEVEL - lv)
    half = float(ci.MAX_SIZE // 2)
    i_lo = i & ~(size - 1)
    j_lo = j & ~(size - 1)
    u_lo = ci.st_to_uv(i_lo / half - 1.0) - _CLIP_PAD
    u_hi = ci.st_to_uv((i_lo + size) / half - 1.0) + _CLIP_PAD
    v_lo = ci.st_to_uv(j_lo / half - 1.0) - _CLIP_PAD
    v_hi = ci.st_to_uv((j_lo + size) / half - 1.0) + _CLIP_PAD

    def slab(p0, p1, lo, hi):
        d = p1 - p0
        with np.errstate(divide="ignore", invalid="ignore"):
            ta = (lo - p0) / d
            tb = (hi - p0) / d
        tmin = np.minimum(ta, tb)
        tmax = np.maximum(ta, tb)
        inside = (p0 >= lo) & (p0 <= hi)
        par = d == 0
        tmin = np.where(par, np.where(inside, -np.inf, np.inf), tmin)
        tmax = np.where(par, np.where(inside, np.inf, -np.inf), tmax)
        return tmin, tmax

    tminu, tmaxu = slab(u0, u1, u_lo, u_hi)
    tminv, tmaxv = slab(v0, v1, v_lo, v_hi)
    tmin = np.maximum(np.maximum(tminu, tminv), 0.0)
    tmax = np.minimum(np.minimum(tmaxu, tmaxv), 1.0)
    hit = tmin <= tmax

    return keep | (unsafe | hit).reshape(shape)


def _edge_cells_udf(levels: tuple[int, ...]):
    """Pandas UDF: per edge, array of (cell, own) — `own` marks the
    9-ring at the edge's snapped level (index cells); the rest are
    ancestors at coarser S levels (probe-only cells)."""
    lv_arr = np.array(levels, dtype=np.int64)

    @F.pandas_udf(ArrayType(StructType([
        StructField("cell", LongType()), StructField("own", BooleanType())])))
    def edge_cells(ax: pd.Series, ay: pd.Series, az: pd.Series,
                   bx: pd.Series, by: pd.Series, bz: pd.Series) -> pd.Series:
        n = len(ax)
        if n == 0:
            return pd.Series([], dtype=object)
        x, y, z = (s.to_numpy(np.float64) for s in (ax, ay, az))
        xe, ye, ze = (s.to_numpy(np.float64) for s in (bx, by, bz))
        fit = _fit_levels(x, y, z, xe, ye, ze)
        # snap DOWN to the finest S level <= fit; S[0] <= every fit
        snap_idx = np.maximum(
            np.searchsorted(lv_arr, fit, side="right") - 1, 0)
        leaf = ci.from_point(x, y, z)
        leaf_e = ci.from_point(xe, ye, ze)
        out = [None] * n
        # edges LONGER than the level-0 min cell width break the ring
        # containment guarantee (they clip to fit 0 but can extend past
        # the start face's Moore ring — e.g. a 160-degree edge reaches
        # the antipodal face, which is never among the start's
        # neighbors, silently dropping crossings on it).  Such edges
        # index ALL six faces as own cells: complete by construction,
        # and real corpora have vanishingly few >=54-degree edges, so
        # the extra candidates are noise.
        # only sound when level 0 is in S, so the other side's probe
        # ancestors reach the faces; a too-long edge in the histogram
        # forces the exact coarsest-level anchor to 0, so this holds, and
        # the gate keeps the ring path should S ever lack level 0
        dot_se = np.clip(x * xe + y * ye + z * ze, -1.0, 1.0)
        too_long = (lv_arr[0] == 0) & (
            np.arccos(dot_se) > 2.0 * metrics.MIN_WIDTH.deriv)
        if too_long.any():
            faces6 = ci.to_signed(
                ci.from_face_pos_level(np.arange(6), 0, 0))
            row6 = [(int(c), True) for c in faces6]
            for oi in np.nonzero(too_long)[0]:
                out[oi] = list(row6)
            snap_idx = np.where(too_long, -1, snap_idx)  # skip ring path
        for li in range(len(lv_arr)):
            m = snap_idx == li
            if not m.any():
                continue
            lv = int(lv_arr[li])
            parents = ci.parent_for_level(leaf[m], lv)
            nbrs, valid = ci.get_all_neighbors(parents, lv)
            cells = np.concatenate([parents[:, None], nbrs], axis=1)
            vmask = np.concatenate(
                [np.ones((len(parents), 1), dtype=bool), valid], axis=1)
            # keep only ring cells the edge actually intersects (module
            # docstring INDEX cells): everything downstream — own cells,
            # coarser probe ancestors — derives from the touched set
            vmask &= _cells_touched(
                cells, lv, x[m], y[m], z[m], xe[m], ye[m], ze[m],
                ci.parent_for_level(leaf_e[m], lv))
            tiers = [cells]
            for lc in lv_arr[:li]:        # ancestors at coarser S levels
                tiers.append(ci.parent_for_level(cells.reshape(-1),
                                                 int(lc)).reshape(cells.shape))
            signed = [ci.to_signed(t.reshape(-1)).reshape(t.shape)
                      for t in tiers]
            for r, oi in enumerate(np.nonzero(m)[0]):
                vm = vmask[r]
                row = {int(c): True for c in signed[0][r][vm]}
                for t in signed[1:]:
                    for c in t[r][vm]:
                        row.setdefault(int(c), False)
                out[oi] = [(c, own) for c, own in row.items()]
        return pd.Series(out)

    return edge_cells


def _candidates(edges_a: DataFrame, edges_b: DataFrame,
                key_a: str, key_b: str) -> DataFrame:
    """Distinct candidate (key_a, key_b) pairs with both edges' endpoint
    columns (a_ax..a_bz, b_ax..b_bz), BEFORE the exact refine.

    Constructing this runs one small Spark job (the fit-level histogram
    in _level_set, both sides in one job): the level set parameterizes
    the cell UDF.  The cell explode is a LAZY localCheckpoint, so
    explain()/plan audits on the result run nothing more."""
    cells_udf = _edge_cells_udf(_level_set(edges_a, edges_b))

    def keyed(df: DataFrame, keys: list[str]) -> DataFrame:
        cells = cells_udf(*[F.col(c) for c in EDGE_COLS])
        return df.select(
            *[F.col(k) for k in keys], *[F.col(c) for c in EDGE_COLS],
            F.explode(cells).alias("c")).select(
            *keys, *EDGE_COLS,
            F.col("c.cell").alias("cell"), F.col("c.own").alias("own"))

    def view(ck: DataFrame, key: str, prefix: str) -> DataFrame:
        return ck.select(
            key, *[F.col(c).alias(prefix + c) for c in EDGE_COLS],
            "cell", "own")

    # each keyed side feeds BOTH join branches (as probe in one, index in
    # the other): checkpoint once instead of re-running the cell UDF +
    # explode per branch.  LAZY so plan-only consumers (explain, audits)
    # trigger no jobs; it materializes with the caller's first action and
    # both branches then read the stored blocks.  Tradeoff: localCheckpoint
    # discards lineage, so losing an executor mid-job (spot nodes, dynamic
    # deallocation) cannot recompute the lost blocks — on such clusters
    # prefer persist() + an unpersist hook, or reliable checkpointing to
    # shared storage; in exchange, blocks are freed by the ContextCleaner
    # when the result is dropped instead of pinning executor storage.
    if edges_a is edges_b:
        ck = keyed(edges_a, [key_a, key_b]).localCheckpoint(eager=False)
        a = view(ck, key_a, "a_")
        b = view(ck, key_b, "b_")
    else:
        a = view(keyed(edges_a, [key_a]).localCheckpoint(eager=False),
                 key_a, "a_")
        b = view(keyed(edges_b, [key_b]).localCheckpoint(eager=False),
                 key_b, "b_")
    # probe(A) |><| index(B)  UNION  index(A) |><| ancestors(B): branch 1
    # covers every pair with level(b) <= level(a) (a probes ancestors at
    # all coarser S levels incl. b's, and same-level own-cells meet
    # directly); branch 2 covers the strictly-finer-b remainder through
    # b's NON-own ancestor cells — excluding b's own cells there keeps
    # same-level pairs out of the second branch entirely, so the union
    # carries no systematic duplicates into the dedup.
    cols = [key_a, key_b] + ["a_" + c for c in EDGE_COLS] \
        + ["b_" + c for c in EDGE_COLS]
    return (a.drop("own").join(b.where(F.col("own")).drop("own"), "cell")
            .select(*cols)
            .unionByName(
                a.where(F.col("own")).drop("own")
                .join(b.where(~F.col("own")).drop("own"), "cell")
                .select(*cols))
            .dropDuplicates([key_a, key_b]))


def edge_crossing_join(edges_a: DataFrame, edges_b: DataFrame,
                       key_a: str = "edge_a", key_b: str = "edge_b") -> DataFrame:
    """All (edge_a, edge_b) pairs whose geodesic edges properly cross
    (RobustCrossing > 0; S2EdgeUtil.cs:85-123).

    Inputs carry unit-vector endpoint columns ax..bz plus a key column.
    Each edge indexes at its own quantized fitting level (at most
    MAX_LEVELS distinct levels — see module docstring); the candidates
    are complete for every edge length, since edges longer than the
    level-0 min width index all six faces outright.

    SELF-JOIN FAST PATH: passing the SAME DataFrame object as both
    `edges_a` and `edges_b` (it must then carry BOTH key columns) runs
    the fit-level histogram, the cell UDF, and the explode ONCE and
    shares the checkpoint between the two sides — at sf0.1 this halves
    the flagship self-join's heavy phase.  Construction runs one small
    histogram job (see _candidates).
    """
    cand = _candidates(edges_a, edges_b, key_a, key_b)

    @F.pandas_udf(BooleanType())
    def crosses(aax: pd.Series, aay: pd.Series, aaz: pd.Series,
                abx: pd.Series, aby: pd.Series, abz: pd.Series,
                bax: pd.Series, bay: pd.Series, baz: pd.Series,
                bbx: pd.Series, bby: pd.Series, bbz: pd.Series) -> pd.Series:
        if len(aax) == 0:
            return pd.Series([], dtype=bool)
        rc = robust_crossing_batch(
            aax.to_numpy(np.float64), aay.to_numpy(np.float64), aaz.to_numpy(np.float64),
            abx.to_numpy(np.float64), aby.to_numpy(np.float64), abz.to_numpy(np.float64),
            bax.to_numpy(np.float64), bay.to_numpy(np.float64), baz.to_numpy(np.float64),
            bbx.to_numpy(np.float64), bby.to_numpy(np.float64), bbz.to_numpy(np.float64))
        return pd.Series(rc > 0)

    return (cand.where(crosses(*[F.col("a_" + c) for c in EDGE_COLS],
                               *[F.col("b_" + c) for c in EDGE_COLS]))
            .select(key_a, key_b))


def candidate_pairs(edges_a: DataFrame, edges_b: DataFrame,
                    key_a: str = "edge_a", key_b: str = "edge_b") -> DataFrame:
    """The operator's distinct candidate (key_a, key_b) pairs BEFORE the
    exact refine — exposed so tests can assert candidate-count bounds for
    mixed-length edge sets (the per-edge-level guarantee)."""
    return _candidates(edges_a, edges_b, key_a, key_b).select(key_a, key_b)
