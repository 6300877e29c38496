"""Edge-edge crossing join: the reference's S2EdgeIndex as a hash join.

The reference builds a quad-tree of (cell, edge) pairs — each edge covered
at a level where cell width ~ edge length — and answers "which edges may
cross this edge" with ancestor probes + range scans
(S2EdgeIndex.cs:327-603).  Relationally, per-edge levels map to an
asymmetric index/probe hash join:

  * FIT LEVEL — each edge's level is its own ideal level,
    MIN_WIDTH.get_max_level of its arc length (S2EdgeIndex.cs:327-366).
    It depends on the edge alone, so neither side's cells depend on the
    other side.
  * INDEX cells — the cells of the 9-cell Moore neighborhood of the
    edge start's ancestor at the fit level THAT THE EDGE ACTUALLY
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
    level 0..fit-1 (deduplicated; coarse ancestors of a 9-ring collapse
    to 1-4 cells), the reference's ancestor probes.
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


def _fit_levels(ang: np.ndarray) -> np.ndarray:
    """Vectorized MIN_WIDTH.get_max_level of each edge's arc length
    (the reference's per-edge ideal level, S2EdgeIndex.cs:327-366)."""
    val = 2.0 * metrics.MIN_WIDTH.deriv / np.maximum(ang, 1e-300)
    exps = np.frexp(val)[1]          # IEEE exponent + 1 == S2.Exp
    lv = np.where(ang <= 0, ci.MAX_LEVEL, exps - 1)
    return np.clip(lv, 0, ci.MAX_LEVEL).astype(np.int64)


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


# level-0 faces: the own cells of an edge longer than a face (_edge_cells)
_FACES = [int(c) for c in
          ci.to_signed(ci.from_face_pos_level(np.arange(6), 0, 0))]


@F.pandas_udf(ArrayType(StructType([
    StructField("cell", LongType()), StructField("own", BooleanType())])))
def _edge_cells(ax: pd.Series, ay: pd.Series, az: pd.Series,
                bx: pd.Series, by: pd.Series, bz: pd.Series) -> pd.Series:
    """Per edge, array of (cell, own): `own` marks the touched cells of
    the 9-ring at the edge's fit level (index cells); the rest are their
    ancestors at every coarser level (probe-only cells)."""
    n = len(ax)
    if n == 0:
        return pd.Series([], dtype=object)
    x, y, z = (s.to_numpy(np.float64) for s in (ax, ay, az))
    xe, ye, ze = (s.to_numpy(np.float64) for s in (bx, by, bz))
    ang = np.arccos(np.clip(x * xe + y * ye + z * ze, -1.0, 1.0))
    fit = _fit_levels(ang)
    leaf = ci.from_point(x, y, z)
    leaf_e = ci.from_point(xe, ye, ze)
    out = [None] * n
    # edges LONGER than the level-0 min cell width break the ring
    # containment guarantee (they clip to fit 0 but can extend past the
    # start face's Moore ring — e.g. a 160-degree edge reaches the
    # antipodal face, which is never among the start's neighbors, silently
    # dropping crossings on it).  Such edges index ALL six faces as own
    # cells: every other edge carries its level-0 ancestor, as an own or a
    # probe cell, so this is complete by construction, and real corpora
    # have vanishingly few >=54-degree edges, so the extra candidates are
    # noise.
    too_long = ang > 2.0 * metrics.MIN_WIDTH.deriv
    for oi in np.nonzero(too_long)[0]:
        out[oi] = [(c, True) for c in _FACES]
    for lv in np.unique(fit[~too_long]).tolist():
        m = ~too_long & (fit == lv)
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
        own = ci.to_signed(cells)
        # (k, lv, 9): each ring cell's ancestor at every level 0..lv-1
        anc = ci.to_signed(ci.parent_for_level(cells[:, None, :],
                                               np.arange(lv)[:, None]))
        for r, oi in enumerate(np.nonzero(m)[0]):
            vm = vmask[r]
            out[oi] = ([(c, True) for c in np.unique(own[r][vm]).tolist()]
                       + [(c, False)
                          for c in np.unique(anc[r][:, vm]).tolist()])
    return pd.Series(out)


def _candidates(edges_a: DataFrame, edges_b: DataFrame,
                key_a: str, key_b: str) -> DataFrame:
    """Distinct candidate (key_a, key_b) pairs with both edges' endpoint
    columns (a_ax..a_bz, b_ax..b_bz), BEFORE the exact refine.

    Each side's cells depend on that side alone, and the cell explode is
    a LAZY localCheckpoint, so on shuffle-free input (a local or parquet
    frame) constructing this, or explain()/plan audits on the result, runs
    no Spark job.  A side whose plan holds a shuffle is the exception:
    under AQE the lazy checkpoint still runs that shuffle at build time,
    one job per checkpointed side.  Building `s2_edge_crossing_join` at
    sf0.1 so runs 2 jobs: the parquet schema read, and the `repartition`
    under its one shared checkpoint."""

    def keyed(df: DataFrame, keys: list[str]) -> DataFrame:
        cells = _edge_cells(*[F.col(c) for c in EDGE_COLS])
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
    # trigger no jobs beyond an input shuffle (see the docstring); it
    # materializes with the caller's first action and
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
    # all coarser levels incl. b's, and same-level own-cells meet
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
    Each edge indexes at its own fitting level and probes every coarser
    one (see module docstring); the candidates are complete for every
    edge length, since edges longer than the level-0 min width index all
    six faces outright.

    SELF-JOIN FAST PATH: passing the SAME DataFrame object as both
    `edges_a` and `edges_b` (it must then carry BOTH key columns) runs
    the cell UDF and the explode ONCE and shares the checkpoint between
    the two sides — at sf0.1 this halves the flagship self-join's heavy
    phase.  Construction runs no Spark job on shuffle-free input (see
    _candidates for the shuffled case).
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
