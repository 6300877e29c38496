"""Distance operators: point-to-rect distance and polyline projection
(map-matching) as pure JVM Column expressions.

Reimplements S2LatLngRect.GetDistance (S2LatLngRect.cs:381-409) and
S2Polyline.GetNearestEdgeIndex / ProjectToEdge (S2Polyline.cs:287-331,
S2EdgeUtil.GetClosestPoint :346-363) for a FIXED query rect / polyline
against a distributed point table.

Spark-first design: the query geometry is a driver-side literal, so every
per-edge vector constant (edge endpoints, robust normals, wedge planes
n x a and b x n) folds into the expression — the whole operator is
whole-stage-codegen arithmetic on (lat, lng), no UDF, no shuffle.  The SQL
text is generated once and consumed by BOTH the Spark plan (F.expr) and
the DuckDB oracle, so the two engines evaluate literally the same formula.

Key identity making the wedge test linear: for the closest-point candidate
q = p - t*n (t = p.n/|n|^2), cross(q, n) == cross(p, n), so the reference's
SimpleCcw(n, a, q) and SimpleCcw(q, b, n) reduce to p.(n x a) > 0 and
p.(b x n) > 0 with constant vectors.

For polylines with many edges the per-edge expression unrolling stops
paying; Polyline.project_points (kernel/polyline.py) is the Arrow-batched
alternative for that regime.

The buffered and corridor joins have the shape of every covering operator
(spatial_join.covering_probe_join, then a one-CASE-chain residual).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import columns as C
from ..kernel import cellunion as cuk
from ..kernel import sphere
from ..kernel.coverer import RegionCoverer
from ..kernel.intervals import LatLngRect, R1Interval, S1Interval
from ..kernel.polyline import Polyline
from ..plans import covercache
from .spatial_join import cell_rows, covering_probe_join, polygon_key

COVERER_MAX_CELLS = 16   # region covering before CellUnion.Expand
MAX_LEVEL_DIFF = 4       # Expand's maxLevelDiff (S2CellUnion.cs:618-650)


def _dot_sql(v) -> str:
    """p . v for constant v with free columns px, py, pz."""
    return f"(px*({v[0]!r}) + py*({v[1]!r}) + pz*({v[2]!r}))"


def point_edge_distance_sql(a, b) -> str:
    """SQL text: angle from (px,py,pz) to the geodesic edge a-b (constant
    unit endpoints).  Mirrors S2EdgeUtil.GetDistance(x, a, b, aCrossB)."""
    n = tuple(map(float, sphere.robust_cross_prod(*a, *b)))  # repr'd into SQL
    nn = math.sqrt(n[0] ** 2 + n[1] ** 2 + n[2] ** 2)
    c1 = sphere.cross(*n, *a)   # SimpleCcw(n, a, p)  ==  p . (n x a) > 0
    c2 = sphere.cross(*b, *n)   # SimpleCcw(p, b, n)  ==  p . (b x n) > 0
    in_wedge = f"({_dot_sql(c1)} > 0 AND {_dot_sql(c2)} > 0)"
    d_int = f"asin(least(1.0, abs({_dot_sql(n)}) / ({nn!r})))"
    da2 = (f"((px-({a[0]!r}))*(px-({a[0]!r})) + (py-({a[1]!r}))*(py-({a[1]!r}))"
           f" + (pz-({a[2]!r}))*(pz-({a[2]!r})))")
    db2 = (f"((px-({b[0]!r}))*(px-({b[0]!r})) + (py-({b[1]!r}))*(py-({b[1]!r}))"
           f" + (pz-({b[2]!r}))*(pz-({b[2]!r})))")
    d_end = f"2*asin(least(1.0, 0.5*sqrt(least({da2}, {db2}))))"
    return f"(CASE WHEN {in_wedge} THEN {d_int} ELSE {d_end} END)"


def closest_point_on_edge_sql(a, b) -> tuple[str, str, str]:
    """SQL text triple (qx, qy, qz): closest point on constant edge a-b to
    (px,py,pz), unnormalized interior candidate handled with explicit
    normalization.  Mirrors S2EdgeUtil.GetClosestPoint."""
    n = tuple(map(float, sphere.robust_cross_prod(*a, *b)))  # repr'd into SQL
    n2 = n[0] ** 2 + n[1] ** 2 + n[2] ** 2
    c1 = sphere.cross(*n, *a)
    c2 = sphere.cross(*b, *n)
    on_edge = f"({_dot_sql(c1)} > 0 AND {_dot_sql(c2)} > 0)"
    t = f"({_dot_sql(n)} / ({n2!r}))"
    raw = [f"(p{c} - {t}*({n[i]!r}))" for i, c in enumerate("xyz")]
    qn = f"sqrt({raw[0]}*{raw[0]} + {raw[1]}*{raw[1]} + {raw[2]}*{raw[2]})"
    da2 = (f"((px-({a[0]!r}))*(px-({a[0]!r})) + (py-({a[1]!r}))*(py-({a[1]!r}))"
           f" + (pz-({a[2]!r}))*(pz-({a[2]!r})))")
    db2 = (f"((px-({b[0]!r}))*(px-({b[0]!r})) + (py-({b[1]!r}))*(py-({b[1]!r}))"
           f" + (pz-({b[2]!r}))*(pz-({b[2]!r})))")
    use_a = f"({da2} <= {db2})"
    out = []
    for i, c in enumerate("xyz"):
        end = f"(CASE WHEN {use_a} THEN {a[i]!r} ELSE {b[i]!r} END)"
        out.append(f"(CASE WHEN {on_edge} THEN {raw[i]}/{qn} ELSE {end} END)")
    return tuple(out)


def rect_distance_sql(rect_deg: tuple[float, float, float, float]) -> str:
    """SQL text: distance (radians) from a point with free columns
    (lat, lng [degrees], px, py, pz) to the rect (lat_lo, lng_lo, lat_hi,
    lng_hi in degrees; lng_lo > lng_hi wraps the antimeridian).

    When lng is inside the rect's lng interval the distance is purely
    latitudinal; otherwise it is the min distance to the two meridian
    boundary edges (equivalent to the reference's nearest-meridian
    selection, branch-free)."""
    lat_lo, lng_lo, lat_hi, lng_hi = rect_deg
    lat_lo_r, lat_hi_r = math.radians(lat_lo), math.radians(lat_hi)
    lng_lo_r = math.radians(math.remainder(lng_lo, 360.0))
    lng_hi_r = math.radians(math.remainder(lng_hi, 360.0))
    if lng_lo <= lng_hi:
        lng_in = f"(lng >= ({lng_lo!r}) AND lng <= ({lng_hi!r}))"
    else:
        lng_in = f"(lng >= ({lng_lo!r}) OR lng <= ({lng_hi!r}))"
    lat_branch = (f"greatest(0.0, radians(lat) - ({lat_hi_r!r}), "
                  f"({lat_lo_r!r}) - radians(lat))")
    edges = []
    for L in (lng_lo_r, lng_hi_r):
        a = sphere.latlng_point(lat_lo_r, L)
        b = sphere.latlng_point(lat_hi_r, L)
        edges.append(point_edge_distance_sql(a, b))
    return (f"(CASE WHEN {lng_in} THEN {lat_branch} "
            f"ELSE least({edges[0]}, {edges[1]}) END)")


XYZ_COLS_SQL = {
    "px": "cos(radians(lat)) * cos(radians(lng))",
    "py": "cos(radians(lat)) * sin(radians(lng))",
    "pz": "sin(radians(lat))",
}


def with_xyz(df: DataFrame) -> DataFrame:
    """Append px/py/pz unit-vector columns from lat/lng degree columns —
    explicit projection barrier so downstream exprs reference named columns
    instead of duplicating trig subtrees."""
    return df.withColumns({k: F.expr(v) for k, v in XYZ_COLS_SQL.items()})


def rect_distance(df: DataFrame,
                  rects: dict[int, tuple[float, float, float, float]]
                  ) -> DataFrame:
    """Distance from every point to every query rect.

    One row per (point, rect).  Pure codegen arithmetic — at 100 TB this is
    a map-only scan, no shuffle, filters pushed to the parquet scan."""
    out = []
    base = with_xyz(df)
    for rid, rect in rects.items():
        d = F.expr(rect_distance_sql(rect))
        out.append(base.withColumn("distance_rad", d)
                   .withColumn("rect_id", F.lit(rid)))
    res = out[0]
    for r in out[1:]:
        res = res.unionByName(r)
    return res.drop("px", "py", "pz")


def rect_from_degrees(rect_deg) -> LatLngRect:
    lat_lo, lng_lo, lat_hi, lng_hi = rect_deg
    return LatLngRect(
        R1Interval(math.radians(lat_lo), math.radians(lat_hi)),
        S1Interval(math.radians(math.remainder(lng_lo, 360.0)),
                   math.radians(math.remainder(lng_hi, 360.0))))


def polyline_project_exprs(latlngs_deg: list[tuple[float, float]]
                           ) -> dict[str, str]:
    """SQL text columns for projecting (px,py,pz) onto a fixed polyline:
    {edge_idx, distance_rad, qx, qy, qz}.  Argmin keeps the lowest edge
    index on ties (reference strict-< scan order)."""
    verts = [sphere.latlng_point(math.radians(la), math.radians(ln))
             for la, ln in latlngs_deg]
    m = len(verts) - 1
    dists = [point_edge_distance_sql(verts[i], verts[i + 1]) for i in range(m)]
    d_cols = {f"d{i}": dists[i] for i in range(m)}
    # edge_idx over named d_i columns (projection barrier keeps these flat)
    cases = []
    for i in range(m - 1):
        cond = " AND ".join(f"d{i} <= d{j}" for j in range(i + 1, m))
        cases.append(f"WHEN {cond} THEN {i}")
    idx_sql = f"(CASE {' '.join(cases)} ELSE {m - 1} END)"
    qexprs = [closest_point_on_edge_sql(verts[i], verts[i + 1]) for i in range(m)]
    q_cols = {}
    for c in range(3):
        branches = " ".join(f"WHEN {i} THEN {qexprs[i][c]}" for i in range(m - 1))
        q_cols["q" + "xyz"[c]] = (f"(CASE edge_idx {branches} "
                                  f"ELSE {qexprs[m - 1][c]} END)")
    return {"d_cols": d_cols, "idx_sql": idx_sql, "q_cols": q_cols,
            "dist_sql": "least(" + ", ".join(f"d{i}" for i in range(m)) + ")"
            if m > 1 else "d0"}


def polyline_project(df: DataFrame,
                     latlngs_deg: list[tuple[float, float]]) -> DataFrame:
    """Project every point onto a fixed polyline: adds edge_idx,
    distance_rad, proj_lat, proj_lng.  Map-only codegen; the Arrow-batched
    kernel (Polyline.project_points) is the path for large polylines."""
    e = polyline_project_exprs(latlngs_deg)
    out = with_xyz(df)
    out = out.withColumns({k: F.expr(v) for k, v in e["d_cols"].items()})
    out = out.withColumn("edge_idx", F.expr(e["idx_sql"]))
    out = out.withColumn("distance_rad", F.expr(e["dist_sql"]))
    out = out.withColumns({k: F.expr(v) for k, v in e["q_cols"].items()})
    out = out.withColumn(
        "proj_lat", F.expr("degrees(atan2(qz, sqrt(qx*qx + qy*qy)))"))
    out = out.withColumn("proj_lng", F.expr("degrees(atan2(qy, qx))"))
    return out.drop("px", "py", "pz", "qx", "qy", "qz",
                    *e["d_cols"].keys())


def convex_polygon_distance_sql(poly) -> str:
    """SQL text: distance (radians) from (px,py,pz) to a CONVEX single-loop
    polygon — 0 inside, else min geodesic distance to the boundary edges
    (Loop.GetDistance semantics for the convex case, S2Loop.cs:328-352).
    Convexity makes the inside test an AND chain of triple-product signs."""
    verts = [tuple(map(float, v)) for v in poly.loops[0].vertices]
    n = len(verts)
    inside_terms = []
    edge_dists = []
    for i in range(n):
        a, b = verts[i], verts[(i + 1) % n]
        c = sphere.cross(*a, *b)
        inside_terms.append(f"({_dot_sql(c)} > 0)")
        edge_dists.append(point_edge_distance_sql(a, b))
    inside = "(" + " AND ".join(inside_terms) + ")"
    return (f"(CASE WHEN {inside} THEN 0.0 "
            f"ELSE least({', '.join(edge_dists)}) END)")


def buffered_polygon_join(spark, pts: DataFrame, polys: dict,
                          radius_rad: float) -> DataFrame:
    """Points within radius_rad of each (convex) polygon: "pages within
    5 km of any park".

    Plan: polygon covering -> CellUnion.Expand(radius, maxLevelDiff)
    (S2CellUnion.cs:618-650) -> broadcast equi-join on ancestor-at-level
    keys (the buffered union is normalized/disjoint, so each point matches
    at most one cell -> no dedupe) -> exact codegen distance residual.
    At 100 TB: one map-side broadcast join + arithmetic, no shuffle.
    Raises ValueError on an invalid loop (Polygon.check_valid)."""
    def compute(poly):
        poly.check_valid()
        return _expanded_covering(poly, radius_rad)

    rows = [(pid, cell, lvl) for pid, poly in polys.items()
            for cell, lvl in covercache.cached_rows(
                ("buffered", *polygon_key(poly), float(radius_rad)),
                lambda: compute(poly))]
    return _within(spark, pts, rows, "polygon_id", radius_rad,
                   {pid: convex_polygon_distance_sql(poly)
                    for pid, poly in polys.items()})


def _expanded_covering(region, radius_rad: float) -> list[tuple[int, int]]:
    """(signed cell id, level) rows of the region's covering expanded by
    radius_rad (CellUnion.Expand, S2CellUnion.cs:618-650)."""
    cover = RegionCoverer(max_cells=COVERER_MAX_CELLS).get_covering(region)
    return cell_rows(cuk.expand_radius(np.asarray(cover, dtype=np.uint64),
                                       radius_rad, MAX_LEVEL_DIFF))


def _within(spark, pts: DataFrame, rows: list, key: str, radius_rad: float,
            dist_sql: dict) -> DataFrame:
    """Points within radius_rad of a region: the probe join over the
    expanded covering `rows` ((key, cell, level) tuples), then the exact
    distance residual, dist_sql[k] for region k, in one CASE chain."""
    cand = covering_probe_join(
        spark, with_xyz(pts), rows,
        f"{key} int, cov_cell_id long, cov_level int")
    dist = C.case_by(key, {k: F.expr(sql)
                           for k, sql in dist_sql.items()}).cast("double")
    return (cand.withColumn("distance_rad", dist)
            .where(F.col("distance_rad") <= radius_rad)
            .drop("px", "py", "pz"))


def polyline_project_oracle_sql(src_sql: str,
                                latlngs_deg: list[tuple[float, float]]) -> str:
    """DuckDB query mirroring polyline_project stage-for-stage, over a
    `src_sql` of (doc_id, lat, lng)."""
    e = polyline_project_exprs(latlngs_deg)
    d_sel = ", ".join(f"{v} AS {k}" for k, v in e["d_cols"].items())
    return f"""
WITH src AS ({src_sql}),
p AS (SELECT doc_id, lat, lng,
      {XYZ_COLS_SQL['px']} AS px, {XYZ_COLS_SQL['py']} AS py,
      {XYZ_COLS_SQL['pz']} AS pz FROM src),
d AS (SELECT doc_id, px, py, pz, {d_sel} FROM p),
sel AS (SELECT doc_id, px, py, pz, {e['idx_sql']} AS edge_idx,
        {e['dist_sql']} AS distance_rad FROM d),
q AS (SELECT doc_id, edge_idx, distance_rad,
      {e['q_cols']['qx']} AS qx, {e['q_cols']['qy']} AS qy,
      {e['q_cols']['qz']} AS qz FROM sel)
SELECT doc_id, edge_idx, round(distance_rad, 9) AS dist_r,
       round(degrees(atan2(qz, sqrt(qx*qx + qy*qy))), 6) AS proj_lat,
       round(degrees(atan2(qy, qx)), 6) AS proj_lng
FROM q
"""


def polyline_distance_sql(latlngs_deg: list[tuple[float, float]]) -> str:
    """SQL text: min geodesic distance (radians) from (px,py,pz) to a fixed
    polyline (min over edge distances — S2Polyline + S2EdgeUtil.GetDistance)."""
    verts = [sphere.latlng_point(math.radians(la), math.radians(ln))
             for la, ln in latlngs_deg]
    dists = [point_edge_distance_sql(verts[i], verts[i + 1])
             for i in range(len(verts) - 1)]
    return "least(" + ", ".join(dists) + ")" if len(dists) > 1 else dists[0]


def corridor_join(spark, pts: DataFrame,
                  tracks: dict[int, list[tuple[float, float]]],
                  radius_rad: float) -> DataFrame:
    """Points within radius_rad of each polyline track: "pages within 5 km
    of the route" — the corridor/map-matching prefilter.

    Plan mirrors buffered_polygon_join: polyline covering (the Polyline
    region drives the same RegionCoverer) -> CellUnion.Expand(radius,
    maxLevelDiff) -> broadcast equi-join on ancestor keys -> exact codegen
    min-edge-distance residual.  At 100 TB: one map-side broadcast join +
    arithmetic, no shuffle of the points."""
    def compute(latlngs):
        verts = np.array([sphere.latlng_point(math.radians(la), math.radians(ln))
                          for la, ln in latlngs], dtype=np.float64)
        return _expanded_covering(Polyline(verts), radius_rad)

    rows = [(tid, cell, lvl) for tid, latlngs in tracks.items()
            for cell, lvl in covercache.cached_rows(
                ("corridor", tuple((float(la), float(ln)) for la, ln in latlngs),
                 float(radius_rad)),
                lambda: compute(latlngs))]
    return _within(spark, pts, rows, "track_id", radius_rad,
                   {tid: polyline_distance_sql(latlngs)
                    for tid, latlngs in tracks.items()})


def nearest_track_join(spark, pts: DataFrame,
                       tracks: dict[int, list[tuple[float, float]]],
                       radius_rad: float) -> DataFrame:
    """Map-matching assignment: each point within radius_rad of at least
    one track is assigned its NEAREST track (the distributed form of
    S2Polyline.GetNearestEdgeIndex across a track SET — "which road is this
    page about").

    Plan: corridor_join candidates (broadcast covering equi-join — the
    points never shuffle) -> per-point argmin window (ONE shuffle on the
    point key `doc_id`).  Ties break to the lowest track id; the ordering
    uses the distance rounded to 1e-9 rad (~6 µm) so the argmin is stable
    across FP summation orders (and reproducible in the SQL oracle)."""
    from pyspark.sql.window import Window

    cand = corridor_join(spark, pts, tracks, radius_rad)
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("distance_rad"), 9).asc(), F.col("track_id").asc())
    return (cand.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))


def polyline_interpolate_sql(latlngs_deg: list[tuple[float, float]]
                             ) -> tuple[str, str]:
    """SQL text pair (lat_expr, lng_expr): S2Polyline.Interpolate over a
    CONSTANT polyline with a per-row `frac` column — edge lengths and
    cumulative offsets constant-fold at plan build, so the runtime work is
    one CASE chain of slerps (S2Polyline.cs:246-266: walk edges until the
    target arc length lands inside one, then sin-weighted slerp).

    The same text runs as a Spark Column (F.expr) and as the DuckDB oracle;
    callers round outputs (libm sin/cos may differ in the last ulp)."""
    verts = [sphere.latlng_point(math.radians(la), math.radians(ln))
             for la, ln in latlngs_deg]

    def _ang(a, b):
        c = sphere.cross(*a, *b)
        return math.atan2(math.sqrt(c[0] * c[0] + c[1] * c[1] + c[2] * c[2]),
                          a[0] * b[0] + a[1] * b[1] + a[2] * b[2])

    lengths = [_ang(verts[i], verts[i + 1]) for i in range(len(verts) - 1)]
    total = sum(lengths)
    t = f"((frac) * {total!r})"
    comps = {0: [], 1: [], 2: []}  # per-coordinate CASE branches
    cum = 0.0
    for i, ln in enumerate(lengths):
        a, b = verts[i], verts[i + 1]
        ti = f"({t} - {cum!r})"
        fi = f"(sin({ti}) / {math.sin(ln)!r})"
        axi = f"(cos({ti}) - {fi} * {math.cos(ln)!r})"
        cum += ln
        cond = f"{t} < {cum!r}"
        for k in range(3):
            comps[k].append(f"WHEN {cond} THEN ({axi} * {a[k]!r} + {fi} * {b[k]!r})")
    last = verts[-1]
    raw = {}
    for k in range(3):
        first = f"WHEN (frac) <= 0 THEN {verts[0][k]!r}"
        raw[k] = ("(CASE " + first + " " + " ".join(comps[k])
                  + f" ELSE {last[k]!r} END)")
    # lat/lng via atan2 — scale-invariant, so no normalization needed
    lat = f"degrees(atan2({raw[2]}, sqrt({raw[0]}*{raw[0]} + {raw[1]}*{raw[1]})))"
    lng = f"degrees(atan2({raw[1]}, {raw[0]}))"
    return lat, lng
