"""Vectorized spherical-geometry predicates and measures (pure numpy).

Points are represented as parallel (x, y, z) float64 arrays (flat columns
are faster than (n,3) for Arrow-batched kernels; helpers accept either).

Conformance targets (reference /root/reference/S2Geometry/*):
* RobustCcw: fast determinant with 1.6e-15 uncertainty gate; inside the
  gate the exact sign of the determinant of the float inputs (integer
  arithmetic, so no BLAS or summation order can change it), and only on
  an exact 0 the symbolic perturbation (S2.cs:479-641).  This module is
  the only place that decides an orientation sign: `ccw_signs` triages a
  batch of determinants for every caller.
* RobustCrossing / VertexCrossing / EdgeOrVertexCrossing — the unit of
  point-in-polygon parity counting (S2EdgeUtil.cs:85-203).
* Area: l'Huilier with Girard fallback for skinny triangles (S2.cs:255-345).
* TrueCentroid premultiplied by area — summable, ideal for groupBy/sum
  partial aggregation (S2.cs:387-421).
* GetDistance point-to-geodesic-edge (S2EdgeUtil.cs:297-338).
"""

from __future__ import annotations

import math

import numpy as np

CCW_UNCERTAINTY = 1.6e-15  # 2 * 14 * 2**-54, S2.cs:497


# ---------------------------------------------------------------------------
# basic vector algebra on parallel component arrays


def dot(ax, ay, az, bx, by, bz):
    return ax * bx + ay * by + az * bz


def cross(ax, ay, az, bx, by, bz):
    return (ay * bz - az * by, az * bx - ax * bz, ax * by - ay * bx)


def norm2(x, y, z):
    return x * x + y * y + z * z


def norm(x, y, z):
    return np.sqrt(norm2(x, y, z))


def normalize(x, y, z):
    n = norm(x, y, z)
    return x / n, y / n, z / n


def angle(ax, ay, az, bx, by, bz):
    """Angle between vectors: atan2(|a x b|, a.b) — stable for small/large
    angles (S2Point angle semantics)."""
    cx, cy, cz = cross(ax, ay, az, bx, by, bz)
    return np.arctan2(norm(cx, cy, cz), dot(ax, ay, az, bx, by, bz))


def interior_angle(ax, ay, az, bx, by, bz, cx, cy, cz):
    """Angle ABC at vertex B: angle between planes AB and CB
    (S2.cs:735-738: CrossProd(a,b).Angle(CrossProd(c,b)))."""
    ux, uy, uz = cross(ax, ay, az, bx, by, bz)
    vx, vy, vz = cross(cx, cy, cz, bx, by, bz)
    return angle(ux, uy, uz, vx, vy, vz)


def turn_angle(ax, ay, az, bx, by, bz, cx, cy, cz):
    """Exterior (turn) angle at vertex B, positive iff ABC is CCW; computed
    with all three cross products so turn(a,b,c) == -turn(c,b,a) exactly
    (S2.cs:753-759)."""
    ux, uy, uz = cross(bx, by, bz, ax, ay, az)
    vx, vy, vz = cross(cx, cy, cz, bx, by, bz)
    out = angle(ux, uy, uz, vx, vy, vz)
    ccw = robust_ccw(ax, ay, az, bx, by, bz, cx, cy, cz)
    return np.where(ccw > 0, out, -out)


def latlng_point(lat: float, lng: float) -> tuple[float, float, float]:
    """S2LatLng.ToPoint for scalar radians (S2LatLng.cs:170-178), in
    `math` so that driver-side constants round as they always have."""
    return (math.cos(lat) * math.cos(lng),
            math.cos(lat) * math.sin(lng),
            math.sin(lat))


def robust_cross_prod(ax, ay, az, bx, by, bz):
    """(b+a) x (b-a): orthogonal to a,b even when nearly (anti)parallel
    (S2.cs:209-230).  Zero-result fallback to Ortho(a) handled per-row."""
    cx, cy, cz = cross(bx + ax, by + ay, bz + az, bx - ax, by - ay, bz - az)
    zero = (cx == 0) & (cy == 0) & (cz == 0)
    if np.any(zero):
        ox, oy, oz = ortho(np.asarray(ax)[zero], np.asarray(ay)[zero], np.asarray(az)[zero])
        cx = np.asarray(cx).copy(); cy = np.asarray(cy).copy(); cz = np.asarray(cz).copy()
        cx[zero], cy[zero], cz[zero] = ox, oy, oz
    return cx, cy, cz


def ortho(ax, ay, az):
    """Unit vector orthogonal to a with Ortho(-a) == -Ortho(a) (S2Point.cs:49-69)."""
    ax = np.atleast_1d(np.asarray(ax, dtype=np.float64))
    ay = np.atleast_1d(np.asarray(ay, dtype=np.float64))
    az = np.atleast_1d(np.asarray(az, dtype=np.float64))
    aax, aay, aaz = np.abs(ax), np.abs(ay), np.abs(az)
    k = np.where(aax > aay, np.where(aax > aaz, 0, 2), np.where(aay > aaz, 1, 2))
    # temp = unit axis: k==1 -> x-axis, k==2 -> y-axis, else z-axis
    tx = np.where(k == 1, 1.0, 0.0)
    ty = np.where(k == 2, 1.0, 0.0)
    tz = np.where((k == 0) | (k > 2), 1.0, 0.0)
    cx, cy, cz = cross(ax, ay, az, tx, ty, tz)
    return normalize(cx, cy, cz)


# ---------------------------------------------------------------------------
# orientation predicates


def simple_ccw(ax, ay, az, bx, by, bz, cx, cy, cz):
    """(CxA).B > 0 — guarantees not both CCW(abc) and CCW(cba) (S2.cs:437-449)."""
    kx, ky, kz = cross(cx, cy, cz, ax, ay, az)
    return dot(kx, ky, kz, bx, by, bz) > 0


def _planar_ccw(ax, ay, bx, by) -> int:
    """Scalar planar CCW with stable difference trick (S2.cs:644-686)."""
    sab = -1.0 if (ax * bx + ay * by) > 0 else 1.0
    vabx, vaby = ax + sab * bx, ay + sab * by
    da = ax * ax + ay * ay
    db = bx * bx + by * by
    if da < db or (da == db and (ax, ay) < (bx, by)):
        sign = (ax * vaby - ay * vabx) * sab
    else:
        sign = vabx * by - vaby * bx
    if sign > 0:
        return 1
    if sign < 0:
        return -1
    return 0


def _planar_ordered_ccw(ax, ay, bx, by, cx, cy) -> int:
    s = _planar_ccw(ax, ay, bx, by) + _planar_ccw(bx, by, cx, cy) + _planar_ccw(cx, cy, ax, ay)
    return 1 if s > 0 else (-1 if s < 0 else 0)


def _exact_det_sign(a, b, c) -> int:
    """Sign of the determinant |a b c| = (a x b) . c in exact arithmetic.
    Every double is an integer over a power of two, so over the nine
    coordinates' largest denominator they are all integers, and the
    determinant of those integers (Python ints, no rounding) has the
    sign of the true one."""
    ratios = [float(v).as_integer_ratio() for v in (*a, *b, *c)]
    den = max(d for _, d in ratios)
    ax, ay, az, bx, by, bz, cx, cy, cz = (n * (den // d) for n, d in ratios)
    det = (ax * (by * cz - bz * cy) + ay * (bz * cx - bx * cz)
           + az * (bx * cy - by * cx))
    return (det > 0) - (det < 0)


def _expensive_ccw(a, b, c) -> int:
    """ExpensiveCcw for a near-degenerate triple (S2.cs:530-641): the exact
    sign of the determinant of the float inputs, and only where that is
    exactly 0 the reference's symbolic perturbation.  a,b,c are 3-tuples
    of floats."""
    if a == b or b == c or c == a:
        return 0
    sign = _exact_det_sign(a, b, c)
    if sign:
        return sign
    # symbolic perturbation: CCW around origin in YZ, then ZX, then XY planes
    ccw = _planar_ordered_ccw(a[1], a[2], b[1], b[2], c[1], c[2])
    if ccw == 0:
        ccw = _planar_ordered_ccw(a[2], a[0], b[2], b[0], c[2], c[0])
        if ccw == 0:
            ccw = _planar_ordered_ccw(a[0], a[1], b[0], b[1], c[0], c[1])
    return ccw


def ccw_signs(det, coords) -> np.ndarray:
    """RobustCcw signs {-1, 0, +1} (int8) from the float determinants
    `det` (an array) of triples (a, b, c): the sign of `det` beyond
    CCW_UNCERTAINTY, else _expensive_ccw.  `coords(idx)` gives the nine
    coordinates ax, ay, az, bx, ..., cz (arrays or scalars that broadcast)
    of the uncertain entries `idx` (an np.nonzero tuple), so the caller
    gathers its inputs only for those."""
    out = np.zeros(det.shape, dtype=np.int8)
    out[det > CCW_UNCERTAINTY] = 1
    out[det < -CCW_UNCERTAINTY] = -1
    uncertain = np.abs(det) <= CCW_UNCERTAINTY
    if uncertain.any():
        idx = np.nonzero(uncertain)
        n = len(idx[0])
        rows = zip(*(np.broadcast_to(np.asarray(v, dtype=np.float64), n).tolist()
                     for v in coords(idx)))
        out[idx] = [_expensive_ccw(r[0:3], r[3:6], r[6:9]) for r in rows]
    return out


def robust_ccw(ax, ay, az, bx, by, bz, cx, cy, cz, abx=None, aby=None, abz=None):
    """Vectorized RobustCcw: the float determinant where its sign is
    certain, the exact one (ccw_signs) elsewhere.

    Inputs broadcast; returns int8 array of {-1, 0, +1} (S2.cs:479-523).
    """
    if abx is None:
        abx, aby, abz = cross(ax, ay, az, bx, by, bz)
    det = np.atleast_1d(np.asarray(dot(abx, aby, abz, cx, cy, cz), dtype=np.float64))
    return ccw_signs(det, lambda idx: [
        np.broadcast_to(np.asarray(v, dtype=np.float64), det.shape)[idx]
        for v in (ax, ay, az, bx, by, bz, cx, cy, cz)])


def ordered_ccw(ax, ay, az, bx, by, bz, cx, cy, cz, ox, oy, oz):
    """True if edges OA, OB, OC occur in that order sweeping CCW around O
    (2-of-3 RobustCcw votes, S2.cs:703-723)."""
    s = (robust_ccw(bx, by, bz, ox, oy, oz, ax, ay, az) >= 0).astype(np.int8)
    s = s + (robust_ccw(cx, cy, cz, ox, oy, oz, bx, by, bz) >= 0)
    s = s + (robust_ccw(ax, ay, az, ox, oy, oz, cx, cy, cz) > 0)
    return s >= 2


# ---------------------------------------------------------------------------
# measures


def triangle_area(ax, ay, az, bx, by, bz, cx, cy, cz):
    """Robust positive spherical triangle area: l'Huilier with Girard fallback
    for skinny triangles (S2.cs:255-317)."""
    sa = angle(bx, by, bz, cx, cy, cz)
    sb = angle(cx, cy, cz, ax, ay, az)
    sc = angle(ax, ay, az, bx, by, bz)
    s = 0.5 * (sa + sb + sc)
    lh = 4 * np.arctan(np.sqrt(np.maximum(
        0.0,
        np.tan(0.5 * s) * np.tan(0.5 * (s - sa)) * np.tan(0.5 * (s - sb))
        * np.tan(0.5 * (s - sc)))))
    dmin = s - np.maximum(sa, np.maximum(sb, sc))
    skinny = (s >= 3e-4) & (dmin < 1e-2 * s * s * s * s * s)
    if not np.any(skinny):
        return lh
    girard = girard_area(ax, ay, az, bx, by, bz, cx, cy, cz)
    use_girard = skinny & (dmin < s * (0.1 * girard))
    return np.where(use_girard, girard, lh)


def girard_area(ax, ay, az, bx, by, bz, cx, cy, cz):
    """Girard excess, stable form (S2.cs:325-337)."""
    abx, aby, abz = cross(ax, ay, az, bx, by, bz)
    bcx, bcy, bcz = cross(bx, by, bz, cx, cy, cz)
    acx, acy, acz = cross(ax, ay, az, cx, cy, cz)
    return np.maximum(
        0.0,
        angle(abx, aby, abz, acx, acy, acz)
        - angle(abx, aby, abz, bcx, bcy, bcz)
        + angle(bcx, bcy, bcz, acx, acy, acz))


def signed_area(ax, ay, az, bx, by, bz, cx, cy, cz):
    return triangle_area(ax, ay, az, bx, by, bz, cx, cy, cz) * robust_ccw(
        ax, ay, az, bx, by, bz, cx, cy, cz)


def true_centroid(ax, ay, az, bx, by, bz, cx, cy, cz):
    """True centroid of spherical triangle x its signed area — summable
    (S2.cs:399-421).  Returns (mx, my, mz)."""
    bcx, bcy, bcz = cross(bx, by, bz, cx, cy, cz)
    cax, cay, caz = cross(cx, cy, cz, ax, ay, az)
    abx, aby, abz = cross(ax, ay, az, bx, by, bz)
    sina = norm(bcx, bcy, bcz)
    sinb = norm(cax, cay, caz)
    sinc = norm(abx, aby, abz)
    ra = np.where(sina == 0, 1.0, np.arcsin(np.minimum(1.0, sina)) / np.where(sina == 0, 1.0, sina))
    rb = np.where(sinb == 0, 1.0, np.arcsin(np.minimum(1.0, sinb)) / np.where(sinb == 0, 1.0, sinb))
    rc = np.where(sinc == 0, 1.0, np.arcsin(np.minimum(1.0, sinc)) / np.where(sinc == 0, 1.0, sinc))
    # rows of the 3x3 matrix [a b c] by coordinate
    def comp(pa, pb, pc, qa, qb, qc):
        kx, ky, kz = cross(pa, pb, pc, qa, qb, qc)
        return 0.5 * dot(kx, ky, kz, ra, rb, rc)
    mx = comp(ay, by, cy, az, bz, cz)
    my = comp(az, bz, cz, ax, bx, cx)
    mz = comp(ax, bx, cx, ay, by, cy)
    return mx, my, mz


def haversine_radians(lat1, lng1, lat2, lng2):
    """Great-circle distance between (lat,lng) radians pairs (S2LatLng.cs:227-253)."""
    dlat = np.sin(0.5 * (lat2 - lat1))
    dlng = np.sin(0.5 * (lng2 - lng1))
    x = dlat * dlat + dlng * dlng * np.cos(lat1) * np.cos(lat2)
    return 2 * np.arcsin(np.sqrt(np.minimum(1.0, x)))


def point_edge_distance_with_normal(px, py, pz, ax, ay, az, bx, by, bz,
                                    nx, ny, nz):
    """Min angle from X to geodesic edge AB given AB's normal N (the 4-arg
    GetDistance overload, S2EdgeUtil.cs:297-338)."""
    in_wedge = (simple_ccw(nx, ny, nz, ax, ay, az, px, py, pz)
                & simple_ccw(px, py, pz, bx, by, bz, nx, ny, nz))
    sin_dist = np.abs(dot(px, py, pz, nx, ny, nz)) / norm(nx, ny, nz)
    d_interior = np.arcsin(np.minimum(1.0, sin_dist))
    da2 = norm2(px - ax, py - ay, pz - az)
    db2 = norm2(px - bx, py - by, pz - bz)
    d_end = 2 * np.arcsin(np.minimum(1.0, 0.5 * np.sqrt(np.minimum(da2, db2))))
    return np.where(in_wedge, d_interior, d_end)


def point_edge_distance(px, py, pz, ax, ay, az, bx, by, bz):
    """Min angle from point X to geodesic edge AB (S2EdgeUtil.cs:297-338)."""
    nx, ny, nz = robust_cross_prod(ax, ay, az, bx, by, bz)
    return point_edge_distance_with_normal(px, py, pz, ax, ay, az, bx, by, bz,
                                           nx, ny, nz)


def closest_point_on_edge(px, py, pz, ax, ay, az, bx, by, bz):
    """Point on geodesic edge AB closest to X (S2EdgeUtil.cs:346-363,
    GetClosestPoint).  Vectorized; inputs broadcast, returns (qx, qy, qz)."""
    nx, ny, nz = robust_cross_prod(ax, ay, az, bx, by, bz)
    n2 = norm2(nx, ny, nz)
    t = dot(px, py, pz, nx, ny, nz) / n2
    qx, qy, qz = px - t * nx, py - t * ny, pz - t * nz
    # The on-edge wedge test on q equals the same test on p: q = p - t*n, and
    # cross(q, n) == cross(p, n), so the CCW signs are unchanged.
    qn = norm(qx, qy, qz)
    on_edge = ((qn > 0)
               & simple_ccw(nx, ny, nz, ax, ay, az, qx, qy, qz)
               & simple_ccw(qx, qy, qz, bx, by, bz, nx, ny, nz))
    qn_safe = np.where(qn == 0, 1.0, qn)
    da2 = norm2(px - ax, py - ay, pz - az)
    db2 = norm2(px - bx, py - by, pz - bz)
    use_a = da2 <= db2
    ex = np.where(use_a, ax, bx)
    ey = np.where(use_a, ay, by)
    ez = np.where(use_a, az, bz)
    return (np.where(on_edge, qx / qn_safe, ex),
            np.where(on_edge, qy / qn_safe, ey),
            np.where(on_edge, qz / qn_safe, ez))
