"""Scalar S2 cell geometry (face/level/uv-bounds, vertices, bounds).

Used driver-side by the region coverer; the distributed hot paths never
materialize Cell objects (they recompute what they need from cell_id in
vectorized kernels).  Conforms to /root/reference/S2Geometry/S2Cell.cs.
"""

from __future__ import annotations

import math

import numpy as np

from . import cellid as ci
from .intervals import PI, LatLngRect, R1Interval, S1Interval
from . import metrics

MAX_CELL_SIZE = 1 << ci.MAX_LEVEL
MAX_ERROR = 1.0 / (1 << 51)
POLE_MIN_LAT = math.asin(math.sqrt(1.0 / 3.0)) - MAX_ERROR

PI_OVER_2 = PI / 2
PI_OVER_4 = PI / 4

# u-axis / v-axis z-components per face (S2Projections.GetUAxis/GetVAxis)
_U_AXIS_Z = (0.0, 0.0, 0.0, -1.0, -1.0, 0.0)
_V_AXIS_Z = (1.0, 1.0, 0.0, 0.0, 0.0, 0.0)


def _face_uv_to_xyz(face: int, u: float, v: float) -> tuple[float, float, float]:
    if face == 0:
        return (1.0, u, v)
    if face == 1:
        return (-u, 1.0, v)
    if face == 2:
        return (-u, -v, 1.0)
    if face == 3:
        return (-1.0, -v, -u)
    if face == 4:
        return (v, -1.0, -u)
    return (v, u, -1.0)


def _st_to_uv(s: float) -> float:
    if s >= 0:
        return (1 / 3.0) * ((1 + s) * (1 + s) - 1)
    return (1 / 3.0) * (1 - (1 - s) * (1 - s))


class Cell:
    """One S2 cell: face, level, orientation, (u,v) bounds. S2Cell.cs:460-483."""

    __slots__ = ("id", "face", "level", "orientation", "uv")

    def __init__(self, cell_id: int):
        self.id = int(cell_id)  # raw uint64 value as Python int
        arr = np.array([self.id], dtype=np.uint64)
        face, i, j, orientation = ci.to_face_ij_orientation(arr, want_orientation=True)
        self.face = int(face[0])
        self.orientation = int(orientation[0])
        self.level = int(ci.level_of(arr)[0])
        cell_size = 1 << (ci.MAX_LEVEL - self.level)
        ii, jj = int(i[0]), int(j[0])
        uv = []
        for coord in (ii, jj):
            sij_lo = (coord & -cell_size) * 2 - MAX_CELL_SIZE
            sij_hi = sij_lo + cell_size * 2
            uv.append((_st_to_uv(sij_lo / MAX_CELL_SIZE), _st_to_uv(sij_hi / MAX_CELL_SIZE)))
        self.uv = tuple(uv)

    # -- vertices / edges ---------------------------------------------------

    def get_vertex_raw(self, k: int) -> tuple[float, float, float]:
        """k-th corner CCW: SW, SE, NE, NW (S2Cell.cs:281-285)."""
        return _face_uv_to_xyz(self.face, self.uv[0][(k >> 1) ^ (k & 1)], self.uv[1][k >> 1])

    def get_vertex(self, k: int) -> tuple[float, float, float]:
        x, y, z = self.get_vertex_raw(k)
        n = math.sqrt(x * x + y * y + z * z)
        return (x / n, y / n, z / n)

    @property
    def is_leaf(self) -> bool:
        return self.level == ci.MAX_LEVEL

    def contains_cell(self, other: "Cell") -> bool:
        """S2Cell Contains(cell) == id-range containment."""
        return bool(ci.contains(np.array([self.id], dtype=np.uint64),
                                np.array([other.id], dtype=np.uint64))[0])

    def may_intersect_cell(self, other: "Cell") -> bool:
        return bool(ci.intersects(np.array([self.id], dtype=np.uint64),
                                  np.array([other.id], dtype=np.uint64))[0])

    def get_edge(self, k: int) -> tuple[float, float, float]:
        x, y, z = self.get_edge_raw(k)
        n = math.sqrt(x * x + y * y + z * z)
        return (x / n, y / n, z / n)

    def get_edge_raw(self, k: int) -> tuple[float, float, float]:
        """Inward-facing edge normal, order S,E,N,W (S2Cell.cs:292-305)."""
        if k == 0:
            return _get_v_norm(self.face, self.uv[1][0])
        if k == 1:
            return _get_u_norm(self.face, self.uv[0][1])
        if k == 2:
            x, y, z = _get_v_norm(self.face, self.uv[1][1])
            return (-x, -y, -z)
        x, y, z = _get_u_norm(self.face, self.uv[0][0])
        return (-x, -y, -z)

    def get_center(self) -> tuple[float, float, float]:
        x, y, z = ci.to_point(np.array([self.id], dtype=np.uint64))
        return (float(x[0]), float(y[0]), float(z[0]))

    def cap_bound(self):
        """S2Cell.cs CapBound: cap at the (u,v) center grown to the 4
        vertices (import deferred: cap.py imports Cell)."""
        from .cap import Cap
        cap = Cap.from_axis_height(self.get_center(), 0.0)
        for k in range(4):
            cap = cap.add_point(*self.get_vertex(k))
        return cap

    # -- point containment (S2Cell.cs:444-456) -------------------------------

    def contains_point(self, x: float, y: float, z: float) -> bool:
        uv = _face_xyz_to_uv(self.face, x, y, z)
        if uv is None:
            return False
        u, v = uv
        return (self.uv[0][0] <= u <= self.uv[0][1]
                and self.uv[1][0] <= v <= self.uv[1][1])

    # -- bounds ---------------------------------------------------------------

    def _get_latitude(self, i: int, j: int) -> float:
        x, y, z = _face_uv_to_xyz(self.face, self.uv[0][i], self.uv[1][j])
        return math.atan2(z, math.hypot(x, y))

    def _get_longitude(self, i: int, j: int) -> float:
        x, y, z = _face_uv_to_xyz(self.face, self.uv[0][i], self.uv[1][j])
        return math.atan2(y, x)

    def rect_bound(self) -> LatLngRect:
        """Exact lat/lng bound (S2Cell.cs:164-224)."""
        if self.level > 0:
            u = self.uv[0][0] + self.uv[0][1]
            v = self.uv[1][0] + self.uv[1][1]
            i = (1 if u < 0 else 0) if _U_AXIS_Z[self.face] == 0 else (1 if u > 0 else 0)
            j = (1 if v < 0 else 0) if _V_AXIS_Z[self.face] == 0 else (1 if v > 0 else 0)
            lat = R1Interval.from_point_pair(self._get_latitude(i, j),
                                             self._get_latitude(1 - i, 1 - j))
            lat = lat.expanded(MAX_ERROR).intersection(R1Interval(-PI_OVER_2, PI_OVER_2))
            if lat.lo == -PI_OVER_2 or lat.hi == PI_OVER_2:
                return LatLngRect(lat, S1Interval.full())
            lng = S1Interval.from_point_pair(self._get_longitude(i, 1 - j),
                                             self._get_longitude(1 - i, j))
            return LatLngRect(lat, lng.expanded(MAX_ERROR))
        # face cells (S2Cell.cs:198-219)
        f = self.face
        if f == 0:
            return LatLngRect(R1Interval(-PI_OVER_4, PI_OVER_4), S1Interval(-PI_OVER_4, PI_OVER_4))
        if f == 1:
            return LatLngRect(R1Interval(-PI_OVER_4, PI_OVER_4), S1Interval(PI_OVER_4, 3 * PI_OVER_4))
        if f == 2:
            return LatLngRect(R1Interval(POLE_MIN_LAT, PI_OVER_2), S1Interval.full())
        if f == 3:
            return LatLngRect(R1Interval(-PI_OVER_4, PI_OVER_4), S1Interval(3 * PI_OVER_4, -3 * PI_OVER_4))
        if f == 4:
            return LatLngRect(R1Interval(-PI_OVER_4, PI_OVER_4), S1Interval(-3 * PI_OVER_4, -PI_OVER_4))
        return LatLngRect(R1Interval(-PI_OVER_2, -POLE_MIN_LAT), S1Interval.full())

    def average_area(self) -> float:
        return metrics.AVG_AREA.get_value(self.level)

    def approx_area(self) -> float:
        """Flat quad area with curvature correction; <=3% error (S2Cell.cs:391-427)."""
        if self.level < 2:
            return self.average_area()
        v0 = np.array(self.get_vertex(0))
        v1 = np.array(self.get_vertex(1))
        v2 = np.array(self.get_vertex(2))
        v3 = np.array(self.get_vertex(3))
        flat_area = 0.5 * float(np.linalg.norm(
            np.cross(v2 - v0, v3 - v1)))
        return flat_area * 2 / (1 + math.sqrt(1 - min(1.0 / math.pi, flat_area)))

    def exact_area(self) -> float:
        """Sum of the two triangles (S2Cell.cs:429-441)."""
        from . import sphere
        v0 = self.get_vertex(0)
        v1 = self.get_vertex(1)
        v2 = self.get_vertex(2)
        v3 = self.get_vertex(3)
        a1 = float(sphere.triangle_area(*map(np.float64, v0 + v1 + v2)))
        a2 = float(sphere.triangle_area(*map(np.float64, v0 + v2 + v3)))
        return a1 + a2


def cells_uv_bounds(ids: np.ndarray) -> tuple[np.ndarray, ...]:
    """(face, u_lo, u_hi, v_lo, v_hi) of each cell id: one id decode that
    bounds_vertices and cells_contain_points share."""
    ids = np.asarray(ids, dtype=np.uint64)
    face, i, j = ci.to_face_ij_orientation(ids)
    level = ci.level_of(ids)
    size = np.int64(1) << (ci.MAX_LEVEL - level)
    lo = np.stack(((i & -size) * 2, (j & -size) * 2)) - MAX_CELL_SIZE
    u_lo, v_lo, u_hi, v_hi = _st_to_uv_vec(
        np.concatenate((lo, lo + size * 2)) / MAX_CELL_SIZE)
    return face, u_lo, u_hi, v_lo, v_hi


def cells_vertices(ids: np.ndarray) -> np.ndarray:
    """Vectorized cell corners: (n, 4, 3) normalized vertices in CCW order
    SW, SE, NE, NW (S2Cell.GetVertex batched)."""
    return bounds_vertices(cells_uv_bounds(ids))


def bounds_vertices(bounds: tuple[np.ndarray, ...]) -> np.ndarray:
    """cells_vertices from the cells' cells_uv_bounds: all four corners go
    through one (n, 4) projection."""
    face, u_lo, u_hi, v_lo, v_hi = bounds
    u = np.stack((u_lo, u_hi, u_hi, u_lo), axis=1)
    v = np.stack((v_lo, v_lo, v_hi, v_hi), axis=1)
    x, y, z = ci.face_uv_to_xyz(face[:, None], u, v)
    n = np.sqrt(x * x + y * y + z * z)
    return np.stack((x / n, y / n, z / n), axis=2)


def _st_to_uv_vec(s: np.ndarray) -> np.ndarray:
    return np.where(s >= 0, (1 / 3.0) * ((1 + s) * (1 + s) - 1),
                    (1 / 3.0) * (1 - (1 - s) * (1 - s)))


def cells_contain_points(bounds: tuple[np.ndarray, ...], px, py, pz) -> np.ndarray:
    """Vectorized S2Cell.Contains(point) (uv-bound test, S2Cell.cs:444-456):
    an (n, m) matrix for the n cells whose cells_uv_bounds are `bounds` and
    m points given as coordinate arrays."""
    face, u_lo, u_hi, v_lo, v_hi = bounds
    face = face[:, None]
    px, py, pz = (np.asarray(c, dtype=np.float64)[None, :] for c in (px, py, pz))
    comp = np.choose(face % 3, [px, py, pz])
    right_side = np.where(face < 3, comp > 0, comp < 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        u, v = ci.valid_face_xyz_to_uv(face, px, py, pz)
    return (right_side & (u >= u_lo[:, None]) & (u <= u_hi[:, None])
            & (v >= v_lo[:, None]) & (v <= v_hi[:, None]))


def _get_u_norm(face: int, u: float) -> tuple[float, float, float]:
    if face == 0:
        return (u, -1.0, 0.0)
    if face == 1:
        return (1.0, u, 0.0)
    if face == 2:
        return (1.0, 0.0, u)
    if face == 3:
        return (-u, 0.0, 1.0)
    if face == 4:
        return (0.0, -u, 1.0)
    return (0.0, -1.0, -u)


def _get_v_norm(face: int, v: float) -> tuple[float, float, float]:
    if face == 0:
        return (-v, 0.0, 1.0)
    if face == 1:
        return (0.0, -v, 1.0)
    if face == 2:
        return (0.0, -1.0, -v)
    if face == 3:
        return (v, -1.0, 0.0)
    if face == 4:
        return (1.0, v, 0.0)
    return (1.0, 0.0, v)


def _face_xyz_to_uv(face: int, x: float, y: float, z: float):
    """None if p is on the wrong side of the face plane (S2Projections.cs:341-358)."""
    comp = (x, y, z)[face % 3]
    if face < 3:
        if comp <= 0:
            return None
    elif comp >= 0:
        return None
    if face == 0:
        return (y / x, z / x)
    if face == 1:
        return (-x / y, z / y)
    if face == 2:
        return (-x / z, -y / z)
    if face == 3:
        return (z / x, y / x)
    if face == 4:
        return (z / y, -x / y)
    return (-y / z, -x / z)
