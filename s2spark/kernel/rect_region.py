"""Lat/lng rectangle as a coverable region (exact cell predicates).

Gives LatLngRect the IS2Region contract so the coverer and the spatial
join accept rectangle queries.  The exact rect-cell intersection handles
the curved constant-latitude edges (great-circle vs latitude-circle
intersection); conforms to /root/reference/S2Geometry/S2LatLngRect.cs:
Contains(S2Cell) :524-544, Intersects(S2Cell) :558-636, the lng/lat edge
tests :781-857, and the cap bound :741-770.
"""

from __future__ import annotations

import math

from . import sphere
from .cap import Cap
from .cell import Cell
from .intervals import PI, LatLngRect, S1Interval


def _simple_crossing(a, b, c, d) -> bool:
    """SimpleCrossing(a,b,c,d) (S2EdgeUtil.cs:40-66)."""
    ax, ay, az = a
    bx, by, bz = b
    cx, cy, cz = c
    dx, dy, dz = d
    abx = ay * bz - az * by
    aby = az * bx - ax * bz
    abz = ax * by - ay * bx
    acb = -(abx * cx + aby * cy + abz * cz)
    bda = abx * dx + aby * dy + abz * dz
    if acb * bda <= 0:
        return False
    cdx = cy * dz - cz * dy
    cdy = cz * dx - cx * dz
    cdz = cx * dy - cy * dx
    cbd = -(cdx * bx + cdy * by + cdz * bz)
    dac = cdx * ax + cdy * ay + cdz * az
    return (acb * cbd > 0) and (acb * dac > 0)


def _intersects_lng_edge(a, b, lat_lo, lat_hi, lng) -> bool:
    return _simple_crossing(a, b, sphere.latlng_point(lat_lo, lng),
                            sphere.latlng_point(lat_hi, lng))


def _intersects_lat_edge(a, b, lat, lng: S1Interval) -> bool:
    """Great circle AB vs constant-latitude circle (S2LatLngRect.cs:796-857)."""
    zx, zy, zz = map(float, sphere.robust_cross_prod(*a, *b))
    n = math.sqrt(zx * zx + zy * zy + zz * zz)
    zx, zy, zz = zx / n, zy / n, zz / n
    if zz < 0:
        zx, zy, zz = -zx, -zy, -zz
    yx, yy, yz = map(float, sphere.robust_cross_prod(zx, zy, zz, 0.0, 0.0, 1.0))
    n = math.sqrt(yx * yx + yy * yy + yz * yz)
    yx, yy, yz = yx / n, yy / n, yz / n
    xx = yy * zz - yz * zy
    xy = yz * zx - yx * zz
    xz = yx * zy - yy * zx
    sin_lat = math.sin(lat)
    if abs(sin_lat) >= xz:
        return False
    cos_theta = sin_lat / xz
    sin_theta = math.sqrt(1 - cos_theta * cos_theta)
    theta = math.atan2(sin_theta, cos_theta)
    ab_theta = S1Interval.from_point_pair(
        math.atan2(a[0] * yx + a[1] * yy + a[2] * yz,
                   a[0] * xx + a[1] * xy + a[2] * xz),
        math.atan2(b[0] * yx + b[1] * yy + b[2] * yz,
                   b[0] * xx + b[1] * xy + b[2] * xz))
    for t, s in ((theta, sin_theta), (-theta, -sin_theta)):
        if ab_theta.contains(t):
            ix = xx * cos_theta + yx * s
            iy = xy * cos_theta + yy * s
            if lng.contains(math.atan2(iy, ix)):
                return True
    return False


class RectRegion:
    """LatLngRect with the coverer's region contract."""

    def __init__(self, rect: LatLngRect):
        self.rect = rect

    @staticmethod
    def from_degrees(lat_lo: float, lng_lo: float, lat_hi: float, lng_hi: float) -> "RectRegion":
        from .intervals import R1Interval
        return RectRegion(LatLngRect(
            R1Interval(math.radians(lat_lo), math.radians(lat_hi)),
            S1Interval(math.radians(lng_lo), math.radians(lng_hi))))

    def rect_bound(self) -> LatLngRect:
        return self.rect

    def cap_bound(self) -> Cap:
        """Bounding cap via pole cap or center cap (S2LatLngRect.cs:741-770)."""
        r = self.rect
        if r.is_empty:
            return Cap.empty()
        if r.lat.lo + r.lat.hi < 0:
            pole_z, pole_angle = -1.0, PI / 2 + r.lat.hi
        else:
            pole_z, pole_angle = 1.0, PI / 2 - r.lat.lo
        pole_cap = Cap.from_axis_angle((0.0, 0.0, pole_z), pole_angle)
        if r.lng.hi - r.lng.lo < 2 * PI:  # not full lng
            mid_cap = Cap.from_axis_angle(
                sphere.latlng_point(r.lat.center, r.lng.center), 0.0)
            for k in range(4):
                lat = r.lat.lo if k < 2 else r.lat.hi
                lng = r.lng.lo if k % 2 == 0 else r.lng.hi
                mid_cap = mid_cap.add_point(*sphere.latlng_point(lat, lng))
            if mid_cap.height < pole_cap.height:
                return mid_cap
        return pole_cap

    def contains_point(self, x, y, z) -> bool:
        return self.rect.contains_point(x, y, z)

    def contains_cell(self, cell: Cell) -> bool:
        """Rect contains cell iff it contains the cell's rect bound
        (exact because cell.rect_bound() is tight, S2LatLngRect.cs:524-528)."""
        return self.rect.contains_rect(cell.rect_bound())

    def may_intersect_cell(self, cell: Cell) -> bool:
        """Exact intersection test (S2LatLngRect.cs:558-636)."""
        r = self.rect
        if r.is_empty:
            return False
        # A rect reaching a pole holds that pole at every longitude, but its
        # lat/lng point tests place the pole at lng 0 only: test it directly.
        for pole_z, reaches in ((1.0, r.lat.hi >= PI / 2), (-1.0, r.lat.lo <= -PI / 2)):
            if reaches and cell.contains_point(0.0, 0.0, pole_z):
                return True
        cx, cy, cz = cell.get_center()
        if r.contains_point(cx, cy, cz):
            return True
        lat_c = r.lat.center
        lng_c = r.lng.center
        if cell.contains_point(*sphere.latlng_point(lat_c, lng_c)):
            return True
        if not r.intersects_rect(cell.rect_bound()):
            return False
        verts = [cell.get_vertex(k) for k in range(4)]
        lls = [(math.atan2(v[2], math.hypot(v[0], v[1])), math.atan2(v[1], v[0]))
               for v in verts]
        for lat, lng in lls:
            if r.contains_latlng(lat, lng):
                return True
        for i in range(4):
            edge_lng = S1Interval.from_point_pair(lls[i][1], lls[(i + 1) & 3][1])
            if not r.lng.intersects(edge_lng):
                continue
            a = verts[i]
            b = verts[(i + 1) & 3]
            if edge_lng.contains(r.lng.lo) and _intersects_lng_edge(
                    a, b, r.lat.lo, r.lat.hi, r.lng.lo):
                return True
            if edge_lng.contains(r.lng.hi) and _intersects_lng_edge(
                    a, b, r.lat.lo, r.lat.hi, r.lng.hi):
                return True
            if _intersects_lat_edge(a, b, r.lat.lo, r.lng):
                return True
            if _intersects_lat_edge(a, b, r.lat.hi, r.lng):
                return True
        return False
