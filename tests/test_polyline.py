"""Polyline kernel + simple-covering conformance."""

import math

import numpy as np
import pytest

from s2spark.kernel import cellid as ci
from s2spark.kernel.cell import Cell
from s2spark.kernel.coverer import RegionCoverer, get_simple_covering
from s2spark.kernel.polyline import Polyline
from tests.conftest import parse_vertices


def test_arc_length_equator_quarter():
    # 0:0 -> 0:45 -> 0:90 along the equator = pi/2 (S2Polyline.cs:56-67)
    pl = Polyline(parse_vertices("0:0, 0:45, 0:90"))
    assert pl.arc_length() == pytest.approx(math.pi / 2, abs=1e-12)


def test_interpolate_midpoint():
    pl = Polyline(parse_vertices("0:0, 0:90"))
    x, y, z = pl.interpolate(0.5)
    lat = math.degrees(math.atan2(z, math.hypot(x, y)))
    lng = math.degrees(math.atan2(y, x))
    assert lat == pytest.approx(0, abs=1e-9)
    assert lng == pytest.approx(45, abs=1e-9)
    assert pl.interpolate(0.0) == pytest.approx(tuple(pl.vertices[0]))
    assert pl.interpolate(1.0) == pytest.approx(tuple(pl.vertices[-1]))


def test_polyline_validity():
    assert Polyline(parse_vertices("0:0, 0:45, 10:60")).is_valid()
    bad = Polyline(np.array([[1.0, 0, 0], [2.0, 0, 0]]))  # not unit length
    assert not bad.is_valid()


def test_polyline_covering_oracle():
    # coverer accepts a polyline region: covering must touch every vertex
    pl = Polyline(parse_vertices("5:5, 6:7, 8:8, 10:5"))
    covering = RegionCoverer(max_cells=8).get_covering(pl)
    from s2spark.kernel.cellunion import contains_id
    leafs = ci.from_point(pl.vertices[:, 0], pl.vertices[:, 1], pl.vertices[:, 2])
    assert bool(np.all(contains_id(covering, leafs)))
    # polylines contain no cells: interior covering must be empty
    assert len(RegionCoverer(max_cells=8, max_level=12).get_interior_covering(pl)) == 0


def test_simple_covering_flood_fill():
    # fixed-level flood fill covers a small cap seeded at its center
    from s2spark.kernel.cap import Cap
    cap = Cap.from_axis_angle((1.0, 0.0, 0.0), 0.05)
    cells = get_simple_covering(cap, (1.0, 0.0, 0.0), 8)
    assert len(cells) >= 4
    assert np.all(ci.level_of(cells) == 8)
    # every covering cell must actually intersect the cap
    for cid in cells:
        assert cap.may_intersect_cell(Cell(int(cid)))
    # coverage: random points in the cap land in covered cells
    from s2spark.kernel.cellunion import contains_id
    rng = np.random.default_rng(5)
    d = rng.normal(size=(4000, 3))
    d -= (d @ np.array([1.0, 0, 0]))[:, None] * np.array([1.0, 0, 0])
    d /= np.linalg.norm(d, axis=1, keepdims=True)
    t = rng.uniform(0, 0.05, 4000)
    pts = np.cos(t)[:, None] * np.array([1.0, 0, 0]) + np.sin(t)[:, None] * d
    leafs = ci.from_point(pts[:, 0], pts[:, 1], pts[:, 2])
    assert bool(np.all(contains_id(cells, leafs)))


def _n(p):
    s = math.sqrt(sum(v * v for v in p))
    return tuple(v / s for v in p)


def _approx(a, b, eps=1e-12):
    return all(abs(x - y) <= eps for x, y in zip(a, b))


def test_length_random_great_circles():
    """S2PolylineTest.cs:82-111: random great circles split into random
    segments always measure 2*pi."""
    rng = np.random.default_rng(31)
    for _ in range(100):
        x = _n(rng.normal(size=3))
        r = rng.normal(size=3)
        y = _n(np.cross(x, r))
        vertices = []
        theta = 0.0
        while theta < 2 * math.pi:
            p = tuple(np.array(x) * math.cos(theta) + np.array(y) * math.sin(theta))
            if not vertices or p != vertices[-1]:
                vertices.append(p)
            theta += rng.random() ** 10
        vertices.append(vertices[0])
        pl = Polyline(np.array(vertices))
        assert abs(pl.arc_length() - 2 * math.pi) < 2e-14


def test_interpolate_reference_goldens():
    """S2PolylineTest.cs:114-131."""
    verts = np.array([(1, 0, 0), (0, 1, 0), _n((0, 1, 1)), (0, 0, 1)],
                     dtype=np.float64)
    line = Polyline(verts)
    assert _approx(line.interpolate(-0.1), tuple(verts[0]))
    assert _approx(line.interpolate(0.1),
                   _n((1, math.tan(0.2 * math.pi / 2), 0)), 1e-9)
    assert _approx(line.interpolate(0.25), _n((1, 1, 0)), 1e-9)
    assert _approx(line.interpolate(0.5), tuple(verts[1]), 1e-9)
    assert _approx(line.interpolate(0.75), tuple(verts[2]), 1e-9)
    assert _approx(line.interpolate(1.1), tuple(verts[3]), 1e-9)


def test_may_intersect_face_matrix():
    """S2PolylineTest.cs:134-146: the diagonal segment intersects exactly
    the even faces."""
    verts = np.array([_n((1, -1.1, 0.8)), _n((1, -0.8, 1.1))])
    line = Polyline(verts)
    for face in range(6):
        cell = Cell(int(ci.from_face_pos_level(
            np.array([face]), np.array([0], dtype=np.uint64),
            np.array([0]))[0]))
        assert line.may_intersect_cell(cell) == ((face & 1) == 0)


def test_project_reference_goldens():
    """S2PolylineTest.cs:148-189."""
    from s2spark.kernel import cellid as cik

    def pt(lat, lng):
        x, y, z = cik.xyz_from_latlng_deg(np.array([float(lat)]),
                                          np.array([float(lng)]))
        return (float(x[0]), float(y[0]), float(z[0]))

    line = Polyline(np.array([pt(0, 0), pt(0, 1), pt(0, 2), pt(1, 2)]))
    cases = [
        ((0.5, -0.5), (0, 0), 0),
        ((0.5, 0.5), (0, 0.5), 0),
        ((0.5, 1), (0, 1), 0),
        ((-0.5, 2.5), (0, 2), 1),
        ((2, 2), (1, 2), 2),
    ]
    for (qlat, qlng), (elat, elng), eidx in cases:
        q = pt(qlat, qlng)
        idx = line.get_nearest_edge_index(*q)
        proj = line.project_to_edge(*q, idx)
        assert idx == eidx
        assert _approx(proj, pt(elat, elng), 1e-9)


def test_interpolate_sql_matches_kernel():
    """Constant-folded slerp CASE chain == kernel Polyline.interpolate."""
    import math

    import duckdb
    import numpy as np

    from s2spark.kernel import cellid as ci
    from s2spark.kernel.polyline import Polyline
    from s2spark.operators.distance_ops import polyline_interpolate_sql

    track = [(0.0, 0.0), (10.0, 10.0), (10.0, 20.0), (-5.0, 30.0)]
    verts = np.stack([np.array(ci.xyz_from_latlng_deg(
        np.array([la]), np.array([ln]))).reshape(3) for la, ln in track])
    pl = Polyline(verts)
    lat_sql, lng_sql = polyline_interpolate_sql(track)
    con = duckdb.connect()
    for frac in [0.0, 0.001, 0.17, 0.5, 0.62, 0.99, 1.0]:
        got_lat, got_lng = con.execute(
            f"SELECT {lat_sql}, {lng_sql} FROM (SELECT {frac!r} AS frac)"
        ).fetchone()
        x, y, z = pl.interpolate(frac)
        exp_lat = math.degrees(math.atan2(z, math.hypot(x, y)))
        exp_lng = math.degrees(math.atan2(y, x))
        assert abs(got_lat - exp_lat) < 1e-9, frac
        assert abs(got_lng - exp_lng) < 1e-9, frac


def test_project_random_polylines_vs_independent_arc_oracle():
    """Randomized projection fuzz: project_points' distances must equal
    the test-suite's independent arc-distance oracle (validated against
    dense slerp sampling in test_operator_fuzz), the projected point must
    lie on the reported edge, and its distance to the query must equal
    the reported minimum."""
    import numpy as np
    from test_operator_fuzz import _arc_dist

    from s2spark.kernel import cellid as ci
    from s2spark.kernel.polyline import Polyline

    rng = np.random.default_rng(31337)
    for trial in range(10):
        n = int(rng.integers(2, 8))
        lat0 = float(rng.uniform(-60, 60))
        lng0 = float(rng.uniform(-150, 150))
        vlat = np.clip(lat0 + np.cumsum(rng.uniform(-6, 6, n)), -85, 85)
        vlng = ((lng0 + np.cumsum(rng.uniform(2, 8, n)) + 180) % 360) - 180
        xs, ys, zs = ci.xyz_from_latlng_deg(vlat, vlng)
        verts = np.stack([xs, ys, zs], axis=1)
        pl = Polyline(verts)

        plat = np.clip(lat0 + rng.uniform(-30, 30, 120), -89, 89)
        plng = ((lng0 + rng.uniform(-30, 30, 120) + 180) % 360) - 180
        px, py, pz = ci.xyz_from_latlng_deg(plat, plng)
        pts = np.stack([px, py, pz], axis=1)

        idx, qx, qy, qz, dist = pl.project_points(px, py, pz)

        expect = np.min(np.stack(
            [_arc_dist(pts, verts[i], verts[i + 1])
             for i in range(n - 1)]), axis=0)
        assert np.allclose(dist, expect, atol=1e-12), f"trial {trial}"

        q = np.stack([qx, qy, qz], axis=1)
        # projected point sits ON its edge (distance ~0 to that edge)
        for j in range(len(pts)):
            a, b = verts[idx[j]], verts[idx[j] + 1]
            on_edge = _arc_dist(q[j:j + 1], a, b)[0]
            assert on_edge < 1e-9, f"trial {trial} point {j}"
        # and the reported distance IS the query-to-projection angle
        ang = np.arctan2(np.linalg.norm(np.cross(pts, q), axis=1),
                         np.sum(pts * q, axis=1))
        assert np.allclose(ang, dist, atol=1e-9), f"trial {trial}"


def test_interpolate_random_fractions_arc_length_consistent():
    """interpolate(f)'s point splits the polyline's arc length at exactly
    f * total: the length accumulated along edges up to the projected
    position equals the target (independent accumulation, no kernel
    length reuse)."""
    import math

    import numpy as np

    from s2spark.kernel import cellid as ci
    from s2spark.kernel.polyline import Polyline

    rng = np.random.default_rng(90210)
    for trial in range(8):
        n = int(rng.integers(3, 7))
        vlat = np.clip(np.cumsum(rng.uniform(-8, 8, n)), -80, 80)
        vlng = ((np.cumsum(rng.uniform(3, 9, n)) + 180) % 360) - 180
        xs, ys, zs = ci.xyz_from_latlng_deg(vlat, vlng)
        verts = np.stack([xs, ys, zs], axis=1)
        pl = Polyline(verts)

        def ang(u, v):
            return math.atan2(float(np.linalg.norm(np.cross(u, v))),
                              float(np.dot(u, v)))

        seg = [ang(verts[i], verts[i + 1]) for i in range(n - 1)]
        total = sum(seg)
        for f in rng.uniform(0.05, 0.95, 12):
            p = np.array(pl.interpolate(float(f)))
            # locate p's edge: the one whose endpoints bracket it
            walked = 0.0
            placed = False
            for i in range(n - 1):
                da = ang(verts[i], p)
                db = ang(p, verts[i + 1])
                if abs(da + db - seg[i]) < 1e-9:   # p lies on edge i
                    walked += da
                    placed = True
                    break
                walked += seg[i]
            assert placed, f"trial {trial} f={f}"
            assert abs(walked - f * total) < 1e-9, f"trial {trial} f={f}"
