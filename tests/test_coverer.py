"""Region coverer conformance: checkCovering oracle (GeometryTestCase.cs:121-154,
S2RegionCovererTest.cs:13-122) over random caps, loops, and cell regions."""

import math

import numpy as np

from s2spark.kernel import cellid as ci, metrics
from s2spark.kernel.cap import Cap
from s2spark.kernel.cell import Cell
from s2spark.kernel.cellunion import contains_id
from s2spark.kernel.coverer import RegionCoverer
from s2spark.kernel.loops import Loop
from tests.conftest import parse_vertices

U = np.uint64


def check_exterior_covering(region, covering, tight=True):
    """Recursive cover check, tight mode (GeometryTestCase.cs:121-154)."""
    srt = np.sort(np.asarray(covering, dtype=U))
    # covering cells must be disjoint
    if len(srt) > 1:
        assert np.all(ci.range_max(srt)[:-1] < ci.range_min(srt)[1:])

    def recurse(cover_id):
        cell = Cell(cover_id)
        arr = np.array([cover_id], dtype=U)
        if not region.may_intersect_cell(cell):
            if tight:
                lo, hi = ci.range_min(arr)[0], ci.range_max(arr)[0]
                overlap = (ci.range_min(srt) <= hi) & (ci.range_max(srt) >= lo)
                assert not np.any(overlap), "covering intersects a non-intersecting cell"
            return
        if bool(contains_id(srt, arr)[0]):
            return
        assert not region.contains_cell(cell), "region-contained cell missing from covering"
        assert int(ci.level_of(arr)[0]) < 30, "leaf cell not covered"
        for ch in ci.children(arr)[0]:
            recurse(int(ch))

    for f in range(6):
        recurse(int(ci.from_face_pos_level(np.array([f]), np.array([0], dtype=U), 0)[0]))


def random_cap(rng, min_area, max_area):
    cap_area = max_area * (min_area / max_area) ** rng.uniform()
    z = rng.uniform(-1, 1)
    theta = rng.uniform(-math.pi, math.pi)
    r = math.sqrt(1 - z * z)
    return Cap.from_axis_height((r * math.cos(theta), r * math.sin(theta), z),
                                cap_area / (2 * math.pi))


def test_random_caps_oracle(rng):
    cov = RegionCoverer(max_cells=8)
    for _ in range(40):
        max_area = min(4 * math.pi,
                       1000 * metrics.AVG_AREA.get_value(30) * (4.0 ** int(rng.integers(0, 12))))
        cap = random_cap(rng, 0.1 * metrics.AVG_AREA.get_value(30), max_area)
        covering = cov.get_covering(cap)
        assert 1 <= len(covering) <= 12
        check_exterior_covering(cap, covering)
        interior = cov.get_interior_covering(cap)
        for cid in interior:
            assert cap.contains_cell(Cell(int(cid)))
        # determinism (S2RegionCovererTest.cs:88-91)
        again = RegionCoverer(max_cells=8).get_covering(cap)
        assert np.array_equal(covering, again)


def test_min_max_level_constraints(rng):
    for _ in range(10):
        min_level = int(rng.integers(0, 20))
        max_level = min_level + int(rng.integers(0, 8))
        # cap no larger than a min_level cell (mirrors S2RegionCovererTest.cs:66-70)
        cap = random_cap(rng, 0.1 * metrics.AVG_AREA.get_value(30),
                         metrics.AVG_AREA.get_value(min_level))
        cov = RegionCoverer(min_level=min_level, max_level=max_level,
                            max_cells=int(rng.integers(1, 10)))
        covering = cov.get_covering(cap)
        levels = ci.level_of(covering)
        assert np.all(levels >= min_level)
        assert np.all(levels <= max_level)
        check_exterior_covering(cap, covering, tight=False)


def test_level_mod(rng):
    for level_mod in (2, 3):
        cap = random_cap(rng, 0.1 * metrics.AVG_AREA.get_value(30), 0.001)
        cov = RegionCoverer(level_mod=level_mod, max_cells=8)
        covering = cov.get_covering(cap)
        levels = ci.level_of(covering)
        assert np.all(levels % level_mod == 0)


class CellRegion:
    """A single cell as an IS2Region (S2RegionCovererTest.cs:106-122)."""

    def __init__(self, cell: Cell):
        self.cell = cell
        self.arr = np.array([cell.id], dtype=U)

    def cap_bound(self):
        c = Cap.empty()
        for k in range(4):
            c = c.add_point(*self.cell.get_vertex(k))
        return c

    def rect_bound(self):
        return self.cell.rect_bound()

    def contains_cell(self, other):
        return bool(ci.contains(self.arr, np.array([other.id], dtype=U))[0])

    def may_intersect_cell(self, other):
        return bool(ci.intersects(self.arr, np.array([other.id], dtype=U))[0])


def test_single_cell_identity(rng):
    for _ in range(300):
        z = rng.uniform(-1, 1)
        theta = rng.uniform(-math.pi, math.pi)
        r = math.sqrt(1 - z * z)
        leaf = int(np.atleast_1d(ci.from_point(
            np.array([r * math.cos(theta)]), np.array([r * math.sin(theta)]),
            np.array([z])))[0])
        level = int(rng.integers(0, 31))
        cid = int(ci.parent_for_level(np.array([leaf], dtype=U), level)[0])
        got = RegionCoverer(max_cells=1).get_covering(CellRegion(Cell(cid)))
        assert len(got) == 1 and int(got[0]) == cid


def test_loop_covering_oracle():
    lp = Loop(parse_vertices("-1:-1, -1:1, 1:1, 1:-1"))
    cov = RegionCoverer(max_cells=8)
    covering = cov.get_covering(lp)
    assert 1 <= len(covering) <= 12
    check_exterior_covering(lp, covering)
    interior = cov.get_interior_covering(lp)
    for cid in interior:
        assert lp.contains_cell(Cell(int(cid)))


def _convex_inside(loop, pts):
    """Independent convex-polygon membership: all edge-normal dots positive
    (valid for CCW convex loops — the fuzz fixtures)."""
    v = loop.vertices
    n = len(v)
    out = np.ones(len(pts), dtype=bool)
    for i in range(n):
        nrm = np.cross(v[i], v[(i + 1) % n])
        out &= pts @ nrm > 0
    return out


def test_random_polygon_covering_completeness():
    """Independent completeness fuzz: check_exterior_covering grades the
    covering against the region's OWN may_intersect predicate, so a shared
    bug could hide.  Here random convex cap polygons are sampled with an
    independent determinant-sign membership oracle, and every inside
    point's leaf cell must fall in some covering cell — the property the
    spatial join's candidate generation rides on.  Interior-covering cells
    are cross-checked the other way (center + vertices inside)."""
    from s2spark.kernel.cell import cells_vertices
    from s2spark.kernel.loops import Polygon
    from tests.test_booleans import _random_cap_polygon

    rng = np.random.default_rng(8675309)
    for _ in range(10):
        poly, c, r = _random_cap_polygon(rng, int(rng.integers(3, 12)))
        loop = poly.loops[0]
        covering = np.asarray(
            RegionCoverer(max_cells=8).get_covering(poly), dtype=U)
        # (check_exterior_covering's per-cell recursion over polygon
        # predicates is minutes per trial — the fixed-loop test keeps it;
        # this fuzz contributes the independent point-sampling oracle)
        # sample within 1.2r of the center: dense around the boundary
        d = rng.normal(size=(4000, 3))
        d /= np.linalg.norm(d, axis=1, keepdims=True)
        t = r * rng.uniform(0.0, 1.2, 4000)
        p = (np.cos(t)[:, None] * c[None, :]
             + np.sin(t)[:, None] * np.cross(c, d))
        p /= np.linalg.norm(p, axis=1, keepdims=True)
        inside = _convex_inside(loop, p)
        assert inside.sum() > 100, "fixture must sample the interior"
        leaves = ci.from_point(p[inside, 0], p[inside, 1], p[inside, 2])
        covered = contains_id(np.sort(covering), leaves)
        assert covered.all(), (
            f"{(~covered).sum()} inside points outside the covering")
        # interior covering: every cell fully inside by the oracle
        interior = np.asarray(
            RegionCoverer(max_cells=8).get_interior_covering(poly), dtype=U)
        if len(interior):
            vs = cells_vertices(interior)           # (k, 4, 3)
            centers = vs.sum(axis=1)
            centers /= np.linalg.norm(centers, axis=1, keepdims=True)
            for pts in (vs[:, 0], vs[:, 1], vs[:, 2], vs[:, 3], centers):
                assert _convex_inside(loop, pts).all(), \
                    "interior-covering cell leaks outside the polygon"


def test_polygon_with_hole_covering_completeness():
    """Same independent completeness check for a polygon with a hole:
    inside-shell-outside-hole points must be covered; interior-covering
    cells must avoid the hole."""
    from s2spark.kernel.cell import cells_vertices
    from s2spark.kernel.loops import Loop as L, Polygon
    from tests.test_booleans import _cap_polygon_at

    rng = np.random.default_rng(13579)
    c = rng.normal(size=3)
    c /= np.linalg.norm(c)
    shell_poly, _, r_shell = _cap_polygon_at(rng, c, 8, max_radius_deg=20.0)
    shell = shell_poly.loops[0]
    hole_poly, _, r_hole = _cap_polygon_at(rng, c, 6, max_radius_deg=6.0)
    hole = L(hole_poly.loops[0].vertices, depth=1)
    poly = Polygon([L(shell.vertices, depth=0), hole])
    covering = np.asarray(
        RegionCoverer(max_cells=12).get_covering(poly), dtype=U)
    d = rng.normal(size=(6000, 3))
    d /= np.linalg.norm(d, axis=1, keepdims=True)
    t = r_shell * rng.uniform(0.0, 1.2, 6000)
    p = (np.cos(t)[:, None] * c[None, :]
         + np.sin(t)[:, None] * np.cross(c, d))
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    inside = _convex_inside(shell, p) & ~_convex_inside(hole, p)
    assert inside.sum() > 100
    leaves = ci.from_point(p[inside, 0], p[inside, 1], p[inside, 2])
    covered = contains_id(np.sort(covering), leaves)
    assert covered.all(), f"{(~covered).sum()} ring points outside covering"
    interior = np.asarray(
        RegionCoverer(max_cells=12).get_interior_covering(poly), dtype=U)
    if len(interior):
        vs = cells_vertices(interior)
        centers = vs.sum(axis=1)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        for pts in (vs[:, 0], vs[:, 1], vs[:, 2], vs[:, 3], centers):
            ok = _convex_inside(shell, pts) & ~_convex_inside(hole, pts)
            assert ok.all(), "interior-covering cell touches hole/exterior"


def test_interior_budget_stats_recorded():
    """Observability contract for the interior pop budget: an exhausted
    budget (performance cliff: fewer fast-accept cells -> more skin work
    downstream) must be visible in last_interior_stats, and an
    unconstrained covering must report exhausted=False."""
    cap = Cap.from_axis_angle(np.array([1.0, 0.0, 0.0]), 0.1)
    cov = RegionCoverer(max_cells=8)
    full = cov.get_interior_covering(cap)
    stats = cov.last_interior_stats
    assert stats is not None
    assert stats["budget_exhausted"] is False
    assert stats["interior_cells"] == len(full)
    assert stats["max_cells"] == 8
    assert 0 < stats["pops"] <= stats["pop_budget"]

    tight = RegionCoverer(max_cells=8, interior_pop_budget=2)
    trimmed = tight.get_interior_covering(cap)
    t = tight.last_interior_stats
    assert t["budget_exhausted"] is True
    assert t["pops"] == 2 and t["pop_budget"] == 2
    assert len(trimmed) <= len(full)


def _cell_boundary_samples(cells):
    """(k, m, 3) sample points on each cell: 4 vertices, 4 edge midpoints
    (cell edges are geodesics, so normalized midpoints lie ON the edge),
    and the center — a necessary-condition probe set for 'cell inside
    region' that never consults the region's own predicates."""
    from s2spark.kernel.cell import cells_vertices
    vs = cells_vertices(np.asarray(cells, dtype=U))        # (k, 4, 3)
    mids = vs + np.roll(vs, -1, axis=1)
    centers = vs.sum(axis=1, keepdims=True)
    pts = np.concatenate([vs, mids, centers], axis=1)
    return pts / np.linalg.norm(pts, axis=2, keepdims=True)


def test_random_caps_covering_completeness():
    """Independent-oracle covering fuzz for CAPS (the regions s2_cap_query
    leans on): membership is graded by raw arc distance to the axis —
    arithmetic the Cap class's own contains/may_intersect predicates never
    touch — matching the reference's random-cap sweep
    (S2RegionCovererTest.cs:59-103) with an uncontaminatable oracle.
    Points sampled inside the cap must land in covered leaves; interior-
    covering cell boundary samples must all be inside the cap."""
    rng = np.random.default_rng(20260817)
    for trial in range(12):
        c = rng.normal(size=3)
        c /= np.linalg.norm(c)
        r = math.radians(rng.uniform(0.05, 30.0))
        cap = Cap.from_axis_angle(tuple(c), r)
        covering = np.sort(np.asarray(
            RegionCoverer(max_cells=8).get_covering(cap), dtype=U))
        # sample: random directions, arc distance uniform in [0, r)
        d = rng.normal(size=(4000, 3))
        d -= (d @ c)[:, None] * c[None, :]
        d /= np.linalg.norm(d, axis=1, keepdims=True)
        # 1e-9 rad inside the boundary: pure-ULP membership disputes are
        # not covering bugs
        t = rng.uniform(0.0, 1.0, 4000) * max(r - 1e-9, 0.0)
        p = np.cos(t)[:, None] * c[None, :] + np.sin(t)[:, None] * d
        p /= np.linalg.norm(p, axis=1, keepdims=True)
        assert (np.arccos(np.clip(p @ c, -1, 1)) <= r).all()
        leaves = ci.from_point(p[:, 0], p[:, 1], p[:, 2])
        covered = contains_id(covering, leaves)
        assert covered.all(), (
            f"trial {trial}: {(~covered).sum()} in-cap points uncovered")
        interior = RegionCoverer(max_cells=8).get_interior_covering(cap)
        if len(interior):
            pts = _cell_boundary_samples(interior).reshape(-1, 3)
            ang = np.arccos(np.clip(pts @ c, -1, 1))
            assert (ang <= r + 1e-12).all(), (
                f"trial {trial}: interior-covering cell leaks outside cap")


def test_random_rects_covering_completeness():
    """Independent-oracle covering fuzz for LAT-LNG RECTS (the regions
    s2_rect_query leans on), including wrapping lng intervals: points are
    GENERATED from (lat, lng) pairs known to be inside the rect, so
    membership needs no trig inversion at all; interior-covering cell
    boundary samples are graded by raw arctan lat/lng recovery."""
    from s2spark.kernel.rect_region import RectRegion

    rng = np.random.default_rng(31337)
    for trial in range(12):
        lat_lo = rng.uniform(-75.0, 60.0)
        lat_hi = lat_lo + rng.uniform(3.0, 25.0)
        lng_lo = rng.uniform(-180.0, 180.0)
        width = rng.uniform(5.0, 90.0)
        lng_hi = lng_lo + width
        if lng_hi > 180.0:
            lng_hi -= 360.0          # wrapping interval (lo > hi)
        rect = RectRegion.from_degrees(lat_lo, lng_lo, lat_hi, lng_hi)
        covering = np.sort(np.asarray(
            RegionCoverer(max_cells=8).get_covering(rect), dtype=U))
        # generate in-rect points directly in latlng space, 1e-7 deg
        # inside the boundary (ULP disputes are not covering bugs)
        eps = 1e-7
        lats = rng.uniform(lat_lo + eps, lat_hi - eps, 4000)
        lngs = (lng_lo + eps
                + rng.uniform(0.0, width - 2 * eps, 4000) + 180.0) \
            % 360.0 - 180.0
        lat_r, lng_r = np.radians(lats), np.radians(lngs)
        p = np.stack([np.cos(lat_r) * np.cos(lng_r),
                      np.cos(lat_r) * np.sin(lng_r),
                      np.sin(lat_r)], axis=1)
        leaves = ci.from_point(p[:, 0], p[:, 1], p[:, 2])
        covered = contains_id(covering, leaves)
        assert covered.all(), (
            f"trial {trial}: {(~covered).sum()} in-rect points uncovered "
            f"(rect {lat_lo:.3f}..{lat_hi:.3f} / {lng_lo:.3f}..{lng_hi:.3f})")
        interior = RegionCoverer(max_cells=8).get_interior_covering(rect)
        if len(interior):
            pts = _cell_boundary_samples(interior).reshape(-1, 3)
            plat = np.degrees(np.arctan2(
                pts[:, 2], np.hypot(pts[:, 0], pts[:, 1])))
            plng = np.degrees(np.arctan2(pts[:, 1], pts[:, 0]))
            tol = 1e-9
            ok_lat = (plat >= lat_lo - tol) & (plat <= lat_hi + tol)
            if lng_lo <= lng_hi:
                ok_lng = (plng >= lng_lo - tol) & (plng <= lng_hi + tol)
            else:
                ok_lng = (plng >= lng_lo - tol) | (plng <= lng_hi + tol)
            assert (ok_lat & ok_lng).all(), (
                f"trial {trial}: interior-covering cell leaks outside rect")


def test_tile_polygon_coverings_batch_their_cell_tests(monkeypatch):
    """Building the tile pipeline's skin coverings relates each popped
    candidate's children (and the start cells) in one call, not one call
    per expanded candidate: 161 relate_cells calls for the three
    `jobs/spatial_pipeline` polygons, where a per-candidate coverer makes
    299.  The rows are pinned to the per-candidate coverer's."""
    import hashlib

    from jobs.spatial_pipeline import QUERY_POLYGONS
    from s2spark.kernel.loops import Polygon
    from s2spark.operators.spatial_join import build_coverings
    from s2spark.plans import covercache
    from s2spark.sources.fixtures import make_polygon

    calls = []
    relate = Polygon.relate_cells
    monkeypatch.setattr(Polygon, "relate_cells",
                        lambda self, ids: calls.append(len(ids)) or relate(self, ids))
    monkeypatch.setattr(covercache, "_MEMO", {})
    polys = {pid: make_polygon(s) for pid, s in QUERY_POLYGONS.items()}
    rows = build_coverings(polys)
    assert len(calls) < 200
    assert hashlib.sha256(repr(sorted(rows.itertuples(
        index=False, name=None))).encode()).hexdigest() == (
        "d794fcde7b4bdc5e30e2cdd9184c2515c9b6ce95bf40070af0dbdbac48d2cda6")


def test_empty_polygon_covers_nothing():
    """A boolean result can be the empty polygon (intersection of disjoint
    polygons): it relates no cell, so its covering and interior covering
    are empty rather than an error."""
    from s2spark.kernel import booleans
    from s2spark.sources.fixtures import make_polygon

    empty = booleans.intersection(make_polygon("0:0, 0:1, 1:1, 1:0;"),
                                  make_polygon("10:10, 10:11, 11:11, 11:10;"))
    assert empty.loops == []
    may, contains = empty.relate_cells(ci.from_face_pos_level(
        np.arange(6), np.zeros(6), 0))
    assert not may.any() and not contains.any()
    assert len(RegionCoverer(max_cells=8).get_covering(empty)) == 0
    assert len(RegionCoverer(max_cells=8).get_interior_covering(empty)) == 0
