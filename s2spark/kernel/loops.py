"""S2 loops & polygons: vectorized point-in-polygon via crossing parity.

A loop is a closed CCW-interior-left vertex chain; a polygon is a set of
nested loops where a point is inside iff it is inside an odd number of
loops (/root/reference/S2Geometry/S2Polygon.cs:10-16).

The hot kernel is :meth:`Loop.contains_points`: instead of the reference's
stateful per-edge EdgeCrosser (S2EdgeUtil.cs:740-868) we batch the parity
computation across (points x loop-edges) with one matrix of orientation
signs, a masked slow path for edge pairs straddling the great circle, and
a scalar fallback for shared-vertex degeneracies — semantics identical to
S2Loop.Contains (S2Loop.cs:795-834) with origin parity from the fixed
point S2.Origin = (0,1,0) (S2.cs:97).
"""

from __future__ import annotations

import math

import numpy as np

from . import sphere
from .intervals import PI, LatLngRect, R1Interval, RectBounder, S1Interval
from .cell import Cell

ORIGIN = (0.0, 1.0, 0.0)  # S2.cs:97

# displacement constant for area fan origin (S2Loop.cs:506-513)
_E = math.e


def _occw(a, b, c, o) -> bool:
    """Scalar OrderedCcw of 3-tuples (or length-1 arrays)."""
    return bool(sphere.ordered_ccw(*a, *b, *c, *o)[0])


def _vertex_crossing(a, b, c, d) -> bool:
    """Parity rule at shared vertices (S2EdgeUtil.cs:150-181). a..d are 3-tuples."""
    if a == b or c == d:
        return False
    if a == d:
        return _occw(sphere.ortho(*a), c, b, a)
    if b == c:
        return _occw(sphere.ortho(*b), d, a, b)
    if a == c:
        return _occw(sphere.ortho(*a), d, b, a)
    if b == d:
        return _occw(sphere.ortho(*b), c, a, b)
    return False


def edge_or_vertex_crossing(a, b, c, d) -> int:
    """EdgeOrVertexCrossing of edges AB and CD (S2EdgeUtil.cs:185-203) in
    three ways: +1 they cross at a point interior to both, 0 they share a
    vertex that counts as a crossing, -1 neither.  a..d are 3-tuples."""
    rc = int(robust_crossing_batch(*a, *b, *c, *d)[0])
    if rc == 0:
        return 0 if _vertex_crossing(a, b, c, d) else -1
    return rc


def robust_crossing_batch(ax, ay, az, bx, by, bz, cx, cy, cz, dx, dy, dz):
    """Vectorized RobustCrossing over parallel edge arrays
    (S2EdgeUtil.cs:85-123). Returns int8 {-1, 0, +1}."""
    abx, aby, abz = sphere.cross(ax, ay, az, bx, by, bz)
    acb = -sphere.robust_ccw(ax, ay, az, bx, by, bz, cx, cy, cz, abx, aby, abz)
    bda = sphere.robust_ccw(ax, ay, az, bx, by, bz, dx, dy, dz, abx, aby, abz)
    out = np.full(np.broadcast(acb, bda).shape, -1, dtype=np.int8)
    degenerate = (bda & acb) == 0
    maybe = (bda == acb) & ~degenerate
    if np.any(maybe):
        cdx, cdy, cdz = sphere.cross(cx, cy, cz, dx, dy, dz)
        cbd = -sphere.robust_ccw(cx, cy, cz, dx, dy, dz, bx, by, bz, cdx, cdy, cdz)
        dac = sphere.robust_ccw(cx, cy, cz, dx, dy, dz, ax, ay, az, cdx, cdy, cdz)
        out[maybe & (cbd == acb) & (dac == acb)] = 1
    out[degenerate] = 0
    return out


def edges_cross_cells(a0: np.ndarray, a1: np.ndarray, cv: np.ndarray) -> np.ndarray:
    """For each cell with corners `cv` ((n, 4, 3), cells_vertices), whether
    any edge a0[e] -> a1[e] ((m, 3) each) crosses a cell edge or touches it
    (RobustCrossing >= 0): every edge meets every cell edge in one
    broadcast (m, 4n) crossing test."""
    n = len(cv)
    b0 = cv.reshape(n * 4, 3).T[:, None, :]                 # (3,1,4n)
    b1 = cv[:, [1, 2, 3, 0], :].reshape(n * 4, 3).T[:, None, :]
    rc = robust_crossing_batch(*a0.T[:, :, None], *a1.T[:, :, None], *b0, *b1)
    return (rc.reshape(len(a0), n, 4) >= 0).any(axis=(0, 2))


def relate_cells(ids: np.ndarray, loops: list, contains_points
                 ) -> tuple[np.ndarray, np.ndarray]:
    """Batched (may_intersect, contains) of the cells `ids` against the
    region bounded by `loops`, whose point test is `contains_points`.

    A cell may intersect the region if an edge of any loop crosses a cell
    edge, a cell corner is inside, or a loop's first vertex is in the
    cell; it is contained if no edge crosses, every corner is inside and
    no first vertex is in the cell.  The ids are decoded once.  With no
    loops (an empty polygon) no cell is related."""
    from .cell import bounds_vertices, cells_contain_points, cells_uv_bounds
    ids = np.asarray(ids, dtype=np.uint64)
    if not loops:
        none = np.zeros(len(ids), dtype=bool)
        return none, none.copy()
    bounds = cells_uv_bounds(ids)
    cv = bounds_vertices(bounds)                            # (n,4,3)
    a0, a1 = zip(*(lp._edges() for lp in loops))
    crossing_any = edges_cross_cells(np.concatenate(a0), np.concatenate(a1), cv)
    corners = cv.reshape(-1, 3)
    inside = contains_points(corners[:, 0], corners[:, 1],
                             corners[:, 2]).reshape(len(ids), 4)
    first = np.array([lp.vertices[0] for lp in loops])
    v0_in_cell = cells_contain_points(bounds, *first.T).any(axis=1)
    may = crossing_any | inside.any(axis=1) | v0_in_cell
    contains = ~crossing_any & inside.all(axis=1) & ~v0_in_cell
    return may, contains


def _wedge_contains(a0, ab1, a2, b0, b2) -> int:
    """+1 if wedge A contains wedge B (S2EdgeUtil.cs:610-625)."""
    return 1 if (_occw(a2, b2, b0, ab1) and _occw(b0, a0, a2, ab1)) else 0


def _wedge_intersects(a0, ab1, a2, b0, b2) -> int:
    """-1 if the wedges intersect (S2EdgeUtil.cs:588-608)."""
    return 0 if (_occw(a0, b2, b0, ab1) and _occw(b0, a2, a0, ab1)) else -1


def _wedge_contains_or_crosses(a0, ab1, a2, b0, b2) -> int:
    """+1 A contains B, 0 disjoint-or-B-contains-A, -1 crossing
    (S2EdgeUtil.cs:506-556)."""
    if _occw(a0, a2, b2, ab1):
        if _occw(b2, b0, a0, ab1):
            return 1
        return 0 if a2 == b2 else -1
    return 0 if _occw(a0, b0, a2, ab1) else -1


class Loop:
    """Single loop with precomputed bound + origin-inside bit."""

    def __init__(self, vertices: np.ndarray, depth: int = 0):
        v = np.asarray(vertices, dtype=np.float64)
        if v.ndim != 2 or v.shape[1] != 3 or v.shape[0] < 3:
            raise ValueError("vertices must be (n>=3, 3)")
        self.vertices = v
        self.depth = depth
        self.bound = LatLngRect.full()
        self.origin_inside = False
        self._init_origin()
        self._init_bound()

    @property
    def num_vertices(self) -> int:
        return len(self.vertices)

    def vertex(self, i: int) -> tuple[float, float, float]:
        v = self.vertices[i % len(self.vertices)]
        return (float(v[0]), float(v[1]), float(v[2]))

    # -- construction internals ----------------------------------------------

    def _init_origin(self) -> None:
        """Determine whether S2.Origin is inside (S2Loop.cs:907-932)."""
        v1 = self.vertex(1)
        v1_inside = _occw(sphere.ortho(*v1), self.vertex(0), self.vertex(2), v1)
        self.origin_inside = False
        contains_v1 = bool(self.contains_points(
            np.array([v1[0]]), np.array([v1[1]]), np.array([v1[2]]))[0])
        if v1_inside != contains_v1:
            self.origin_inside = True

    def _init_bound(self) -> None:
        """Wrap-safe lat/lng bound incl. pole handling (S2Loop.cs:934-964)."""
        bounder = RectBounder()
        n = self.num_vertices
        for i in range(n + 1):
            v = self.vertices[i % n]
            bounder.add_point(float(v[0]), float(v[1]), float(v[2]))
        b = bounder.bound
        self.bound = LatLngRect.full()
        if bool(self.contains_points(np.array([0.0]), np.array([0.0]), np.array([1.0]))[0]):
            b = LatLngRect(R1Interval(b.lat.lo, PI / 2), S1Interval.full())
        if b.lng.is_full and bool(
                self.contains_points(np.array([0.0]), np.array([0.0]), np.array([-1.0]))[0]):
            b = LatLngRect(R1Interval(-PI / 2, b.lat.hi), b.lng)
        self.bound = b

    # -- point containment (THE hot kernel) -----------------------------------

    def contains_points(self, px, py, pz) -> np.ndarray:
        """Vectorized S2Loop.Contains over point arrays (S2Loop.cs:795-834)."""
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        pz = np.asarray(pz, dtype=np.float64)
        result = np.zeros(px.shape, dtype=bool)
        in_bound = self.bound.contains_points(px, py, pz)
        if not np.any(in_bound):
            return result
        qx, qy, qz = px[in_bound], py[in_bound], pz[in_bound]
        # chunk the parity kernel: it materializes ~10 (n_points, n_verts)
        # temporaries, so one monolithic call on a 10^5-point batch against
        # a many-vertex loop drags a multi-GB working set through memory;
        # cache-sized chunks (~4M matrix elements) measure 7-17x faster on
        # the 512-vertex refine fixture with bit-identical output (the
        # kernel is pure per-point).
        chunk = max(1024, 4_000_000 // max(len(self.vertices), 1))
        if len(qx) <= chunk:
            result[in_bound] = self._parity_inside(qx, qy, qz)
        else:
            result[in_bound] = np.concatenate([
                self._parity_inside(qx[i:i + chunk], qy[i:i + chunk],
                                    qz[i:i + chunk])
                for i in range(0, len(qx), chunk)])
        return result

    def _parity_inside(self, px, py, pz) -> np.ndarray:
        verts = self.vertices  # (m,3)
        m = len(verts)
        k = len(px)
        # w[i, j] = RobustCcw(Origin, p_i, v_j) with aCrossB = Origin x p_i
        # Origin x p = (oy*pz - oz*py, oz*px - ox*pz, ox*py - oy*px) with o=(0,1,0)
        oxp = np.empty((k, 3))
        oxp[:, 0] = pz
        oxp[:, 1] = 0.0
        oxp[:, 2] = -px
        w = sphere.ccw_signs(oxp @ verts.T, lambda idx: (  # (k, m)
            *ORIGIN, px[idx[0]], py[idx[0]], pz[idx[0]], *verts[idx[1]].T))

        w_prev = np.roll(w, 1, axis=1)  # w_{j-1} with wraparound (chain start v[m-1])
        # edge j: c = v_{j-1}, d = v_j; acb = -w_prev, bda = w
        same_side = (w == w_prev) & (w != 0)          # no crossing
        degenerate = (w == 0) | (w_prev == 0)          # vertex-crossing rule
        slow = ~same_side & ~degenerate                # opposite sides: full test

        crossings = np.zeros((k, m), dtype=bool)
        if np.any(slow):
            # per-edge c x d, and dac = RobustCcw(c, d, Origin)
            c_verts = np.roll(verts, 1, axis=0)
            cd = np.cross(c_verts, verts)  # (m,3)
            dac = sphere.ccw_signs(cd[:, 1], lambda idx: (  # dot(cd, Origin)
                *c_verts[idx].T, *verts[idx].T, *ORIGIN))
            rows, cols = np.nonzero(slow)
            # cbd = -RobustCcw(c, d, p) with cCrossD precomputed
            cbd = -sphere.ccw_signs(
                cd[cols, 0] * px[rows] + cd[cols, 1] * py[rows]
                + cd[cols, 2] * pz[rows],
                lambda idx: (*c_verts[cols[idx]].T, *verts[cols[idx]].T,
                             px[rows[idx]], py[rows[idx]], pz[rows[idx]]))
            acb = -w_prev[rows, cols]
            crossings[rows, cols] = (cbd == acb) & (dac[cols] == acb)
        if np.any(degenerate):
            for r, c in zip(*np.nonzero(degenerate)):
                crossings[r, c] = edge_or_vertex_crossing(
                    ORIGIN, (px[r], py[r], pz[r]), tuple(verts[c - 1]),
                    tuple(verts[c])) >= 0
        parity = np.logical_xor.reduce(crossings, axis=1)
        return parity ^ self.origin_inside

    # -- measures --------------------------------------------------------------

    def get_area_centroid(self) -> tuple[float, tuple[float, float, float]]:
        """(area, centroid*area) via fan from displaced origin (S2Loop.cs:483-550)."""
        if self.num_vertices < 3:
            return 0.0, (0.0, 0.0, 0.0)
        origin = np.array(self.vertex(0))
        a = np.abs(origin)
        if a[0] > a[1]:
            k = 0 if a[0] > a[2] else 2
        else:
            k = 1 if a[1] > a[2] else 2
        axis = (k + 1) % 3
        origin = origin.copy()
        origin[axis] += _E * 1e-10
        origin /= np.linalg.norm(origin)

        n = self.num_vertices
        v0 = self.vertices[np.arange(n)]
        v1 = self.vertices[(np.arange(n) + 1) % n]
        ox = np.full(n, origin[0]); oy = np.full(n, origin[1]); oz = np.full(n, origin[2])
        areas = sphere.signed_area(ox, oy, oz, v0[:, 0], v0[:, 1], v0[:, 2],
                                   v1[:, 0], v1[:, 1], v1[:, 2])
        area_sum = float(np.sum(areas))
        mx, my, mz = sphere.true_centroid(ox, oy, oz, v0[:, 0], v0[:, 1], v0[:, 2],
                                          v1[:, 0], v1[:, 1], v1[:, 2])
        centroid = (float(np.sum(mx)), float(np.sum(my)), float(np.sum(mz)))
        if area_sum < 0:
            area_sum += 4 * PI
        return area_sum, centroid

    def get_area(self) -> float:
        return self.get_area_centroid()[0]

    @property
    def is_normalized(self) -> bool:
        """Area at most 2*pi (with slack for errors, S2Loop.cs:201-212)."""
        return self.get_area() <= 2 * PI + 1e-6

    def inverted(self) -> "Loop":
        return Loop(self.vertices[::-1].copy(), depth=self.depth)

    def normalized(self) -> "Loop":
        """Loop with area <= 2*pi, inverting if necessary (S2Loop.cs:442-448;
        the reference's makePolygon normalizes every loop on load,
        GeometryTestCase.cs:211-222)."""
        return self if self.is_normalized else self.inverted()

    def get_distance(self, px: float, py: float, pz: float) -> float:
        """Min angle to any loop edge (S2Loop.cs:842-855); 0 handled by caller."""
        n = self.num_vertices
        v0 = self.vertices
        v1 = self.vertices[(np.arange(n) + 1) % n]
        d = sphere.point_edge_distance(
            np.float64(px), np.float64(py), np.float64(pz),
            v0[:, 0], v0[:, 1], v0[:, 2], v1[:, 0], v1[:, 1], v1[:, 2])
        return float(np.min(d))

    # -- cell predicates (coverer contract, S2Loop.cs:350-383) ------------------

    def _edges(self) -> tuple[np.ndarray, np.ndarray]:
        n = self.num_vertices
        return self.vertices, self.vertices[(np.arange(n) + 1) % n]

    def is_valid(self) -> bool:
        """S2Loop.IsValid (S2Loop.cs:202-280): no vertex repeats and no two
        edges that share no vertex cross.  A loop that fails it has no
        well-defined interior (a zero-area spike, a bowtie): its point
        test and its covering are meaningless."""
        n = self.num_vertices
        if len({self.vertex(i) for i in range(n)}) != n:
            return False
        # edge pairs (i, j), i < j, that share no vertex
        i, j = np.triu_indices(n, 2)
        keep = ~((i == 0) & (j == n - 1))
        i, j = i[keep], j[keep]
        a0, a1 = self._edges()
        rc = robust_crossing_batch(*a0[i].T, *a1[i].T, *a0[j].T, *a1[j].T)
        return not bool(np.any(rc > 0))

    def contains_cell(self, cell: Cell) -> bool:
        """True only if the loop definitely contains the cell (conservative
        False possible; IS2Region contract of S2Loop.Contains(S2Cell),
        S2Loop.cs:350-364).  Delegates to the batched predicate so scalar
        and batched paths can never disagree."""
        return bool(self.relate_cells(np.array([cell.id], dtype=np.uint64))[1][0])

    def may_intersect_cell(self, cell: Cell) -> bool:
        """False only if the loop definitely does not intersect the cell
        (S2Loop.cs:371-383)."""
        return bool(self.relate_cells(np.array([cell.id], dtype=np.uint64))[0][0])

    # -- loop-loop relations (S2Loop.cs:577-758) --------------------------------

    def find_vertex(self, p: tuple[float, float, float]) -> int:
        """Index (1..n) of a vertex equal to p, or -1 (S2Loop.cs:971-994)."""
        for i in range(1, self.num_vertices + 1):
            if self.vertex(i) == p:
                return i
        return -1

    def _check_edge_crossings(self, b: "Loop", wedge_test) -> int:
        """-1 on any proper edge crossing; else min wedge relation over
        shared vertices; +1 if neither (S2Loop.cs:1003-1045).  Brute force
        over edge pairs, crossing tests batched."""
        m, k = self.num_vertices, b.num_vertices
        a0, a1 = self._edges()
        b0, b1 = b._edges()
        A0 = np.repeat(a0, k, axis=0)
        A1 = np.repeat(a1, k, axis=0)
        B0 = np.tile(b0, (m, 1))
        B1 = np.tile(b1, (m, 1))
        rc = robust_crossing_batch(
            B0[:, 0], B0[:, 1], B0[:, 2], B1[:, 0], B1[:, 1], B1[:, 2],
            A0[:, 0], A0[:, 1], A0[:, 2], A1[:, 0], A1[:, 1], A1[:, 2]).reshape(m, k)
        if np.any(rc > 0):
            return -1
        result = 1
        for i in range(m):
            for j in range(k):
                if self.vertex(i + 1) == b.vertex(j + 1):
                    result = min(result, wedge_test(
                        self.vertex(i), self.vertex(i + 1), self.vertex(i + 2),
                        b.vertex(j), b.vertex(j + 2)))
                    if result < 0:
                        return result
        return result

    def contains_loop(self, b: "Loop") -> bool:
        """S2Loop.Contains(S2Loop) (S2Loop.cs:577-627)."""
        if not self.bound.contains_rect(b.bound):
            return False
        if not self._contains_vertex(b.vertex(0)) and self.find_vertex(b.vertex(0)) < 0:
            return False
        if self._check_edge_crossings(b, _wedge_contains) <= 0:
            return False
        if self.bound.union(b.bound).is_full:
            if b._contains_vertex(self.vertex(0)) and b.find_vertex(self.vertex(0)) < 0:
                return False
        return True

    def intersects_loop(self, b: "Loop") -> bool:
        """S2Loop.Intersects(S2Loop) (S2Loop.cs:633-684)."""
        if not self.bound.intersects_rect(b.bound):
            return False
        if b.bound.lng.length > self.bound.lng.length:
            return b.intersects_loop(self)
        if self._contains_vertex(b.vertex(0)) and self.find_vertex(b.vertex(0)) < 0:
            return True
        if self._check_edge_crossings(b, _wedge_intersects) < 0:
            return True
        if b.bound.contains_rect(self.bound):
            if b._contains_vertex(self.vertex(0)) and b.find_vertex(self.vertex(0)) < 0:
                return True
        return False

    def contains_nested(self, b: "Loop") -> bool:
        """S2Loop.ContainsNested (S2Loop.cs:690-708)."""
        if not self.bound.contains_rect(b.bound):
            return False
        m = self.find_vertex(b.vertex(1))
        if m < 0:
            return self._contains_vertex(b.vertex(1))
        return _wedge_contains(self.vertex(m - 1), self.vertex(m),
                               self.vertex(m + 1), b.vertex(0), b.vertex(2)) > 0

    def contains_or_crosses(self, b: "Loop") -> int:
        """+1 contains, -1 boundaries cross, 0 otherwise (S2Loop.cs:716-758)."""
        if not self.bound.intersects_rect(b.bound):
            return 0
        result = self._check_edge_crossings(b, _wedge_contains_or_crosses)
        if result <= 0:
            return result
        if not self.bound.contains_rect(b.bound):
            return 0
        if not self._contains_vertex(b.vertex(0)) and self.find_vertex(b.vertex(0)) < 0:
            return 0
        return 1

    def _contains_vertex(self, p: tuple[float, float, float]) -> bool:
        return bool(self.contains_points(np.array([p[0]]), np.array([p[1]]),
                                         np.array([p[2]]))[0])

    def relate_cells(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Batched (may_intersect, contains) for an array of cell ids — one
        vectorized pass instead of per-cell Cell construction (the coverer's
        hot path; same conservative semantics as the scalar predicates)."""
        return relate_cells(ids, [self], self.contains_points)

    def cap_bound(self):
        from .cap import Cap
        full = LatLngRect.full()
        b = self.bound
        # conservative: cap around rect center covering rect corners
        if b.is_empty:
            return Cap.empty()
        if b.is_full or b == full:
            return Cap.full()
        lat_c = b.lat.center
        lng_c = b.lng.center
        ax = (math.cos(lat_c) * math.cos(lng_c),
              math.cos(lat_c) * math.sin(lng_c), math.sin(lat_c))
        cap = Cap.from_axis_height(ax, 0.0)
        for lat in (b.lat.lo, b.lat.hi):
            for lng in (b.lng.lo, b.lng.hi):
                x = math.cos(lat) * math.cos(lng)
                y = math.cos(lat) * math.sin(lng)
                z = math.sin(lat)
                cap = cap.add_point(x, y, z)
        # widen to be safe for wrapped longitude intervals
        if b.lng.is_inverted or b.lng.length > PI:
            return Cap.full()
        return cap

    def rect_bound(self) -> LatLngRect:
        return self.bound


class Polygon:
    """Nested loops; point inside iff inside an odd number of loops
    (S2Polygon.cs:943-963)."""

    def __init__(self, loops: list[Loop]):
        self.loops = loops
        b = LatLngRect.empty()
        for lp in loops:
            if lp.depth == 0 or lp.depth % 2 == 0:
                b = b.union(lp.bound)
        # reference combines bounds of shell loops (S2Polygon.cs:272-324)
        if not loops:
            b = LatLngRect.empty()
        self.bound = b

    @classmethod
    def from_nested(cls, loops: list["Loop"]) -> "Polygon":
        """Build a polygon from non-crossing loops, assigning nesting
        depths and ordering loops by PREORDER traversal of the nesting
        hierarchy (the invariant get_parent / get_last_descendant rely
        on; InitNested, S2Polygon.cs:214-268).

        Each loop's parent is its smallest container — the container
        that is itself contained by every other container of the loop.
        """
        n = len(loops)
        holds = [[i != j and loops[i].contains_nested(loops[j])
                  for j in range(n)] for i in range(n)]
        n_containers = [sum(holds[j][i] for j in range(n)) for i in range(n)]
        parent = [-1] * n
        for i in range(n):
            containers = [j for j in range(n) if holds[j][i]]
            if containers:
                # smallest container = the most-deeply-contained one
                parent[i] = max(containers, key=lambda j: n_containers[j])
        children: dict[int, list[int]] = {}
        roots = []
        for i in range(n):
            if parent[i] < 0:
                roots.append(i)
            else:
                children.setdefault(parent[i], []).append(i)
        ordered: list[Loop] = []

        def visit(i: int, depth: int) -> None:
            ordered.append(Loop(loops[i].vertices.copy(), depth=depth))
            for c in children.get(i, ()):
                visit(c, depth + 1)

        for r in roots:
            visit(r, 0)
        return cls(ordered)

    def get_parent(self, k: int) -> int:
        """Index of loop k's parent in the nesting hierarchy, or -1 for a
        shell at depth 0 (S2Polygon.cs:410-421).  With loops in preorder,
        the parent is the nearest preceding loop of smaller depth."""
        depth = self.loops[k].depth
        if depth == 0:
            return -1
        for j in range(k - 1, -1, -1):
            if self.loops[j].depth < depth:
                return j
        return -1

    def get_last_descendant(self, k: int) -> int:
        """Index of the last loop contained within loop k (num_loops-1
        for k < 0; S2Polygon.cs:432-443).  Immediate children of k are
        the loops in (k, last_descendant(k)] whose depth == depth(k)+1."""
        if k < 0:
            return len(self.loops) - 1
        depth = self.loops[k].depth
        j = k + 1
        while j < len(self.loops) and self.loops[j].depth > depth:
            j += 1
        return j - 1

    def check_valid(self) -> None:
        """Raise ValueError if a loop is not valid (Loop.is_valid)."""
        for k, lp in enumerate(self.loops):
            if not lp.is_valid():
                raise ValueError(
                    f"loop {k} is not valid: a vertex repeats or two edges "
                    "cross (S2Loop.IsValid)")

    def contains_points(self, px, py, pz) -> np.ndarray:
        px = np.asarray(px, dtype=np.float64)
        result = np.zeros(px.shape, dtype=bool)
        in_bound = self.bound.contains_points(px, py, pz)
        if not np.any(in_bound):
            return result
        qx = px[in_bound]
        qy = np.asarray(py)[in_bound]
        qz = np.asarray(pz)[in_bound]
        inside = np.zeros(qx.shape, dtype=bool)
        for lp in self.loops:
            inside ^= lp.contains_points(qx, qy, qz)
        result[in_bound] = inside
        return result

    def get_area_centroid(self) -> tuple[float, tuple[float, float, float]]:
        """Sum over loops of sign(depth) * loop area (S2Polygon.cs:446-468)."""
        area = 0.0
        cx = cy = cz = 0.0
        for lp in self.loops:
            sign = -1.0 if (lp.depth & 1) else 1.0
            a, (x, y, z) = lp.get_area_centroid()
            area += sign * a
            cx += sign * x; cy += sign * y; cz += sign * z
        return area, (cx, cy, cz)

    def get_distance(self, px: float, py: float, pz: float) -> float:
        """0 if contained, else min over loops (S2Polygon.cs:487-503)."""
        if bool(self.contains_points(np.array([px]), np.array([py]), np.array([pz]))[0]):
            return 0.0
        return min(lp.get_distance(px, py, pz) for lp in self.loops)

    def contains_cell(self, cell: Cell) -> bool:
        """Conservative polygon-cell containment (S2Polygon.cs:224-248);
        delegates to the batched predicate."""
        return bool(self.relate_cells(np.array([cell.id], dtype=np.uint64))[1][0])

    def may_intersect_cell(self, cell: Cell) -> bool:
        return bool(self.relate_cells(np.array([cell.id], dtype=np.uint64))[0][0])

    # -- polygon-polygon relations (S2Polygon.cs:511-601, 1044-1134) ------------

    @property
    def has_holes(self) -> bool:
        return any(lp.depth & 1 for lp in self.loops)

    def _any_loop_contains(self, b: Loop) -> bool:
        return any(lp.contains_loop(b) for lp in self.loops)

    def contains_or_crosses_loop(self, b: Loop) -> int:
        """+1 polygon contains loop b, -1 boundaries cross, 0 otherwise
        (XOR of per-loop results, S2Polygon.cs:1044-1062)."""
        inside = False
        for lp in self.loops:
            result = lp.contains_or_crosses(b)
            if result < 0:
                return -1
            if result > 0:
                inside = not inside
        return 1 if inside else 0

    def _contains_all_shells(self, b: "Polygon") -> bool:
        return all(self.contains_or_crosses_loop(lp) > 0
                   for lp in b.loops if not (lp.depth & 1))

    def _excludes_all_holes(self, b: "Polygon") -> bool:
        return all(self.contains_or_crosses_loop(lp) == 0
                   for lp in b.loops if lp.depth & 1)

    def _intersects_any_shell(self, b: "Polygon") -> bool:
        return any(self.contains_or_crosses_loop(lp) != 0
                   for lp in b.loops if not (lp.depth & 1))

    def contains_polygon(self, b: "Polygon") -> bool:
        """S2Polygon.Contains (S2Polygon.cs:511-554)."""
        if len(self.loops) == 1 and len(b.loops) == 1:
            return self.loops[0].contains_loop(b.loops[0])
        if not self.bound.contains_rect(b.bound):
            if not self.bound.lng.union(b.bound.lng).is_full:
                return False
        if not self.has_holes and not b.has_holes:
            return all(self._any_loop_contains(lp) for lp in b.loops)
        return self._contains_all_shells(b) and b._excludes_all_holes(self)

    def intersects_polygon(self, b: "Polygon") -> bool:
        """S2Polygon.Intersects (S2Polygon.cs:560-601)."""
        if len(self.loops) == 1 and len(b.loops) == 1:
            return self.loops[0].intersects_loop(b.loops[0])
        if not self.bound.intersects_rect(b.bound):
            return False
        if not self.has_holes and not b.has_holes:
            return any(la.intersects_loop(lb)
                       for la in self.loops for lb in b.loops)
        return self._intersects_any_shell(b) or b._intersects_any_shell(self)

    def relate_cells(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Batched (may_intersect, contains) across all loops."""
        return relate_cells(ids, self.loops, self.contains_points)

    def cap_bound(self):
        from .cap import Cap
        if not self.loops:
            return Cap.empty()
        cap = self.loops[0].cap_bound()
        for lp in self.loops[1:]:
            cap = cap.add_cap(lp.cap_bound())
        return cap

    def rect_bound(self) -> LatLngRect:
        return self.bound
