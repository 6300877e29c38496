"""Polygon boolean operations: intersection / union via boundary clipping
and directed-XOR loop assembly.

Driver-side utilities for query-polygon preparation (SURVEY.md §2.7): the
distributed joins consume the resulting polygons like any other.  Conforms
to /root/reference/S2Geometry/S2Polygon.cs:615-811 (ClipEdge/ClipBoundary/
InitToIntersection/InitToUnion), S2EdgeUtil.GetIntersection (:218-273) and
the S2PolygonBuilder leftmost-turn loop assembly
(S2PolygonBuilder.cs:150-412).

Domain constraint (inherited from the reference): every input and result
loop must enclose at most half the sphere.  AssemblePolygon normalizes
directed loops (S2PolygonBuilder.cs:231-238), so an operation whose true
result exceeds a hemisphere would come back inverted — the reference
rejects such loops in IsValidPolygon (S2Polygon.cs:375-386, 'loop
encloses more than half the sphere') rather than supporting them.
Randomized point-set-law fuzzing (tests/test_booleans.py) covers the
supported domain.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np

from . import sphere
from .loops import Loop, Polygon, _occw, edge_or_vertex_crossing

DEFAULT_INTERSECTION_TOLERANCE = 1.5e-15  # S2EdgeUtil.cs:30

Point = tuple[float, float, float]


def _norm(p) -> Point:
    x, y, z = map(float, p)
    n = math.sqrt(x * x + y * y + z * z)
    return (x / n, y / n, z / n)


def get_intersection(a0: Point, a1: Point, b0: Point, b1: Point) -> Point:
    """Intersection point of two properly-crossing edges (S2EdgeUtil.cs:218-273)."""
    a_norm = _norm(sphere.robust_cross_prod(*a0, *a1))
    b_norm = _norm(sphere.robust_cross_prod(*b0, *b1))
    x = _norm(sphere.robust_cross_prod(*a_norm, *b_norm))
    s = (a0[0] + a1[0] + b0[0] + b1[0], a0[1] + a1[1] + b0[1] + b1[1],
         a0[2] + a1[2] + b0[2] + b1[2])
    if x[0] * s[0] + x[1] * s[1] + x[2] * s[2] < 0:
        x = (-x[0], -x[1], -x[2])
    if _occw(a0, x, a1, a_norm) and _occw(b0, x, b1, b_norm):
        return x

    def ang(p: Point, q: Point) -> float:
        c = (p[1] * q[2] - p[2] * q[1], p[2] * q[0] - p[0] * q[2],
             p[0] * q[1] - p[1] * q[0])
        return math.atan2(math.sqrt(c[0] ** 2 + c[1] ** 2 + c[2] ** 2),
                          p[0] * q[0] + p[1] * q[1] + p[2] * q[2])

    dmin, vmin = 10.0, x
    for cand, ok in ((a0, _occw(b0, a0, b1, b_norm)), (a1, _occw(b0, a1, b1, b_norm)),
                     (b0, _occw(a0, b0, a1, a_norm)), (b1, _occw(a0, b1, a1, a_norm))):
        if ok:
            d = ang(x, cand)
            if d < dmin:
                dmin, vmin = d, cand
    return vmin


def _distance_fraction(x: Point, a0: Point, a1: Point) -> float:
    ax = sphere.angle(np.float64(x[0]), np.float64(x[1]), np.float64(x[2]),
                      np.float64(a0[0]), np.float64(a0[1]), np.float64(a0[2]))
    bx = sphere.angle(np.float64(x[0]), np.float64(x[1]), np.float64(x[2]),
                      np.float64(a1[0]), np.float64(a1[1]), np.float64(a1[2]))
    d0, d1 = float(ax), float(bx)
    return d0 / (d0 + d1)


class PolygonBuilder:
    """Edge collector + leftmost-turn loop assembly with the full option
    matrix {un,}directed x {xor,union} (S2PolygonBuilderOptions,
    S2PolygonBuilder.cs:678-782), PointIndex-clustered vertex merging
    (:486-547, :593-675) and optional loop/polygon validation."""

    def __init__(self, xor_edges: bool = True,
                 undirected_edges: bool = False,
                 validate: bool = False,
                 merge_distance: float = DEFAULT_INTERSECTION_TOLERANCE):
        self.xor_edges = xor_edges
        self.undirected_edges = undirected_edges
        self.validate = validate
        self.merge_distance = merge_distance
        self.edges: dict[Point, Counter] = defaultdict(Counter)

    def add_edge(self, v0: Point, v1: Point) -> None:
        if v0 == v1:
            return
        if self.xor_edges and self.edges.get(v1, Counter())[v0] > 0:
            self._erase_edge(v1, v0)
            return
        self.edges[v0][v1] += 1
        if self.undirected_edges:
            self.edges[v1][v0] += 1

    def _erase_edge(self, v0: Point, v1: Point) -> None:
        c = self.edges[v0]
        c[v1] -= 1
        if c[v1] <= 0:
            del c[v1]
        if not c:
            del self.edges[v0]
        if self.undirected_edges:
            c = self.edges[v1]
            c[v0] -= 1
            if c[v0] <= 0:
                del c[v0]
            if not c:
                del self.edges[v1]

    def _merge_vertices(self) -> None:
        """Find connected components of the "within merge_distance" graph
        via a PointIndex (cell buckets at the level where the search disc
        fits one cell; probes hit <= 4 vertex-neighbor buckets), pick the
        component's start vertex as representative, and re-add the affected
        edges (re-applying XOR), matching S2PolygonBuilder.cs:486-547 +
        MoveVertices (:434-478)."""
        from . import cellid as ci
        from . import metrics

        verts = list({v for v0, c in self.edges.items()
                      for v in [v0, *c.keys()]})
        if not verts or self.merge_distance <= 0:
            return
        n = len(verts)
        arr = np.array(verts, dtype=np.float64)
        level = min(metrics.MIN_WIDTH.get_max_level(2 * self.merge_distance),
                    ci.MAX_LEVEL - 1)
        leaves = ci.from_point(arr[:, 0], arr[:, 1], arr[:, 2])
        cells = ci.parent_for_level(leaves, level)
        buckets: dict[int, list[int]] = defaultdict(list)
        for idx, c in enumerate(cells.tolist()):
            buckets[int(c)].append(idx)
        nbrs, valid = ci.get_vertex_neighbors(leaves, level)
        marked = np.zeros(n, dtype=bool)
        merge_map: dict[Point, Point] = {}
        for i in range(n):
            if marked[i]:
                continue
            marked[i] = True
            vstart = verts[i]
            frontier = [i]
            while frontier:
                j = frontier.pop()
                vj = arr[j]
                for cell in nbrs[j][valid[j]].tolist():
                    for k in buckets.get(int(cell), ()):
                        if marked[k]:
                            continue
                        d = float(sphere.angle(
                            np.float64(vj[0]), np.float64(vj[1]), np.float64(vj[2]),
                            np.float64(arr[k][0]), np.float64(arr[k][1]),
                            np.float64(arr[k][2])))
                        if d <= self.merge_distance:
                            marked[k] = True
                            frontier.append(k)
                            merge_map[verts[k]] = vstart
        self._move_vertices(merge_map)

    def _move_vertices(self, merge_map: dict[Point, Point]) -> None:
        if not merge_map:
            return
        moved: list[tuple[Point, Point]] = []
        for v0, c in self.edges.items():
            for v1, cnt in c.items():
                if v0 in merge_map or v1 in merge_map:
                    # only one copy of each undirected edge
                    if not self.undirected_edges or v0 < v1:
                        moved.extend([(v0, v1)] * cnt)
        for v0, v1 in moved:
            self._erase_edge(v0, v1)
            self.add_edge(merge_map.get(v0, v0), merge_map.get(v1, v1))

    def _assemble_loop(self, v0: Point, v1: Point, unused: list) -> Loop | None:
        """Leftmost-turn tracing (S2PolygonBuilder.cs:339-410)."""
        path = [v0, v1]
        index = {v1: 1}
        while len(path) >= 2:
            v0, v1 = path[-2], path[-1]
            v2 = None
            for v in self.edges.get(v1, ()):  # candidates out of v1
                if v == v0:
                    continue
                if v2 is None or _occw(v0, v2, v, v1):
                    v2 = v
            if v2 is None:
                unused.append((v0, v1))
                self._erase_edge(v0, v1)
                index.pop(v1, None)
                path.pop()
            elif v2 not in index:
                index[v2] = len(path)
                path.append(v2)
            else:
                path = path[index[v2]:]
                loop = Loop(np.array(path))
                if self.validate and not loop.is_valid():
                    # self-crossing loop: bad input — reject the whole loop
                    # (S2PolygonBuilder.cs:393-401 RejectLoop)
                    n = len(path)
                    for i in range(n):
                        unused.append((path[i], path[(i + 1) % n]))
                        self._erase_edge(path[i], path[(i + 1) % n])
                    return None
                return loop
        return None

    def _erase_loop(self, loop: Loop) -> None:
        n = loop.num_vertices
        for i in range(n):
            self._erase_edge(loop.vertex(i), loop.vertex((i + 1) % n))

    def assemble_loops(self) -> tuple[list[Loop], list]:
        if self.merge_distance > 0:
            self._merge_vertices()
        loops: list[Loop] = []
        unused: list = []
        while self.edges:
            v0 = next(iter(self.edges))
            v1 = next(iter(self.edges[v0]))
            loop = self._assemble_loop(v0, v1, unused)
            if loop is None:
                continue
            # Undirected edges may have assembled a CW loop while aiming for
            # CCW: reassemble from an edge of the reverse direction — each
            # retry is interior to the previous, so it terminates
            # (S2PolygonBuilder.cs:193-201).
            while (loop is not None and self.undirected_edges
                   and not loop.is_normalized):
                loop = self._assemble_loop(loop.vertex(1), loop.vertex(0),
                                           unused)
            if loop is None:
                continue
            loops.append(loop)
            self._erase_loop(loop)
        return loops, unused

    def assemble_polygon_with_unused(self) -> tuple[Polygon, list]:
        """AssemblePolygon (S2PolygonBuilder.cs:211-252): normalize loops
        (already CCW for undirected input), validate, init nesting."""
        loops, unused = self.assemble_loops()
        if not self.undirected_edges:
            loops = [lp.normalized() for lp in loops]
        if self.validate and not _is_valid_polygon(loops):
            for lp in loops:
                n = lp.num_vertices
                unused.extend((lp.vertex(i), lp.vertex((i + 1) % n))
                              for i in range(n))
            return Polygon([]), unused
        # nesting depth by containment counting (non-crossing outputs)
        final = []
        for i, lp in enumerate(loops):
            depth = sum(1 for j, other in enumerate(loops)
                        if i != j and other.contains_loop(lp))
            final.append(Loop(lp.vertices, depth=depth))
        return Polygon(final), unused

    def assemble_polygon(self) -> Polygon:
        return self.assemble_polygon_with_unused()[0]


def _is_valid_polygon(loops: list[Loop]) -> bool:
    """S2Polygon.IsValidPolygon (S2Polygon.cs:347-395): no shared undirected
    edges across loops, every loop normalized, no two loops cross."""
    if len(loops) > 1:
        seen: set[tuple[Point, Point]] = set()
        for lp in loops:
            n = lp.num_vertices
            for i in range(n):
                a, b = lp.vertex(i), lp.vertex((i + 1) % n)
                key = (a, b) if a < b else (b, a)
                if key in seen:
                    return False
                seen.add(key)
    for i, lp in enumerate(loops):
        if not lp.is_normalized:
            return False
        for other in loops[i + 1:]:
            if lp.contains_or_crosses(other) < 0:
                return False
    return True


def _clip_boundary(a: Polygon, reverse_a: bool, b: Polygon, reverse_b: bool,
                   invert_b: bool, add_shared_edges: bool,
                   builder: PolygonBuilder) -> None:
    """Clip boundary of A to the interior (or exterior) of B
    (S2Polygon.cs:693-736); B's edge set is brute-enumerated (query
    polygons are small — index acceleration is the join's job)."""
    b_edges = []
    for lp in b.loops:
        n = lp.num_vertices
        direction = -1 if ((lp.depth & 1) ^ reverse_b) else 1
        for j in range(n):
            v_from = lp.vertex(j if direction > 0 else (n - j) % n)
            v_to = lp.vertex((j + 1) % n if direction > 0 else (n - j - 1) % n)
            b_edges.append((v_from, v_to))

    for lp in a.loops:
        n = lp.num_vertices
        direction = -1 if ((lp.depth & 1) ^ reverse_a) else 1
        v0 = lp.vertex(0)
        inside = bool(b.contains_points(np.array([v0[0]]), np.array([v0[1]]),
                                        np.array([v0[2]]))[0]) ^ invert_b
        j = 0 if direction > 0 else n
        for _ in range(n):
            a0 = lp.vertex(j % n)
            a1 = lp.vertex((j + direction) % n)
            j += direction
            intersections = []
            for b0, b1 in b_edges:
                rc = edge_or_vertex_crossing(a0, a1, b0, b1)
                if rc > 0:
                    x = get_intersection(a0, a1, b0, b1)
                    intersections.append((_distance_fraction(x, a0, a1), x))
                elif rc == 0:
                    t = 0.0 if (a0 == b0 or a0 == b1) else 1.0
                    if not add_shared_edges and a1 == b1:
                        t = 1.0
                    intersections.append((t, a0 if t == 0.0 else a1))
            if inside:
                intersections.append((0.0, a0))
            inside = (len(intersections) & 1) == 1
            if inside:
                intersections.append((1.0, a1))
            intersections.sort(key=lambda p: (p[0], p[1]))
            for i in range(1, len(intersections), 2):
                builder.add_edge(intersections[i - 1][1], intersections[i][1])


def intersection(a: Polygon, b: Polygon,
                 merge_radius: float = DEFAULT_INTERSECTION_TOLERANCE) -> Polygon:
    """A ∩ B (S2Polygon.InitToIntersectionSloppy, S2Polygon.cs:763-786)."""
    if not a.bound.intersects_rect(b.bound):
        return Polygon([])
    builder = PolygonBuilder(merge_distance=merge_radius)
    _clip_boundary(a, False, b, False, False, True, builder)
    _clip_boundary(b, False, a, False, False, False, builder)
    return builder.assemble_polygon()


def union(a: Polygon, b: Polygon,
          merge_radius: float = DEFAULT_INTERSECTION_TOLERANCE) -> Polygon:
    """A ∪ B (S2Polygon.InitToUnionSloppy, S2Polygon.cs:788-811)."""
    builder = PolygonBuilder(merge_distance=merge_radius)
    _clip_boundary(a, False, b, False, True, True, builder)
    _clip_boundary(b, False, a, False, True, False, builder)
    return builder.assemble_polygon()


def difference(a: Polygon, b: Polygon,
               merge_radius: float = DEFAULT_INTERSECTION_TOLERANCE) -> Polygon:
    """A \\ B: boundary of A clipped to the exterior of REVERSED B + reversed
    boundary of B clipped to A's interior (S2Polygon InitToDifferenceSloppy:
    ClipBoundary(a, false, b, true, true, true) — reverse_b=True matters for
    vertex-crossing / shared-edge handling when B abuts A along an edge)."""
    builder = PolygonBuilder(merge_distance=merge_radius)
    _clip_boundary(a, False, b, True, True, True, builder)
    _clip_boundary(b, True, a, False, False, False, builder)
    return builder.assemble_polygon()


def destructive_union(polygons: list[Polygon],
                      merge_radius: float = DEFAULT_INTERSECTION_TOLERANCE) -> Polygon:
    """n-way union, smallest-first pairing (S2Polygon.cs:818-893)."""
    import heapq
    heap = [(sum(lp.num_vertices for lp in p.loops), i, p)
            for i, p in enumerate(polygons)]
    heapq.heapify(heap)
    counter = len(polygons)
    while len(heap) > 1:
        _, _, p1 = heapq.heappop(heap)
        _, _, p2 = heapq.heappop(heap)
        u = union(p1, p2, merge_radius)
        heapq.heappush(heap, (sum(lp.num_vertices for lp in u.loops), counter, u))
        counter += 1
    return heap[0][2] if heap else Polygon([])
