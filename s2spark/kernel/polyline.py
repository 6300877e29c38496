"""S2 polylines: vertex chains without containment semantics.

Conforms to /root/reference/S2Geometry/S2Polyline.cs: arc length (:56-67),
interpolation (:74-117), cell relations (:125-161), validity (:201-226).
Vectorized over the vertex arrays; the Spark-facing arc-length path is a
pure higher-order Column expression (see operators side), this class
backs the coverer contract and driver-side fixtures.
"""

from __future__ import annotations

import numpy as np

from . import sphere
from .cell import Cell, bounds_vertices, cells_contain_points, cells_uv_bounds
from .intervals import LatLngRect, RectBounder
from .loops import edges_cross_cells


class Polyline:
    def __init__(self, vertices: np.ndarray):
        v = np.asarray(vertices, dtype=np.float64)
        if v.ndim != 2 or v.shape[1] != 3 or len(v) < 2:
            raise ValueError("polyline needs >= 2 xyz vertices")
        self.vertices = v
        bounder = RectBounder()
        for p in v:
            bounder.add_point(float(p[0]), float(p[1]), float(p[2]))
        self.bound = bounder.bound

    @property
    def num_vertices(self) -> int:
        return len(self.vertices)

    def arc_length(self) -> float:
        """Sum of edge angles (S2Polyline.cs:56-67)."""
        a = self.vertices[:-1]
        b = self.vertices[1:]
        return float(np.sum(sphere.angle(a[:, 0], a[:, 1], a[:, 2],
                                         b[:, 0], b[:, 1], b[:, 2])))

    def interpolate(self, fraction: float) -> tuple[float, float, float]:
        """Point at the given fraction of total arc length (S2Polyline.cs:74-117)."""
        if fraction <= 0:
            return tuple(map(float, self.vertices[0]))
        target = fraction * self.arc_length()
        for i in range(1, self.num_vertices):
            a, b = self.vertices[i - 1], self.vertices[i]
            length = float(sphere.angle(*a, *b))
            if target < length:
                f = np.sin(target) / np.sin(length) if length > 0 else 0.0
                # slerp along the edge
                ax = np.cos(target) - f * np.cos(length)
                p = ax * a + f * b
                n = np.linalg.norm(p)
                return tuple(map(float, p / n))
            target -= length
        return tuple(map(float, self.vertices[-1]))

    def is_valid(self) -> bool:
        """Unit-length vertices, no identical or antipodal neighbors
        (S2Polyline.cs:201-226)."""
        norms = np.linalg.norm(self.vertices, axis=1)
        if not np.allclose(norms, 1.0, atol=1e-11):
            return False
        a = self.vertices[:-1]
        b = self.vertices[1:]
        dots = np.sum(a * b, axis=1)
        return bool(np.all(np.abs(dots) < 1.0))

    def get_nearest_edge_index(self, x: float, y: float, z: float) -> int:
        """Index of the first edge closest to the point (S2Polyline.cs:287-311);
        strict < keeps the lowest index on ties."""
        d = self._edge_distances(np.float64(x), np.float64(y), np.float64(z))
        return int(np.argmin(d))

    def project_to_edge(self, x: float, y: float, z: float,
                        index: int) -> tuple[float, float, float]:
        """Closest point on edge `index` to the given point
        (S2Polyline.cs:317-331 -> S2EdgeUtil.GetClosestPoint)."""
        a = self.vertices[index]
        b = self.vertices[index + 1]
        qx, qy, qz = sphere.closest_point_on_edge(
            np.float64(x), np.float64(y), np.float64(z),
            np.float64(a[0]), np.float64(a[1]), np.float64(a[2]),
            np.float64(b[0]), np.float64(b[1]), np.float64(b[2]))
        return float(qx), float(qy), float(qz)

    def project(self, x: float, y: float, z: float
                ) -> tuple[tuple[float, float, float], int]:
        """(closest point on the polyline, nearest edge index)."""
        i = self.get_nearest_edge_index(x, y, z)
        return self.project_to_edge(x, y, z, i), i

    def _edge_distances(self, px, py, pz) -> np.ndarray:
        a = self.vertices[:-1]
        b = self.vertices[1:]
        return sphere.point_edge_distance(
            px, py, pz, a[:, 0], a[:, 1], a[:, 2], b[:, 0], b[:, 1], b[:, 2])

    def project_points(self, px: np.ndarray, py: np.ndarray, pz: np.ndarray
                       ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """Batch project: for each input point, (edge_index, qx, qy, qz,
        distance_rad).  The point x edge distance matrix is vectorized —
        this is the Arrow-batch kernel behind map-matching UDFs."""
        a = self.vertices[:-1]
        b = self.vertices[1:]
        # (n_edges, n_points) distances via broadcasting; per-edge normals
        # computed once on (n_edges,) arrays
        nx, ny, nz = sphere.robust_cross_prod(a[:, 0], a[:, 1], a[:, 2],
                                              b[:, 0], b[:, 1], b[:, 2])
        D = sphere.point_edge_distance_with_normal(
            px[None, :], py[None, :], pz[None, :],
            a[:, 0:1], a[:, 1:2], a[:, 2:3], b[:, 0:1], b[:, 1:2], b[:, 2:3],
            nx[:, None], ny[:, None], nz[:, None])
        idx = np.argmin(D, axis=0)
        sa = a[idx]
        sb = b[idx]
        qx, qy, qz = sphere.closest_point_on_edge(
            px, py, pz, sa[:, 0], sa[:, 1], sa[:, 2], sb[:, 0], sb[:, 1], sb[:, 2])
        return idx, qx, qy, qz, D[idx, np.arange(len(px))]

    # -- coverer / region contract --------------------------------------------

    def rect_bound(self) -> LatLngRect:
        return self.bound

    def cap_bound(self):
        from .cap import Cap
        cap = Cap.empty()
        for p in self.vertices:
            cap = cap.add_point(float(p[0]), float(p[1]), float(p[2]))
        return cap

    def contains_cell(self, cell: Cell) -> bool:
        """A polyline has no interior: never contains a cell (S2Polyline.cs:118-123)."""
        return False

    def may_intersect_cell(self, cell: Cell) -> bool:
        """Vertex-in-cell or edge-crosses-cell-edge (S2Polyline.cs:125-161);
        delegates to the batched predicate."""
        return bool(self.relate_cells(np.array([cell.id], dtype=np.uint64))[0][0])

    def relate_cells(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Batched (may_intersect, contains) for an array of cell ids: a cell
        may intersect if a vertex lies in it or an edge crosses one of its
        edges; no cell is contained."""
        ids = np.asarray(ids, dtype=np.uint64)
        bounds = cells_uv_bounds(ids)
        v = self.vertices
        may = (cells_contain_points(bounds, *v.T).any(axis=1)
               | edges_cross_cells(v[:-1], v[1:], bounds_vertices(bounds)))
        return may, np.zeros(len(ids), dtype=bool)
