"""Brute-force reference answers for the geo queries, in plain numpy.

Nothing here imports s2spark: every answer the benchmark checks is computed
from the generated inputs with textbook spherical geometry (unit vectors,
triple products, haversine), so a wrong engine answer cannot be masked by a
shared helper.  Points closer than ``EPS`` radians to a query boundary are
reported separately as ambiguous and left out of the comparison.
"""

from __future__ import annotations

import numpy as np

EPS = 1e-9


def xyz(lat_deg, lng_deg) -> np.ndarray:
    """(n,) lat/lng degrees -> (n, 3) unit vectors."""
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    return np.stack([np.cos(lat) * np.cos(lng), np.cos(lat) * np.sin(lng),
                     np.sin(lat)], axis=-1)


def haversine(lat1, lng1, lat2, lng2) -> np.ndarray:
    """Great-circle angle in radians between degree coordinates."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(np.asarray(lng2) - np.asarray(lng1))
    h = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * np.arcsin(np.sqrt(np.minimum(1.0, h)))


def _angle(p: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Angle between rows of p (n,3) and the vector q (3,)."""
    return np.arctan2(np.linalg.norm(np.cross(p, q), axis=-1), p @ q)


def arc_distance(p: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Angle from each point to the minor geodesic arc a-b."""
    n = np.cross(a, b)
    nn = np.linalg.norm(n)
    # the foot of the perpendicular lies on the arc iff p is inside the
    # wedge bounded by the planes through n and each endpoint
    in_wedge = ((p @ np.cross(n, a)) > 0) & ((p @ np.cross(b, n)) > 0)
    d_plane = np.arcsin(np.minimum(1.0, np.abs(p @ n) / nn))
    d_end = np.minimum(_angle(p, a), _angle(p, b))
    return np.where(in_wedge, d_plane, d_end)


def convex_margin(p: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Signed angular margin of each point inside a CCW convex loop:
    positive inside, negative outside (min over edge half-spaces)."""
    nxt = np.roll(verts, -1, axis=0)
    normals = np.cross(verts, nxt)
    normals /= np.linalg.norm(normals, axis=1, keepdims=True)
    return np.arcsin(np.clip(p @ normals.T, -1, 1)).min(axis=1)


def convex_distance(p: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """0 inside a CCW convex loop, else the distance to its boundary."""
    nxt = np.roll(verts, -1, axis=0)
    edge = np.min([arc_distance(p, a, b) for a, b in zip(verts, nxt)], axis=0)
    return np.where(convex_margin(p, verts) > 0, 0.0, edge)


def polyline_distance(p: np.ndarray, verts: np.ndarray) -> np.ndarray:
    return np.min([arc_distance(p, a, b) for a, b in zip(verts[:-1], verts[1:])],
                  axis=0)


def split(ids: np.ndarray, inside: np.ndarray, slack: np.ndarray):
    """(ids inside, ids too close to the boundary to judge)."""
    ambiguous = np.abs(slack) < EPS
    return set(ids[inside & ~ambiguous].tolist()), set(ids[ambiguous].tolist())


def crossings(qa: np.ndarray, qb: np.ndarray, da: np.ndarray,
              db: np.ndarray) -> set[tuple[int, int]]:
    """Index pairs (i, j) whose arcs qa[i]-qb[i] and da[j]-db[j] cross at an
    interior point of both: the four orientation signs agree, which also
    rules out the antipodal intersection of the two great circles."""
    def ccw(a, b, c):
        return np.sign(np.einsum("...k,...k->...", np.cross(a, b), c))

    a, b = qa[:, None, :], qb[:, None, :]
    c, d = da[None, :, :], db[None, :, :]
    acb = -ccw(a, b, c)
    ok = ((acb != 0) & (ccw(a, b, d) == acb) & (-ccw(c, d, b) == acb)
          & (ccw(c, d, a) == acb))
    i, j = np.nonzero(ok)
    return set(zip(i.tolist(), j.tolist()))


def knn(q_lat, q_lng, lat, lng, k: int) -> list[np.ndarray]:
    """Per query, the sorted distances of its k nearest points."""
    return [np.sort(haversine(a, b, lat, lng))[:k] for a, b in zip(q_lat, q_lng)]
