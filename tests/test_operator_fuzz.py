"""Randomized distributed-operator fuzz with INDEPENDENT oracles.

The expected side never calls the engine's containment/distance kernels:
spatial-join membership is determinant-sign hemisphere intersection over
the polygon's own parsed vertices (valid for verified-convex polygons),
kNN/radius expectations are plain numpy haversine.  This extends the
round-4/5 independent-oracle fuzz (coverer, booleans, edge join) to the
remaining headline joins, in regimes the fixed fixtures never enter:
polar caps, dense clusters, boundary-hugging points, random radii.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2spark.functions import columns as C
from s2spark.kernel import cellid as ci
from s2spark.operators.knn import knn_join, radius_join
from s2spark.operators.spatial_join import points_with_cells, spatial_join
from s2spark.sources.fixtures import make_polygon

from conftest import parse_vertices


@pytest.fixture(scope="module")
def spark():
    from s2spark.plans.session import build_session
    s = build_session(app_name="s2spark-operator-fuzz", master="local[4]",
                      shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _random_convex_vertex_string(rng) -> str:
    """Random polygon in convex position (verified: every vertex strictly
    on one side of every edge's great circle), as a fixture string."""
    for _ in range(200):
        lat0 = float(rng.uniform(-45, 45))
        lng0 = float(rng.uniform(-150, 150))
        r = float(rng.uniform(3.0, 12.0))
        n = int(rng.integers(3, 8))
        th = np.sort(rng.uniform(0, 2 * np.pi, n))
        gaps = np.diff(np.concatenate([th, [th[0] + 2 * np.pi]]))
        if gaps.min() < 0.35:
            continue
        lat = lat0 + r * np.sin(th)
        lng = lng0 + r * np.cos(th) / np.cos(np.radians(lat0))
        s = ", ".join(f"{a:.6f}:{b:.6f}" for a, b in zip(lat, lng))
        xyz = parse_vertices(s)
        ok = True
        for i in range(n):
            nrm = np.cross(xyz[i], xyz[(i + 1) % n])
            d = xyz @ nrm
            others = np.delete(d, [i, (i + 1) % n])
            if np.abs(others).min() < 1e-9 or len(np.unique(np.sign(others))) != 1:
                ok = False
                break
        if ok:
            return s, lat0, lng0, r
    raise AssertionError("could not generate a convex polygon")


def _inside_convex(xyz_pts: np.ndarray, poly_xyz: np.ndarray) -> np.ndarray:
    """Membership oracle for a convex spherical polygon: on the centroid's
    side of every edge plane (pure numpy determinant signs)."""
    c = poly_xyz.mean(axis=0)
    c = c / np.linalg.norm(c)
    inside = np.ones(len(xyz_pts), dtype=bool)
    near = np.zeros(len(xyz_pts), dtype=bool)
    for i in range(len(poly_xyz)):
        nrm = np.cross(poly_xyz[i], poly_xyz[(i + 1) % len(poly_xyz)])
        side = np.sign(float(np.dot(c, nrm)))
        d = (xyz_pts @ nrm) * side
        inside &= d > 0
        near |= np.abs(d) < 1e-9 * np.linalg.norm(nrm)
    return inside, near


def test_spatial_join_random_convex_polygons_det_oracle(spark):
    """10 random verified-convex polygons x (global uniform +
    boundary-hugging) points: the full covering + broadcast join +
    parity-kernel chain must match the determinant-sign oracle exactly
    (points within 1e-9 of an edge plane are excluded — there the oracle
    itself is ill-conditioned)."""
    rng = np.random.default_rng(20260818)
    polygons, metas = {}, {}
    for pid in range(1, 11):
        s, lat0, lng0, r = _random_convex_vertex_string(rng)
        polygons[pid] = make_polygon(s + ";")
        metas[pid] = (parse_vertices(s), lat0, lng0, r)

    lats = [rng.uniform(-80, 80, 600)]
    lngs = [rng.uniform(-179, 179, 600)]
    for pid, (_, lat0, lng0, r) in metas.items():
        th = rng.uniform(0, 2 * np.pi, 200)
        dr = r * rng.uniform(0.2, 1.5, 200)   # straddles the boundary
        lats.append(np.clip(lat0 + dr * np.sin(th), -89.9, 89.9))
        lngs.append(((lng0 + dr * np.cos(th) / np.cos(np.radians(lat0))
                      + 180) % 360) - 180)
    lat = np.concatenate(lats)
    lng = np.concatenate(lngs)
    pdf = pd.DataFrame({"point_id": np.arange(len(lat)),
                        "lat": lat, "lng": lng})
    pts = points_with_cells(spark.createDataFrame(pdf))

    got = (spatial_join(spark, pts, polygons)
           .select("point_id", "polygon_id").toPandas())
    got_sets = {pid: set(g["point_id"].tolist())
                for pid, g in got.groupby("polygon_id")}

    x, y, z = ci.xyz_from_latlng_deg(lat, lng)
    xyz_pts = np.stack([x, y, z], axis=1)
    checked_pairs = 0
    for pid, (poly_xyz, *_rest) in metas.items():
        inside, near = _inside_convex(xyz_pts, poly_xyz)
        got_ids = got_sets.get(pid, set())
        for i in np.nonzero(~near)[0]:
            assert (int(i) in got_ids) == bool(inside[i]), \
                f"polygon {pid} point {i} ({lat[i]:.5f},{lng[i]:.5f}): " \
                f"oracle={bool(inside[i])} engine={int(i) in got_ids}"
        checked_pairs += int((~near).sum())
    assert checked_pairs > 20000  # the fuzz actually graded something


def _convex_around(rng, c_lat: float, c_lng: float, r: float):
    """A verified-convex polygon inscribed in the circle of angular radius
    `r` degrees around (c_lat, c_lng) and holding that centre (no angular
    gap between vertices of pi or more), as a fixture string, or None.
    Built in the centre's tangent frame, so it can ring a pole or straddle
    the antimeridian."""
    (cx,), (cy,), (cz,) = ci.xyz_from_latlng_deg(np.array([c_lat]),
                                                 np.array([c_lng]))
    c = np.array([cx, cy, cz])
    t1 = np.cross([0.0, 0.0, 1.0] if abs(cz) < 0.9 else [1.0, 0.0, 0.0], c)
    t1 /= np.linalg.norm(t1)
    t2 = np.cross(c, t1)
    n = int(rng.integers(3, 9))
    th = np.sort(rng.uniform(0, 2 * np.pi, n))
    gaps = np.diff(np.concatenate([th, [th[0] + 2 * np.pi]]))
    if gaps.min() < 0.35 or gaps.max() > 0.9 * np.pi:
        return None
    a = np.radians(r)
    v = (np.cos(a) * c[None, :] + np.sin(a) * (np.cos(th)[:, None] * t1
                                               + np.sin(th)[:, None] * t2))
    lat = np.degrees(np.arcsin(np.clip(v[:, 2], -1, 1)))
    lng = np.degrees(np.arctan2(v[:, 1], v[:, 0]))
    s = ", ".join(f"{a:.6f}:{b:.6f}" for a, b in zip(lat, lng))
    xyz = parse_vertices(s)
    for i in range(n):
        d = np.delete(xyz @ np.cross(xyz[i], xyz[(i + 1) % n]),
                      [i, (i + 1) % n])
        if np.abs(d).min() < 1e-9 or len(np.unique(np.sign(d))) != 1:
            return None
    return s


def test_pip_and_tiles_at_poles_antimeridian_cube_corner(spark):
    """The pip and tile cells of the geometry matrix.  40 verified-convex
    polygons: ringing each pole, near a pole, straddling the antimeridian,
    and around the cube corner (35.26, 45).  Points: exactly at lat +-90
    at several longitudes, exactly at lng +-180, around every polygon and
    uniform.  `spatial_join` must match the determinant-sign oracle (points
    within 1e-9 of an edge plane excluded), and `tile_counts` a kernel
    recount of the same points at several levels."""
    from s2spark.operators.tiling import tile_counts

    rng = np.random.default_rng(20261020)
    corner = float(np.degrees(np.arcsin(1 / np.sqrt(3))))
    centres = ([(90.0, 0.0, "ring")] * 6 + [(-90.0, 0.0, "ring")] * 6
               + [(float(rng.choice([-1, 1]) * rng.uniform(80, 88)),
                   float(rng.uniform(-180, 180)), "near")
                  for _ in range(8)]
               + [(float(rng.uniform(-60, 60)), float(rng.choice(
                   [180.0, -180.0, 179.5, -179.5])), "seam")
                  for _ in range(12)]
               + [(corner, 45.0, "corner")] * 4
               + [(corner + float(rng.uniform(-2, 2)),
                   45.0 + float(rng.uniform(-2, 2)), "corner")
                  for _ in range(4)])
    polygons, metas = {}, {}
    for c_lat, c_lng, _kind in centres:
        s = None
        while s is None:
            r = float(rng.uniform(1.0, 15.0))
            s = _convex_around(rng, c_lat, c_lng, r)
        pid = len(polygons) + 1
        polygons[pid] = make_polygon(s + ";")
        metas[pid] = (parse_vertices(s), c_lat, c_lng, r)

    pole_lng = [0.0, 45.0, 90.0, -90.0, 135.0, -135.0, 180.0, -180.0]
    seam_lat = [-89.0, -60.0, -35.26, 0.0, 0.5, 35.26, 60.0, 89.0]
    lats = [np.array([90.0] * 8 + [-90.0] * 8 + seam_lat * 2),
            np.degrees(np.arcsin(rng.uniform(-1, 1, 2000)))]
    lngs = [np.array(pole_lng * 2 + [180.0] * 8 + [-180.0] * 8),
            rng.uniform(-180, 180, 2000)]
    for poly_xyz, c_lat, c_lng, r in metas.values():
        c = poly_xyz.mean(axis=0)
        c /= np.linalg.norm(c)
        t1 = np.cross([0.0, 0.0, 1.0] if abs(c[2]) < 0.9 else [1.0, 0.0, 0.0], c)
        t1 /= np.linalg.norm(t1)
        t2 = np.cross(c, t1)
        th = rng.uniform(0, 2 * np.pi, 250)
        a = np.radians(r * rng.uniform(0.0, 1.5, 250))  # straddles the edges
        v = (np.cos(a)[:, None] * c[None, :]
             + np.sin(a)[:, None] * (np.cos(th)[:, None] * t1
                                     + np.sin(th)[:, None] * t2))
        lats.append(np.degrees(np.arcsin(np.clip(v[:, 2], -1, 1))))
        lngs.append(np.degrees(np.arctan2(v[:, 1], v[:, 0])))
    lat = np.concatenate(lats)
    lng = np.concatenate(lngs)
    pdf = pd.DataFrame({"point_id": np.arange(len(lat)),
                        "lat": lat, "lng": lng})
    pts = points_with_cells(spark.createDataFrame(pdf)).cache()

    got = (spatial_join(spark, pts, polygons)
           .select("point_id", "polygon_id").toPandas())
    x, y, z = ci.xyz_from_latlng_deg(lat, lng)
    xyz_pts = np.stack([x, y, z], axis=1)
    checked = 0
    for pid, (poly_xyz, c_lat, c_lng, _r) in metas.items():
        inside, near = _inside_convex(xyz_pts, poly_xyz)
        engine = np.zeros(len(lat), dtype=bool)
        engine[got.loc[got.polygon_id == pid, "point_id"].to_numpy()] = True
        bad = np.nonzero(~near & (engine != inside))[0]
        assert len(bad) == 0, (
            f"polygon {pid} around ({c_lat:.4f}, {c_lng:.4f}): "
            + ", ".join(f"({lat[i]}, {lng[i]}) oracle={inside[i]}"
                        for i in bad[:5]))
        checked += int((~near).sum())
    assert checked > 400_000
    # every pole-ringing polygon holds the 8 exact pole points of its pole
    for pid, (_, c_lat, _, _) in metas.items():
        if abs(c_lat) == 90.0:
            ids = set(got.loc[got.polygon_id == pid, "point_id"])
            assert set(range(0, 8) if c_lat > 0 else range(8, 16)) <= ids

    leaves = ci.from_latlng_deg(lat, lng)
    for level in (0, 4, 9, 15):
        want = pd.Series(ci.to_signed(ci.parent_for_level(leaves, level)))\
            .value_counts().to_dict()
        have = {r["tile_id"]: r["n_pages"]
                for r in tile_counts(pts, level).collect()}
        assert have == want, f"level {level}"
    pts.unpersist()


def test_knn_join_polar_and_clustered_matches_bruteforce(spark):
    """kNN over a polar cap + a dense cluster + uniform background, with
    queries at the pole edge and inside the cluster: ring widening must
    cross faces at the pole and terminate early in the cluster, both
    matching brute-force haversine."""
    rng = np.random.default_rng(77)
    lat = np.concatenate([rng.uniform(78, 89.9, 200),          # polar cap
                          10 + rng.uniform(-0.5, 0.5, 200),    # dense cluster
                          rng.uniform(-70, 70, 200)])
    lng = np.concatenate([rng.uniform(-180, 180, 200),
                          10 + rng.uniform(-0.5, 0.5, 200),
                          rng.uniform(-179, 179, 200)])
    ids = np.arange(600)
    df = C.with_cell_id(spark.createDataFrame(
        pd.DataFrame({"data_id": ids, "lat": lat, "lng": lng})), "lat", "lng")
    qidx = np.array([0, 5, 199, 201, 350, 450])   # polar x3, cluster x2, bg
    queries = (df.where(F.col("data_id").isin([int(i) for i in qidx]))
               .select(F.col("data_id").alias("query_id"),
                       "lat", "lng", "cell_id"))

    got = knn_join(queries, df, k=5, initial_radius_rad=0.005).toPandas()

    lat_r, lng_r = np.radians(lat), np.radians(lng)
    for qi in qidx:
        d = 2 * np.arcsin(np.sqrt(
            np.sin((lat_r - lat_r[qi]) / 2) ** 2
            + np.cos(lat_r) * np.cos(lat_r[qi])
            * np.sin((lng_r - lng_r[qi]) / 2) ** 2))
        expect = set(np.lexsort((ids, d))[:5].tolist())
        got_ids = set(got[got.query_id == qi]["data_id"].tolist())
        assert got_ids == expect, f"query {qi}"


def test_radius_join_random_radii_matches_bruteforce(spark):
    """radius_join across four orders of magnitude of radius — bucket
    level 29 down to the all-faces planet regime — equals brute-force
    haversine pair sets at every radius."""
    rng = np.random.default_rng(4242)
    lat = rng.uniform(-85, 85, 400)
    lng = rng.uniform(-179.9, 179.9, 400)
    ids = np.arange(400)
    df = C.with_cell_id(spark.createDataFrame(
        pd.DataFrame({"data_id": ids, "lat": lat, "lng": lng})), "lat", "lng")
    queries = (df.where(F.col("data_id") < 6)
               .select(F.col("data_id").alias("query_id"),
                       "lat", "lng", "cell_id"))

    lat_r, lng_r = np.radians(lat), np.radians(lng)
    for radius in (0.003, 0.05, 0.4, 1.3, 2.8):
        got = (radius_join(queries, df, radius)
               .select("query_id", "data_id").toPandas())
        got_pairs = set(map(tuple, got.itertuples(index=False)))
        expect = set()
        for qi in range(6):
            d = 2 * np.arcsin(np.sqrt(
                np.sin((lat_r - lat_r[qi]) / 2) ** 2
                + np.cos(lat_r) * np.cos(lat_r[qi])
                * np.sin((lng_r - lng_r[qi]) / 2) ** 2))
            expect |= {(qi, int(j)) for j in np.nonzero(d <= radius)[0]}
        assert got_pairs == expect, f"radius {radius}"


def _arc_dist(p: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Geodesic distance from unit points p (N,3) to the minor arc a->b —
    independent numpy oracle (S2EdgeUtil GetDistance construction: interior
    projection iff det(p,n,a) > 0 and det(p,b,n) > 0 with n = a x b)."""
    n = np.cross(a, b)
    nn = n / np.linalg.norm(n)
    s1 = np.cross(p, n) @ a
    s2 = np.cross(p, b) @ n
    interior = (s1 > 0) & (s2 > 0)
    d_gc = np.arcsin(np.clip(np.abs(p @ nn), 0.0, 1.0))
    da = np.arctan2(np.linalg.norm(np.cross(p, a), axis=1), p @ a)
    db = np.arctan2(np.linalg.norm(np.cross(p, b), axis=1), p @ b)
    return np.where(interior, d_gc, np.minimum(da, db))


def test_arc_dist_oracle_self_check():
    """Validate the fuzz oracle itself against dense slerp sampling of
    random arcs (no engine code on either side)."""
    rng = np.random.default_rng(5)

    def unit(v):
        return v / np.linalg.norm(v, axis=-1, keepdims=True)

    for _ in range(40):
        a, b = unit(rng.normal(size=3)), unit(rng.normal(size=3))
        ang = float(np.arctan2(np.linalg.norm(np.cross(a, b)), a @ b))
        if ang < 0.05 or ang > 3.0:
            continue
        t = np.linspace(0, 1, 4001)[:, None]
        samples = unit((np.sin((1 - t) * ang) * a + np.sin(t * ang) * b)
                       / np.sin(ang))
        p = unit(rng.normal(size=(50, 3)))
        approx = np.arccos(np.clip(p @ samples.T, -1, 1)).min(axis=1)
        exact = _arc_dist(p, a, b)
        assert np.all(exact <= approx + 1e-12)
        assert np.all(approx - exact <= (ang / 4000) + 1e-9)


def _fuzz_points(rng, centers, n_uniform=600, n_near=150, spread=18.0):
    lats = [rng.uniform(-80, 80, n_uniform)]
    lngs = [rng.uniform(-179, 179, n_uniform)]
    for lat0, lng0 in centers:
        lats.append(np.clip(lat0 + rng.uniform(-spread, spread, n_near),
                            -89.9, 89.9))
        lngs.append(((lng0 + rng.uniform(-spread, spread, n_near)
                      / max(np.cos(np.radians(lat0)), 0.2) + 180)
                     % 360) - 180)
    return np.concatenate(lats), np.concatenate(lngs)


def test_buffered_join_random_polygons_and_radii(spark):
    """buffered_polygon_join (covering -> Expand(radius) -> broadcast join
    -> exact residual) vs the independent oracle: 0 inside (determinant
    signs), else min arc distance over boundary edges.  Radii span the
    level-29 bucket regime up to a sizeable fraction of the sphere."""
    from s2spark.operators.distance_ops import buffered_polygon_join

    rng = np.random.default_rng(314159)
    polys, vert_xyz, centers = {}, {}, []
    for pid in range(1, 6):
        s, lat0, lng0, _r = _random_convex_vertex_string(rng)
        polys[pid] = make_polygon(s + ";")
        vert_xyz[pid] = parse_vertices(s)
        centers.append((lat0, lng0))
    lat, lng = _fuzz_points(rng, centers)
    pdf = pd.DataFrame({"doc_id": np.arange(len(lat)),
                        "lat": lat, "lng": lng})
    pts = C.with_cell_id(spark.createDataFrame(pdf), "lat", "lng")

    x, y, z = ci.xyz_from_latlng_deg(lat, lng)
    xyz_pts = np.stack([x, y, z], axis=1)

    for radius in (0.02, 0.3, 1.0):
        got = (buffered_polygon_join(spark, pts, polys, radius)
               .select("doc_id", "polygon_id").toPandas())
        got_pairs = set(map(tuple, got.itertuples(index=False)))
        checked = 0
        for pid, vx in vert_xyz.items():
            inside, near_edge = _inside_convex(xyz_pts, vx)
            d = np.min(np.stack(
                [_arc_dist(xyz_pts, vx[i], vx[(i + 1) % len(vx)])
                 for i in range(len(vx))]), axis=0)
            d = np.where(inside, 0.0, d)
            grade = ~near_edge & (np.abs(d - radius) > 1e-6)
            for i in np.nonzero(grade)[0]:
                assert ((int(i), pid) in got_pairs) == bool(d[i] <= radius), \
                    f"radius {radius} polygon {pid} point {i}: d={d[i]:.9f}"
            checked += int(grade.sum())
        assert checked > 5000


def test_corridor_and_nearest_track_random_fuzz(spark):
    """corridor_join and nearest_track_join vs the arc-distance oracle
    over random-walk polylines: membership at each radius, and the argmin
    track assignment with the engine's 1e-9 rounded tie-break."""
    from s2spark.operators.distance_ops import (corridor_join,
                                                nearest_track_join)

    rng = np.random.default_rng(2718)
    tracks, seg_xyz, centers = {}, {}, []
    for tid in range(1, 4):
        lat0 = float(rng.uniform(-55, 55))
        lng0 = float(rng.uniform(-150, 150))
        n = int(rng.integers(3, 7))
        dlat = np.cumsum(rng.uniform(-4, 4, n))
        dlng = np.cumsum(rng.uniform(2, 6, n))
        vlat = np.clip(lat0 + dlat, -85, 85)
        vlng = ((lng0 + dlng + 180) % 360) - 180
        tracks[tid] = list(zip(vlat.tolist(), vlng.tolist()))
        xs, ys, zs = ci.xyz_from_latlng_deg(vlat, vlng)
        seg_xyz[tid] = np.stack([xs, ys, zs], axis=1)
        centers.append((lat0, lng0))
    lat, lng = _fuzz_points(rng, centers, n_uniform=500, n_near=200,
                            spread=10.0)
    pdf = pd.DataFrame({"doc_id": np.arange(len(lat)),
                        "lat": lat, "lng": lng})
    pts = C.with_cell_id(spark.createDataFrame(pdf), "lat", "lng")

    x, y, z = ci.xyz_from_latlng_deg(lat, lng)
    xyz_pts = np.stack([x, y, z], axis=1)
    dists = {}
    for tid, vx in seg_xyz.items():
        dists[tid] = np.min(np.stack(
            [_arc_dist(xyz_pts, vx[i], vx[i + 1])
             for i in range(len(vx) - 1)]), axis=0)

    for radius in (0.05, 0.5):
        got = (corridor_join(spark, pts, tracks, radius)
               .select("doc_id", "track_id").toPandas())
        got_pairs = set(map(tuple, got.itertuples(index=False)))
        checked = 0
        for tid, d in dists.items():
            grade = np.abs(d - radius) > 1e-6
            for i in np.nonzero(grade)[0]:
                assert ((int(i), tid) in got_pairs) == bool(d[i] <= radius), \
                    f"radius {radius} track {tid} point {i}: d={d[i]:.9f}"
            checked += int(grade.sum())
        assert checked > 2000

        nt = (nearest_track_join(spark, pts, tracks, radius)
              .select("doc_id", "track_id").toPandas())
        nt_map = dict(map(tuple, nt.itertuples(index=False)))
        dmat = np.stack([dists[tid] for tid in sorted(dists)], axis=1)
        rounded = np.round(dmat, 9)
        best = rounded.min(axis=1)
        runner = np.partition(rounded, 1, axis=1)[:, 1]
        for i in range(len(lat)):
            if best[i] > radius + 1e-6:
                assert i not in nt_map, f"point {i} beyond every corridor"
            elif best[i] <= radius - 1e-6 and runner[i] - best[i] > 1e-8:
                want = sorted(dists)[int(np.argmin(rounded[i]))]
                assert nt_map.get(i) == want, \
                    f"point {i}: want track {want}, got {nt_map.get(i)}"


# points on the antimeridian with both signs of lng (they encode to
# different leaf cells) and at both poles: point ids 0-7 at lng = 180,
# 8-15 the same lats at lng = -180, 16 the north pole, 17 the south pole
_SEAM_LATS = np.array([-75.0, -40.0, -10.0, 0.0, 0.5, 10.0, 40.0, 75.0])
_SEAM_LAT = np.concatenate([_SEAM_LATS, _SEAM_LATS, [90.0, -90.0]])
_SEAM_LNG = np.concatenate([np.full(8, 180.0), np.full(8, -180.0), [0.0, 0.0]])


def _seam_and_random_points(rng, centers, spread, n_uniform=3000, n_near=150):
    """The seam points above, then uniform points on the sphere and points
    around each region centre, as (lat, lng) degree arrays."""
    lats = [_SEAM_LAT, np.degrees(np.arcsin(rng.uniform(-1, 1, n_uniform)))]
    lngs = [_SEAM_LNG, rng.uniform(-180, 180, n_uniform)]
    for (lat0, lng0), s in zip(centers, spread):
        lats.append(np.clip(lat0 + rng.uniform(-s, s, n_near), -90, 90))
        lngs.append((lng0 + rng.uniform(-2 * s, 2 * s, n_near) + 180) % 360 - 180)
    return np.concatenate(lats), np.concatenate(lngs)


def test_cap_query_random_and_edge_caps_match_bruteforce(spark):
    """cap_query (cap covering -> broadcast probe join -> haversine
    residual) vs numpy brute force: random caps, a cap centred on each
    pole and one straddling +-180 deg, over uniform points, points around
    each centre and points at lng = +-180 and the poles.  Points within
    1e-7 rad of a cap's rim are not graded."""
    from s2spark.operators.cap_query import cap_query

    rng = np.random.default_rng(8080)
    caps = {i: (float(np.degrees(np.arcsin(rng.uniform(-1, 1)))),
                float(rng.uniform(-180, 180)), float(rng.uniform(0.005, 0.6)))
            for i in range(1, 7)}
    caps[7] = (90.0, 0.0, 0.2)          # north pole
    caps[8] = (-90.0, 45.0, 0.05)       # south pole
    caps[9] = (10.0, 179.5, 0.08)       # straddles the antimeridian
    lat, lng = _seam_and_random_points(
        rng, [c[:2] for c in caps.values()],
        [np.degrees(c[2]) * 1.3 for c in caps.values()])
    pts = C.with_cell_id(spark.createDataFrame(pd.DataFrame(
        {"doc_id": np.arange(len(lat)), "lat": lat, "lng": lng})), "lat", "lng")
    got = cap_query(spark, pts, caps).select(
        "doc_id", "cap_id", "distance_rad").toPandas()
    got_dist = {(int(r.doc_id), int(r.cap_id)): r.distance_rad
                for r in got.itertuples(index=False)}

    p = np.stack(ci.xyz_from_latlng_deg(lat, lng), axis=1)
    checked = 0
    for cid, (c_lat, c_lng, radius) in caps.items():
        c = np.stack(ci.xyz_from_latlng_deg(np.array([c_lat]),
                                            np.array([c_lng])), axis=1)[0]
        d = np.arctan2(np.linalg.norm(np.cross(p, c), axis=1), p @ c)
        grade = np.abs(d - radius) > 1e-7
        for i in np.nonzero(grade)[0]:
            assert ((int(i), cid) in got_dist) == bool(d[i] <= radius), \
                f"cap {cid} point {i} ({lat[i]}, {lng[i]}): d={d[i]:.9f}"
            if d[i] <= radius:
                assert abs(got_dist[(int(i), cid)] - d[i]) < 1e-9
        checked += int(grade.sum())
        assert (d[grade] <= radius).any(), f"cap {cid} graded no member"
    assert checked > 25000
    # the straddling cap holds lat 10 at both signs of lng = 180, and each
    # polar cap holds its pole
    assert {(5, 9), (13, 9), (16, 7), (17, 8)} <= set(got_dist)


def test_rect_query_random_and_edge_rects_match_bruteforce(spark):
    """rect_query (RectRegion covering -> broadcast probe join -> lat/lng
    residual) vs the numpy predicate: random rects (about half wrap the
    antimeridian), one wrapping rect, one reaching each pole and one
    polar ring of full longitude, over uniform points, points around each
    rect and points at lng = +-180 and the poles.  Points within 1e-7 deg
    of a rect edge are not graded, except at a pole: every pole point
    encodes to one leaf, which a rect reaching that pole must cover, and
    the residual then decides by the point's longitude."""
    from s2spark.operators.rect_query import rect_query

    rng = np.random.default_rng(9090)
    rects = {}
    for i in range(1, 7):
        lo, hi = np.sort(rng.uniform(-85, 85, 2))
        rects[i] = (float(lo), float(rng.uniform(-180, 180)),
                    float(hi), float(rng.uniform(-180, 180)))
    rects[7] = (-20.0, 175.0, 20.0, -175.0)    # wraps the antimeridian
    rects[8] = (60.0, -40.0, 90.0, 40.0)       # lat_hi = 90
    rects[9] = (-90.0, 100.0, -70.0, 120.0)    # lat_lo = -90
    rects[10] = (70.0, -180.0, 90.0, 180.0)    # full longitude, lat_hi = 90
    centers, spread = [], []
    for lat_lo, lng_lo, lat_hi, lng_hi in rects.values():
        width = (lng_hi - lng_lo) % 360
        centers.append(((lat_lo + lat_hi) / 2, lng_lo + width / 2))
        spread.append(max(lat_hi - lat_lo, width / 2) * 0.7)
    lat, lng = _seam_and_random_points(rng, centers, spread)
    # the poles at a longitude outside rects 8 and 9, and inside rect 9
    poles = len(lat)
    lat = np.append(lat, [90.0, -90.0, -90.0])
    lng = np.append(lng, [100.0, 110.0, 0.0])
    pts = C.with_cell_id(spark.createDataFrame(pd.DataFrame(
        {"doc_id": np.arange(len(lat)), "lat": lat, "lng": lng})), "lat", "lng")
    got = set(map(tuple, rect_query(spark, pts, rects)
                  .select("doc_id", "rect_id").toPandas()
                  .itertuples(index=False)))

    m = 1e-7
    checked = 0
    for rid, (lat_lo, lng_lo, lat_hi, lng_hi) in rects.items():
        lng_in = ((lng >= lng_lo) & (lng <= lng_hi) if lng_lo <= lng_hi
                  else (lng >= lng_lo) | (lng <= lng_hi))
        inside = (lat >= lat_lo) & (lat <= lat_hi) & lng_in

        def near_lng(b):
            return np.abs((lng - b + 180) % 360 - 180) < m

        near = (((np.abs(lat - lat_lo) < m) & (lat_lo > -90))
                | ((np.abs(lat - lat_hi) < m) & (lat_hi < 90)))
        if (lng_lo, lng_hi) != (-180.0, 180.0):
            near |= (near_lng(lng_lo) | near_lng(lng_hi)) & (np.abs(lat) < 90)
        for i in np.nonzero(~near)[0]:
            assert ((int(i), rid) in got) == bool(inside[i]), \
                f"rect {rid} point {i} ({lat[i]}, {lng[i]})"
        checked += int((~near).sum())
        assert inside[~near].any(), f"rect {rid} graded no member"
    assert checked > 25000
    # the wrapping rect holds lats -10..10 at both signs of lng = 180, and
    # the full-longitude polar rect holds lat 75 at both and the north pole
    assert {(2, 7), (3, 7), (4, 7), (5, 7), (10, 7), (11, 7), (12, 7),
            (13, 7), (7, 10), (15, 10), (16, 10)} <= got
    # (90, 0) is in the rect (60..90, -40..40) and (90, 100) is not; the
    # south pole is in (-90..-70, 100..120) at lng 110 and not at lng 0
    assert (16, 8) in got and (poles, 8) not in got
    assert (poles + 1, 9) in got and (poles + 2, 9) not in got
    assert (17, 9) not in got


def test_region_operators_accept_no_regions(spark):
    """An empty region dict gives an empty result with the usual columns
    and types, for every covering operator with a per-region residual."""
    from s2spark.operators.cap_query import cap_query
    from s2spark.operators.distance_ops import (buffered_polygon_join,
                                                corridor_join)
    from s2spark.operators.rect_query import rect_query

    pts = C.with_cell_id(spark.createDataFrame(
        [(1, 10.0, 20.0)], "doc_id long, lat double, lng double"), "lat", "lng")
    for df, key, dist in [
            (cap_query(spark, pts, {}), "cap_id", True),
            (rect_query(spark, pts, {}), "rect_id", False),
            (buffered_polygon_join(spark, pts, {}, 0.1), "polygon_id", True),
            (corridor_join(spark, pts, {}, 0.1), "track_id", True)]:
        assert df.count() == 0, key
        assert key in df.columns
        if dist:
            assert dict(df.dtypes)["distance_rad"] == "double", key


def test_invalid_coordinates_get_no_cell(spark):
    """A null, NaN or infinite coordinate, or one off the globe (|lat| > 90
    or |lng| > 180), has no leaf cell (S2LatLng.IsValid): its cell_id is
    null, pip, cap and rect return no row for it, and tile_counts puts it
    under the null tile.  Each region holds (35.26, 45), where the face-2
    leaf 0x4000000000000001 lies, and the valid point at that spot."""
    from s2spark.operators.cap_query import cap_query
    from s2spark.operators.rect_query import rect_query
    from s2spark.operators.tiling import tile_counts

    nan, inf = float("nan"), float("inf")
    bad = [(None, 45.0), (nan, 45.0), (inf, 45.0), (-inf, 45.0),
           (35.26, None), (35.26, nan), (35.26, inf), (35.26, -inf),
           (91.0, 45.0), (-91.0, 45.0), (35.26, 181.0), (35.26, -181.0),
           (None, None), (nan, nan)]
    good = [(35.26, 45.0), (90.0, 180.0), (-90.0, -180.0), (0.0, 0.0)]
    rows = [(i, lat, lng) for i, (lat, lng) in enumerate(good + bad)]
    bad_ids = set(range(len(good), len(rows)))
    raw = spark.createDataFrame(rows, "doc_id long, lat double, lng double")
    assert raw.where(F.isnan("lat")).count() == 2   # NaN stays NaN, not null

    for pts in (C.with_cell_id(raw, "lat", "lng"), points_with_cells(raw)):
        cells = {r["doc_id"]: r["cell_id"] for r in pts.collect()}
        assert {i for i, c in cells.items() if c is None} == bad_ids

    pts = points_with_cells(raw)
    ring = ", ".join(f"{35.26 + 3 * np.sin(t):.4f}:{45 + 3 * np.cos(t):.4f}"
                     for t in np.linspace(0, 2 * np.pi, 8, endpoint=False))
    found = {
        "pip": spatial_join(spark, pts.select("doc_id", "cell_id", "x", "y",
                                              "z"), {1: make_polygon(ring)}),
        "cap": cap_query(spark, pts, {1: (35.26, 45.0, 0.05)}),
        "rect": rect_query(spark, pts, {1: (30.0, 40.0, 40.0, 50.0)}),
    }
    for kind, df in found.items():
        assert {r["doc_id"] for r in df.select("doc_id").collect()} == {0}, kind

    tiles = {r["tile_id"]: r["n_pages"]
             for r in tile_counts(pts, 6).collect()}
    assert tiles.pop(None) == len(bad_ids)
    assert sum(tiles.values()) == len(good)


def _haversine_rows(lat, lng, q_lat, q_lng) -> np.ndarray:
    """Plain numpy haversine (radians) from one query to every point."""
    lat_r, lng_r = np.radians(lat), np.radians(lng)
    qa, qn = np.radians(q_lat), np.radians(q_lng)
    return 2 * np.arcsin(np.sqrt(np.minimum(1.0, (
        np.sin((lat_r - qa) / 2) ** 2
        + np.cos(lat_r) * np.cos(qa) * np.sin((lng_r - qn) / 2) ** 2))))


def test_invalid_coordinates_get_no_knn_or_radius_rows(spark):
    """A query or data point whose coordinates are NaN, infinite or off
    the globe has a null cell_id and takes part in no kNN or radius pair,
    also at 3.0 rad, where radius_join probes all six faces instead of the
    vertex neighbours; the valid points still match brute force."""
    nan, inf = float("nan"), float("inf")
    bad = [(nan, 45.0), (inf, 45.0), (-inf, 45.0), (35.26, nan),
           (35.26, inf), (35.26, -inf), (95.0, 45.0), (-91.0, 45.0),
           (35.26, 181.0), (35.26, -181.0), (nan, nan)]
    good = [(35.26, 45.0), (35.3, 45.1), (90.0, 180.0), (-90.0, -180.0),
            (0.0, 0.0), (10.0, 20.0)]
    lat, lng = np.array(good + bad).T
    pts = C.with_cell_id(spark.createDataFrame(pd.DataFrame(
        {"id": np.arange(len(lat)), "lat": lat, "lng": lng})), "lat", "lng")
    queries = pts.withColumnRenamed("id", "query_id")
    data = pts.withColumnRenamed("id", "data_id")
    g = np.array(good)
    d = np.array([_haversine_rows(g[:, 0], g[:, 1], a, b) for a, b in good])

    for radius in (0.05, 3.0):
        got = {(r["query_id"], r["data_id"]) for r in
               radius_join(queries, data, radius).collect()}
        expect = {(i, j) for i in range(len(good)) for j in range(len(good))
                  if d[i, j] <= radius}
        assert got == expect, f"radius {radius}"

    got = knn_join(queries, data, k=2, initial_radius_rad=0.1).toPandas()
    assert set(got["query_id"]) == set(range(len(good)))
    for i in range(len(good)):
        expect = np.lexsort((np.arange(len(good)), d[i]))[:2].tolist()
        sub = got[got.query_id == i].sort_values("rank")
        assert sub["data_id"].tolist() == expect, f"query {i}"


def test_knn_poles_antimeridian_cube_corner_matches_bruteforce(spark):
    """The kNN cells of the geometry matrix: queries exactly at both
    poles, at lng +-179.99 with data on both sides of the antimeridian,
    and at the cube corner (35.2643896828, 45), whose closest vertex has 3
    neighbours (not 4) at every level.  Each query's k nearest, in rank
    order, equal brute-force haversine with data_id breaking ties."""
    rng = np.random.default_rng(31)
    corner = (float(np.degrees(np.arcsin(1 / np.sqrt(3)))), 45.0)
    east = rng.random(150) < 0.5
    lat = np.concatenate([rng.uniform(80, 89.99, 150),
                          rng.uniform(-89.99, -80, 150),
                          rng.uniform(-5, 5, 150),
                          corner[0] + rng.uniform(-3, 3, 150),
                          rng.uniform(-70, 70, 200)])
    lng = np.concatenate([rng.uniform(-180, 180, 150),
                          rng.uniform(-180, 180, 150),
                          np.where(east, rng.uniform(179, 180, 150),
                                   rng.uniform(-180, -179, 150)),
                          corner[1] + rng.uniform(-3, 3, 150),
                          rng.uniform(-180, 180, 200)])
    ids = np.arange(len(lat))
    data = C.with_cell_id(spark.createDataFrame(pd.DataFrame(
        {"data_id": ids, "lat": lat, "lng": lng})), "lat", "lng")
    qs = [(90.0, 0.0), (-90.0, 0.0), (0.0, 179.99), (0.0, -179.99),
          (3.0, 179.99), (-3.0, -179.99), corner]
    queries = C.with_cell_id(spark.createDataFrame(pd.DataFrame(
        {"query_id": np.arange(len(qs)), "lat": [a for a, _ in qs],
         "lng": [b for _, b in qs]})), "lat", "lng")
    leaf = ci.from_latlng_deg(np.array([corner[0]]), np.array([corner[1]]))
    assert all(ci.get_vertex_neighbors(leaf, lv)[1].sum() == 3
               for lv in range(30))

    got = knn_join(queries, data, k=5, initial_radius_rad=0.0025).toPandas()
    for qi, (q_lat, q_lng) in enumerate(qs):
        d = _haversine_rows(lat, lng, q_lat, q_lng)
        expect = np.lexsort((ids, d))[:5]
        sub = got[got.query_id == qi].sort_values("rank")
        assert sub["data_id"].tolist() == expect.tolist(), f"query {qs[qi]}"
        assert np.allclose(sub["distance_rad"].to_numpy(), d[expect],
                           atol=1e-12)


def test_oracle_encode_of_invalid_coordinates_agrees(spark):
    """The DuckDB oracle encode gives a null cell_id for NaN and ±inf in
    either coordinate, as the engine does, instead of raising on the trig
    of an infinite value; valid rows get the engine's ids."""
    import duckdb
    from s2spark.oracle.sql import encode_query

    nan, inf = float("nan"), float("inf")
    bad = [(nan, 45.0), (inf, 45.0), (-inf, 45.0),
           (35.26, nan), (35.26, inf), (35.26, -inf), (inf, -inf)]
    good = [(35.26, 45.0), (90.0, 180.0), (-90.0, -180.0), (48.8566, 2.3522)]
    rows = [(i, lat, lng) for i, (lat, lng) in enumerate(good + bad)]
    values = ", ".join(f"({i}, '{lat!r}'::DOUBLE, '{lng!r}'::DOUBLE)"
                       for i, lat, lng in rows)
    oracle = dict(duckdb.sql(encode_query(
        f"SELECT * FROM (VALUES {values}) t(doc_id, lat, lng)",
        "SELECT doc_id, cell_id FROM encoded")).fetchall())
    engine = {r["doc_id"]: r["cell_id"] for r in C.with_cell_id(
        spark.createDataFrame(rows, "doc_id long, lat double, lng double"),
        "lat", "lng").collect()}
    assert {i for i, c in oracle.items() if c is None} == set(
        range(len(good), len(rows)))
    assert oracle == engine


def _sign_bit_ids():
    """Raw cell ids on all six faces: the face cells, a random leaf and its
    level-13 parent per face, and the face-3/4 ids on both sides of the
    biased 0 (raw 2^63, where the signed representation wraps)."""
    rng = np.random.default_rng(1515)
    faces = ci.from_face_pos_level(np.arange(6), np.zeros(6), 0)
    leaves = ci.from_face_pos_level(
        np.arange(6), rng.integers(0, 1 << 61, 6, dtype=np.uint64), 30)
    edge = np.array([(1 << 63) - 1, (1 << 63) + 1,         # last face-3 leaf, first face-4 leaf
                     (1 << 63) - (1 << 20), (1 << 63) + (1 << 20),
                     (1 << 63) - (1 << 60), (1 << 63) + (1 << 60)],
                    dtype=np.uint64)
    return np.concatenate([faces, leaves, ci.parent_for_level(leaves, 13), edge])


def test_probe_cells_match_kernel_parent_across_sign_bit(spark):
    """The probe keys (functions.columns.with_probe_cells, bit ops on an
    exploded level column) equal kernel.cellid.parent_for_level at every
    level 0..30, for ids on all six faces including the face-3/4 ids on
    both sides of the biased 0; a null cell_id gives the key 0, which is
    no cell and joins nothing.  The probe join computes each key once: no
    isnotnull(probe_cell) filter recomputes it below the key's projection."""
    from s2spark.operators import spatial_join as sj
    from s2spark.plans.frames import local_frame

    raw = _sign_bit_ids()
    rows = [(k, int(s)) for k, s in enumerate(ci.to_signed(raw))] + [(len(raw), None)]
    df = local_frame(spark, rows, "k long, cell_id long").repartition(2)
    got = {}
    for r in C.with_probe_cells(df, range(31)).collect():
        got.setdefault(r["k"], []).append(r["probe_cell"])
    for k, cid in enumerate(raw):
        expect = sorted(int(ci.to_signed(ci.parent_for_level(np.array([cid]), lv))[0])
                        for lv in range(31))
        assert sorted(got[k]) == expect, hex(int(cid))
    assert got[len(raw)] == [0] * 31

    at13 = [int(p) for p in ci.to_signed(ci.parent_for_level(raw, 13))]
    cov = [(1, at13[k], 13, False) for k in (9, 10)]   # face-3 and face-4 leaves
    joined = sj.covering_probe_join(spark, df, cov, sj.COVERING_SCHEMA)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "isnotnull(probe_cell" not in plan
    assert plan.count("shiftleft(1, (60 - ") == 2           # mask and lsb of one key
    assert sorted(r["k"] for r in joined.collect()) == [
        k for k, p in enumerate(at13) if p in (at13[9], at13[10])]


def test_encode_matches_kernel_at_poles_antimeridian_cube_corner(spark):
    """with_cell_id equals the kernel encode on seeded points, both poles,
    lng ±180 and the cube corner; null, NaN and off-globe input give a
    null cell_id.  The encode's executed plan holds its 12 projections:
    the barriers that keep Catalyst from inlining one stage into the next
    (a 3^8 expression blowup)."""
    from s2spark.plans.frames import local_frame

    rng = np.random.default_rng(1516)
    pts = [(float(a), float(b)) for a, b in zip(rng.uniform(-90, 90, 300),
                                                 rng.uniform(-180, 180, 300))]
    pts += [(90.0, 0.0), (-90.0, 0.0), (90.0, 180.0), (-90.0, -180.0),
            (0.0, 180.0), (0.0, -180.0), (45.0, 180.0), (-45.0, -180.0),
            (35.2643896828, 45.0), (-35.2643896828, -135.0)]
    bad = [(None, 0.0), (0.0, None), (float("nan"), 0.0), (0.0, float("nan")),
           (90.5, 0.0), (0.0, -180.5), (float("inf"), 0.0)]
    rows = [(k, a, b) for k, (a, b) in enumerate(pts + bad)]
    df = C.with_cell_id(local_frame(spark, rows, "k long, lat double, lng double")
                        .repartition(2), "lat", "lng")
    assert df._jdf.queryExecution().executedPlan().toString().count("Project [") == 12
    got = {r["k"]: r["cell_id"] for r in df.collect()}
    lat, lng = np.array(pts).T
    expect = ci.to_signed(ci.from_latlng_deg(lat, lng))
    assert [got[k] for k in range(len(pts))] == expect.tolist()
    assert [got[len(pts) + k] for k in range(len(bad))] == [None] * len(bad)


def test_cell_token_sentinel_faces_leaves_null(spark):
    """cell_token matches kernel.cellid.to_token on face cells, leaves and
    the raw id 0 (the signed -2^63 sentinel, token "X"), gives null for a
    null id, and runs its regex at one call site."""
    from s2spark.plans.frames import local_frame

    raw = np.concatenate([_sign_bit_ids(), np.array([0], dtype=np.uint64)])
    rows = [(k, int(s)) for k, s in enumerate(ci.to_signed(raw))] + [(len(raw), None)]
    df = (local_frame(spark, rows, "k long, cell_id long").repartition(2)
          .select("k", C.cell_token(F.col("cell_id")).alias("token")))
    assert df._jdf.queryExecution().executedPlan().toString().count("regexp_replace(") == 1
    got = {r["k"]: r["token"] for r in df.collect()}
    assert [got[k] for k in range(len(raw))] == ci.to_token(raw).tolist()
    assert got[len(raw) - 1] == "X" and got[len(raw)] is None
