"""Golden coverings: sha256 of the sorted covering ids for seeded caps,
rects and convex polygons.  The hashes pin the coverer's exact output, so
an internal refactor of the best-first loop must leave them unchanged."""

import hashlib
import math

import numpy as np
import pytest

from s2spark.kernel import cellid as ci
from s2spark.kernel.cap import Cap
from s2spark.kernel.coverer import RegionCoverer
from s2spark.kernel.loops import Loop, Polygon
from s2spark.kernel.polyline import Polyline
from s2spark.kernel.rect_region import RectRegion


def _digest(ids) -> str:
    srt = np.sort(np.asarray(ids, dtype=np.uint64))
    return hashlib.sha256(srt.tobytes()).hexdigest()[:16]


def _caps(seed: int, n: int = 6):
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        lat = math.radians(rng.uniform(-80, 80))
        lng = math.radians(rng.uniform(-180, 180))
        axis = (math.cos(lat) * math.cos(lng), math.cos(lat) * math.sin(lng),
                math.sin(lat))
        out.append(Cap.from_axis_angle(axis, 10 ** rng.uniform(-4, -0.5)))
    return out


def _rects(seed: int, n: int = 6):
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        lat_lo = rng.uniform(-80, 70)
        lng_lo = rng.uniform(-180, 170)
        out.append(RectRegion.from_degrees(
            lat_lo, lng_lo, lat_lo + 10 ** rng.uniform(-3, 1),
            lng_lo + 10 ** rng.uniform(-3, 1)))
    return out


def _convex_polygons(seed: int, n: int = 4):
    """Regular k-gons (counter-clockwise in lat/lng) around random centres."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        lat0, lng0 = rng.uniform(-60, 60), rng.uniform(-170, 170)
        r = 10 ** rng.uniform(-2, 0.5)
        k = int(rng.integers(3, 9))
        a = np.arange(k) * 2 * math.pi / k + rng.uniform(0, math.pi)
        lat = lat0 + r * np.sin(a)
        lng = lng0 + r * np.cos(a) / math.cos(math.radians(lat0))
        x, y, z = ci.xyz_from_latlng_deg(lat, lng)
        out.append(Polygon([Loop(np.stack([x, y, z], axis=1))]))
    return out


def _coverings(regions, max_cells: int, interior: bool) -> str:
    # a small pop budget keeps the interior cases fast; the budget is part
    # of the pinned output
    cov = RegionCoverer(max_cells=max_cells, interior_pop_budget=300)
    get = cov.get_interior_covering if interior else cov.get_covering
    ids = [np.asarray(get(r), dtype=np.uint64) for r in regions]
    return hashlib.sha256(
        "|".join(_digest(c) for c in ids).encode()).hexdigest()[:16]


GOLDEN = {
    ("cap", 11, 8, False): "bafaffbc026577f4",
    ("cap", 11, 8, True): "b456a9f713b5feb3",
    ("cap", 12, 32, False): "9a8ae92ee5339b3d",
    ("polygon", 31, 8, False): "f6eb8ec584ea1082",
    ("polygon", 31, 8, True): "903ee17a95642291",
    ("polygon", 32, 16, False): "c4ec9a8d86c9e4f1",
    ("rect", 21, 8, False): "7be98e9c7255d820",
    ("rect", 22, 32, False): "9a1e49640507144f",
}

_REGIONS = {"cap": _caps, "rect": _rects, "polygon": _convex_polygons}


@pytest.mark.parametrize("kind,seed,max_cells,interior", sorted(GOLDEN))
def test_covering_golden(kind, seed, max_cells, interior):
    got = _coverings(_REGIONS[kind](seed), max_cells, interior)
    assert got == GOLDEN[(kind, seed, max_cells, interior)]


def _tracks(seed: int, n: int = 20):
    """Corridor tracks shaped like the geo benchmark's: 4 vertices, each
    1.5 degrees from the last along a random bearing."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        lat, lng = [math.radians(rng.uniform(-70, 70))], [math.radians(rng.uniform(-180, 180))]
        for _ in range(3):
            b, r = rng.uniform(0, 2 * math.pi), math.radians(1.5)
            p = math.asin(math.sin(lat[-1]) * math.cos(r)
                          + math.cos(lat[-1]) * math.sin(r) * math.cos(b))
            lng.append(lng[-1] + math.atan2(
                math.sin(b) * math.sin(r) * math.cos(lat[-1]),
                math.cos(r) - math.sin(lat[-1]) * math.sin(p)))
            lat.append(p)
        x, y, z = ci.xyz_from_latlng_deg(np.degrees(lat), np.degrees(lng))
        out.append(Polyline(np.stack([x, y, z], axis=1)))
    return out


def test_corridor_track_coverings_golden():
    """Coverings of 20 seeded corridor tracks, and the corridor rows they
    expand to (a 0.2 degree radius), as pinned before Polyline had a
    batched relate_cells: batching the cell tests changes no cell."""
    from s2spark.operators.distance_ops import COVERER_MAX_CELLS, _expanded_covering
    tracks = _tracks(1515)
    cov = RegionCoverer(max_cells=COVERER_MAX_CELLS)
    got = hashlib.sha256("|".join(
        _digest(cov.get_covering(t)) for t in tracks).encode()).hexdigest()[:16]
    rows = hashlib.sha256(repr([_expanded_covering(t, math.radians(0.2))
                                for t in tracks]).encode()).hexdigest()[:16]
    assert (got, rows) == ("67655f8495514c95", "183804b51df67342")
