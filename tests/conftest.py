import math
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from s2spark.kernel import cellid as ci  # noqa: E402
from s2spark.plans.driver_cost import jobs_during, jvm_calls_during  # noqa: E402,F401


def parse_vertices(s: str) -> np.ndarray:
    """Parse the reference's 'lat:lng, lat:lng, ...' degree fixture strings
    (GeometryTestCase.cs:187-235)."""
    pts = []
    for tok in s.split(","):
        lat, lng = map(float, tok.strip().split(":"))
        x, y, z = ci.xyz_from_latlng_deg(np.array([lat]), np.array([lng]))
        pts.append([x[0], y[0], z[0]])
    return np.array(pts)


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(123456)


def random_points(rng, n):
    z = rng.uniform(-1, 1, n)
    theta = rng.uniform(-math.pi, math.pi, n)
    r = np.sqrt(1 - z * z)
    return r * np.cos(theta), r * np.sin(theta), z
