"""Parser for the reference's "lat:lng, ..." geometry strings.

The parser mirrors GeometryTestCase.makePolygon (GeometryTestCase.cs:
187-235): loops are ';'-separated and each polygon loop is normalized on
load.  The strings themselves live with their callers (the driver queries,
the jobs and the tests), copied from the reference test suite
(S2LoopTest.cs:13-56, S2PolygonTest.cs:15-61).
"""

from __future__ import annotations

import numpy as np

from ..kernel import cellid as ci
from ..kernel.loops import Loop, Polygon


def parse_vertices(s: str) -> np.ndarray:
    pts = []
    for tok in s.split(","):
        lat, lng = map(float, tok.strip().split(":"))
        x, y, z = ci.xyz_from_latlng_deg(np.array([lat]), np.array([lng]))
        pts.append([x[0], y[0], z[0]])
    return np.array(pts)


def make_polygon(s: str) -> Polygon:
    """makePolygon: ';'-separated loops, each normalized; depth computed by
    mutual containment counting (valid for non-crossing fixture loops,
    mirroring the effect of S2Polygon.InsertLoop nesting,
    S2Polygon.cs:974-1023)."""
    raw = [Loop(parse_vertices(p)).normalized()
           for p in s.split(";") if p.strip()]
    loops = []
    for i, lp in enumerate(raw):
        # depth = number of other loops strictly containing this one;
        # contains_loop handles shared vertices via wedge relations (the
        # fixture families share vertices between nested loops)
        depth = sum(1 for j, other in enumerate(raw)
                    if i != j and other.contains_loop(lp))
        loops.append(Loop(lp.vertices, depth=depth))
    return Polygon(loops)
