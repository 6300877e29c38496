"""Polyline operators over array columns — higher-order Column functions.

A track is an `array<struct<lat:double,lng:double>>` column; arc length is
a zip_with(track, track[1:]) fold of haversine edge angles — pure JVM, no
UDF (the reference computes the same sum per object, S2Polyline.cs:56-67).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions import columns as C


def polyline_arc_length(track: Column) -> Column:
    """Arc length (radians) of an array<struct<lat,lng>> (degrees) track."""
    edges = F.zip_with(
        F.slice(track, 1, F.size(track) - 1),
        F.slice(track, 2, F.size(track) - 1),
        lambda a, b: C.haversine(F.radians(a["lat"]), F.radians(a["lng"]),
                                 F.radians(b["lat"]), F.radians(b["lng"])))
    return F.aggregate(edges, F.lit(0.0), lambda acc, d: acc + d)


def polyline_num_edges(track: Column) -> Column:
    return F.size(track) - 1
