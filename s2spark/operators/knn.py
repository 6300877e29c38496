"""kNN / fixed-radius neighbor joins via cell buckets and radius doubling.

Reimplements the reference's PointIndex pattern (fixed-radius near-point
join: hash points to cells at the level where the query disc fits in one
cell, probe the 4 vertex-neighbor buckets, exact-filter by angle —
S2PolygonBuilder.cs:593-675) as relational joins:

* level selection: MIN_WIDTH.get_max_level(2r) (S2PolygonBuilder.cs:600-611)
* probe keys: vertex neighbors of the query's cell at that level (<=4,
  ``kernel.cellid.get_vertex_neighbors``, S2CellId.cs:751-803), so every
  data point within r shares a bucket with the query -> one hash
  equi-join on bucket id
* exact residual: haversine <= r

The query side is driver-sized, like the regions of every other region
operator: at most MAX_QUERIES rows, collected once by a bounded collect
(no job on a LocalRelation; on a distributed frame Spark scans one
partition, then more: 2 jobs on 4 partitions).  Each
round computes the probe keys on the driver and ships them as one
LocalRelation, which the data side joins on its ancestor at the round's
level; the data side stays distributed.  kNN doubles the radius for the
queries still short of k and keeps their round state in Python, so a
round is one broadcast join plus the rank window: 4 Spark jobs under AQE
(the broadcast, the dedup and rank shuffles, the collect), 3 when nothing
matches.  Nothing is materialized: the result is a LocalRelation, and
collecting it runs no job.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StructField,
                               StructType)
from pyspark.sql.window import Window

from ..functions import columns as C
from ..kernel import cellid as ci
from ..kernel import metrics
from ..plans.frames import local_frame

QUERY_KEY = "query_id"
DATA_KEY = "data_id"
# At most 6 probe rows of ~40 B per query: 10^4 queries keep the probe
# table near 2.4 MB, far under the 10 MB autoBroadcastJoinThreshold.
MAX_QUERIES = 10_000
_FACES = tuple(int(c) for c in
               ci.to_signed(ci.from_face_pos_level(np.arange(6), 0, 0)))


def radius_join(queries: DataFrame, data: DataFrame, radius_rad: float) -> DataFrame:
    """All (query, data) pairs within radius_rad (great-circle).

    Both inputs need lat/lng (degrees) + leaf cell_id columns; the query
    side is collected (a LocalRelation's collect runs no job).  A query or
    data row with a null cell_id (invalid coordinates) matches nothing.
    """
    # Clamp to MaxLevel-1 = 29 (not 30): the vertex-neighbor guarantee needs
    # a level coarser than the leaf, and get_vertex_neighbors at level 30
    # would compute a negative shift (S2PolygonBuilder PointIndex mirrors
    # this with Math.Min(..., S2CellId.MaxLevel - 1)).
    level = min(metrics.MIN_WIDTH.get_max_level(2 * radius_rad), 29)
    qs = [r for r in queries.select(QUERY_KEY, "lat", "lng", "cell_id").collect()
          if r["cell_id"] is not None]
    if 2 * radius_rad > metrics.MIN_WIDTH.get_value(0):
        # Planet-scale radius: get_max_level clamps to 0 but no cell at ANY
        # level is wide enough to contain the query disc, so the 4-vertex-
        # neighbor guarantee is void (a disc of radius > ~27 deg can reach
        # faces that never touch the query's nearest cube vertex).  Probe
        # all six faces: the exact haversine filter does the work.
        buckets = [_FACES] * len(qs)
    else:
        nbrs, valid = ci.get_vertex_neighbors(
            ci.to_unsigned(np.array([r["cell_id"] for r in qs], np.int64)), level)
        buckets = [dict.fromkeys(row[m].tolist())
                   for row, m in zip(ci.to_signed(nbrs), valid)]
    s = queries.schema
    probe = local_frame(
        queries.sparkSession,
        [(r[0], r[1], r[2], b) for r, bs in zip(qs, buckets) for b in bs],
        StructType([StructField(QUERY_KEY, s[QUERY_KEY].dataType),
                    StructField("q_lat", s["lat"].dataType),
                    StructField("q_lng", s["lng"].dataType),
                    StructField("bucket", LongType())]))
    d = data.select(
        F.col(DATA_KEY), F.col("lat").alias("d_lat"), F.col("lng").alias("d_lng"),
        C.parent_for_level(F.col("cell_id"), level).alias("bucket"))
    dist = C.haversine(F.radians(F.col("q_lat")), F.radians(F.col("q_lng")),
                       F.radians(F.col("d_lat")), F.radians(F.col("d_lng")))
    return (probe.join(d, "bucket")
            .withColumn("distance_rad", dist)
            .where(F.col("distance_rad") <= radius_rad)
            .dropDuplicates([QUERY_KEY, DATA_KEY])
            .drop("bucket"))


def knn_join(queries: DataFrame, data: DataFrame, k: int,
             initial_radius_rad: float = 0.0025) -> DataFrame:
    """k nearest data points per query, ranked by (distance_rad, data_id).

    Round-doubling radius search: radius r finds all true k-NN whose k-th
    neighbor is within r; queries with < k matches retry at 2r.  Rows found
    in earlier rounds are final (a correct k-NN at radius r stays correct
    at 2r).  The doubling runs until the radius reaches pi, so every query
    returns min(k, |data|) rows however far its k-th neighbor is; the loop
    exits as soon as every query has k rows (dense data: 2-4 rounds).  A
    query with a null cell_id returns no rows.  Raises ValueError above
    MAX_QUERIES queries.
    """
    spark = queries.sparkSession
    qdf = queries.select(QUERY_KEY, "lat", "lng", "cell_id")
    qs = qdf.limit(MAX_QUERIES + 1).collect()
    if len(qs) > MAX_QUERIES:
        raise ValueError(f"knn_join takes at most {MAX_QUERIES} queries")
    remaining = [r for r in qs if r["cell_id"] is not None]
    w = Window.partitionBy(QUERY_KEY).orderBy(F.col("distance_rad").asc(),
                                              F.col(DATA_KEY).asc())
    found = []
    radius = initial_radius_rad
    while remaining:
        ranked = defaultdict(list)
        for r in (radius_join(local_frame(spark, remaining, qdf.schema), data, radius)
                  .withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select(QUERY_KEY, DATA_KEY, "distance_rad", "rank").collect()):
            ranked[r[0]].append(tuple(r))
        last = radius >= math.pi
        found += [row for rows in ranked.values() if last or len(rows) >= k
                  for row in rows]
        remaining = [] if last else [q for q in remaining if len(ranked[q[0]]) < k]
        radius *= 2
    return local_frame(spark, found, StructType([
        StructField(QUERY_KEY, qdf.schema[QUERY_KEY].dataType),
        StructField(DATA_KEY, data.schema[DATA_KEY].dataType),
        StructField("distance_rad", DoubleType()),
        StructField("rank", IntegerType())]))
