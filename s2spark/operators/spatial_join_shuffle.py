"""Shuffle-based point-in-polygon join for LARGE polygon sets.

The broadcast plan in spatial_join.py assumes the covering side fits on
every executor.  At web scale the query side can be millions of polygons
(admin boundaries, geofences): coverings become a real table, the join
becomes a shuffle hash join on covering cells, and hot cells (cities)
need salting because a single hot key lands one reducer with the whole
city (AQE splits partitions, not keys, and the exact-refine kernel cost
rides with the rows).

Pipeline:
1. build_coverings_distributed: one applyInPandas group per polygon runs
   the same skin refinement (spatial_join.skin_covering) used driver-side
   (SURVEY.md §3.2: parallelism is across polygons, never inside one
   covering).
2. hot-cell detection: a cheap pre-aggregation counts probe hits per
   covering cell; cells above the threshold get salted R ways
   (the explicit mechanism the north_star requires — AQE alone cannot
   split a single key).
3. salted equi-join probe: points explode to (ancestor-at-level, salt).
4. exact refine: exterior-cell matches cogroup with polygon vertices by
   polygon_id and run the crossing-parity kernel per group.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                               IntegerType, LongType, StructField, StructType)

from ..functions import columns as C
from ..kernel.loops import Loop, Polygon

POLYGON_SCHEMA = StructType([
    StructField("polygon_id", LongType()),
    StructField("loop_idx", IntegerType()),
    StructField("depth", IntegerType()),
    StructField("vertices", ArrayType(ArrayType(DoubleType()))),
])

COVERING_SCHEMA = StructType([
    StructField("polygon_id", LongType()),
    StructField("cov_cell_id", LongType()),
    StructField("cov_level", IntegerType()),
    StructField("is_interior", BooleanType()),
])


def polygons_to_df(spark: SparkSession, polygons: dict[int, Polygon]) -> DataFrame:
    rows = []
    for pid, poly in polygons.items():
        for li, lp in enumerate(poly.loops):
            rows.append((pid, li, lp.depth,
                         [[float(v) for v in row] for row in lp.vertices]))
    return spark.createDataFrame(rows, POLYGON_SCHEMA)


def _polygon_from_group(pdf: pd.DataFrame) -> Polygon:
    loops = []
    for _, row in pdf.sort_values("loop_idx").iterrows():
        verts = np.stack([np.asarray(v, dtype=np.float64) for v in row["vertices"]])
        loops.append(Loop(verts, depth=int(row["depth"])))
    return Polygon(loops)


def build_coverings_distributed(polygons_df: DataFrame,
                                max_cells: int = 64) -> DataFrame:
    """coverings(polygon_id, cov_cell_id, cov_level, is_interior) — one
    coverer run per polygon group, parallel across polygons."""

    def cover_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # The same skin refinement and covering memo as the broadcast
        # path.  The memo lives in this Python worker, so it serves only
        # repeats that land on the same worker while it is alive.
        from .spatial_join import skin_covering

        rows = skin_covering(_polygon_from_group(pdf), max_cells)
        return pd.DataFrame(
            {"polygon_id": int(pdf["polygon_id"].iloc[0]),
             "cov_cell_id": np.array([c for c, _, _ in rows], dtype=np.int64),
             "cov_level": np.array([lv for _, lv, _ in rows], dtype=np.int32),
             "is_interior": [bool(f) for _, _, f in rows]})

    return polygons_df.groupBy("polygon_id").applyInPandas(
        cover_group, schema=COVERING_SCHEMA)


def spatial_join_shuffle(spark: SparkSession, points: DataFrame,
                         polygons_df: DataFrame,
                         coverings: DataFrame | None = None,
                         cell_col: str = "cell_id",
                         n_salt: int = 8,
                         hot_threshold: int = 2_000_000,
                         point_key: str = "url",
                         hot_sample_fraction: float = 0.001,
                         refine_salt: int = 16,
                         refine_broadcast_loops: int = 10_000,
                         refine_broadcast_vertices: int = 1_000_000,
                         return_candidates: bool = False) -> DataFrame:
    """points (leaf cell_col + x,y,z) x polygons table -> (point rows,
    polygon_id) via shuffle hash join on covering cells with hot-cell
    salting, then grouped exact refine.

    hot_threshold: probe-hits per covering cell above which the cell's
    build rows are replicated n_salt ways (shuffle-key splitting).

    hot_sample_fraction: the hot-cell detector runs on a SAMPLE of the
    probe side (counts scaled back up) so detection doesn't cost a second
    full pass over the 100 TB input.  At the default 0.1% a cell at a 2M
    threshold yields ~2000 sampled hits (Poisson sigma ~45): detection is
    reliable, and borderline flips only change load balance, never results.
    Pass 1.0 for the exact full-pass count.

    refine_broadcast_loops / refine_broadcast_vertices: when the polygon
    side has at most this many loop rows AND at most this many total
    vertices, the exact refine runs as the broadcast-vertices pandas UDF
    (same masked single-pass kernel as the broadcast join) instead of the
    cogrouped refine — the shuffle plan exists for the non-broadcastable
    COVERING side, but a polygon set whose raw vertices fit in a
    broadcast shouldn't pay the cogroup's two exchanges + group funnel.
    The VERTEX budget is what actually bounds broadcast bytes (~24 B raw
    per vertex; 1M vertices ~ 25 MB of arrays): loop count alone would
    admit 10k detailed admin boundaries whose vertex payload is GBs and
    OOM the driver.  Both gates come from one cheap aggregate over the
    loop table.  Set either to 0 to force the cogroup path.
    """
    # Broadcast-budget gate FIRST (one tiny aggregate over the loop table):
    # it decides BOTH the refine strategy (below) and, new in r6, the
    # covering build strategy.  A polygon side small enough to broadcast
    # its vertices is also small enough to cover on the DRIVER through the
    # same covering memo as the broadcast join — skipping the
    # applyInPandas covering job + its Python-worker spin-up + the
    # persist/collect round-trip (measured r6: ~4-5 s of this operator's
    # construction at sf0.1).  The distributed covering path is unchanged
    # for polygon sets above the budget — the regime this operator exists
    # for.
    stats = polygons_df.agg(
        F.count(F.lit(1)).alias("n_loops"),
        F.coalesce(F.sum(F.size("vertices")), F.lit(0)).alias("n_verts"),
    ).collect()[0]
    n_loops, n_verts = int(stats["n_loops"]), int(stats["n_verts"])
    small_side = (0 < n_loops <= refine_broadcast_loops
                  and 0 < n_verts <= refine_broadcast_vertices)
    polygons: dict[int, Polygon] | None = None
    if small_side:
        by_pid: dict[int, list] = {}
        for row in polygons_df.collect():
            by_pid.setdefault(int(row["polygon_id"]), []).append(row)
        polygons = {
            pid: Polygon([
                Loop(np.stack([np.asarray(v, dtype=np.float64)
                               for v in r["vertices"]]),
                     depth=int(r["depth"]))
                for r in sorted(rows, key=lambda r: int(r["loop_idx"]))])
            for pid, rows in by_pid.items()}
    if coverings is None:
        if small_side:
            from .spatial_join import build_coverings
            cov_pdf = build_coverings(polygons, max_cells=64)
            coverings = spark.createDataFrame(cov_pdf)
            levels = sorted(int(lv) for lv in cov_pdf["cov_level"].unique())
        else:
            coverings = build_coverings_distributed(polygons_df).persist()
            levels = [r[0] for r in coverings.select("cov_level").distinct()
                      .orderBy("cov_level").collect()]
    else:
        coverings = coverings.persist()
        levels = [r[0] for r in coverings.select("cov_level").distinct()
                  .orderBy("cov_level").collect()]

    probe_keys = F.array(*[C.parent_for_level(F.col(cell_col), int(lv)) for lv in levels])
    probed = points.withColumn("probe_cell", F.explode(probe_keys))

    # hot-cell detection: probe hits per covering cell (semi-joined so we
    # only count cells that exist on the build side).  Sample BEFORE the
    # encode/explode so unsampled rows never compute probe keys.
    cov_cells = coverings.select(F.col("cov_cell_id").alias("probe_cell")).distinct()
    if hot_sample_fraction < 1.0:
        detect_src = (points.sample(hot_sample_fraction, seed=42)
                      .withColumn("probe_cell", F.explode(probe_keys)))
        sampled_threshold = max(1.0, hot_threshold * hot_sample_fraction)
    else:
        detect_src = probed
        sampled_threshold = float(hot_threshold)
    hits = (detect_src.join(cov_cells, "probe_cell", "left_semi")
            .groupBy("probe_cell").agg(F.count(F.lit(1)).alias("n_hits")))
    hot = [r[0] for r in hits.where(F.col("n_hits") >= sampled_threshold)
           .select("probe_cell").collect()]

    if hot:
        hot_lit = F.lit(hot)
        probed = probed.withColumn(
            "salt",
            F.when(F.array_contains(hot_lit, F.col("probe_cell")),
                   F.pmod(F.xxhash64(F.col(point_key)), F.lit(n_salt)).cast("int"))
            .otherwise(F.lit(0)))
        # (explode inside when() is illegal: build the salted side via union)
        hot_rows = (coverings.where(F.array_contains(hot_lit, F.col("cov_cell_id")))
                    .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
                    .withColumn("salt", F.col("salt").cast("int")))
        cold_rows = (coverings.where(~F.array_contains(hot_lit, F.col("cov_cell_id")))
                     .withColumn("salt", F.lit(0).cast("int")))
        build = hot_rows.unionByName(cold_rows)
        joined = probed.join(build,
                             (probed.probe_cell == build.cov_cell_id)
                             & (probed.salt == build.salt))
        joined = joined.drop("salt")
    else:
        joined = probed.join(coverings, probed.probe_cell == coverings.cov_cell_id)
    joined = joined.drop("probe_cell", "cov_cell_id", "cov_level")
    if return_candidates:
        # pre-refine candidate set (with is_interior), for skew/latency
        # instrumentation (tools/skew_bench.py) — not part of the API
        return joined

    # broadcast-refine fast path: few-enough loops AND vertices -> ship
    # vertices to every executor once and run the masked single-pass
    # parity kernel; skips the exterior/interior split union and the
    # cogroup's exchanges.  The gate (and the collected polygon dict) was
    # computed once above, shared with the covering-build decision.
    if small_side:
        from .spatial_join import _make_contains_udf
        contains_udf = _make_contains_udf(spark, polygons)
        masked = F.when(~F.col("is_interior"), F.col("x"))
        keep = F.col("is_interior") | contains_udf(
            F.col("polygon_id"), masked, F.col("y"), F.col("z"))
        return joined.where(keep).drop("is_interior")

    interior = joined.where(F.col("is_interior")).drop("is_interior")
    exterior = joined.where(~F.col("is_interior")).drop("is_interior")

    # exact refine: cogroup exterior matches with polygon vertices.  The
    # cogroup key is (polygon_id, salt), not polygon_id alone: a planet-scale
    # probe side can put 10^9 skin-cell matches on ONE polygon (a big city
    # boundary), and a single-key cogroup would funnel them into one pandas
    # group on one task.  Salting splits the matches refine_salt ways; the
    # (small) vertex side is replicated per salt, and the kernel is a pure
    # per-row filter, so the output is identical.
    out_schema = StructType([f for f in exterior.schema.fields])
    exterior = exterior.withColumn(
        "__rs", F.pmod(F.xxhash64(F.col(point_key)), F.lit(refine_salt)).cast("int"))
    polys_salted = (polygons_df
                    .withColumn("__rs", F.explode(
                        F.sequence(F.lit(0), F.lit(refine_salt - 1))))
                    .withColumn("__rs", F.col("__rs").cast("int")))

    def refine(key, matches: pd.DataFrame, polys: pd.DataFrame) -> pd.DataFrame:
        matches = matches.drop(columns=["__rs"])
        if len(matches) == 0 or len(polys) == 0:
            return matches.iloc[0:0]
        poly = _polygon_from_group(polys)
        keep = poly.contains_points(matches["x"].to_numpy(np.float64),
                                    matches["y"].to_numpy(np.float64),
                                    matches["z"].to_numpy(np.float64))
        return matches[keep]

    refined = (exterior.groupBy("polygon_id", "__rs")
               .cogroup(polys_salted.groupBy("polygon_id", "__rs"))
               .applyInPandas(refine, schema=out_schema))
    return interior.unionByName(refined)