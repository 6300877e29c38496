"""Per-partition lineage and cell-count/skew metrics (audit table).

Every pipeline stage can append one row per (stage, partition) with row
counts and per-tile histograms — the operational surface the north_star
requires.  Implemented with `spark_partition_id()` aggregation over the
stage's own evaluation: `partition_metrics` persists the stage, so the audit
job computes it once and the snapshot write reads the cached blocks, and
the audit counts exactly the rows written.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import columns as C
from .frames import local_frame


def partition_metrics(df: DataFrame, stage: str, cell_col: str | None = None,
                      tile_level: int = 6) -> DataFrame:
    """One row per partition: row count (+ distinct-tile count and hottest
    tile when a cell column exists) — the skew fingerprint of the stage.

    Persists `df`, so the action that writes these metrics also fills the
    cache that the stage's own write then reads.  Whoever writes `df`
    unpersists it; `SnapshotStore.resume_or_compute` does."""
    base = df.persist().withColumn("__pid", F.spark_partition_id())
    if cell_col is not None:
        base = base.withColumn("__tile", C.parent_for_level(F.col(cell_col), tile_level))
        agg = base.groupBy("__pid").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.approx_count_distinct("__tile").alias("n_tiles"),
            F.max("__tile").alias("max_tile"))
    else:
        agg = base.groupBy("__pid").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.lit(None).cast("long").alias("n_tiles"),
            F.lit(None).cast("long").alias("max_tile"))
    return agg.select(
        F.lit(stage).alias("stage"),
        F.col("__pid").alias("partition_id"),
        "n_rows", "n_tiles", "max_tile",
        F.lit(int(time.time() * 1000)).alias("audit_ts_ms"))


def interior_covering_metrics(spark, coverer, stage: str) -> DataFrame:
    """One audit row per interior-covering construction: cells found vs
    max_cells, pops spent vs the pop budget, and whether the budget cut
    the covering short.  Exhaustion is a PERFORMANCE cliff, not a
    correctness one — any contained-cell subset is a valid interior
    covering, but fewer interior fast-accept cells mean more skin rows
    and more exact-kernel work downstream — so a production operator
    watches this row, not the query results, to see the degradation.
    `coverer` is a kernel RegionCoverer whose `last_interior_stats` was
    refreshed by its most recent get_interior_covering call."""
    stats = coverer.last_interior_stats
    if stats is None:
        raise ValueError(
            "coverer has no interior stats: call get_interior_covering "
            "before auditing it")
    return local_frame(
        spark,
        [(stage, stats["interior_cells"], stats["max_cells"],
          stats["pops"], stats["pop_budget"], stats["budget_exhausted"],
          int(time.time() * 1000))],
        "stage string, interior_cells long, max_cells long, pops long, "
        "pop_budget long, budget_exhausted boolean, audit_ts_ms long")


def append_audit(metrics_df: DataFrame, audit_dir: str) -> None:
    """Append metrics to the parquet audit table (Iceberg-append analog)."""
    os.makedirs(audit_dir, exist_ok=True)
    metrics_df.write.mode("append").parquet(audit_dir)
