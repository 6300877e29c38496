"""End-to-end resumable spatial pipeline (spark-submit entry point).

    spark-submit --py-files s2spark.zip jobs/spatial_pipeline.py \
        --pages 1000000 --workdir /data/run1 [--sf-dir ...]

Stages (each snapshot-checkpointed; a restarted job replays completed
stages from their snapshots — the Iceberg-snapshot resumability contract
of the north_star, implemented over atomic parquet snapshot dirs):

  1. mine     pages -> (url, text, lat, lng)     [byte-identical text]
  2. encode   + leaf cell_id + xyz               [JVM Hilbert encode]
  3. join     x query polygons -> (url, polygon_id)
  4. tiles    level-10 per-polygon tile counts

Stages 1-3 append per-partition lineage rows (plus the level-6 tile range
for encode and join) to the audit table under <workdir>/audit; `tiles` is
not audited.  The rows are taken from the footers of each stage's snapshot
files and land when the stage commits (see plans/audit.py).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from s2spark.functions import columns as C  # noqa: E402
from s2spark.operators.spatial_join import points_with_cells, spatial_join  # noqa: E402
from s2spark.plans.audit import append_audit, partition_metrics  # noqa: E402
from s2spark.plans.checkpoint import SnapshotStore  # noqa: E402
from s2spark.sources.fixtures import make_polygon  # noqa: E402
from s2spark.sources.pages import mine_coordinates, synthesize_pages  # noqa: E402

QUERY_POLYGONS = {
    1: "-4:-4, -4:4, 4:4, 4:-4;",
    2: "48.5:2.0, 48.5:2.7, 49.2:2.7, 49.2:2.0;",
    3: "-40:-40, -40:40, 40:40, 40:-40;",
}


def run(spark, n_pages: int, workdir: str) -> dict:
    store = SnapshotStore(os.path.join(workdir, "snapshots"))
    audit_dir = os.path.join(workdir, "audit")
    polygons = {pid: make_polygon(s) for pid, s in QUERY_POLYGONS.items()}

    def stage_mine():
        df = mine_coordinates(synthesize_pages(spark, n_pages).select("url", "text"))
        append_audit(partition_metrics(df, "mine"), audit_dir)
        return df

    mined = store.resume_or_compute(spark, "mine", stage_mine)

    def stage_encode():
        df = points_with_cells(mined)
        append_audit(partition_metrics(df, "encode", cell_col="cell_id"), audit_dir)
        return df

    encoded = store.resume_or_compute(spark, "encode", stage_encode)

    def stage_join():
        df = spatial_join(
            spark, encoded.select("url", "cell_id", "x", "y", "z"), polygons)
        append_audit(partition_metrics(df, "join", cell_col="cell_id"), audit_dir)
        return df

    joined = store.resume_or_compute(spark, "join", stage_join)

    def stage_tiles():
        return (joined
                .withColumn("tile_id", C.parent_for_level(F.col("cell_id"), 10))
                .groupBy("polygon_id", "tile_id")
                .agg(F.count(F.lit(1)).alias("n_pages")))

    tiles = store.resume_or_compute(spark, "tiles", stage_tiles)

    return {
        "mined": mined.count(),
        "joined": joined.count(),
        "tiles": tiles.count(),
        "audit_rows": spark.read.parquet(audit_dir).count(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from s2spark.plans.session import build_session
    spark = build_session(app_name="s2spark-pipeline", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    stats = run(spark, args.pages, args.workdir)
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()
