"""Tile aggregation and raster<->vector conversion.

The tile grid at level L is pure range arithmetic on cell ids
(ChildBeginForLevel/ChildEndForLevel, S2CellId.cs:543-553) — so tile
assignment is `parent_for_level(cell_id, L)`: one JVM expression, no
geometry.  Tile aggregations are ordinary hash aggregates with map-side
partial combine; at 100 TB the shuffle key is the tile id, whose
cardinality the level controls (choose L so tiles >> executors but
fit the reducer: level 10 -> ~6M tiles globally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import columns as C


def assign_tiles(geo: DataFrame, level: int) -> DataFrame:
    """Add the level-L `tile_id` of `cell_id` — a single bit-op expression
    (no shuffle)."""
    return geo.withColumn("tile_id", C.parent_for_level(F.col("cell_id"), level))


def tile_counts(geo: DataFrame, level: int) -> DataFrame:
    """Pages per level-L tile.  Partial aggregation (map-side combine) makes
    the shuffle O(#tiles), not O(#rows)."""
    return (assign_tiles(geo, level)
            .groupBy("tile_id")
            .agg(F.count(F.lit(1)).alias("n_pages")))


def vector_to_raster(coverings: DataFrame, level: int) -> DataFrame:
    """Rasterize polygon coverings to a fixed-level tile grid.

    coverings(polygon_id, cell_id, ...) with cells at levels <= `level` are
    exploded to their level-L descendants via pure range arithmetic
    (sequence over child ids) — stays in the JVM, and the explode factor is
    bounded by 4^(level - cell_level) per row.
    """
    begin = C.child_begin_for_level(F.col("cell_id"), level)
    end = C.child_end_for_level(F.col("cell_id"), level)
    step = F.lit(2 * (1 << (2 * (30 - level)))).cast("long")
    coarser = F.col("cell_id_level") <= level
    tiles_arr = (F.when(coarser, F.sequence(begin, end - 1, step))
                 .otherwise(F.array(C.parent_for_level(F.col("cell_id"), level))))
    return (coverings
            .withColumn("cell_id_level", C.cell_level(F.col("cell_id")))
            .withColumn("tile_id", F.explode(tiles_arr))
            .drop("cell_id_level")
            .dropDuplicates(["polygon_id", "tile_id"]))


def raster_to_vector(tiles: DataFrame, group_col: str = "polygon_id",
                     tile_col: str = "tile_id") -> DataFrame:
    """Collapse per-group tile sets back into normalized cell unions
    (4 siblings -> parent, S2CellUnion.cs:691-757).

    Uses applyInPandas per group: union normalization is a sorted linear
    scan; groups are independent so this parallelizes across groups.
    """
    import pandas as pd
    import numpy as np
    from ..kernel import cellid as ci
    from ..kernel.cellunion import normalize

    schema = f"{group_col} long, cell_id long"

    def norm_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = ci.to_unsigned(pdf[tile_col].to_numpy(np.int64))
        out = ci.to_signed(normalize(ids))
        return pd.DataFrame({group_col: pdf[group_col].iloc[0], "cell_id": out})

    return tiles.groupBy(group_col).applyInPandas(norm_group, schema=schema)
