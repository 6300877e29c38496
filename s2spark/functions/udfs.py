"""The one Arrow-batched pandas UDF over the numpy kernel.

``vertex_neighbors_udf`` computes the kNN join's probe keys
(``operators/knn.py``): the cells around the nearest vertex at a coarser
level, which no Column expression here yet computes.  It is the slow path
relative to the pure Column expressions in ``columns.py`` (one Arrow
round-trip per batch).  The kernel LUTs are module-level numpy arrays,
initialized once per executor on import — zero per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..kernel import cellid as ci


@F.pandas_udf(ArrayType(LongType()))
def vertex_neighbors_udf(cell_id: pd.Series, level: pd.Series) -> pd.Series:
    """3-4 cells touching the closest vertex at the given coarser level —
    the fixed-radius near-point join primitive (S2PolygonBuilder.cs:593-675)."""
    ids = ci.to_unsigned(cell_id.to_numpy(np.int64))
    if len(ids) == 0:
        return pd.Series([], dtype=object)
    lv = level.to_numpy(np.int64)
    nbrs, valid = ci.get_vertex_neighbors(ids, lv)
    signed = ci.to_signed(nbrs.reshape(-1)).reshape(nbrs.shape)
    out = [list(dict.fromkeys(int(v) for v in row[m]))
           for row, m in zip(signed, valid)]
    return pd.Series(out)
