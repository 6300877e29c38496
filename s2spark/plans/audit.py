"""Per-partition lineage and tile-skew metrics (audit table).

Every snapshot stage can append one row per (stage, partition) with its row
count and the range of tiles it holds — the operational surface the
north_star requires.  The rows come from the parquet footers of the part
files the stage's snapshot write produced: the per-file statistics an
Iceberg manifest keeps (`record_count`, `lower_bounds`/`upper_bounds`).

Job budget.  `partition_metrics` runs and caches nothing; it returns a
`PendingAudit`.  `append_audit(pending, audit_dir)`, called inside the
`compute()` given to `SnapshotStore.resume_or_compute`, binds it to a
directory.  After the stage's write job and before its manifest commit the
store hands the written footers to `write_footer_rows`, which writes the
rows with pyarrow in the calling process.  So an audited stage is one
evaluation and one write job, like an unaudited one, and its audit rows
describe exactly the files that are committed.  `append_audit(frame, audit_dir)`
writes a ready DataFrame with Spark (`interior_covering_metrics` rows).

Failure posture.  Audit rows land when their stage commits.  A crash
between the audit append and the commit leaves rows for a stage with no
snapshot, and the resume recomputes the stage and appends them again.

Stage audit schema: `stage` string; `partition_id` int, the write task's
index from the part-file name (`part-NNNNN-...`; files that share an index
are summed); `n_rows` long, the footers' `num_rows`; `min_tile`/`max_tile`
long, the level-`TILE_LEVEL` parents of the least and greatest `cell_col`
over the row groups (null without a cell column; `parent_for_level` is
monotone on the biased id); `audit_ts_ms` long.  A part file with no rows
adds no row.  `min_tile` replaced an approximate distinct-tile count
(`n_tiles`), which no footer holds; read an audit directory that holds
rows of both schemas with `mergeSchema`.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from ..kernel import cellid
from .frames import local_frame

# level of the `min_tile`/`max_tile` parents (6: ~24k tiles per face)
TILE_LEVEL = 6

_STAGE_AUDIT_SCHEMA = pa.schema([
    ("stage", pa.string()), ("partition_id", pa.int32()),
    ("n_rows", pa.int64()), ("min_tile", pa.int64()),
    ("max_tile", pa.int64()), ("audit_ts_ms", pa.int64())])


@dataclass(frozen=True)
class PendingAudit:
    """An audit of `df` that its snapshot commit writes."""
    df: DataFrame
    stage: str
    cell_col: str | None


# Per thread, one list per stage being computed (innermost last): the
# (PendingAudit, audit_dir) pairs `append_audit` bound during its compute().
_computing = threading.local()


def partition_metrics(df: DataFrame, stage: str,
                      cell_col: str | None = None) -> PendingAudit:
    """One row per written partition: row count, plus the least and
    greatest level-`TILE_LEVEL` tile when `cell_col` is given — the skew
    fingerprint of the stage.  Runs and persists nothing: the rows come
    from the footers of the files `df`'s snapshot write produces."""
    return PendingAudit(df, stage, cell_col)


@contextlib.contextmanager
def stage_audits():
    """Collect the audits bound while a stage computes; yields the list of
    (PendingAudit, audit_dir) pairs."""
    if not hasattr(_computing, "stack"):
        _computing.stack = []
    stack = _computing.stack
    bound: list[tuple[PendingAudit, str]] = []
    stack.append(bound)
    try:
        yield bound
    finally:
        stack.pop()


def write_footer_rows(pending: PendingAudit, audit_dir: str,
                      footers: list[tuple[int, pq.FileMetaData]]) -> None:
    """Append the audit rows of `pending` from the footers of its stage's
    part files, given as (write task index, footer) pairs."""
    tasks: dict[int, list] = {}   # task -> [n_rows, least cell, greatest cell]
    for task, md in footers:
        if md.num_rows == 0:
            continue
        acc = tasks.setdefault(task, [0, None, None])
        acc[0] += md.num_rows
        if pending.cell_col is None:
            continue
        col = [md.schema.column(i).path
               for i in range(md.num_columns)].index(pending.cell_col)
        for g in range(md.num_row_groups):
            stats = md.row_group(g).column(col).statistics
            if stats is not None and stats.has_min_max:
                acc[1] = stats.min if acc[1] is None else min(acc[1], stats.min)
                acc[2] = stats.max if acc[2] is None else max(acc[2], stats.max)
    ts = int(time.time() * 1000)
    table = pa.Table.from_pylist(
        [{"stage": pending.stage, "partition_id": task, "n_rows": n,
          "min_tile": _tile(lo), "max_tile": _tile(hi),
          "audit_ts_ms": ts}
         for task, (n, lo, hi) in sorted(tasks.items())],
        schema=_STAGE_AUDIT_SCHEMA)
    os.makedirs(audit_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    # written under a hidden name, which parquet readers skip, then renamed:
    # a reader never sees a torn file
    tmp = os.path.join(audit_dir, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(audit_dir, name))


def _tile(cell: int | None) -> int | None:
    """The level-`TILE_LEVEL` parent of a biased signed cell id."""
    if cell is None:
        return None
    return int(cellid.parent_for_level(np.int64(cell).view(np.uint64),
                                       TILE_LEVEL).view(np.int64))


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


def append_audit(metrics: DataFrame | PendingAudit, audit_dir: str) -> None:
    """Append metrics to the parquet audit table (Iceberg-append analog).

    A DataFrame is written now, by a Spark job.  A `PendingAudit` is bound
    to the stage `SnapshotStore.resume_or_compute` is computing, which
    writes its rows when the stage commits; binding one outside a stage's
    `compute()` raises, since no commit would ever write it."""
    if isinstance(metrics, PendingAudit):
        stack = getattr(_computing, "stack", None)
        if not stack:
            raise RuntimeError(
                f"audit of stage {metrics.stage!r} appended outside a "
                "snapshot stage: call append_audit(partition_metrics(...)) "
                "inside the compute() given to resume_or_compute")
        stack[-1].append((metrics, audit_dir))
        return
    os.makedirs(audit_dir, exist_ok=True)
    metrics.write.mode("append").parquet(audit_dir)
