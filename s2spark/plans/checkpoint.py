"""Snapshot checkpointing: resumable multi-stage jobs.

Iceberg snapshots are the deployment target (BASELINE.json north_star); this
container has no Iceberg runtime, so the same contract is implemented with
atomic parquet snapshot directories + an append-only manifest LOG carrying
Iceberg's snapshot semantics: every commit gets a monotone snapshot_id and
records row count + schema, `read_snapshot` time-travels by id or
timestamp, and `rollback` appends a marker that moves a stage's current
snapshot back without rewriting history.  A stage's output is visible iff
its manifest row is committed, and `resume_or_compute` replays completed
stages from their current snapshots.  Swapping the io layer for Iceberg
(`df.writeTo(...).createOrReplace()` + snapshot ids) changes only this file.

Job budget per stage.  A committed stage costs one write job, audited or
not, and caches nothing.  After the write the store reads the parquet
footers of the part files it wrote, with pyarrow: their `num_rows` sum to
the row count the manifest records, and they are the statistics an
audited stage's rows (`audit.partition_metrics`) are taken from, so
nothing reads the snapshot back.  A snapshot read costs no job: the commit
records the schema as JSON and every read (resume, post-commit return,
`read_snapshot`) hands it to the parquet reader instead of inferring it.
A manifest row committed before the JSON schema was recorded is read with
inference.

Failure posture.  The audit rows are written after the write job and
before the manifest commit, so they describe exactly the files that are
committed.  A crash between the audit append and the commit leaves audit
rows for a stage that has no snapshot; the resume recomputes the stage and
appends its audit rows again.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from . import audit


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.manifest_path = os.path.join(root, "MANIFEST.jsonl")

    def _log(self) -> list[dict]:
        rows = []
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                for line in f:
                    # A crash mid-append leaves a torn trailing line; treat it
                    # as uncommitted (recompute that stage) instead of wedging
                    # every future resume with a JSONDecodeError.
                    try:
                        rows.append(json.loads(line))
                    except json.JSONDecodeError:
                        continue
        return rows

    def _current(self) -> dict[str, dict]:
        """Replay the append-only log Iceberg-style: a commit advances the
        stage's current snapshot, a rollback marker moves it back to an
        earlier snapshot id.  The log itself is never rewritten."""
        by_id: dict[tuple[str, int], dict] = {}
        cur: dict[str, dict] = {}
        for row in self._log():
            if "rollback_to" in row:
                tgt = by_id.get((row["stage"], row["rollback_to"]))
                if tgt is not None:
                    cur[row["stage"]] = tgt
                continue
            by_id[(row["stage"], row.get("snapshot_id", 0))] = row
            cur[row["stage"]] = row
        return cur

    def snapshots(self, stage: str) -> list[dict]:
        """Snapshot lineage for a stage (oldest first): every commit ever
        made, with snapshot_id / path / n_rows / schema / ts."""
        return [r for r in self._log()
                if r.get("stage") == stage and "rollback_to" not in r]

    @staticmethod
    def _read(spark: SparkSession, row: dict) -> DataFrame:
        """Read one committed snapshot.  With the schema the commit recorded
        the read launches no job; a row without it falls back to parquet
        schema inference.  A missing snapshot directory raises either way."""
        reader = spark.read
        if "schema_json" in row:
            reader = reader.schema(
                StructType.fromJson(json.loads(row["schema_json"])))
        return reader.parquet(row["path"])

    def read_snapshot(self, spark: SparkSession, stage: str,
                      snapshot_id: int | None = None,
                      as_of_ts: float | None = None) -> DataFrame:
        """Time travel: read a stage at a specific snapshot id, at the
        latest snapshot committed on or before `as_of_ts`, or (default) at
        the current snapshot after rollbacks."""
        if snapshot_id is not None:
            for r in self.snapshots(stage):
                if r.get("snapshot_id") == snapshot_id:
                    return self._read(spark, r)
            raise KeyError(f"stage {stage!r} has no snapshot {snapshot_id}")
        if as_of_ts is not None:
            eligible = [r for r in self.snapshots(stage) if r["ts"] <= as_of_ts]
            if not eligible:
                raise KeyError(f"stage {stage!r} has no snapshot <= {as_of_ts}")
            return self._read(spark, eligible[-1])
        cur = self._current().get(stage)
        if cur is None:
            raise KeyError(f"stage {stage!r} has no committed snapshot")
        return self._read(spark, cur)

    def rollback(self, stage: str, snapshot_id: int) -> None:
        """Append a rollback marker: the stage's current snapshot becomes
        `snapshot_id`; subsequent resume_or_compute calls replay from it.
        Append-only — history (and roll-forward) is preserved."""
        if not any(r.get("snapshot_id") == snapshot_id
                   for r in self.snapshots(stage)):
            raise KeyError(f"stage {stage!r} has no snapshot {snapshot_id}")
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps({"stage": stage, "rollback_to": snapshot_id,
                                "ts": time.time()}) + "\n")

    def commit(self, stage: str, path: str, n_rows: int,
               schema: str | None = None,
               version: str | None = None,
               schema_json: str | None = None) -> dict:
        """Append the stage's manifest row and return it.  `schema` is the
        simpleString kept for readers of the log; `schema_json`
        (`StructType.json()`) is what snapshot reads use."""
        # If a prior append was torn mid-line (crash), start on a fresh line
        # so the new record isn't glued onto the torn fragment and lost.
        needs_nl = (os.path.exists(self.manifest_path)
                    and os.path.getsize(self.manifest_path) > 0)
        if needs_nl:
            with open(self.manifest_path, "rb") as f:
                f.seek(-1, os.SEEK_END)
                needs_nl = f.read(1) != b"\n"
        snap_id = 1 + max((r.get("snapshot_id", 0)
                           for r in self.snapshots(stage)), default=0)
        with open(self.manifest_path, "a") as f:
            if needs_nl:
                f.write("\n")
            row = {"stage": stage, "snapshot_id": snap_id,
                   "path": path, "n_rows": n_rows,
                   "schema": schema, "ts": time.time()}
            if version is not None:
                row["version"] = version
            if schema_json is not None:
                row["schema_json"] = schema_json
            f.write(json.dumps(row) + "\n")
        return row

    def resume_or_compute(self, spark: SparkSession, stage: str,
                          compute: Callable[[], DataFrame],
                          version: str | None = None) -> DataFrame:
        """Return the stage's snapshot if committed, else compute -> write ->
        commit -> read the snapshot (so downstream always reads the snapshot,
        making the stage boundary a true barrier for restarts).

        A commit is one write job and no read-back job: the row count is
        the sum of the written footers' `num_rows`, and the returned read
        uses the recorded schema.  Audits that `compute()` binds with
        `audit.append_audit(audit.partition_metrics(df, ...), dir)` are
        written from the same footers before the commit; auditing any
        frame but the one `compute()` returns raises before the write.

        `version` is a STAGE-DEFINITION fingerprint (pipeline version
        string, hash of the stage's semantics — anything that changes when
        the meaning of the stage changes).  When provided, a committed
        snapshot is only resumed if it was committed under the SAME
        version; a mismatching (or version-less, pre-versioning) snapshot
        is recomputed and committed as a new snapshot id (the old one
        stays in the log for time travel).  Without this, resuming a
        workdir written by an older pipeline that reused a stage NAME with
        different semantics silently mixed incompatible stage outputs."""
        cur = self._current().get(stage)
        if cur is not None and (version is None
                                or cur.get("version") == version):
            return self._read(spark, cur)
        path = os.path.join(self.root, f"{stage}-{int(time.time() * 1000)}")
        with audit.stage_audits() as audits:
            df = compute()
        strays = sorted({p.stage for p, _ in audits if p.df is not df})
        if strays:
            raise ValueError(
                f"stage {stage!r}: compute() audited a frame it does not "
                f"return (audit stages {strays}); audit the returned frame")
        df.write.mode("overwrite").parquet(path)
        footers = _part_footers(path)
        for pending, audit_dir in audits:
            audit.write_footer_rows(pending, audit_dir, footers)
        schema = df.schema
        row = self.commit(stage, path, sum(md.num_rows for _, md in footers),
                          schema=schema.simpleString(), version=version,
                          schema_json=schema.json())
        return self._read(spark, row)


def _part_footers(path: str) -> list[tuple[int, pq.FileMetaData]]:
    """(write task index, parquet footer) of every part file in `path`;
    Spark names them `part-NNNNN-<job uuid>-cNNN...`."""
    return [(int(name.split("-")[1]), pq.read_metadata(os.path.join(path, name)))
            for name in sorted(os.listdir(path)) if name.startswith("part-")]
