"""Resumable pipeline + audit + streaming smoke tests."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import jobs_during


@pytest.fixture(scope="module")
def spark():
    from s2spark.plans.session import build_session
    s = build_session(app_name="s2spark-pipe-tests", master="local[4]",
                      shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_pipeline_runs_and_resumes(spark, tmp_path):
    from jobs.spatial_pipeline import run
    work = str(tmp_path / "run")
    stats1 = run(spark, 5000, work)
    assert stats1["mined"] > 3000
    assert stats1["joined"] > 0
    assert stats1["tiles"] > 0
    assert stats1["audit_rows"] > 0

    # resume: manifest says all stages complete -> same results, and no new
    # audit rows are appended (stages are not recomputed)
    manifest = os.path.join(work, "snapshots", "MANIFEST.jsonl")
    rows = [json.loads(l) for l in open(manifest)]
    stages = [r["stage"] for r in rows]
    assert stages == ["mine", "encode", "join", "tiles"]

    # the count observed during the write is the snapshot's row count, the
    # recorded schema is the one inference gives, and each audited stage's
    # audit counted exactly the rows its snapshot holds
    from s2spark.plans.checkpoint import SnapshotStore
    store = SnapshotStore(os.path.join(work, "snapshots"))
    audit = {r["stage"]: r["n"] for r in
             spark.read.parquet(os.path.join(work, "audit"))
             .groupBy("stage").agg(F.sum("n_rows").alias("n")).collect()}
    assert sorted(audit) == ["encode", "join", "mine"]
    for r in rows:
        inferred = spark.read.parquet(r["path"])
        assert r["n_rows"] == inferred.count()
        assert store.read_snapshot(spark, r["stage"]).schema == inferred.schema
        if r["stage"] in audit:
            assert audit[r["stage"]] == r["n_rows"]

    stats2 = run(spark, 5000, work)
    assert stats2["mined"] == stats1["mined"]
    assert stats2["joined"] == stats1["joined"]
    assert stats2["tiles"] == stats1["tiles"]
    assert stats2["audit_rows"] == stats1["audit_rows"]
    assert [json.loads(l)["stage"] for l in open(manifest)] == stages


def test_pipeline_partial_resume(spark, tmp_path):
    """Simulate a crash after stage 2: truncating the manifest makes the
    job recompute only the later stages."""
    from jobs.spatial_pipeline import run
    work = str(tmp_path / "run2")
    run(spark, 3000, work)
    manifest = os.path.join(work, "snapshots", "MANIFEST.jsonl")
    lines = open(manifest).readlines()
    with open(manifest, "w") as f:
        f.writelines(lines[:2])  # keep mine + encode only
    stats = run(spark, 3000, work)
    assert stats["joined"] > 0
    stages = [json.loads(l)["stage"] for l in open(manifest)]
    assert stages == ["mine", "encode", "join", "tiles"]


def test_torn_manifest_line_resumes(spark, tmp_path):
    """A crash mid-append leaves a torn trailing manifest line; resume must
    treat it as uncommitted (recompute that stage) instead of raising."""
    from jobs.spatial_pipeline import run
    work = str(tmp_path / "run3")
    run(spark, 3000, work)
    manifest = os.path.join(work, "snapshots", "MANIFEST.jsonl")
    lines = open(manifest).readlines()
    with open(manifest, "w") as f:
        f.writelines(lines[:3])
        f.write(lines[3][: len(lines[3]) // 2])  # torn final line
    stats = run(spark, 3000, work)
    assert stats["tiles"] > 0
    stages = []
    for l in open(manifest):
        try:
            stages.append(json.loads(l)["stage"])
        except json.JSONDecodeError:
            stages.append(None)  # the torn line stays torn; resume skips it
    assert stages[:3] == ["mine", "encode", "join"]
    assert stages[-1] == "tiles"


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState gap-sessionizer == the batch window-function
    sessionization on the same rows (latest update per user)."""
    import pandas as pd

    from s2spark.streaming.session_stream import streaming_sessionize

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                  "event_id"))
    src_dir = str(tmp_path / "sess_src")
    ev.coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = (spark.readStream.schema(ev.schema).parquet(src_dir))
    out = streaming_sessionize(stream)
    q = (out.writeStream.format("memory").queryName("sess_out")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.sql("SELECT * FROM sess_out").toPandas()
           .drop_duplicates("user_id", keep="last")
           .sort_values("user_id").reset_index(drop=True))
    # batch reference: same semantics as the events_sessionization query
    batch = _batch_sessions(ev.toPandas())
    assert got["user_id"].tolist() == batch["user_id"].tolist()
    assert got["n_sessions"].tolist() == batch["n_sessions"].tolist()
    assert got["max_session_events"].tolist() == batch["max_session_events"].tolist()


def _batch_sessions(pdf):
    import pandas as pd
    rows = []
    for uid, g in pdf.groupby("user_id"):
        ts = sorted(g["ts"].astype("int64") // 1000)
        sessions = []
        cur = 0
        last = None
        for t in ts:
            if last is not None and t - last <= 1800 * 1_000_000:
                cur += 1
            else:
                if cur:
                    sessions.append(cur)
                cur = 1
            last = t
        if cur:
            sessions.append(cur)
        rows.append((uid, len(sessions), max(sessions)))
    return (pd.DataFrame(rows, columns=["user_id", "n_sessions",
                                        "max_session_events"])
            .sort_values("user_id").reset_index(drop=True))


def test_streaming_tile_counts(spark, tmp_path):
    """Drive the streaming tile aggregation on a bounded micro-batch and
    check it matches the batch tile counts for the same rows, including
    pages whose mined pair is off the globe (both sides drop them)."""
    from s2spark.streaming.tile_stream import streaming_tile_counts
    from s2spark.functions import columns as C
    from s2spark.sources.pages import mine_coordinates, synthesize_pages

    # bounded "stream" via a memory-backed file source: write a small pages
    # table as json, stream-read it with the same schema
    src_dir = str(tmp_path / "stream_src")
    pages = synthesize_pages(spark, 2000).select(
        "url", "text", "lang", F.col("warc_ts"))
    out_of_range = [("https://oor.example/lat", "at 95.1234, 10.0000"),
                    ("https://oor.example/lng", "at 45.0000, 200.0000"),
                    ("https://oor.example/wrap", "at 1.0000, 361.0000")]
    pages = pages.unionByName(spark.createDataFrame(
        [(u, t, "en") for u, t in out_of_range], "url string, text string, "
        "lang string").withColumn("warc_ts", F.timestamp_seconds(
            F.lit(1700000000))))
    pages.coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = (spark.readStream.schema(spark.read.parquet(src_dir).schema)
              .parquet(src_dir))
    agg = streaming_tile_counts(stream, level=4, window="1 hour")
    q = (agg.writeStream.format("memory").queryName("tiles_out")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.sql("SELECT tile_id, n_pages FROM tiles_out")
           .groupBy("tile_id").agg(F.sum("n_pages").alias("n_pages")).toPandas())
    # batch equivalent
    geo = mine_coordinates(pages)
    batch = (C.with_cell_id(geo, "lat", "lng")
             .groupBy(C.parent_for_level(F.col("cell_id"), 4).alias("tile_id"))
             .agg(F.count(F.lit(1)).alias("n_pages")).toPandas())
    g = got.sort_values("tile_id").reset_index(drop=True)
    b = batch.sort_values("tile_id").reset_index(drop=True)
    assert g["tile_id"].tolist() == b["tile_id"].tolist()
    assert g["n_pages"].tolist() == b["n_pages"].tolist()
    # the off-globe pages are mined by neither side: the stream counts
    # exactly the batch miner's rows, and those hold none of them
    mined_urls = {r["url"] for r in geo.select("url").collect()}
    assert not {u for u, _ in out_of_range} & mined_urls
    assert int(g["n_pages"].sum()) == len(mined_urls)


def test_snapshot_time_travel_and_rollback(spark, tmp_path):
    """Iceberg-style snapshot log: ids, time travel by id/timestamp,
    append-only rollback changing what resume replays."""
    from s2spark.plans.checkpoint import SnapshotStore

    def ids(df):
        return sorted(r["id"] for r in df.collect())

    store = SnapshotStore(str(tmp_path / "snaps"))
    store.resume_or_compute(spark, "stage", lambda: spark.range(3))
    # force a second snapshot of the same stage (re-run after a change);
    # committed by hand with no JSON schema, so it is read by inference
    v1 = store.snapshots("stage")[0]
    p2 = str(tmp_path / "v2")
    spark.range(10).write.parquet(p2)
    store.commit("stage", p2, 10, schema="struct<id:bigint>")

    snaps = store.snapshots("stage")
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[1]["schema"] == "struct<id:bigint>"

    # current = latest; time travel by id and by timestamp
    assert ids(store.read_snapshot(spark, "stage")) == list(range(10))
    assert ids(store.read_snapshot(spark, "stage",
                                   snapshot_id=1)) == list(range(3))
    assert ids(store.read_snapshot(spark, "stage",
                                   as_of_ts=v1["ts"])) == list(range(3))

    # rollback: resume now replays snapshot 1; history is preserved
    store.rollback("stage", 1)
    resumed = store.resume_or_compute(
        spark, "stage", lambda: (_ for _ in ()).throw(AssertionError))
    assert ids(resumed) == list(range(3))
    assert ids(store.read_snapshot(spark, "stage")) == list(range(3))
    assert [s["snapshot_id"] for s in store.snapshots("stage")] == [1, 2]


# Spark jobs of a cold `jobs/spatial_pipeline.run` at 5,000 pages: the mine,
# encode and join writes take 1, 1 and 2, and the tiles write with the
# counts and audit read behind the returned stats take 11.  The three stage
# audits take none.
COLD_PIPELINE_JOBS = 15


def test_snapshot_commit_and_read_job_budget(spark, tmp_path):
    """A commit is one write job (no read-back count, no schema inference)
    and a snapshot read launches no job."""
    from s2spark.plans.checkpoint import SnapshotStore

    store = SnapshotStore(str(tmp_path / "snaps"))
    out, jobs = jobs_during(spark, lambda: store.resume_or_compute(
        spark, "s", lambda: spark.range(100).withColumn("sq", F.col("id") ** 2)))
    assert jobs == 1
    assert store.snapshots("s")[0]["n_rows"] == 100
    for read in (lambda: store.read_snapshot(spark, "s"),
                 lambda: store.read_snapshot(spark, "s", snapshot_id=1),
                 lambda: store.resume_or_compute(spark, "s", None)):
        schema, jobs = jobs_during(spark, lambda: read().schema)
        assert jobs == 0
        assert schema == out.schema


def test_audited_commit_job_budget(spark, tmp_path):
    """Auditing a stage adds no job to its commit and leaves no persisted
    RDD: the audit rows come from the written files' footers."""
    from s2spark.plans.audit import append_audit, partition_metrics
    from s2spark.plans.checkpoint import SnapshotStore

    jsc = spark.sparkContext._jsc
    cached_before = set(jsc.getPersistentRDDs().keySet())
    for name, build, budget in (
            ("plain", lambda: spark.range(100), 1),
            ("shuffled", lambda: spark.range(100).repartition(3), 2)):
        store = SnapshotStore(str(tmp_path / name))

        def audited():
            df = build()
            append_audit(partition_metrics(df, name), str(tmp_path / "audit"))
            return df

        _, bare_jobs = jobs_during(spark, lambda: store.resume_or_compute(
            spark, "bare", build))
        _, audited_jobs = jobs_during(spark, lambda: store.resume_or_compute(
            spark, "audited", audited))
        assert bare_jobs == audited_jobs == budget, name
        assert set(jsc.getPersistentRDDs().keySet()) <= cached_before
    audit = spark.read.parquet(str(tmp_path / "audit"))
    assert {r["stage"]: r["n"] for r in audit.groupBy("stage").agg(
        F.sum("n_rows").alias("n")).collect()} == {"plain": 100, "shuffled": 100}


def test_footer_audit_matches_recount(spark, tmp_path):
    """A cold pipeline run launches a pinned number of jobs, and each
    audited stage's rows equal a recount of its snapshot: rows grouped by
    the part file's task index, with the count and the least and greatest
    level-6 parent of cell_id per index."""
    from jobs.spatial_pipeline import run
    from s2spark.functions import columns as C
    from s2spark.plans.checkpoint import SnapshotStore

    work = str(tmp_path / "run")
    _, jobs = jobs_during(spark, lambda: run(spark, 5000, work))
    assert jobs == COLD_PIPELINE_JOBS
    store = SnapshotStore(os.path.join(work, "snapshots"))
    audit = spark.read.parquet(os.path.join(work, "audit"))
    assert audit.columns == ["stage", "partition_id", "n_rows", "min_tile",
                             "max_tile", "audit_ts_ms"]
    assert dict(audit.dtypes)["partition_id"] == "int"
    for stage, cell_col in (("mine", None), ("encode", "cell_id"),
                            ("join", "cell_id")):
        snap = store.read_snapshot(spark, stage)
        tile = (C.parent_for_level(F.col(cell_col), 6) if cell_col
                else F.lit(None).cast("long"))
        recount = (snap.select(
            F.regexp_extract(F.input_file_name(), r"part-(\d+)-", 1)
            .cast("int").alias("partition_id"), tile.alias("tile"))
            .groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("tile").alias("min_tile"),
                 F.max("tile").alias("max_tile")))
        cols = ["partition_id", "n_rows", "min_tile", "max_tile"]
        got = sorted(tuple(r) for r in audit.where(F.col("stage") == stage)
                     .select(cols).collect())
        assert got == sorted(tuple(r) for r in recount.select(cols).collect())
        assert len(got) > 1, stage


def test_empty_stage_appends_no_audit_rows(spark, tmp_path):
    """An audited stage with no rows commits and appends no audit row."""
    from s2spark.plans.audit import append_audit, partition_metrics
    from s2spark.plans.checkpoint import SnapshotStore

    store = SnapshotStore(str(tmp_path / "snaps"))
    audit_dir = str(tmp_path / "audit")

    def compute():
        df = spark.range(10).withColumn("cell_id", F.col("id")).where("id < 0")
        append_audit(partition_metrics(df, "empty", cell_col="cell_id"),
                     audit_dir)
        return df

    assert store.resume_or_compute(spark, "empty", compute).count() == 0
    assert store.snapshots("empty")[0]["n_rows"] == 0
    assert spark.read.parquet(audit_dir).count() == 0


def test_audit_of_another_frame_raises(spark, tmp_path):
    """Auditing a frame that compute() does not return, or binding a stage
    audit outside any stage, is an error, never a dropped audit."""
    from s2spark.plans.audit import append_audit, partition_metrics
    from s2spark.plans.checkpoint import SnapshotStore

    store = SnapshotStore(str(tmp_path / "snaps"))
    audit_dir = str(tmp_path / "audit")

    def compute():
        df = spark.range(10)
        append_audit(partition_metrics(df, "s"), audit_dir)
        return df.select((F.col("id") + 1).alias("id"))

    with pytest.raises(ValueError, match="audited a frame"):
        store.resume_or_compute(spark, "s", compute)
    assert store.snapshots("s") == []
    assert not os.path.exists(audit_dir)
    with pytest.raises(RuntimeError, match="outside a snapshot stage"):
        append_audit(partition_metrics(spark.range(1), "s"), audit_dir)


def test_legacy_manifest_row_resumes_through_inference(spark, tmp_path):
    """A manifest row with no recorded JSON schema (committed before the
    field existed) still resumes and time-travels, by schema inference."""
    from s2spark.plans.checkpoint import SnapshotStore

    store = SnapshotStore(str(tmp_path / "snaps"))
    first = store.resume_or_compute(
        spark, "s", lambda: spark.range(7).withColumn("tag", F.lit("x")))
    rows = [json.loads(l) for l in open(store.manifest_path)]
    assert "schema_json" in rows[0]
    del rows[0]["schema_json"]
    with open(store.manifest_path, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)

    resumed = store.resume_or_compute(
        spark, "s", lambda: (_ for _ in ()).throw(AssertionError))
    assert resumed.schema == first.schema
    assert sorted(resumed.collect()) == sorted(first.collect())
    assert store.read_snapshot(spark, "s", snapshot_id=1).count() == 7


def test_deleted_snapshot_dir_raises(spark, tmp_path):
    """A snapshot whose directory is gone is an error, never an empty
    frame, with or without a recorded schema."""
    from pyspark.errors import AnalysisException

    from s2spark.plans.checkpoint import SnapshotStore

    store = SnapshotStore(str(tmp_path / "snaps"))
    store.resume_or_compute(spark, "s", lambda: spark.range(4))
    p2 = str(tmp_path / "v2")
    spark.range(5).write.parquet(p2)
    store.commit("s", p2, 5, schema="struct<id:bigint>")
    for snap in store.snapshots("s"):
        shutil.rmtree(snap["path"])
        with pytest.raises(AnalysisException):
            store.read_snapshot(spark, "s", snapshot_id=snap["snapshot_id"])
    with pytest.raises(AnalysisException):
        store.resume_or_compute(spark, "s", lambda: spark.range(1))


def test_audited_stage_is_evaluated_once(spark, tmp_path):
    """An audited stage is evaluated once, by its snapshot write: a Python
    UDF in the stage runs once per row, not once per action, and the
    commit leaves no cache behind.  The UDF filters rows, as the join's
    refine does, so the row count the audit reports depends on it."""
    from pyspark.sql.types import LongType

    from s2spark.plans.audit import append_audit, partition_metrics
    from s2spark.plans.checkpoint import SnapshotStore

    n = 400
    calls = spark.sparkContext.accumulator(0)

    def bump(v):
        calls.add(1)
        return v

    bump_udf = F.udf(bump, LongType())
    store = SnapshotStore(str(tmp_path / "snaps"))
    audit_dir = str(tmp_path / "audit")
    jsc = spark.sparkContext._jsc
    cached_before = set(jsc.getPersistentRDDs().keySet())

    def compute():
        df = spark.range(n).where(bump_udf(F.col("id")) >= 0)
        append_audit(partition_metrics(df, "udf"), audit_dir)
        return df

    out = store.resume_or_compute(spark, "udf", compute)
    assert calls.value == n
    assert set(jsc.getPersistentRDDs().keySet()) <= cached_before
    assert out.count() == n and calls.value == n   # reads the snapshot
    assert spark.read.parquet(audit_dir).agg(
        F.sum("n_rows")).first()[0] == n


def test_streaming_tile_topk_matches_batch(spark, tmp_path):
    """Complete-mode streaming top-k == batch top-k over the same rows."""
    from s2spark.functions import columns as C
    from s2spark.sources.pages import mine_coordinates, synthesize_pages
    from s2spark.streaming.tile_stream import streaming_tile_topk

    src_dir = str(tmp_path / "topk_src")
    pages = synthesize_pages(spark, 2000).select(
        "url", "text", "lang", F.col("warc_ts"))
    pages.coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = (spark.readStream.schema(spark.read.parquet(src_dir).schema)
              .parquet(src_dir))
    topk = streaming_tile_topk(stream, k=5, level=4, window="1 hour")
    q = (topk.writeStream.format("memory").queryName("topk_out")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT tile_id, n_pages FROM topk_out").toPandas()

    geo = mine_coordinates(pages)
    batch = (C.with_cell_id(geo, "lat", "lng")
             .groupBy(C.parent_for_level(F.col("cell_id"), 4).alias("tile_id"))
             .agg(F.count(F.lit(1)).alias("n_pages"))
             .orderBy(F.desc("n_pages"), F.asc("tile_id")).limit(5).toPandas())
    assert got.sort_values(["n_pages", "tile_id"],
                           ascending=[False, True]).reset_index(drop=True)[
        ["tile_id", "n_pages"]].values.tolist() == \
        batch[["tile_id", "n_pages"]].values.tolist()


def test_streaming_tile_topk_append_bounded_state(spark, tmp_path):
    """Append-mode per-window top-k (bounded state): the watermark closes
    window W1 when later data arrives, W1's finalized counts are emitted
    exactly once, and the foreachBatch ranker's top-k equals the batch
    top-k over W1's rows.  W2 stays open (never emitted) — the price of
    append semantics, asserted too."""
    import glob
    import os
    import shutil

    from s2spark.functions import columns as C
    from s2spark.sources.pages import mine_coordinates, synthesize_pages
    from s2spark.streaming.tile_stream import streaming_tile_topk_append

    def rets(df, ts):
        return df.select("url", "text", "lang",
                         F.lit(ts).cast("timestamp").alias("warc_ts"))

    pages = synthesize_pages(spark, 1500).cache()
    split = F.pmod(F.xxhash64("url"), F.lit(3)) == 0   # deterministic split
    early = rets(pages.where(~split), "2026-01-01 00:10:00")
    late = rets(pages.where(split), "2026-01-02 00:00:00")

    src_dir = str(tmp_path / "append_src")
    os.makedirs(src_dir)
    for i, df in enumerate((early, late)):
        stage = str(tmp_path / f"stage_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = os.path.join(src_dir, f"{i:04d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1000 + i, 1000 + i))   # strict arrival order

    schema = spark.read.parquet(src_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    counts, ranker = streaming_tile_topk_append(
        stream, k=5, level=4, window="1 hour", watermark="10 seconds")

    got = []
    q = (counts.writeStream.outputMode("append")
         .foreachBatch(lambda bdf, _id: got.extend(ranker(bdf).collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    # only W1 (the early window) is closed and emitted
    wins = {(r["win"]["start"].isoformat()) for r in got}
    assert wins == {"2026-01-01T00:00:00"}
    # equals the batch top-5 over exactly the early rows
    geo = mine_coordinates(early)
    batch = (C.with_cell_id(geo, "lat", "lng")
             .groupBy(C.parent_for_level(F.col("cell_id"), 4).alias("tile_id"))
             .agg(F.count(F.lit(1)).alias("n_pages"))
             .orderBy(F.desc("n_pages"), F.asc("tile_id")).limit(5)
             .collect())
    got_sorted = sorted(got, key=lambda r: r["rank"])
    assert [(r["tile_id"], r["n_pages"]) for r in got_sorted] == \
        [(r["tile_id"], r["n_pages"]) for r in batch]


def test_interior_budget_audit_row(spark, tmp_path):
    """plans/audit.py interior_covering_metrics: one appendable audit row
    per interior covering, carrying cells-found vs max_cells and the
    budget-exhausted flag, so production operators can see when interior
    fast-accept coverage degraded."""
    import numpy as np
    from s2spark.kernel.cap import Cap
    from s2spark.kernel.coverer import RegionCoverer
    from s2spark.plans.audit import append_audit, interior_covering_metrics

    cov = RegionCoverer(max_cells=8, interior_pop_budget=2)
    with pytest.raises(ValueError):
        interior_covering_metrics(spark, cov, "too-early")
    cov.get_interior_covering(
        Cap.from_axis_angle(np.array([1.0, 0.0, 0.0]), 0.1))
    row_df = interior_covering_metrics(spark, cov, "join-coverings")
    audit_dir = str(tmp_path / "audit")
    append_audit(row_df, audit_dir)
    back = spark.read.parquet(audit_dir).collect()
    assert len(back) == 1
    r = back[0]
    assert r["stage"] == "join-coverings"
    assert r["budget_exhausted"] is True
    assert r["pops"] == 2 and r["pop_budget"] == 2
    assert 0 <= r["interior_cells"] < r["max_cells"] == 8
