"""Executed-plan regression tests: lock the SCALE contracts of the
headline operators into pytest, so a refactor that silently degrades a
plan (row-Python in the hot path, a lost broadcast, a new shuffle in a
map-only operator) fails CI — not just the per-round plan audit tool.

These assert plan SHAPE, not results (results are covered by the oracle
gate and fixture tests)."""

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from s2spark.plans.session import build_session
    s = build_session(app_name="s2spark-plan-contracts", master="local[4]",
                      shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_pip_is_broadcast_join_no_row_python(spark):
    import __spark_entry__ as entry
    plan = plan_of(entry.queries()["s2_point_in_polygon"](spark, SF))
    assert "BroadcastHashJoin" in plan          # covering side broadcast
    assert "BatchEvalPython" not in plan        # refine is Arrow, not row
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan          # probe side never sorts


def test_minhash_signatures_map_only(spark):
    import __spark_entry__ as entry
    plan = plan_of(entry.queries()["dedup_minhash_signatures"](spark, SF))
    # one Exchange is the test-data repartition fan-out (_docs_par);
    # the signature computation itself must add none
    assert plan.count("Exchange") <= 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan        # pure JVM higher-order fns


def test_map_only_text_family(spark):
    import __spark_entry__ as entry
    qs = entry.queries()
    for name in ("text_token_count", "text_fingerprint", "text_quality",
                 "corpus_sample_stratified"):
        plan = plan_of(qs[name](spark, SF))
        # allowance of one Exchange: the test-data fan-out repartition
        assert plan.count("Exchange") <= 1, name
        assert "BatchEvalPython" not in plan, name


def test_corridor_join_broadcast_no_python(spark):
    import __spark_entry__ as entry
    plan = plan_of(entry.queries()["s2_corridor_join"](spark, SF))
    assert "BroadcastHashJoin" in plan          # buffered covering broadcast
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan        # residual is codegen


@pytest.mark.parametrize("query,n_tables", [
    ("s2_cap_query", 1),        # cap coverings (centres are literals)
    ("s2_rect_query", 1),       # rect coverings (bounds are literals)
    ("s2_buffered_join", 1),    # buffered covering
    ("s2_corridor_join", 1),    # corridor covering
])
def test_driver_tables_are_local_table_scans(spark, query, n_tables):
    """Driver-built tables are LocalRelations (plans/frames.local_frame).
    A list-built frame is a `Scan ExistingRDD` whose every evaluation runs
    a Python-worker stage; that stage is an RDD, not an SQL node, so the
    no-Python asserts above cannot see it.  Each covering operator has one
    shape: one covering table, one broadcast probe join, and the region
    constants in the residual, never in a second joined table."""
    import __spark_entry__ as entry
    plan = plan_of(entry.queries()[query](spark, SF))
    assert plan.count("LocalTableScan") >= n_tables
    assert plan.count("BroadcastHashJoin") == 1
    assert "ExistingRDD" not in plan


def test_create_data_frame_only_in_local_frame():
    """Spark-free source scan: driver rows become DataFrames in one place."""
    root = Path(__file__).resolve().parents[1]
    helper = root / "s2spark" / "plans" / "frames.py"
    sources = [root / "__spark_entry__.py", *sorted((root / "s2spark").rglob("*.py"))]
    offenders = [str(p.relative_to(root)) for p in sources
                 if p != helper and re.search(r"createDataFrame\(", p.read_text())]
    assert offenders == []
    assert "spark.createDataFrame(table, schema)" in helper.read_text()


def test_encode_whole_stage_codegen_no_python(spark):
    import __spark_entry__ as entry
    plan = plan_of(entry.queries()["s2_encode_tokens"](spark, SF))
    assert "Exchange" not in plan               # map-only
    assert "Python" not in plan                 # fully JVM
    assert "*(" in plan                         # whole-stage codegen marker


def test_stream_pip_plan_is_broadcast_join_no_row_python(spark):
    """The STREAMING micro-batch plan (not the memory-sink table) must be
    the same shape as the batch broadcast join: stream-static
    BroadcastHashJoin enrichment, Arrow-only Python.  The plan is captured
    from the executed StreamingQuery (explainInternal) and attached to the
    returned DataFrame for the audit tooling."""
    import __spark_entry__ as entry
    df = entry.queries()["stream_point_in_polygon"](spark, SF)
    plan = getattr(df, "_s2spark_stream_plan", None)
    assert plan, "streaming plan was not captured"
    assert "BroadcastHashJoin" in plan          # stream-static broadcast
    assert "BatchEvalPython" not in plan        # refine is Arrow, not row
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan          # stateless enrichment: no sort


def test_lsh_pairs_no_cross_join(spark):
    import __spark_entry__ as entry
    plan = plan_of(entry.queries()["dedup_lsh_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_edge_crossing_join_plan_shape(spark):
    """Lock the flagship edge-join plan (round 5): the self-join fast
    path shares ONE cell-UDF+explode checkpoint between both join sides,
    so the executed plan carries at most 3 Exchanges and at most 2 Arrow
    stages (shared cell UDF + exact refine), with the candidate joins as
    hash joins — never a nested-loop/cartesian fallback — and no
    row-at-a-time Python anywhere."""
    import __spark_entry__ as entry
    plan = plan_of(entry.queries()["s2_edge_crossing_join"](spark, SF))
    assert plan.count("Exchange") <= 3
    assert 1 <= plan.count("ArrowEvalPython") <= 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_miner_computes_page_text_and_regex_once(spark):
    """The coordinate miner runs the page synthesis (one sha2) and the
    coordinate regex (one regexp_extract) once per row: no predicate is
    pushed below the projection with those expressions substituted in."""
    from s2spark.sources.pages import mine_coordinates, synthesize_pages
    plan = plan_of(mine_coordinates(
        synthesize_pages(spark, 6000).select("url", "text")))
    assert plan.count("sha2(") == 1
    assert plan.count("regexp_extract(") == 1


def test_stratified_sample_hashes_each_doc_once(spark):
    """corpus_sample_stratified computes md5(doc_id) once per row, in the
    projection: kept rows leave through a generator, so no filter is
    pushed below it with the md5 substituted in (nor into the scan)."""
    import __spark_entry__ as entry
    plan = plan_of(entry.queries()["corpus_sample_stratified"](spark, SF))
    assert plan.count("md5(") == 1
    assert "DataFilters: []" in plan
    assert "Filter (" not in plan and "Filter [" not in plan


def test_knn_job_budget_and_no_python_boundary(spark, monkeypatch):
    """A kNN query as the geo benchmark issues it (20k clustered points, 8
    query points near the clusters, k=5): every round is one broadcast
    probe join plus the rank window, 4 jobs under AQE (the broadcast, the
    dedup and rank shuffles, the collect), and collecting the 8-row query
    side from a 4-partition frame costs 2 (one partition, then the rest).
    The result is a LocalRelation: collecting it runs no job.  No round
    crosses the Python boundary."""
    import numpy as np
    import pandas as pd
    from s2spark.functions import columns as C
    from s2spark.operators import knn
    from s2spark.plans.frames import local_frame
    from tests.conftest import jobs_during

    rng = np.random.default_rng(14)
    centers = np.column_stack([rng.uniform(-55, 55, 6),
                               rng.uniform(-170, 170, 6)])
    which = rng.integers(0, 6, 20000)
    data = C.with_cell_id(spark.createDataFrame(pd.DataFrame({
        "data_id": np.arange(20000),
        "lat": np.clip(centers[which, 0] + rng.normal(0, 2.5, 20000), -89, 89),
        "lng": (centers[which, 1] + rng.normal(0, 2.5, 20000) + 180) % 360
        - 180})), "lat", "lng").localCheckpoint()
    q = centers[rng.integers(0, 6, 8)] + rng.normal(0, 0.3, (8, 2))
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(q)]
    schema = "query_id long, lat double, lng double"

    rounds = []
    radius_join = knn.radius_join

    def counted(*args):
        rounds.append(args[2])
        return radius_join(*args)

    monkeypatch.setattr(knn, "radius_join", counted)
    for qdf, query_jobs in (
            (spark.createDataFrame(rows, schema), 2),
            (local_frame(spark, rows, schema), 0)):
        rounds.clear()
        qdf = C.with_cell_id(qdf, "lat", "lng")
        df, jobs = jobs_during(spark, lambda: knn.knn_join(qdf, data, 5))
        assert len(rounds) >= 2
        assert jobs == query_jobs + 4 * len(rounds)
        got, jobs = jobs_during(spark, df.collect)
        assert jobs == 0 and len(got) == 8 * 5

    plan = plan_of(knn.radius_join(qdf, data, 0.01))
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_probe_join_construction_calls_do_not_depend_on_levels(spark):
    """Building a covering probe join costs a fixed number of JVM calls:
    two coverings with the same number of rows, over 2 and over 19
    distinct levels, cost the same.  The probe keys come from one literal
    level array exploded to a column, not from a Column per level (which
    cost about 65 py4j round trips per level)."""
    import gc
    from s2spark.operators import spatial_join as sj
    from s2spark.plans.frames import local_frame
    from tests.conftest import jvm_calls_during

    pts = local_frame(spark, [(1, 5, 0.0, 0.0, 1.0)],
                      "id long, cell_id long, x double, y double, z double")

    def build(levels):
        rows = [(1, (2 * k + 1) << 10, levels[k % len(levels)], k % 2 == 0)
                for k in range(400)]
        gc.collect()
        gc.disable()            # no proxy deletes from an earlier cycle
        try:
            return jvm_calls_during(spark, lambda: sj.covering_probe_join(
                spark, pts, rows, sj.COVERING_SCHEMA))[1]
        finally:
            gc.enable()

    build([3, 4])                                   # warm-up
    assert build([3, 4]) == build(list(range(3, 22)))


def test_fresh_pip_region_compiles_nothing(spark):
    """After a warm-up query, a pip query over a fresh polygon with a new
    set of covering levels compiles no whole-stage code (CodegenMetrics):
    neither the probe keys nor the levels are literals in generated code."""
    import numpy as np
    from s2spark.operators import spatial_join as sj
    from s2spark.sources.fixtures import make_polygon

    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    pts = sj.points_with_cells(spark.range(4000).selectExpr(
        "id", "(id % 97) * 0.2 - 10 AS lat",
        "floor(id / 97) * 0.5 - 10 AS lng").repartition(2)).localCheckpoint()

    def pip(lat, lng, r):
        t = np.linspace(0, 2 * np.pi, 7)[:-1]
        poly = make_polygon(", ".join(
            f"{lat + r * np.sin(a):.6f}:{lng + r * np.cos(a):.6f}" for a in t))
        levels = set(sj.build_coverings({1: poly})["cov_level"])
        before = metric.getCount()
        n = len(sj.spatial_join(spark, pts, {1: poly}).collect())
        return levels, n, metric.getCount() - before

    warm_levels, _, _ = pip(0.0, 0.0, 3.0)
    levels, n, compiles = pip(-2.0, 3.0, 1.0)
    assert levels != warm_levels and n > 0
    assert compiles == 0
