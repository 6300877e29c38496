"""plans/frames.local_frame: driver rows become a LocalRelation with the
list path's type checks and the declared schema."""

import pytest

from s2spark.operators.spatial_join_shuffle import POLYGON_SCHEMA
from s2spark.plans.frames import local_frame


@pytest.fixture(scope="module")
def spark():
    from s2spark.plans.session import build_session
    s = build_session(app_name="s2spark-frames", master="local[2]",
                      shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.mark.parametrize("value,ddl", [
    (1.5, "v int"),
    (1.0, "v long"),
    (True, "v long"),
    (2 ** 40, "v int"),
    ("1", "v long"),
])
def test_rejects_what_the_list_path_rejects(spark, value, ddl):
    # a bare pa.array(..., type=int64) would truncate 1.5 and 1.0 to 1
    with pytest.raises((TypeError, ValueError)):
        spark.createDataFrame([(value,)], ddl)
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [(value,)], ddl)


def test_round_trips_rows_and_nulls(spark):
    rows = [(1, None, 2.5, True, "a"), (None, 2 ** 40, None, None, None),
            (-(2 ** 31), -(2 ** 63), -0.0, False, "")]
    ddl = "i int, l long, d double, b boolean, s string"
    got = local_frame(spark, rows, ddl).collect()
    assert [tuple(r) for r in got] == rows
    assert local_frame(spark, rows, ddl).schema == \
        spark.createDataFrame(rows, ddl).schema


def test_round_trips_polygon_vertices(spark):
    rows = [(7, 0, 0, [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]),
            (7, 1, 1, [[0.5, 0.5, 0.7071067811865476]]),
            (8, 0, 0, [])]
    df = local_frame(spark, rows, POLYGON_SCHEMA)
    assert df.schema == POLYGON_SCHEMA
    assert [tuple(r) for r in df.orderBy("polygon_id", "loop_idx").collect()] \
        == rows


def test_zero_rows_keep_the_schema(spark):
    df = local_frame(spark, [], "polygon_id int, cov_cell long, cov_level int")
    assert df.schema.simpleString() == \
        "struct<polygon_id:int,cov_cell:bigint,cov_level:int>"
    assert df.count() == 0
    assert local_frame(spark, [], POLYGON_SCHEMA).schema == POLYGON_SCHEMA


def test_plan_is_a_local_relation(spark):
    df = local_frame(spark, [(1, 2)], "a int, b long")
    qe = df._jdf.queryExecution()
    assert "LocalRelation" in qe.optimizedPlan().toString()
    assert "LocalTableScan" in qe.executedPlan().toString()
    # the list path is what local_frame replaces: an RDD scan
    assert "ExistingRDD" in spark.createDataFrame([(1, 2)], "a int, b long") \
        ._jdf.queryExecution().executedPlan().toString()
