"""Driver rows -> a Spark LocalRelation.

The engine builds small tables on the driver: covering tables and query
literals for the broadcast joins, audit rows, union-find components,
per-partition offsets.  `spark.createDataFrame(<python list>)` ships such
rows as a Python RDD, so the plan leaf is `Scan ExistingRDD` and every
evaluation of the frame runs a Python-worker stage to deserialize them
(0.67-0.70 s for a one-row broadcast table on a 4-core host, against
0.22-0.24 s as a `LocalTableScan`).  A `pyarrow.Table` goes to the JVM as
Arrow batches and becomes a `LocalRelation`: no Python stage, whatever
`spark.sql.execution.arrow.pyspark.enabled` says.

Arrow's conversion is looser than Spark's (`pa.array([1.5], pa.int64())`
truncates to 1), so every row first passes PySpark's own type verifier:
`local_frame` accepts exactly the rows the list path accepts.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (StructType, _make_type_verifier,
                               _parse_datatype_string)


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """DataFrame over `rows` (an iterable of tuples) with `schema` (a
    StructType or a DDL string), planned as a LocalRelation.  Raises the
    list path's TypeError/ValueError on a row that does not fit."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    rows = [tuple(r) for r in rows]
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type)
         for col, field in zip(columns, arrow_schema)], schema=arrow_schema)
    return spark.createDataFrame(table, schema)
