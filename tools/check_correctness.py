"""Local mirror of the driver's correctness gate.

Runs every __spark_entry__ query in Spark AND its DuckDB oracle on the same
parquet tables, and grades each with `compare`: row count, column names, and
an order-insensitive value hash (columns sorted by name, rows sorted, values
stringified).  A query without an oracle fails.  Session state (cached
tables, persisted RDDs) is released after every query, so no query reads
another's cache.  `tests/test_oracle_grading.py` runs the same grade, one
test case per query.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        if d[c].dtype == object:
            d[c] = d[c].astype(str)
        elif str(d[c].dtype).startswith("float"):
            d[c] = d[c].map(lambda v: f"{v:.9g}")
        else:
            d[c] = d[c].astype(str)
    rows = sorted("\x1f".join(r) for r in d.itertuples(index=False, name=None))
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def open_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table of `sf_dir`."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """The grade of one query: its problems against the oracle's answer
    (row count, sorted column names, value hash); empty means OK."""
    problems = []
    if len(got) != len(exp):
        problems.append(f"rows {len(got)} vs {len(exp)}")
    if sorted(got.columns) != sorted(exp.columns):
        problems.append(f"cols {sorted(got.columns)} vs {sorted(exp.columns)}")
    elif value_hash(got) != value_hash(exp):
        problems.append("value hash mismatch")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from s2spark.plans.session import build_session, release_session_state

    spark = build_session(master=f"local[{len(os.sched_getaffinity(0))}]")
    spark.sparkContext.setLogLevel("ERROR")

    con = open_oracle(sf_dir)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"FAIL  {name}: no oracle")
            failures += 1
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            dt_spark = time.time() - t0
            release_session_state(spark)
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare(got, exp)
        if problems:
            failures += 1
            print(f"FAIL  {name}: {'; '.join(problems)} [{dt_spark:.1f}s]")
        else:
            print(f"OK    {name}: {len(got)} rows [{dt_spark:.1f}s]")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
