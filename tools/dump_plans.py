"""Dump .explain('formatted') for driver queries to plans/r06/<q>_<tag>.txt.

Usage: python tools/dump_plans.py <tag> [query ...]
(tag = 'before' or 'after'; no queries = all of them)

Expression ids (`#123`) and exchange plan ids (`plan_id=45`) differ from
run to run, so they are written as `#N` and `plan_id=N`: the dumps of two
commits compare with one `diff`.  The session is local[<usable cores>].
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "plans", "r06")


def main() -> int:
    tag = sys.argv[1]
    only = set(sys.argv[2:])
    os.makedirs(OUT_DIR, exist_ok=True)

    import __spark_entry__ as entry
    from s2spark.plans.session import build_session, release_session_state

    spark = build_session(master=f"local[{len(os.sched_getaffinity(0))}]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = getattr(df, "_s2spark_stream_plan", None)
            if plan is None:
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted"))
            plan = re.sub(r"plan_id=\d+", "plan_id=N",
                          re.sub(r"#\d+", "#N", plan))
            path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
        except Exception as exc:   # noqa: BLE001
            print(f"ERROR {name}: {exc}")
        try:
            release_session_state(spark)
        except Exception:   # noqa: BLE001
            pass
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
