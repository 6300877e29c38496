"""Plan audit: explain('formatted') every driver query and flag anti-patterns.

Checks per query:
  * row-at-a-time Python (BatchEvalPython) anywhere           -> FLAG
  * CartesianProduct / BroadcastNestedLoopJoin                -> FLAG
    (allowed only where the operator is an intended exact baseline or a
     broadcast of a tiny literal side — listed in ALLOW_NESTED)
  * parquet scans reading all columns when the query projects few
    (ReadSchema with > MAX_SCAN_COLS fields)                   -> FLAG
  * number of Exchanges (shuffles) reported per query
  * Python-boundary nodes of the executed plan (ArrowEvalPython,
    BatchEvalPython, FlatMapGroupsInPandas, FlatMapCoGroupsInPandas,
    MapInPandas), with counts -> REPORTED, never flagged
  * expensive calls (regexp_*, sha2, md5, format_number, split) whose text
    appears more than once in the executed plan -> REPORTED, never flagged:
    copies in different operators each run per row, but copies in one
    projection may share one evaluation, and a second branch may
    legitimately repeat a call
  * driver construction: the seconds the query's callable takes to return
    its DataFrame and the JVM calls it sends over py4j meanwhile
    (s2spark.plans.driver_cost.jvm_calls_during) -> REPORTED, never flagged

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys
import time
from collections import Counter

sys.path.insert(0, ".")

# intended nested-loop / cross joins: exact brute-force baselines and
# broadcast-literal probes
ALLOW_NESTED = {
    "similarity_bruteforce_topk",   # the documented exact baseline
    "similarity_recall_at_k",       # embeds the exact baseline as truth
    "similarity_ivf_topk",          # crossJoin(broadcast(sqrt(N) centroids))
    "s2_rect_distance",             # 3 literal query rects
    "s2_cap_query",                 # 3 literal query caps
    "s2_rect_query",                # 3 literal query rects
    "s2_polyline_project",          # 1 literal polyline
    "s2_polyline_length",           # 1 literal polyline
}
MAX_SCAN_COLS = 6
EXPENSIVE_CALL = re.compile(r"\b(?:regexp_\w+|sha2|md5|format_number|split)\(")
PYTHON_NODE = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|"
                         r"FlatMapCoGroupsInPandas|MapInPandas)\b")


def repeated_calls(plan: str) -> dict[str, int]:
    """Each expensive call text (through its closing parenthesis) that
    appears more than once in `plan`, with its count."""
    counts = Counter()
    for m in EXPENSIVE_CALL.finditer(plan):
        depth = 0
        for end in range(m.end() - 1, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        counts[plan[m.start():end + 1]] += 1
    return {c: n for c, n in counts.items() if n > 1}


def audit(sf_dir: str, names=None) -> int:
    from s2spark.plans.session import build_session
    from s2spark.plans.driver_cost import jvm_calls_during
    import __spark_entry__ as entry

    # console progress bar writes \r-terminated frames that overwrite the
    # interleaved report lines in captured output — disable it, and buffer
    # every report line so the full 48-line table prints atomically at the
    # end (exit code stays authoritative either way)
    spark = build_session(master="local[8]", shuffle_partitions=8,
                          **{"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    bad = 0
    lines = []
    for name, fn in qs.items():
        if names and name not in names:
            continue
        t0 = time.perf_counter()
        df, calls = jvm_calls_during(spark, lambda: fn(spark, sf_dir))
        construct_s = time.perf_counter() - t0
        # streaming queries attach the last micro-batch's physical plan
        # (the memory-sink table the callable returns is just a local
        # scan; the attached plan is the stream-static join we must audit)
        plan = getattr(df, "_s2spark_stream_plan", None)
        streaming = plan is not None
        if plan is None:
            executed = df._jdf.queryExecution().executedPlan().toString()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        else:
            executed = plan
        flags = []
        if "BatchEvalPython" in plan:
            flags.append("row-Python UDF (BatchEvalPython)")
        nested = ("CartesianProduct" in plan
                  or "BroadcastNestedLoopJoin" in plan)
        if nested and name not in ALLOW_NESTED:
            flags.append("unintended nested-loop join")
        n_exchange = plan.count("Exchange")
        wide_scans = [m for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
                      if m.count(",") + 1 > MAX_SCAN_COLS]
        if wide_scans:
            flags.append(f"wide scan ({wide_scans[0].count(',') + 1} cols)")
        python = Counter(PYTHON_NODE.findall(executed))
        status = "FLAG" if flags else "ok"
        if flags:
            bad += 1
        lines.append(
            f"{status:5} {name}: construct={construct_s:.3f}s jvm_calls={calls} "
            f"exchanges={n_exchange} python=["
            + ", ".join(f"{node}x{n}" for node, n in sorted(python.items()))
            + "]"
            + (" (streaming plan)" if streaming else "")
            + (f"  [{'; '.join(flags)}]" if flags else ""))
        for call, n in sorted(repeated_calls(executed).items(),
                              key=lambda kv: (-kv[1], kv[0])):
            lines.append(f"      repeated {n}x: {call[:100]}")
    spark.stop()
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()
    return bad


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.exit(1 if audit(sf, set(sys.argv[2:]) or None) else 0)
