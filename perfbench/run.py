"""The s2spark benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload tile_pipeline --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Everything the run writes (Spark local
dirs, parquet inputs, snapshot workdirs, traces) goes under
``.perfbench_out/`` there; the per-run directory is deleted at exit, traces
are kept.  The Spark session is ``local[<cores available>]`` in this one
driver process.

The last line on stdout is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The line
before it records the host (cores, CPU steal over the run, library
versions) and the run's details (sample counts, per-kind latencies,
failures).  See README.md for what each metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "throughput_per_s": "1/s",
              "aux_op_s": "s"}


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def start_session(root: str, traced: bool):
    """local[nproc] session with every scratch path inside `root`."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir from the launcher or driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import s2spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from s2spark.plans.session import build_session
    conf = {"spark.local.dir": os.path.join(root, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if traced:
        # the tracer reads every job, stage and SQL execution of a phase
        # back from the status stores; keep them all for the run
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    cores = len(os.sched_getaffinity(0))
    spark = build_session(app_name="perfbench", master=f"local[{cores}]",
                          **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(run, session_s: float) -> dict[str, float]:
    """Set-up is the session start plus the median input set-up; throughput
    is work units (pages, queries, documents) per second of primary ops."""
    from workloads import median
    return {"setup_s": session_s + median(run.setup_s),
            "op_p50_s": median(run.op_s),
            "throughput_per_s": run.units_per_op * len(run.op_s) / sum(run.op_s),
            "aux_op_s": median(run.aux_s)}


def per_layer(tracer, run) -> dict[str, float]:
    """Per-layer numbers from the traced iterations; counts and times are
    per traced workload iteration unless the name says otherwise."""
    from workloads import median
    c = tracer.counters
    n = max(1, run.traced_ops)
    m = tracer.operator_metrics()
    calls, req = c["kernel.coverer.calls"], c["plans.covercache.requests"]
    cand = c["operators.spatial_join.candidates"]
    results = c["operators.spatial_join.results"]
    m.update({
        "kernel.coverer.calls": calls / n,
        "kernel.coverer.s": tracer.span_seconds("kernel.coverer") / n,
        "kernel.relate_cells.s": tracer.span_seconds("kernel.relate_cells") / n,
        "kernel.booleans.s": tracer.span_seconds("kernel.booleans") / n,
        "plans.covercache.requests": req / n,
        # base: coverings requested; every coverer run is a miss
        "plans.covercache.hit_ratio": 1 - min(calls, req) / req if req else 0.0,
        "operators.spatial_join.candidates_per_result":
            cand / results if results else 0.0,
        "operators.spatial_join.refine_share":
            c["operators.spatial_join.skin"] / cand if cand else 0.0,
        "operators.knn.rounds": c["operators.knn.rounds"]
            / c["operators.knn.queries"] if c["operators.knn.queries"] else 0.0,
        "plans.materialize.calls": c["plans.materialize.calls"] / n,
        "plans.materialize.s": tracer.span_seconds("plans.materialize") / n,
        "plans.checkpoint.write_s": c["plans.checkpoint.write_s"] / n,
        "plans.checkpoint.bytes": c["plans.checkpoint.bytes"] / n,
        "plans.checkpoint.read_s": c["plans.checkpoint.read_s"] / n,
        "plans.audit.s": tracer.span_seconds("plans.audit") / n,
        "trace.overhead_share": median(run.traced_op_s) / median(run.op_s) - 1,
        "trace.phase_coverage": min(tracer.coverage, default=0.0),
    })
    for key in ("functions.arrow.rows", "functions.arrow.bytes_sent",
                "functions.arrow.python_s", "functions.arrow.boot_s",
                "spark.jobs", "spark.shuffle_bytes", "spark.shuffle_write_s",
                "spark.spill_bytes"):
        m[key] = c[key] / n
    return m


def parse_args(argv):
    from workloads import SIZES, WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full",
                    help="input size; 'tiny' is for the smoke test")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one answer before it is checked")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    args = parse_args(argv)
    import numpy
    import pyarrow
    import pyspark

    import s2spark  # noqa: F401  (fails fast outside a full checkout)
    from tracing import Tracer
    from workloads import WORKLOADS, RunContext, tail

    root = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    steal0, total0 = _cpu_steal()
    t0 = time.perf_counter()
    spark, cores = start_session(root, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark) if args.trace else None
        ctx = RunContext(root, tracer, args.inject_fault)
        run = WORKLOADS[args.workload](spark, args.seed, args.seconds,
                                       args.scale, ctx)
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
    finally:
        stop_session(spark)
        shutil.rmtree(root, ignore_errors=True)
    steal1, total1 = _cpu_steal()

    if args.trace:
        metrics = per_layer(tracer, run)
        metrics["process.peak_rss_mb"] = rss
        units = {"process.peak_rss_mb": "MB"}
        tracer.dump(os.path.join(OUT, "traces",
                                 f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = end_to_end(run, session_s)
        units = END_TO_END
    detail = {
        "host": {"nproc": cores, "cpu_steal_share":
                 (steal1 - steal0) / max(1, total1 - total0),
                 "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                 "numpy": numpy.__version__, "python": platform.python_version(),
                 "machine": platform.machine()},
        "run": {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "scale": args.scale,
                "trace": args.trace, "session_start_s": session_s,
                "peak_rss_mb": rss,
                "ops": len(run.op_s), "traced_ops": run.traced_ops,
                "op_tail_s": tail(run.op_s),
                "op_samples_s": run.op_s, "aux_samples_s": run.aux_s,
                "failed_ratio": run.failed / max(1, run.attempted),
                "errors": run.errors[:10], **run.notes},
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units.get(k, _unit(k))}
                    for k, v in metrics.items()}}))
    return 0


def _unit(name: str) -> str:
    """Units of per-layer metrics, from the name's suffix."""
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("ratio", "share", "coverage", "per_result")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
