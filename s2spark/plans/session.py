"""SparkSession factory with scale-oriented defaults.

Tuned for the engine's workload shape: wide parquet scans + hash
aggregations + range joins on cell_id.  On a real cluster the same config
applies; only master/executor sizing changes (spark-submit flags).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app_name: str = "s2spark", master: str | None = None,
                  shuffle_partitions: int | None = None, **extra) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~2x cores locally; on a cluster AQE coalesces anyway
        n = master[master.find("[") + 1:master.find("]")] if "[" in master else "32"
        shuffle_partitions = 2 * cpus if n == "*" else max(8, 2 * int(n)) if n.isdigit() else 64
    b = (SparkSession.builder.appName(app_name).master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.sql.parquet.filterPushdown", "true")
         .config("spark.sql.files.maxPartitionBytes", "134217728")
         .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
         .config("spark.sql.ansi.enabled", "false")
         .config("spark.ui.enabled", "false")
         # The UI is off, but the status listeners still record every
         # job/stage/task/SQL execution in the in-memory status store
         # (default retention: 1000 jobs / 1000 stages / 1000 SQL
         # executions with full plan graphs).  A long-lived session
         # running hundreds of queries accumulates and then churns this
         # store on every event — pure driver-side overhead for a
         # headless engine.  Keep just enough for post-hoc debugging.
         # Generated-class cache (static conf, default 100 entries): a
         # multi-query session generates several hundred distinct codegen
         # classes; at 100 entries the cache is fully evicted every ~15
         # queries, so any shared subplan (e.g. the signature->LSH chain
         # reused by the dedup cluster/resolve operators) is re-compiled
         # by janino and re-JIT'ed from scratch each time it reappears.
         # Generated classes are a few KB each — 5000 entries is ~tens of
         # MB of metaspace, noise next to the 8 GB heap.
         .config("spark.sql.codegen.cache.maxEntries", "5000")
         .config("spark.ui.retainedJobs", "50")
         .config("spark.ui.retainedStages", "50")
         .config("spark.ui.retainedTasks", "500")
         .config("spark.sql.ui.retainedExecutions", "10")
         .config("spark.worker.ui.retainedExecutors", "10")
         # \r-animated console progress frames corrupt captured output
         # (bench JSON lines, plan-audit tables, driver logs)
         .config("spark.ui.showConsoleProgress", "false"))
    for k, v in extra.items():
        b = b.config(k, v)
    return b.getOrCreate()


def release_session_state(spark: SparkSession) -> int:
    """Release every block a finished job left pinned in the session:
    cached tables, persisted/localCheckpoint RDDs, and — via one explicit
    JVM GC — the weak-referenced shuffle files and broadcasts Spark's
    ContextCleaner frees only when a full GC happens to run (its own
    periodic GC defaults to 30 MINUTES; a multi-GB executor heap under
    steady allocation can go that long without one).

    Call between logically-independent jobs that share a long-lived
    session (benchmark loops, notebook sessions, query services).
    Measured on this engine at sf0.1: the 50th query of a shared session
    ran 3.1x its fresh-session latency (28.8s vs 9.3s, heap 4.5 GB vs
    0.3 GB) until the prior queries' state was released this way, after
    which it ran within 8% of fresh.

    Returns the number of explicitly unpersisted RDDs (cache/broadcast
    cleanup counts are not observable from the public API).
    """
    spark.catalog.clearCache()
    n = 0
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()
        n += 1
    spark.sparkContext._jvm.System.gc()
    return n
