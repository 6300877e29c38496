"""Timing and tracing from outside the program.

``Clock`` is what untraced runs use: two ``perf_counter`` reads per phase.

``Tracer`` is the traced run.  It never edits s2spark: it wraps the public
functions of each layer (module attributes and class methods, restored on
``uninstall``), runs every phase of a query under its own Spark job group,
and afterwards reads Spark's own bookkeeping for that group: job and stage
ids from the status tracker, shuffle/spill totals from the stage data, and
Python-UDF metrics from the SQL executions the phase started.  Spans (name,
start, end, parent, query id) and counters stay in memory and are written
out once, at exit.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# operator keys: each traced query/stage names one of these as its op
OPERATORS = ("spatial_join", "cap_query", "rect_query", "distance_ops", "knn",
             "edge_join", "tiling", "dedup_resolve", "dedup_filter")

_OP_SPANS = frozenset(f"operators.{op}" for op in OPERATORS)

# SQL metric display names of the Python-UDF nodes (unique in the plan)
_PY_METRICS = {"data sent to Python workers": "functions.arrow.bytes_sent",
               "time to run Python workers": "functions.arrow.python_s",
               "time to start Python workers": "functions.arrow.boot_s"}
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython")

_UNITS = {"": 1, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-9, "ms": 1e-3, "s": 1, "m": 60, "h": 3600}
_NUM = re.compile(r"([\d,.]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric -> number (bytes or seconds).  Task-level
    metrics read 'total (min, med, max ...)\\n<total> (...)'; sums read
    '100,000'; sizes and times carry a unit."""
    line = text.split("\n")[-1]
    m = _NUM.match(line.strip())
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Clock:
    """Untraced timing: the wall time of each phase, nothing else."""

    def __init__(self):
        self.last: dict[str, float] = {}

    @contextmanager
    def phase(self, op: str, qid: str, kind: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.last[kind] = self.last.get(kind, 0.0) \
                + time.perf_counter() - t0

    @contextmanager
    def query(self, qid: str):
        self.last = {}
        yield


class Tracer(Clock):
    """Spans + counters for a traced run (see module docstring)."""

    def __init__(self, spark):
        super().__init__()
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.qid: str | None = None
        self._patches: list[tuple] = []
        self._op_exec: dict[str, list[float]] = defaultdict(list)
        self._op_queries: dict[str, set] = defaultdict(set)
        self._pending: list[tuple] = []
        self.coverage: list[float] = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "qid": self.qid}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] += n

    def _child_time(self, idx: int) -> float:
        """Time inside phase span `idx` spent in operator construction."""
        return sum(s["end"] - s["start"] for s in self.spans[idx + 1:]
                   if s["name"] in _OP_SPANS and s["end"] is not None
                   and self._descends(s, idx))

    def _descends(self, s: dict, idx: int) -> bool:
        p = s["parent"]
        while p is not None and p > idx:
            p = self.spans[p]["parent"]
        return p == idx

    @contextmanager
    def query(self, qid: str):
        """One workload operation; its phases must cover its wall time."""
        self.qid = qid
        self.last = {}
        try:
            with self.span("query") as rec:
                yield
        finally:
            wall = rec["end"] - rec["start"]
            if wall > 0 and self.last:
                self.coverage.append(sum(self.last.values()) / wall)
            self.qid = None
        self._collect_pending()

    @contextmanager
    def phase(self, op: str, qid: str, kind: str):
        """A construct or execute phase of `op`, under its own job group."""
        group = f"{qid}/{op}/{kind}"
        first_exec = self._sql.executionsCount()
        self.sc.setJobGroup(group, group)
        try:
            with self.span(f"phase.{kind}") as rec:
                idx = len(self.spans) - 1
                yield
        finally:
            self.sc._jsc.clearJobGroup()
        dur = rec["end"] - rec["start"]
        self.last[kind] = self.last.get(kind, 0.0) + dur
        if kind == "execute":
            # an action that calls the operator itself (a snapshot stage)
            # would count the construction twice: take the self time
            self._op_exec[op].append(dur - self._child_time(idx))
        self._op_queries[op].add(qid)
        self._pending.append((op, group, first_exec))

    def _collect_pending(self) -> None:
        """Read Spark's bookkeeping for the phases of the last query; runs
        after the query span closes so its cost stays out of the timings."""
        pending, self._pending = self._pending, []
        if not pending:
            return
        with self.span("trace.collect"):
            self._jsc.listenerBus().waitUntilEmpty()
            for op, group, first_exec in pending:
                self._stage_stats(op, group)
            self._sql_stats(pending[0][2])

    def _stage_stats(self, op: str, group: str) -> None:
        from py4j.protocol import Py4JError
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        self.counters[f"operators.{op}.jobs"] += len(jobs)
        self.counters["spark.jobs"] += len(jobs)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JError:       # skipped stage: never ran, no data
                continue
            self.counters["spark.shuffle_bytes"] += sd.shuffleWriteBytes()
            self.counters["spark.shuffle_write_s"] += sd.shuffleWriteTime() / 1e9
            self.counters["spark.spill_bytes"] += sd.diskBytesSpilled()

    def _sql_stats(self, first_exec: int) -> None:
        n = self._sql.executionsCount()
        if n <= first_exec:
            return
        execs = self._sql.executionsList(first_exec, n - first_exec)
        for i in range(execs.size()):
            e = execs.apply(i)
            values = self._sql.executionMetrics(e.executionId())
            seen = set()
            ms = e.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                key = _PY_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    self.counters[key] += parse_metric(v.get())
            nodes = self._sql.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if node.name() not in _PY_NODES:
                    continue
                nm = node.metrics()
                for j in range(nm.size()):
                    m = nm.apply(j)
                    if m.name() == "number of output rows" \
                            and m.accumulatorId() not in seen:
                        seen.add(m.accumulatorId())
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            self.counters["functions.arrow.rows"] += \
                                parse_metric(v.get())

    # -- wrappers ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if on_call is not None:
                on_call(args, kwargs)
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap each layer's public entry points (see README for the map)."""
        from pyspark.sql.classic.dataframe import DataFrame

        from s2spark.functions import columns
        from s2spark.kernel import booleans, loops
        from s2spark.kernel.coverer import RegionCoverer
        from s2spark.operators import (cap_query, dedup, distance_ops,
                                       edge_join, knn, rect_query,
                                       spatial_join, tiling)
        from s2spark.plans import audit, covercache
        from s2spark.plans.checkpoint import SnapshotStore
        from s2spark.sources import pages

        c = self.count
        w = self.wrap
        w(pages, "synthesize_pages", "sources.synthesize_pages")
        w(pages, "mine_coordinates", "sources.mine_coordinates")
        w(columns, "with_cell_id", "functions.with_cell_id")
        w(RegionCoverer, "get_covering", "kernel.coverer",
          lambda a, k: c("kernel.coverer.calls"))
        w(loops.Polygon, "relate_cells", "kernel.relate_cells")
        w(loops.Polygon, "contains_points", "kernel.contains_points")
        for fn in ("intersection", "union", "difference"):
            w(booleans, fn, "kernel.booleans")
        w(spatial_join, "spatial_join", "operators.spatial_join")
        w(spatial_join, "build_coverings", "plans.covercache.build_coverings",
          lambda a, k: c("plans.covercache.requests",
                         len(a[0] if a else k["polygons"])))
        w(covercache, "cached_rows", "plans.covercache.cached_rows",
          lambda a, k: c("plans.covercache.requests"))
        w(cap_query, "cap_query", "operators.cap_query")
        w(rect_query, "rect_query", "operators.rect_query")
        w(distance_ops, "buffered_polygon_join", "operators.distance_ops")
        w(distance_ops, "corridor_join", "operators.distance_ops")
        w(knn, "knn_join", "operators.knn")
        w(knn, "radius_join", "operators.knn.round",
          lambda a, k: c("operators.knn.rounds"))
        w(edge_join, "edge_crossing_join", "operators.edge_join")
        w(tiling, "tile_counts", "operators.tiling")
        w(dedup, "dedup_resolve", "operators.dedup_resolve")
        w(dedup, "build_corpus_index", "operators.dedup_filter")
        w(dedup, "filter_near_dups_of_corpus", "operators.dedup_filter")
        w(audit, "append_audit", "plans.audit")
        w(audit, "partition_metrics", "plans.audit")
        self._wrap_checkpoint(SnapshotStore)
        for m in ("localCheckpoint", "checkpoint", "persist", "cache"):
            w(DataFrame, m, "plans.materialize",
              lambda a, k: c("plans.materialize.calls"))

    def _wrap_checkpoint(self, cls) -> None:
        """resume_or_compute either commits a new snapshot (a write: the
        stage's whole lineage runs, then parquet is written and counted) or
        returns a read of the committed one; the snapshot log tells which."""
        orig = cls.resume_or_compute
        tracer = self

        @functools.wraps(orig)
        def wrapper(store, spark, stage, *args, **kwargs):
            before = len(store.snapshots(stage))
            with tracer.span("plans.checkpoint") as rec:
                out = orig(store, spark, stage, *args, **kwargs)
            dur = rec["end"] - rec["start"]
            snaps = store.snapshots(stage)
            if len(snaps) > before:
                tracer.count("plans.checkpoint.write_s", dur)
                tracer.count("plans.checkpoint.bytes",
                             _tree_bytes(snaps[-1]["path"]))
            else:
                tracer.count("plans.checkpoint.read_s", dur)
            return out

        cls.resume_or_compute = wrapper
        self._patches.append((cls, "resume_or_compute", orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- results -----------------------------------------------------------

    def span_seconds(self, name: str) -> float:
        """Total time in outermost spans called `name` (nested repeats of
        the same name, e.g. an operator calling itself, count once)."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                total += s["end"] - s["start"]
        return total

    def operator_metrics(self) -> dict[str, float]:
        """Per query (geo) or pass (tile) that ran the operator."""
        out = {}
        for op in OPERATORS:
            execs = self._op_exec.get(op, [])
            calls = max(1, len(self._op_queries.get(op, ())))
            out[f"operators.{op}.construct_s"] = \
                self.span_seconds(f"operators.{op}") / calls
            out[f"operators.{op}.execute_s"] = sum(execs) / calls
            out[f"operators.{op}.jobs"] = \
                self.counters.get(f"operators.{op}.jobs", 0.0) / calls
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [dict(s, start=s["start"] - t0,
                      end=(s["end"] or s["start"]) - t0) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counters": dict(self.counters)}, f)
