"""The three workloads: inputs from the seed, the timed loop, the checks.

Each workload function takes (spark, seed, seconds, scale, ctx) and returns
a ``Run``.  Every call into s2spark goes through a module attribute
(``sj.spatial_join``, ``pages.synthesize_pages`` ...) so the traced run's
wrappers see it.  Inputs are generated here from the seed alone; the program
only ever receives the generated rows, polygons and regions.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import brute

# scale -> input size.  "full" is what BENCHMARK.json states; "tiny" is the
# smoke test's.
SIZES = {
    "full": {"pages": 60_000, "points": 20_000, "edges": 2_000, "docs": 240},
    "tiny": {"pages": 2_000, "points": 2_000, "edges": 300, "docs": 40},
}
SETUP_REPEATS = 3
GEO_TYPES = ("pip", "cap", "rect", "buffered", "corridor", "knn", "edge")
# kinds whose region has a covering, i.e. the ones a repeat can serve from
# the covering caches
COVERED = ("pip", "cap", "rect", "buffered", "corridor")
# one geo round: every kind once, in a fixed order, plus three repeats of an
# earlier region, so every run times the same mix whatever its seed
GEO_ROUND = ("pip", "cap", "rect", "repeat", "buffered", "corridor", "repeat",
             "knn", "edge", "repeat")
KNN_K = 5
CLUSTERED = 0.7             # share of geo points drawn around cluster centres
RESUMES = 3                 # resume passes per tile cold pass
TILE_LEVEL = 10


@dataclass
class Run:
    """What one workload run measured."""
    attempted: int = 0
    failed: int = 0
    setup_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)        # primary op
    aux_s: list[float] = field(default_factory=list)       # secondary op
    traced_op_s: list[float] = field(default_factory=list)
    units_per_op: float = 1.0     # pages / queries / docs per primary op
    traced_ops: int = 0
    notes: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> dict:
    """The highest percentile with at least ten samples beyond it (the
    11th-largest sample), with its sample count; None below 21 samples,
    where that percentile would not be above the median."""
    n = len(xs)
    value = sorted(xs)[-11] if n >= 21 else None
    return {"value": value,
            "percentile": 100 * (n - 10) / n if value is not None else None,
            "samples": n}


def timed_loop(spark, seconds: float, step, ctx, granule: int = 1,
               min_timed: int = 1) -> int:
    """Call step(i) for one untimed warm-up granule (a tile pass, a geo
    round, a dedup iteration), then until `seconds` have passed, stopping
    only after a whole granule and after at least `min_timed` timed
    granules.  A traced run times one more, alternating plain and traced.
    Between steps, untimed, the session drops what the last step left
    pinned and runs a full GC, so no step pays for an earlier one's
    garbage."""
    from s2spark.plans.session import release_session_state
    ctx.granule = granule
    if ctx.tracer is not None:
        min_timed += 1

    def one(i):
        step(i)
        release_session_state(spark)

    i = 0
    while i < granule:
        one(i)
        i += 1
    t_end = time.perf_counter() + seconds
    while (i < (1 + min_timed) * granule or i % granule
           or time.perf_counter() < t_end):
        one(i)
        i += 1
    return i - granule


def _record(run, ctx, i: int, op_s: float, aux_s=()) -> None:
    """File one step's timings: dropped while warming up, else into the
    traced or the plain samples."""
    if i < ctx.granule:
        return
    if _traced(ctx, i):
        run.traced_op_s.append(op_s)
        run.traced_ops += 1
    else:
        run.op_s.append(op_s)
        run.aux_s.extend(aux_s)


def cold_coverings(root: str) -> None:
    """Point both covering caches at an empty directory and clear their
    memos, so no covering computed before this call can be served."""
    from s2spark.operators import spatial_join as sj
    from s2spark.plans import covercache
    path = os.path.join(root, f"coverings-{time.perf_counter_ns()}")
    os.makedirs(path)
    sj._DISK_CACHE_DIR = path
    covercache._DIR = path
    sj._COVERING_CACHE.clear()
    covercache._MEMO.clear()


def _traced(ctx, i: int) -> bool:
    """Traced runs alternate timed granules: the first plain, the second
    traced and so on, so the end-to-end numbers and the tracing overhead
    come from one run.  Warm-up granules are never traced."""
    g = i // ctx.granule - 1
    return ctx.tracer is not None and g >= 0 and g % 2 == 1


class RunContext:
    """Where a run writes, its tracer (None when untraced), whether to
    inject a wrong answer, and the loop shape `timed_loop` sets."""

    def __init__(self, root: str, tracer, inject: bool):
        self.root = root
        self.tracer = tracer
        self.inject = inject
        self.granule = 1

    def clock(self, i: int):
        from tracing import Clock
        if _traced(self, i):
            self.tracer.install()
            return self.tracer
        return Clock()

    def done(self, i: int) -> None:
        if _traced(self, i):
            self.tracer.uninstall()


# -- seeded geometry -------------------------------------------------------

def _dest(lat, lng, radius_deg, bearing):
    """Point at angular distance radius_deg from (lat, lng) along bearing."""
    p1, l1 = math.radians(lat), math.radians(lng)
    r = math.radians(radius_deg)
    p2 = math.asin(math.sin(p1) * math.cos(r)
                   + math.cos(p1) * math.sin(r) * math.cos(bearing))
    l2 = l1 + math.atan2(math.sin(bearing) * math.sin(r) * math.cos(p1),
                         math.cos(r) - math.sin(p1) * math.sin(p2))
    lng2 = (math.degrees(l2) + 180.0) % 360.0 - 180.0
    return round(math.degrees(p2), 6), round(lng2, 6)


def convex_loop(rng, lat, lng, radius_deg, n=None):
    """A convex loop: vertices on a small circle at jittered, evenly spaced
    bearings, returned counter-clockwise (interior on the left) as
    [(lat, lng)]."""
    n = n or int(rng.integers(6, 11))
    # jittered even spacing keeps every gap under pi, so the loop is convex
    # and contains its centre
    step = 2 * math.pi / n
    bearings = (np.arange(n) * step + rng.uniform(0, 0.5 * step, n)
                + rng.uniform(0, 2 * math.pi))
    verts = [_dest(lat, lng, radius_deg, b) for b in bearings]
    v = brute.xyz(*np.array(verts).T)
    c = brute.xyz([lat], [lng])[0]
    if np.cross(v[0], v[1]) @ c < 0:
        verts.reverse()
    return verts


def loop_text(verts) -> str:
    return ", ".join(f"{a!r}:{b!r}" for a, b in verts) + ";"


# -- tile_pipeline -----------------------------------------------------------

def tile_polygons(rng) -> dict[int, list]:
    """Three seeded convex polygons over the three populated pools of the
    synthetic pages: the NEAR box, the Paris hot cell, the uniform sphere.
    Radii and vertex counts are fixed and only positions and bearings are
    seeded, so every seed joins about the same number of points."""
    return {
        1: convex_loop(rng, rng.uniform(-2.5, 2.5), rng.uniform(-2.5, 2.5),
                       1.25, n=8),
        2: convex_loop(rng, 48.8566 + rng.uniform(-0.01, 0.01),
                       2.3522 + rng.uniform(-0.01, 0.01), 0.025, n=8),
        3: convex_loop(rng, rng.uniform(-45, 45), rng.uniform(-150, 150),
                       20.0, n=8),
    }


def tile_pass(spark, clock, qid, workdir, polygons, n_pages):
    """synthesize -> mine -> encode -> join -> tile counts, every stage a
    snapshot stage with an audit row set; returns the sorted tile rows."""
    from s2spark.operators import spatial_join as sj
    from s2spark.operators import tiling
    from s2spark.plans import audit
    from s2spark.plans.checkpoint import SnapshotStore
    from s2spark.sources import pages

    store = SnapshotStore(os.path.join(workdir, "snapshots"))
    audit_dir = os.path.join(workdir, "audit")

    def stage(name, op, build, cell_col=None):
        def compute():
            df = build()
            if cell_col is not None or name == "mine":
                audit.append_audit(
                    audit.partition_metrics(df, name, cell_col=cell_col),
                    audit_dir)
            return df
        with clock.phase(op, qid, "execute"):
            return store.resume_or_compute(spark, name, compute)

    with clock.query(qid):
        mined = stage("mine", "sources", lambda: pages.mine_coordinates(
            pages.synthesize_pages(spark, n_pages).select("url", "text")))
        encoded = stage("encode", "functions",
                        lambda: sj.points_with_cells(mined), "cell_id")
        joined = stage("join", "spatial_join", lambda: sj.spatial_join(
            spark, encoded.select("url", "cell_id", "x", "y", "z"),
            polygons), "cell_id")
        tiles = stage("tiles", "tiling",
                      lambda: tiling.tile_counts(joined, TILE_LEVEL))
        with clock.phase("tiling", qid, "execute"):
            rows = sorted(tuple(r) for r in tiles.collect())
    return rows, mined, joined


def _digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def tile_pipeline(spark, seed, seconds, scale, ctx) -> Run:
    from s2spark.sources.fixtures import make_polygon

    run = Run()
    n_pages = SIZES[scale]["pages"]
    run.units_per_op = n_pages
    base = os.path.join(ctx.root, "tile")

    # the pipeline makes its own pages; its only input is the polygon set
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        loops = tile_polygons(np.random.default_rng([seed, 1]))
        polys = {pid: make_polygon(loop_text(v)) for pid, v in loops.items()}
        run.setup_s.append(time.perf_counter() - t0)

    expect = {}

    def step(i):
        clock = ctx.clock(i)
        try:
            cold_coverings(ctx.root)       # every cold pass is a fresh job
            wd = os.path.join(base, f"pass{i}")
            rows, mined, joined = tile_pass(spark, clock, f"cold{i}", wd,
                                            polys, n_pages)
            cold = sum(clock.last.values())
            resumed = []
            for r in range(RESUMES):
                rows_r, _, _ = tile_pass(spark, clock, f"resume{i}.{r}", wd,
                                         polys, n_pages)
                resumed.append((rows_r, sum(clock.last.values())))
        finally:
            ctx.done(i)
        _record(run, ctx, i, cold, [t for _, t in resumed])
        if ctx.inject and i == 0:
            resumed[0] = (resumed[0][0][1:], 0.0)
        d = _digest(rows)
        for rows_r, _ in resumed:
            run.check(_digest(rows_r) == d, f"pass {i}: resume != cold")
        run.check(expect.setdefault("digest", d) == d,
                  f"pass {i}: cold output differs from pass 0")
        if i == 0:
            run.check(_check_tile_join(mined, joined, loops, rows, run),
                      "join counts differ from brute force")
            if ctx.tracer is not None:
                _join_filter_stats(spark, ctx.tracer, wd, polys)
        shutil.rmtree(wd, ignore_errors=True)

    # the first pass is warm-up: code generation, class loading and the
    # Python workers make it about twice as slow as the passes after it.
    # Two passes are timed: a single one, and its resumes, land in whatever
    # burst of CPU steal the host has at that moment; across ten seeds the
    # quartile spread of the cold pass was 0.21 of its median with one
    # timed pass and 0.14 with two, at about the same steal
    timed_loop(spark, seconds, step, ctx, min_timed=2)
    run.notes["pages"] = n_pages
    return run


def _check_tile_join(mined, joined, loops, rows, run) -> bool:
    """Per-polygon join counts against half-space containment of the mined
    points, and the tile counts' total against the join's."""
    from pyspark.sql import functions as F
    pts = mined.select("lat", "lng").toPandas()
    p = brute.xyz(pts["lat"].to_numpy(), pts["lng"].to_numpy())
    got = {r["polygon_id"]: r["n"] for r in
           joined.groupBy("polygon_id").agg(F.count(F.lit(1)).alias("n"))
           .collect()}
    ok = sum(n for _, n in rows) == sum(got.values())
    for pid, verts in loops.items():
        margin = brute.convex_margin(p, brute.xyz(*np.array(verts).T))
        inside = int((margin > brute.EPS).sum())
        unsure = int((np.abs(margin) <= brute.EPS).sum())
        ok &= inside <= got.get(pid, 0) <= inside + unsure
    run.notes["joined_rows"] = int(sum(got.values()))
    return ok


def _join_filter_stats(spark, tracer, workdir, polys) -> None:
    """Filter quality of the spatial join, read from its inputs: candidate
    (point, covering cell) matches per result row, and the share of
    candidates that needed the exact refine (skin cells)."""
    from pyspark.sql import functions as F

    from s2spark.functions import columns as C
    from s2spark.operators import spatial_join as sj
    from s2spark.plans.checkpoint import SnapshotStore

    with tracer.span("trace.audit"):
        store = SnapshotStore(os.path.join(workdir, "snapshots"))
        pts = store.read_snapshot(spark, "encode")
        results = store.read_snapshot(spark, "join").count()
        cov_pd = sj.build_coverings(polys)
        cov = spark.createDataFrame(cov_pd)
        levels = sorted(int(v) for v in cov_pd["cov_level"].unique())
        keys = F.explode(F.array(*[C.parent_for_level(F.col("cell_id"), lv)
                                   for lv in levels]))
        row = (pts.select(keys.alias("k"))
               .join(F.broadcast(cov), F.col("k") == F.col("cov_cell_id"))
               .agg(F.count(F.lit(1)).alias("cand"),
                    F.sum((~F.col("is_interior")).cast("long")).alias("skin"))
               .collect()[0])
    cand, skin = int(row["cand"]), int(row["skin"] or 0)
    tracer.count("operators.spatial_join.candidates", cand)
    tracer.count("operators.spatial_join.skin", skin)
    tracer.count("operators.spatial_join.results", results)


# -- geo_queries ---------------------------------------------------------------

def geo_points(rng, n, n_edges):
    """Clustered + uniform points, and short edges starting in the clusters."""
    centers = np.column_stack([rng.uniform(-55, 55, 6), rng.uniform(-170, 170, 6)])
    n_cl = int(n * CLUSTERED)
    which = rng.integers(0, len(centers), n_cl)
    lat = np.concatenate([
        np.clip(centers[which, 0] + rng.normal(0, 2.5, n_cl), -89, 89),
        np.degrees(np.arcsin(rng.uniform(-1, 1, n - n_cl)))])
    lng = np.concatenate([
        (centers[which, 1] + rng.normal(0, 2.5, n_cl) + 180) % 360 - 180,
        rng.uniform(-180, 180, n - n_cl)])
    pts = pd.DataFrame({"pid": np.arange(n, dtype=np.int64), "lat": lat,
                        "lng": lng})
    starts = rng.integers(0, n_cl, n_edges)
    ends = [_dest(lat[s], lng[s], rng.uniform(0.05, 0.5),
                  rng.uniform(0, 2 * math.pi)) for s in starts]
    a = brute.xyz(lat[starts], lng[starts])
    b = brute.xyz(*np.array(ends).T)
    edges = pd.DataFrame({"eid": np.arange(n_edges, dtype=np.int64),
                          "ax": a[:, 0], "ay": a[:, 1], "az": a[:, 2],
                          "bx": b[:, 0], "by": b[:, 1], "bz": b[:, 2]})
    return centers, pts, edges


def geo_query(rng, kind, centers):
    """One fresh region of the given kind near a random cluster centre.
    Sizes are fixed per kind and only positions are seeded, so the work per
    kind stays comparable from seed to seed.  kNN probes sit within a few
    tenths of a degree of cluster centres, where the points are densest, so
    their neighbours are as near, and their radius rounds as many, whatever
    the seed."""
    c = centers[rng.integers(0, len(centers))]
    lat, lng = c[0] + rng.normal(0, 1.5), c[1] + rng.normal(0, 1.5)
    if kind == "pip":       # the intersection of two overlapping polygons
        a = convex_loop(rng, lat, lng, 2.0, n=8)
        b = convex_loop(rng, *_dest(lat, lng, 1.0, rng.uniform(0, 2 * math.pi)),
                        2.0, n=8)
        return {"kind": kind, "loops": [a, b]}
    if kind == "cap":
        return {"kind": kind, "cap": (lat, lng, math.radians(1.2))}
    if kind == "rect":
        lng = float(np.clip(lng, -176, 176))
        return {"kind": kind, "rect": (lat - 1.5, lng - 2.0, lat + 1.5, lng + 2.0)}
    if kind == "buffered":
        return {"kind": kind, "loops": [convex_loop(rng, lat, lng, 1.0, n=8)],
                "radius": math.radians(0.3)}
    if kind == "corridor":
        track = [(round(lat, 6), round((lng + 180) % 360 - 180, 6))]
        for _ in range(3):
            track.append(_dest(*track[-1], 1.5, rng.uniform(0, 2 * math.pi)))
        return {"kind": kind, "track": track, "radius": math.radians(0.2)}
    if kind == "knn":
        q = centers[rng.integers(0, len(centers), 8)] + rng.normal(0, 0.3, (8, 2))
        return {"kind": kind, "queries": [
            (float(np.clip(a, -89, 89)), float((b + 180) % 360 - 180))
            for a, b in q]}
    starts = [(lat + rng.normal(0, 2), lng + rng.normal(0, 2)) for _ in range(10)]
    return {"kind": "edge", "edges": [
        (s, _dest(*s, 2.5, rng.uniform(0, 2 * math.pi))) for s in starts]}


def run_geo_query(spark, clock, qid, q, pts, edges):
    """Construct (driver: coverings, small DataFrames, eager jobs) then
    execute (collect) one query; returns the collected rows."""
    from pyspark.sql import functions as F

    from s2spark.functions import columns as C
    from s2spark.kernel import booleans
    from s2spark.operators import cap_query as cq
    from s2spark.operators import distance_ops as do
    from s2spark.operators import edge_join as ej
    from s2spark.operators import knn
    from s2spark.operators import rect_query as rq
    from s2spark.operators import spatial_join as sj
    from s2spark.sources.fixtures import make_polygon

    kind = q["kind"]
    op = {"pip": "spatial_join", "cap": "cap_query", "rect": "rect_query",
          "buffered": "distance_ops", "corridor": "distance_ops",
          "knn": "knn", "edge": "edge_join"}[kind]
    cols = pts.select("pid", "lat", "lng", "cell_id")
    with clock.query(qid):
        with clock.phase(op, qid, "construct"):
            if kind == "pip":
                poly = booleans.intersection(
                    *[make_polygon(loop_text(v)) for v in q["loops"]])
                df = sj.spatial_join(
                    spark, pts.select("pid", "cell_id", "x", "y", "z"),
                    {1: poly}).select("pid")
            elif kind == "cap":
                df = cq.cap_query(spark, cols, {1: q["cap"]}).select("pid")
            elif kind == "rect":
                df = rq.rect_query(spark, cols, {1: q["rect"]}).select("pid")
            elif kind == "buffered":
                df = do.buffered_polygon_join(
                    spark, cols, {1: make_polygon(loop_text(q["loops"][0]))},
                    q["radius"]).select("pid")
            elif kind == "corridor":
                df = do.corridor_join(spark, cols, {1: q["track"]},
                                      q["radius"]).select("pid")
            elif kind == "knn":
                qdf = C.with_cell_id(spark.createDataFrame(
                    [(i, float(a), float(b)) for i, (a, b)
                     in enumerate(q["queries"])],
                    "query_id long, lat double, lng double"), "lat", "lng")
                data = cols.select(F.col("pid").alias("data_id"), "lat",
                                   "lng", "cell_id")
                df = knn.knn_join(qdf, data, KNN_K).select(
                    "query_id", "distance_rad")
            else:
                a = brute.xyz(*np.array([e[0] for e in q["edges"]]).T)
                b = brute.xyz(*np.array([e[1] for e in q["edges"]]).T)
                qe = spark.createDataFrame(pd.DataFrame({
                    "qid": np.arange(len(a), dtype=np.int64),
                    "ax": a[:, 0], "ay": a[:, 1], "az": a[:, 2],
                    "bx": b[:, 0], "by": b[:, 1], "bz": b[:, 2]}))
                df = ej.edge_crossing_join(qe, edges, key_a="qid", key_b="eid")
        with clock.phase(op, qid, "execute"):
            rows = df.collect()
    return [tuple(r) for r in rows]


def expected_geo(q, pts_np, edges_np):
    """(answer, ids too close to a boundary to judge) by brute force."""
    lat, lng, p, ids = pts_np
    kind = q["kind"]
    if kind == "pip":
        margin = np.min([brute.convex_margin(p, brute.xyz(*np.array(v).T))
                         for v in q["loops"]], axis=0)
        return brute.split(ids, margin > 0, margin)
    if kind == "cap":
        c_lat, c_lng, r = q["cap"]
        d = brute.haversine(c_lat, c_lng, lat, lng)
        return brute.split(ids, d <= r, d - r)
    if kind == "rect":
        lo_a, lo_b, hi_a, hi_b = q["rect"]
        inside = (lat >= lo_a) & (lat <= hi_a) & (lng >= lo_b) & (lng <= hi_b)
        slack = np.radians(np.min(np.abs([lat - lo_a, lat - hi_a,
                                          lng - lo_b, lng - hi_b]), axis=0))
        return brute.split(ids, inside, slack)
    if kind == "buffered":
        d = brute.convex_distance(p, brute.xyz(*np.array(q["loops"][0]).T))
        return brute.split(ids, d <= q["radius"], d - q["radius"])
    if kind == "corridor":
        d = brute.polyline_distance(p, brute.xyz(*np.array(q["track"]).T))
        return brute.split(ids, d <= q["radius"], d - q["radius"])
    if kind == "knn":
        qa = np.array(q["queries"])
        return brute.knn(qa[:, 0], qa[:, 1], lat, lng, KNN_K), set()
    qa = brute.xyz(*np.array([e[0] for e in q["edges"]]).T)
    qb = brute.xyz(*np.array([e[1] for e in q["edges"]]).T)
    da, db, eids = edges_np
    return {(i, int(eids[j])) for i, j in
            brute.crossings(qa, qb, da, db)}, set()


def geo_answer_ok(q, rows, expected) -> bool:
    want, unsure = expected
    if q["kind"] == "knn":
        got: dict[int, list] = {}
        for qid, d in rows:
            got.setdefault(qid, []).append(d)
        return all(np.allclose(sorted(got.get(i, [])), w, rtol=0, atol=1e-9)
                   if len(got.get(i, [])) == len(w) else False
                   for i, w in enumerate(want))
    if q["kind"] == "edge":
        return set(rows) == want
    return {r[0] for r in rows} - unsure == want - unsure


def geo_queries(spark, seed, seconds, scale, ctx) -> Run:
    from s2spark.operators import spatial_join as sj

    run = Run()
    size = SIZES[scale]
    base = os.path.join(ctx.root, "geo")

    def setup(rep):
        centers, pts_pd, edges_pd = geo_points(
            np.random.default_rng([seed, 2]), size["points"], size["edges"])
        d = os.path.join(base, f"setup{rep}")
        # the repartition keeps the encode distributed: on a local relation
        # the optimizer would evaluate it row by row on the driver
        sj.points_with_cells(spark.createDataFrame(pts_pd).repartition(
            spark.sparkContext.defaultParallelism)) \
            .write.parquet(os.path.join(d, "points"))
        spark.createDataFrame(edges_pd).write.parquet(os.path.join(d, "edges"))
        pts = spark.read.parquet(os.path.join(d, "points"))
        edges = spark.read.parquet(os.path.join(d, "edges"))
        if pts.count() + edges.count() != len(pts_pd) + len(edges_pd):
            raise RuntimeError("geo set-up lost rows")
        return centers, pts_pd, edges_pd, pts, edges

    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        centers, pts_pd, edges_pd, pts, edges = setup(rep)
        run.setup_s.append(time.perf_counter() - t0)
    cold_coverings(ctx.root)

    pts_np = (pts_pd["lat"].to_numpy(), pts_pd["lng"].to_numpy(),
              brute.xyz(pts_pd["lat"].to_numpy(), pts_pd["lng"].to_numpy()),
              pts_pd["pid"].to_numpy())
    edges_np = (edges_pd[["ax", "ay", "az"]].to_numpy(),
                edges_pd[["bx", "by", "bz"]].to_numpy(), edges_pd["eid"].to_numpy())
    rng = np.random.default_rng([seed, 3])
    latest: dict[str, int] = {}     # kind -> index of its latest fresh query
    history: list[tuple] = []       # (query, expected answer)
    by_kind: dict[str, list[float]] = {k: [] for k in GEO_TYPES}
    n_repeats = 0

    def next_query(i):
        nonlocal n_repeats
        kind = GEO_ROUND[i % len(GEO_ROUND)]
        if kind == "repeat":
            # the r-th repeat re-issues the latest query of kind r mod 5
            kind = COVERED[n_repeats % len(COVERED)]
            n_repeats += 1
            q, expected = history[latest[kind]]
            return q, expected, True
        return geo_query(rng, kind, centers), None, False

    def step(i):
        q, expected, repeat = next_query(i)
        clock = ctx.clock(i)
        try:
            rows = run_geo_query(spark, clock, f"q{i}", q, pts, edges)
            lat = sum(clock.last.values())
        finally:
            ctx.done(i)
        if expected is None:
            expected = expected_geo(q, pts_np, edges_np)
            latest[q["kind"]] = len(history)
        history.append((q, expected))
        _record(run, ctx, i, lat, [lat] if repeat else [])
        if _traced(ctx, i):
            if q["kind"] == "knn":
                ctx.tracer.count("operators.knn.queries")
        elif i >= ctx.granule:
            by_kind[q["kind"]].append(lat)
        if ctx.inject and i == 0:
            rows = rows[1:] if rows else [(-1,)]
        run.check(geo_answer_ok(q, rows, expected),
                  f"query {i} ({q['kind']}{', repeat' if repeat else ''})")

    # the first round is warm-up: it compiles each kind's plans and starts
    # the Python workers, and is several times slower than later rounds
    n = timed_loop(spark, seconds, step, ctx, granule=len(GEO_ROUND))
    run.notes.update(queries=n, repeat_share=GEO_ROUND.count("repeat")
                     / len(GEO_ROUND),
                     points=size["points"], edges=size["edges"],
                     p50_by_kind_s={k: median(v) for k, v in by_kind.items()
                                    if v})
    return run


# -- corpus_dedup ------------------------------------------------------------

VOCAB = ("key agg row scan slow fast table value part hash merge batch a the "
         "line sort window spark order data column join small customer query "
         "big stream filter group vector").split()


def corpus(rng, n_docs):
    """Seeded near-duplicate corpus in the documents.parquet style: words
    from a small vocabulary joined by single ASCII spaces.  About a third of
    the documents are edited copies (one word replaced, dropped or added) of
    another document."""
    docs: list[list[str]] = []
    n_base = int(n_docs * 0.65)
    for _ in range(n_base):
        docs.append(list(rng.choice(VOCAB, int(rng.integers(20, 60)))))
    for _ in range(n_docs - n_base):
        w = list(docs[int(rng.integers(0, len(docs)))])
        edit = int(rng.integers(0, 4))
        pos = int(rng.integers(0, len(w)))
        if edit == 0:
            w[pos] = str(rng.choice(VOCAB))
        elif edit == 1:
            del w[pos]
        elif edit == 2:
            w.insert(pos, str(rng.choice(VOCAB)))
        docs.append(w)
    ids = rng.permutation(n_docs)
    return [(int(ids[k]), " ".join(w)) for k, w in enumerate(docs)]


def _oracle():
    import importlib.util
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "py_oracle_resolve", os.path.join(root, "tools", "py_oracle_resolve.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def expected_filter(oracle, rows, split_id, num_hashes=16, bands=4,
                    est_gate=0.5):
    """Arrivals (doc_id >= split_id) that share a band bucket with a corpus
    doc whose signature agrees on at least est_gate of the hashes are
    dropped; the rest survive.  Same hashing as the resolve oracle."""
    import re
    sigs = {}
    for doc_id, text in rows:
        t = re.sub(r"\s+", " ", text.strip().lower())
        grams = {t[i:i + 5] for i in range(len(t) - 4)} if len(t) >= 5 else {t}
        sigs[doc_id] = [min(oracle.md5_15(f"mh{i}_" + g) for g in grams)
                        for i in range(num_hashes)]
    per = num_hashes // bands

    def keys(sig):
        return {(b, hashlib.md5("_".join(str(v) for v in sig[b * per:(b + 1) * per])
                                .encode()).hexdigest()) for b in range(bands)}

    index: dict = {}
    for d, s in sigs.items():
        if d < split_id:
            for k in keys(s):
                index.setdefault(k, []).append(d)
    survivors = set()
    for d, s in sigs.items():
        if d < split_id:
            continue
        dup = any(sum(x == y for x, y in zip(s, sigs[c])) / num_hashes >= est_gate
                  for k in keys(s) for c in index.get(k, ()))
        if not dup:
            survivors.add(d)
    return survivors


def corpus_dedup(spark, seed, seconds, scale, ctx) -> Run:
    from pyspark.sql import functions as F

    from s2spark.operators import dedup

    run = Run()
    n_docs = SIZES[scale]["docs"]
    run.units_per_op = n_docs
    split_id = n_docs // 2
    base = os.path.join(ctx.root, "dedup")

    def setup(rep):
        rows = corpus(np.random.default_rng([seed, 4]), n_docs)
        path = os.path.join(base, f"setup{rep}", "documents")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .repartition(spark.sparkContext.defaultParallelism) \
            .write.parquet(path)
        docs = spark.read.parquet(path)
        if docs.count() != n_docs:
            raise RuntimeError("corpus set-up lost rows")
        return rows, docs

    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        rows, docs = setup(rep)
        run.setup_s.append(time.perf_counter() - t0)

    oracle = _oracle()
    want_resolve = oracle.py_resolve(rows)
    want_filter = expected_filter(oracle, rows, split_id)
    run.notes.update(docs=n_docs,
                     clustered=sum(1 for r in want_resolve if r[0] != r[1]),
                     arrivals_dropped=n_docs - split_id - len(want_filter))

    def step(i):
        clock = ctx.clock(i)
        try:
            with clock.query(f"resolve{i}"):
                with clock.phase("dedup_resolve", f"resolve{i}", "construct"):
                    df = dedup.dedup_resolve(docs, n=5, num_hashes=16,
                                             bands=4, threshold=0.8)
                with clock.phase("dedup_resolve", f"resolve{i}", "execute"):
                    got = sorted(tuple(r) for r in df.collect())
            resolve = sum(clock.last.values())
            with clock.query(f"filter{i}"):
                with clock.phase("dedup_filter", f"filter{i}", "construct"):
                    index = dedup.build_corpus_index(
                        docs.where(F.col("doc_id") < split_id))
                    kept = dedup.filter_near_dups_of_corpus(
                        docs.where(F.col("doc_id") >= split_id), index)
                with clock.phase("dedup_filter", f"filter{i}", "execute"):
                    survivors = {r[0] for r in kept.select("doc_id").collect()}
            filt = sum(clock.last.values())
        finally:
            ctx.done(i)
        _record(run, ctx, i, resolve, [filt])
        if ctx.inject and i == 0:
            got = got[1:]
        run.check(got == want_resolve, f"iteration {i}: resolve")
        run.check(survivors == want_filter, f"iteration {i}: corpus filter")

    timed_loop(spark, seconds, step, ctx)
    return run


WORKLOADS = {"tile_pipeline": tile_pipeline, "geo_queries": geo_queries,
             "corpus_dedup": corpus_dedup}
