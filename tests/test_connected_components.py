"""Connected-components (alternating large-star/small-star) tests.

Conformance anchor: a plain Python union-find over the same edge list.
The chain-graph case is the one that separates the O(log n)-round
algorithm from min-label propagation (whose round count equals the
graph diameter).
"""

import numpy as np
import pytest

from s2spark.operators import dedup
from s2spark.operators.dedup import connected_components, dedup_clusters


@pytest.fixture(scope="module")
def spark():
    from s2spark.plans.session import build_session
    s = build_session(app_name="s2spark-cc-tests", master="local[4]",
                      shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


class UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def expected_components(edges):
    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    # component = min node id reachable
    comp_min = {}
    for x in list(uf.p):
        r = uf.find(x)
        comp_min[r] = min(comp_min.get(r, r), x)
    return {x: comp_min[uf.find(x)] for x in uf.p}


def _distributed(df):
    """connected_components with the driver union-find gated off, so the
    large/small-star loop runs."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "DRIVER_THRESHOLD", 0)
        return {r["node"]: r["component"]
                for r in connected_components(df).collect()}


def _run(spark, edges):
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long")
    # driver-side union-find fast path (default for small edge sets)
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == expected_components(edges)
    # forced distributed large/small-star loop must agree exactly
    assert _distributed(df) == got
    return got


def test_cc_random_graph(spark):
    rng = np.random.default_rng(42)
    edges = [(int(a), int(b))
             for a, b in rng.integers(0, 300, size=(250, 2)) if a != b]
    _run(spark, edges)


def test_cc_long_chain_converges_in_log_rounds(spark):
    # a 200-node chain has diameter 199: label propagation would need ~200
    # shuffle rounds; large/small-star must finish within the 16-round cap
    edges = [(i, i + 1) for i in range(200)]
    got = _run(spark, edges)
    assert set(got.values()) == {0}


def test_cc_disjoint_cliques_and_order_insensitivity(spark):
    edges = ([(a, b) for a in range(10, 15) for b in range(10, 15) if a < b]
             + [(100, 101), (103, 102), (101, 103)]   # mixed edge direction
             + [(7, 7)])                              # self-edge dropped
    got = _run(spark, edges)
    assert all(got[x] == 10 for x in range(10, 15))
    assert all(got[x] == 100 for x in (100, 101, 102, 103))
    assert got[7] == 7  # self-edge node is its own singleton component


def test_cc_driver_threshold_boundary(spark, monkeypatch):
    """The two-regime gate must be output-invisible AT the boundary: the
    same graph run just under, exactly at, and just over DRIVER_THRESHOLD
    (and with the loop forced via threshold=0) yields identical maps.
    Guards the driver union-find / distributed large-small-star
    equivalence as either path evolves."""
    rng = np.random.default_rng(99)
    edges = [(int(a), int(b))
             for a, b in rng.integers(0, 40, size=(11, 2)) if a != b]
    n_pairs = len(edges)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long")
    runs = {}
    for thr in (0,              # forced distributed loop
                n_pairs - 1,    # gate rejects: collect sees thr+1 rows
                n_pairs,        # gate accepts exactly at the boundary
                n_pairs + 50):  # comfortably under
        monkeypatch.setattr(dedup, "DRIVER_THRESHOLD", thr)
        runs[thr] = {r["node"]: r["component"]
                     for r in connected_components(df).collect()}
    expect = expected_components(edges)
    for thr, got in runs.items():
        assert got == expect, f"threshold={thr} diverged"


def test_cc_null_endpoints_dropped_both_regimes(spark):
    """Pairs with a NULL endpoint are dropped identically by the driver
    fast path and the distributed loop (a null id can't name a
    component; the driver path used to crash on int(None))."""
    rows = [(1, 2), (2, 3), (None, 9), (9, None), (None, None), (7, 8)]
    df = spark.createDataFrame(rows, "id_a long, id_b long")
    expect = expected_components([(1, 2), (2, 3), (7, 8)])
    fast = {r["node"]: r["component"]
            for r in connected_components(df).collect()}
    assert fast == expect
    assert _distributed(df) == expect


def test_dedup_clusters_end_to_end(spark):
    # corpus: two exact-ish near-dup families + unique docs
    base_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    base_b = "one two three four five six seven eight nine ten " * 4
    rows = []
    for i in range(4):
        rows.append((i, base_a + f" tail{'x' * i}"))
    for i in range(4, 7):
        rows.append((i, base_b + f" tail{'y' * (i - 4)}"))
    rows.append((7, "completely different text with its own words here okay"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["cluster_id"], r["is_kept"])
           for r in dedup_clusters(docs, threshold=0.5).collect()}
    assert len(out) == 8
    assert out[0] == (0, True)
    assert all(out[i] == (0, False) for i in (1, 2, 3))
    assert out[4] == (4, True)
    assert all(out[i] == (4, False) for i in (5, 6))
    assert out[7] == (7, True)
    # dedup keeps exactly one doc per cluster
    kept = [d for d, (_, k) in out.items() if k]
    assert sorted(kept) == [0, 4, 7]
