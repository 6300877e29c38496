"""Similarity-search operators: exact baseline vs LSH and IVF scale paths."""

import pytest
from pyspark.sql import functions as F

from s2spark.operators import similarity


@pytest.fixture(scope="module")
def spark():
    from s2spark.plans.session import build_session
    s = build_session(app_name="s2spark-sim", master="local[4]",
                      shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")


def test_ivf_schema_swappable_with_exact(emb, queries):
    exact = similarity.brute_force_topk(emb, queries, k=5)
    ivf = similarity.ivf_topk(emb, queries, k=5)
    assert exact.schema == ivf.schema
    assert ivf.groupBy("query_id").count().agg(F.max("count")).collect()[0][0] <= 5


def test_ivf_recall_vs_exact(emb, queries):
    """With nprobe covering a quarter of the lists, IVF top-1 should hit the
    exact top-1 for most queries, and every returned similarity must be a
    true cosine (cross-checked against the exact score for that pair)."""
    exact = similarity.brute_force_topk(emb, queries, k=1) \
        .select("query_id", F.col("vec_id").alias("true_top1"))
    ivf = similarity.ivf_topk(emb, queries, k=1) \
        .select("query_id", F.col("vec_id").alias("ivf_top1"))
    hits = exact.join(ivf, "query_id") \
        .select(F.avg((F.col("true_top1") == F.col("ivf_top1")).cast("double"))) \
        .collect()[0][0]
    # every query's own vector is in the index; top-1 is always itself, so
    # recall@1 is exactly 1.0 whenever the probe includes the home list
    assert hits >= 0.75


def test_ivf_scores_are_exact_cosines(emb, queries):
    ivf = similarity.ivf_topk(emb, queries, k=5)
    exact = similarity.brute_force_topk(emb, queries, k=500)
    joined = ivf.select("query_id", "vec_id", F.col("cos_sim").alias("a")) \
        .join(exact.select("query_id", "vec_id", F.col("cos_sim").alias("b")),
              ["query_id", "vec_id"])
    n_bad = joined.where(F.col("a") != F.col("b")).count()
    assert n_bad == 0
    assert joined.count() == ivf.count()  # every IVF pair exists in exact


def test_ivf_deterministic(emb, queries):
    a = similarity.ivf_topk(emb, queries, k=5).collect()
    b = similarity.ivf_topk(emb, queries, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivf_assignment_shuffles_O_N_not_NxC(emb, queries):
    """Scale-plan contract: centroid assignment must never shuffle the
    N*C candidate set.  The executed plan must reduce candidates with a
    partial max_by aggregate (map-side, pre-exchange) and must contain no
    Window partitioned by the data-side key (a row_number there would
    exchange all N*C rows)."""
    ivf = similarity.ivf_topk(emb, queries, k=5)
    plan = ivf._jdf.queryExecution().executedPlan().toString()
    # no window over the data-side key (vec_id): windows are only allowed
    # on the tiny query side (query_id)
    assert "windowspecdefinition(vec_id" not in plan
    # assignment argmax runs as partial (map-side) max_by aggregation
    assert "partial_max_by" in plan


def _semdedup_brute_force(emb_df, threshold=0.35, stride=31):
    """Independent oracle: numpy assignment + union-find over
    within-cluster pairs, same rounding/tie-break contract."""
    import numpy as np

    rows = emb_df.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    v = np.array([r["embedding"] for r in rows], dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    order = np.argsort(ids)
    ids, v = ids[order], v[order]
    cmask = ids % stride == 0
    cids, cv = ids[cmask], v[cmask]
    sims = np.round(v @ cv.T, 4)
    # argmax by (sim desc, centroid_id asc): centroids are sorted by id,
    # np.argmax takes the FIRST max -> lowest centroid id on ties
    assign = cids[np.argmax(sims, axis=1)]

    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for c in np.unique(assign):
        member_idx = np.where(assign == c)[0]
        mv, mids = v[member_idx], ids[member_idx]
        cs = np.round(mv @ mv.T, 4)
        n = len(member_idx)
        for i in range(n):
            for j in range(i + 1, n):
                if cs[i, j] >= threshold:
                    a, b = find(int(mids[i])), find(int(mids[j]))
                    if a != b:
                        lo, hi = min(a, b), max(a, b)
                        parent[hi] = lo
    return {int(i): find(int(i)) for i in ids}


def test_semdedup_matches_brute_force(emb):
    got = {r["vec_id"]: (r["cluster_id"], r["is_kept"])
           for r in similarity.semdedup(emb, threshold=0.35).collect()}
    want = _semdedup_brute_force(emb, threshold=0.35)
    assert set(got) == set(want)
    for vid, comp in want.items():
        assert got[vid] == (comp, comp == vid), vid
    # sanity: the fixture actually exercises multi-member clusters
    n_dropped = sum(1 for _, (c, kept) in got.items() if not kept)
    assert n_dropped > 0


def test_semdedup_covers_every_row_once(emb):
    out = similarity.semdedup(emb, threshold=0.35)
    n = emb.count()
    assert out.count() == n
    assert out.select("vec_id").distinct().count() == n
    # exactly one kept canonical per cluster, and it is the min id
    agg = (out.groupBy("cluster_id")
           .agg(F.sum(F.col("is_kept").cast("int")).alias("n_kept"),
                F.min("vec_id").alias("mn"))
           .collect())
    for r in agg:
        assert r["n_kept"] == 1
        assert r["mn"] == r["cluster_id"]


def test_semdedup_threshold_monotone(emb):
    """A stricter threshold can only drop FEWER documents."""
    loose = similarity.semdedup(emb, threshold=0.3)
    strict = similarity.semdedup(emb, threshold=0.45)
    n_loose = loose.where(~F.col("is_kept")).count()
    n_strict = strict.where(~F.col("is_kept")).count()
    assert n_strict <= n_loose


def test_quantize_int8_hand_computed(spark):
    from s2spark.operators.similarity import quantize_int8
    emb = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.0]), (2, [0.0, 0.0]), (3, [-2.0, 1.0])],
        "vec_id long, embedding array<float>")
    rows = {r["vec_id"]: r for r in quantize_int8(emb).collect()}
    assert rows[1]["dim"] == 3 and rows[1]["scale"] == 1.0
    # -0.5 * 127 = -63.5 -> round-half-even -> -64
    assert rows[1]["q"] == "127,-64,0"
    assert rows[2]["scale"] == 0.0 and rows[2]["q"] == "0,0"
    assert rows[3]["scale"] == 2.0 and rows[3]["q"] == "-127,64"


def test_quantize_int8_codes_bounded_and_dequant_close(spark):
    from s2spark.operators.similarity import quantize_int8
    import numpy as np
    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(40)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    orig = {i: np.asarray(v, dtype=np.float32) for i, v in vecs}
    for r in quantize_int8(emb).collect():
        q = np.array([int(t) for t in r["q"].split(",")])
        assert np.abs(q).max() <= 127
        deq = q * (r["scale"] / 127.0)
        # max-abs scaling: reconstruction error bounded by s/254 per dim
        assert np.abs(deq - orig[r["vec_id"]]).max() <= r["scale"] / 254 + 1e-5


def test_recall_at_k_hand_computed(spark):
    """recall_at_k on a hand-built truth/retrieved pair: full hit, partial
    hit, zero-retrieved query, and extra retrieved items for an unknown
    query (ignored — recall is defined over the truth set)."""
    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)],
        "query_id long, vec_id long")
    retrieved = spark.createDataFrame(
        [(1, 10), (1, 11),          # query 1: both found
         (2, 21), (2, 99),          # query 2: one of two + a miss
         (9, 90)],                  # unknown query: ignored
        "query_id long, vec_id long")
    out = {r["query_id"]: r.asDict()
           for r in similarity.recall_at_k(truth, retrieved).collect()}
    assert sorted(out) == [1, 2, 3]
    assert out[1] == {"query_id": 1, "n_true": 2, "n_retrieved": 2,
                      "n_hit": 2, "recall": 1.0}
    assert out[2] == {"query_id": 2, "n_true": 2, "n_retrieved": 2,
                      "n_hit": 1, "recall": 0.5}
    assert out[3] == {"query_id": 3, "n_true": 1, "n_retrieved": 0,
                      "n_hit": 0, "recall": 0.0}
