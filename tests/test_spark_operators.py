"""Spark-integration tests for the distributed operators (small local
session; conformance anchored to the pure-kernel brute force)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2spark.functions import columns as C
from s2spark.kernel import cellid as ci
from s2spark.operators.spatial_join import points_with_cells, spatial_join
from s2spark.operators import spatial_join_shuffle as sjs
from s2spark.operators.spatial_join_shuffle import (polygons_to_df,
                                                    spatial_join_shuffle)
from s2spark.operators.tiling import raster_to_vector, tile_counts, vector_to_raster
from s2spark.sources.fixtures import make_polygon
from s2spark.sources.pages import mine_coordinates, synthesize_pages
from tests.test_loops import INVALID_LOOPS


@pytest.fixture(scope="module")
def spark():
    from s2spark.plans.session import build_session
    s = build_session(app_name="s2spark-tests", master="local[4]",
                      shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def polygons():
    return {1: make_polygon("-4:-4, -4:4, 4:4, 4:-4;"),
            2: make_polygon("48.5:2.0, 48.5:2.7, 49.2:2.7, 49.2:2.0;")}


@pytest.fixture(scope="module")
def pts(spark):
    df = points_with_cells(
        mine_coordinates(synthesize_pages(spark, 20000).select("url", "text")))
    return df.select("url", "cell_id", "x", "y", "z").cache()


def test_column_encode_matches_kernel(spark):
    import pandas as pd
    rng = np.random.default_rng(7)
    lats = rng.uniform(-90, 90, 5000)
    lngs = rng.uniform(-180, 180, 5000)
    df = spark.createDataFrame(pd.DataFrame({"lat": lats, "lng": lngs}))
    got = C.with_cell_id(df, "lat", "lng").select("lat", "lng", "cell_id").toPandas()
    expect = ci.to_signed(ci.from_latlng_deg(got["lat"].to_numpy(), got["lng"].to_numpy()))
    assert np.array_equal(got["cell_id"].to_numpy(), expect)


def test_spatial_join_matches_bruteforce(spark, polygons, pts):
    res = (spatial_join(spark, pts, polygons)
           .groupBy("polygon_id").count().toPandas().set_index("polygon_id")["count"])
    pdf = pts.select("x", "y", "z").toPandas()
    for pid, poly in polygons.items():
        expect = int(poly.contains_points(pdf["x"].to_numpy(), pdf["y"].to_numpy(),
                                          pdf["z"].to_numpy()).sum())
        assert int(res.get(pid, 0)) == expect


def test_spatial_join_over_empty_polygon_returns_no_rows(spark, polygons, pts):
    """An empty boolean result (intersection of disjoint polygons) joins
    no point, alone or beside a non-empty polygon."""
    from s2spark.kernel import booleans

    empty = booleans.intersection(polygons[1], polygons[2])
    assert empty.loops == []
    assert spatial_join(spark, pts, {3: empty}).count() == 0
    both = spatial_join(spark, pts, {1: polygons[1], 3: empty})
    assert both.subtract(spatial_join(spark, pts, {1: polygons[1]})).count() == 0
    assert both.where("polygon_id = 3").count() == 0


@pytest.mark.parametrize("shape", INVALID_LOOPS)
def test_invalid_loop_raises_at_covering_time(spark, pts, shape):
    from s2spark.operators.distance_ops import buffered_polygon_join
    from s2spark.plans import covercache

    poly = make_polygon(shape)
    xyz = pts.select("url", "cell_id", "x", "y", "z")
    lat_lng = pts.select("url", "cell_id", F.lit(0.0).alias("lat"),
                         F.lit(0.0).alias("lng"))
    covercache._MEMO.clear()
    with pytest.raises(ValueError, match="not valid"):
        spatial_join(spark, xyz, {1: poly})
    with pytest.raises(ValueError, match="not valid"):
        buffered_polygon_join(spark, lat_lng, {1: poly}, 0.01)


def test_shuffle_join_equals_broadcast(spark, polygons, pts, monkeypatch):
    a = spatial_join(spark, pts, polygons).select("url", "polygon_id")
    # default: small polygon side takes the broadcast-refine fast path
    b = spatial_join_shuffle(spark, pts, polygons_to_df(spark, polygons),
                             hot_threshold=500, n_salt=3).select("url", "polygon_id")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # forced cogroup refine (the non-broadcastable-polygon path) must
    # produce the identical result
    monkeypatch.setattr(sjs, "REFINE_BROADCAST_LOOPS", 0)
    c = spatial_join_shuffle(spark, pts, polygons_to_df(spark, polygons),
                             hot_threshold=500, n_salt=3).select("url", "polygon_id")
    assert a.exceptAll(c).count() == 0
    assert c.exceptAll(a).count() == 0


def test_text_byte_identity(spark):
    """The miner must carry `text` byte-identical per url (north_star)."""
    pages = synthesize_pages(spark, 3000).select("url", "text")
    mined = mine_coordinates(pages)
    joined = (pages.alias("a")
              .join(mined.alias("b"), "url")
              .where(F.col("a.text") != F.col("b.text")))
    assert joined.count() == 0


def test_miner_semantics_on_crafted_text(spark):
    """The first "lat, lng" pair of a text wins; a text without a pair and
    an off-globe pair are dropped; the globe's edge is kept; the output
    columns are the input's plus lat, lng."""
    texts = [
        ("u1", "at 12.5000, -3.2500 then 40.0000, 50.0000"),  # first wins
        ("u2", "no coordinates at all"),
        ("u3", "at 91.0000, 10.0000"),                        # off the globe
        ("u4", "at 10.0000, 180.0001"),                       # off the globe
        ("u5", "edge 90.0000, -180.0000 here"),
        ("u6", "short 1.25, 2.5000 and -0.0001, 0.0000"),     # 4 decimals only
    ]
    mined = mine_coordinates(
        spark.createDataFrame(texts, "url string, text string"))
    assert mined.columns == ["url", "text", "lat", "lng"]
    assert dict(mined.dtypes)["lat"] == dict(mined.dtypes)["lng"] == "double"
    got = {r["url"]: (r["text"], r["lat"], r["lng"]) for r in mined.collect()}
    assert got == {
        "u1": (texts[0][1], 12.5, -3.25),
        "u5": (texts[4][1], 90.0, -180.0),
        "u6": (texts[5][1], -0.0001, 0.0),
    }


def test_raster_vector_roundtrip(spark, polygons):
    """vector->raster at level L then raster->vector must normalize back to
    a covering of the same area (supersets collapse to parents)."""
    from s2spark.operators.spatial_join import build_coverings
    cov = spark.createDataFrame(build_coverings(polygons))
    cov = cov.select("polygon_id", F.col("cov_cell_id").alias("cell_id"))
    L = 10
    raster = vector_to_raster(cov, L)
    assert raster.where(C.cell_level(F.col("tile_id")) != L).count() == 0
    vec = raster_to_vector(raster)
    # round trip: leaf coverage of the normalized vector == raster tiles
    n_tiles = raster.select("polygon_id", "tile_id").distinct().count()
    back = vector_to_raster(
        vec.select("polygon_id", "cell_id"), L).select("polygon_id", "tile_id").distinct().count()
    assert back == n_tiles


def test_tile_counts_against_duckdb(spark):
    import duckdb
    pages = synthesize_pages(spark, 5000).select("url", "text")
    pts_df = points_with_cells(mine_coordinates(pages))
    got = tile_counts(pts_df, 5).toPandas().sort_values("tile_id").reset_index(drop=True)
    # independent check: group kernel-encoded parents with pandas
    pdf = pts_df.select("lat", "lng").toPandas()
    ids = ci.parent_for_level(ci.from_latlng_deg(pdf["lat"].to_numpy(), pdf["lng"].to_numpy()), 5)
    import pandas as pd
    expect = (pd.Series(ci.to_signed(ids)).value_counts().rename_axis("tile_id")
              .reset_index(name="n_pages").sort_values("tile_id").reset_index(drop=True))
    assert got.equals(expect[["tile_id", "n_pages"]])


def test_knn_join_exact(spark):
    """knn_join results equal brute-force nearest neighbors."""
    import pandas as pd
    from s2spark.operators.knn import knn_join
    rng = np.random.default_rng(11)
    lats = rng.uniform(-60, 60, 500)
    lngs = rng.uniform(-170, 170, 500)
    pdf = pd.DataFrame({"data_id": np.arange(500), "lat": lats, "lng": lngs})
    df = C.with_cell_id(spark.createDataFrame(pdf), "lat", "lng")
    queries = (df.where(F.col("data_id") < 5)
               .select(F.col("data_id").alias("query_id"), "lat", "lng", "cell_id"))
    got = knn_join(queries, df, k=4, initial_radius_rad=0.02).toPandas()
    # brute force haversine
    lat_r = np.radians(lats); lng_r = np.radians(lngs)
    for qid in range(5):
        d = 2 * np.arcsin(np.sqrt(
            np.sin((lat_r - lat_r[qid]) / 2) ** 2
            + np.cos(lat_r) * np.cos(lat_r[qid]) * np.sin((lng_r - lng_r[qid]) / 2) ** 2))
        order = np.lexsort((np.arange(500), d))
        expect = set(order[:4].tolist())
        got_ids = set(got[got.query_id == qid]["data_id"].tolist())
        assert got_ids == expect, f"query {qid}"


def test_radius_join_planet_scale_radius(spark):
    """Regression: for 2r beyond the level-0 min cell width (~54 deg) no
    cell at any level contains the query disc, so the 4-vertex-neighbor
    bucket guarantee is void — a 3-rad disc reaches faces that never touch
    the query's nearest cube vertex, and matches there were silently
    dropped.  Such radii must probe all six faces (exact filter does the
    work) and still respect the exact distance boundary."""
    import pandas as pd
    from s2spark.operators.knn import radius_join
    qdf = C.with_cell_id(spark.createDataFrame(pd.DataFrame(
        {"query_id": [1], "lat": [0.0], "lng": [0.0]})), "lat", "lng")
    ddf = C.with_cell_id(spark.createDataFrame(pd.DataFrame(
        {"data_id": [10, 11, 12, 13], "lat": [0.0] * 4,
         "lng": [60.0, 140.0, 170.0, 179.9]})), "lat", "lng")
    got = sorted(r["data_id"] for r in radius_join(qdf, ddf, 3.0).collect())
    # 179.9 deg = 3.139 rad > 3.0: outside; the rest inside
    assert got == [10, 11, 12]
    assert radius_join(qdf, ddf, 0.01).count() == 0


def test_jaccard_df_cap(spark):
    """df_cap >= max shingle frequency leaves output unchanged; a tiny cap
    removes hot-shingle contributions (lower-bound Jaccard)."""
    import pandas as pd
    from s2spark.operators.dedup import ngram_jaccard_pairs
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(6),
        "text": ["the quick brown fox jumps", "the quick brown fox leaps",
                 "a completely different text", "a completely different text!",
                 "the quick brown fox jumps", "unrelated content here"]}))
    exact = ngram_jaccard_pairs(docs, n=4, threshold=0.3, df_cap=None).toPandas()
    capped_loose = ngram_jaccard_pairs(docs, n=4, threshold=0.3,
                                       df_cap=1000).toPandas()
    key = lambda d: sorted(map(tuple, d[["id_a", "id_b", "jaccard"]].values.tolist()))
    assert key(exact) == key(capped_loose)
    capped_tight = ngram_jaccard_pairs(docs, n=4, threshold=0.3,
                                       df_cap=1).toPandas()
    assert len(capped_tight) == 0  # every shared shingle has df >= 2


def test_multimodal_media_stats(spark):
    """mapInPandas decode->stats pipeline: deterministic fake decode,
    histogram sums to 64 pixels, stats match a direct numpy recompute."""
    import hashlib
    from s2spark.operators.multimodal import media_stats, synthesize_media
    media = synthesize_media(spark, 50)
    got = media_stats(media).toPandas().sort_values("media_id").reset_index(drop=True)
    assert len(got) == 50
    hist = got[[f"h{b}" for b in range(6)]].to_numpy()
    assert (hist.sum(axis=1) == 64).all()
    # recompute row 0 independently
    payload = bytes(media.where(F.col("media_id") == 0)
                    .select("payload").collect()[0][0])
    raw = b"".join(hashlib.md5(payload + b"_" + str(i).encode()).digest()
                   for i in range(12))
    px = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.float64)
    assert got.loc[0, "mean_r"] == pytest.approx(
        round((px[:, 0] / 255.0).mean(), 6), abs=1e-12)
    assert got.loc[0, "std_b"] == pytest.approx(
        round((px[:, 2] / 255.0).std(), 6), abs=1e-12)


def test_rect_distance_column_vs_kernel(spark):
    """The codegen rect-distance Column equals the scalar kernel
    (LatLngRect.get_distance_latlng) on random points, incl. a wrapping rect."""
    import pandas as pd
    from s2spark.operators.distance_ops import rect_distance, rect_from_degrees
    rects = {1: (10.0, 20.0, 25.0, 55.0), 2: (40.0, 150.0, 70.0, -160.0)}
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({"pid": np.arange(300),
                        "lat": rng.uniform(-85, 85, 300),
                        "lng": rng.uniform(-180, 180, 300)})
    got = (rect_distance(spark.createDataFrame(pdf), rects)
           .toPandas().sort_values(["rect_id", "pid"]).reset_index(drop=True))
    for rid, rect in rects.items():
        r = rect_from_degrees(rect)
        sub = got[got.rect_id == rid]
        for _, row in sub.iterrows():
            want = r.get_distance_latlng(np.radians(row.lat), np.radians(row.lng))
            assert row.distance_rad == pytest.approx(want, abs=1e-12)


def test_polyline_project_column_vs_kernel(spark):
    """The codegen projection Column equals the batch kernel
    (Polyline.project_points) on random points."""
    import pandas as pd
    from s2spark.kernel.polyline import Polyline
    from s2spark.operators.distance_ops import polyline_project
    track = [(48.0, 2.0), (48.5, 2.5), (49.0, 2.0), (50.0, 4.0)]
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({"pid": np.arange(300),
                        "lat": rng.uniform(30, 65, 300),
                        "lng": rng.uniform(-20, 25, 300)})
    got = (polyline_project(spark.createDataFrame(pdf), track)
           .toPandas().sort_values("pid").reset_index(drop=True))
    lat_r, lng_r = np.radians(pdf["lat"]), np.radians(pdf["lng"])
    px = np.cos(lat_r) * np.cos(lng_r)
    py = np.cos(lat_r) * np.sin(lng_r)
    pz = np.sin(lat_r)
    line = Polyline(np.array(
        [[np.cos(np.radians(la)) * np.cos(np.radians(ln)),
          np.cos(np.radians(la)) * np.sin(np.radians(ln)),
          np.sin(np.radians(la))] for la, ln in track]))
    idx, qx, qy, qz, d = line.project_points(
        px.to_numpy(), py.to_numpy(), pz.to_numpy())
    assert got["edge_idx"].to_numpy().tolist() == idx.tolist()
    np.testing.assert_allclose(got["distance_rad"].to_numpy(), d, atol=1e-12)
    proj_lat = np.degrees(np.arctan2(qz, np.hypot(qx, qy)))
    proj_lng = np.degrees(np.arctan2(qy, qx))
    np.testing.assert_allclose(got["proj_lat"].to_numpy(), proj_lat, atol=1e-9)
    np.testing.assert_allclose(got["proj_lng"].to_numpy(), proj_lng, atol=1e-9)


def test_knn_join_partial_results(spark):
    """Queries that cannot reach k matches within max_rounds still return
    their partial neighbor lists (matching exact kNN on a small dataset)."""
    import pandas as pd
    from s2spark.operators.knn import knn_join
    # only 3 data points but k=5: partial top-3 must come back per query
    pdf = pd.DataFrame({"data_id": [0, 1, 2],
                        "lat": [10.0, 10.1, 10.2],
                        "lng": [20.0, 20.1, 20.2]})
    df = C.with_cell_id(spark.createDataFrame(pdf), "lat", "lng")
    queries = (df.where(F.col("data_id") == 0)
               .select(F.col("data_id").alias("query_id"), "lat", "lng", "cell_id"))
    got = knn_join(queries, df, k=5, initial_radius_rad=0.01).toPandas()
    assert set(got["data_id"].tolist()) == {0, 1, 2}
    assert sorted(got["rank"].tolist()) == [1, 2, 3]


def test_shuffle_join_skewed_hot_cell(spark, polygons):
    """Deliberate skew: 60% of points at one location (one hot covering
    cell).  The salted plan must (a) detect the hot cell and activate
    key-splitting, and (b) produce exactly the broadcast join's result."""
    from pyspark.sql import functions as F

    base = points_with_cells(
        mine_coordinates(synthesize_pages(spark, 8000).select("url", "text")))
    hot = spark.range(12000).select(
        F.concat(F.lit("hot://"), F.col("id").cast("string")).alias("url"),
        (F.lit(48.85) + (F.col("id") % 100) * 1e-6).alias("lat"),
        (F.lit(2.35) + (F.col("id") % 97) * 1e-6).alias("lng"))
    hot = points_with_cells(hot)
    cols = ["url", "cell_id", "x", "y", "z"]
    pts = base.select(*cols).unionByName(hot.select(*cols)).cache()

    a = spatial_join(spark, pts, polygons).select("url", "polygon_id")
    out = spatial_join_shuffle(
        spark, pts, polygons_to_df(spark, polygons),
        hot_threshold=1000, n_salt=4, hot_sample_fraction=1.0)
    b = out.select("url", "polygon_id")
    # salting activated: the executed plan carries the salt expression
    b.count()
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan, "hot-cell salting did not activate under skew"
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_chunk_dedup(spark, monkeypatch):
    """Span dedup: first corpus occurrence of each chunk wins; fully-
    duplicated docs survive with empty text (C4 semantics)."""
    import pandas as pd
    from s2spark.operators import dedup
    from s2spark.operators.dedup import chunk_dedup
    monkeypatch.setattr(dedup, "CHUNK_WORDS", 3)
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["a b c d e f",          # chunks: "a b c", "d e f"
                 "a b c x y z",          # "a b c" dup -> dropped
                 "A  B c D e F",         # normalizes to doc 0 -> all dup
                 "short"]}))             # single sub-width chunk
    out = {r["doc_id"]: r for r in
           chunk_dedup(docs).toPandas().to_dict("records")}
    assert out[0]["dedup_text"] == "a b c d e f"
    assert (out[0]["n_chunks_kept"], out[0]["n_chunks_total"]) == (2, 2)
    assert out[1]["dedup_text"] == "x y z"
    assert (out[1]["n_chunks_kept"], out[1]["n_chunks_total"]) == (1, 2)
    assert out[2]["dedup_text"] == ""
    assert (out[2]["n_chunks_kept"], out[2]["n_chunks_total"]) == (0, 2)
    assert out[3]["dedup_text"] == "short"
    assert (out[3]["n_chunks_kept"], out[3]["n_chunks_total"]) == (1, 1)


def test_nearest_track_join(spark):
    """Points near two tracks get the closer one; out-of-radius points drop."""
    import pandas as pd
    from s2spark.operators.distance_ops import nearest_track_join
    # track 1: equator segment at lng 0..10; track 2: lat 1 deg north of it
    tracks = {1: [(0.0, 0.0), (0.0, 10.0)],
              2: [(1.0, 0.0), (1.0, 10.0)]}
    pts = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "lat": [0.2, 0.9, 45.0],      # near t1, near t2, far from both
        "lng": [5.0, 5.0, 5.0]}))
    pts = C.with_cell_id(pts, "lat", "lng")
    out = {r["doc_id"]: r["track_id"] for r in
           nearest_track_join(spark, pts, tracks, radius_rad=0.1).collect()}
    assert out == {1: 1, 2: 2}


def test_knn_doubling_crosses_planet_radius_regime(spark):
    """knn.py's all-faces fallback was proven for direct radius_join
    calls; this pins the COMPOSITION: knn_join's ring doubling itself
    must widen past the ~54-deg level-0 bound (k unsatisfiable within a
    hemisphere on a sparse fixture whose remaining neighbors sit beyond
    120 deg) and still match brute force — the 'doubling never reaches
    this regime' assumption is an invariant under test, not a comment
    (knn.py:56-72)."""
    import pandas as pd
    from s2spark.operators.knn import knn_join
    # 2 near neighbors + 4 far ones (>= 120 deg away); k=5 forces the
    # search past the hemisphere for every query
    qdf = C.with_cell_id(spark.createDataFrame(pd.DataFrame(
        {"query_id": [0, 1], "lat": [0.0, 5.0], "lng": [0.0, 5.0]})),
        "lat", "lng")
    lats = np.array([1.0, -2.0, 10.0, -15.0, 5.0, 0.0])
    lngs = np.array([1.0, 2.0, 150.0, -160.0, 175.0, -140.0])
    ddf = C.with_cell_id(spark.createDataFrame(pd.DataFrame(
        {"data_id": np.arange(6), "lat": lats, "lng": lngs})), "lat", "lng")
    # initial 0.1 rad; rounds: 0.1 0.2 0.4 0.8 1.6 3.2 — crosses the
    # 2r > MIN_WIDTH(0) threshold mid-search and ends covering the sphere
    got = knn_join(qdf, ddf, k=5, initial_radius_rad=0.1).toPandas()
    lat_r, lng_r = np.radians(lats), np.radians(lngs)
    for qid, (qlat, qlng) in enumerate(((0.0, 0.0), (5.0, 5.0))):
        qla, qln = math.radians(qlat), math.radians(qlng)
        d = 2 * np.arcsin(np.sqrt(
            np.sin((lat_r - qla) / 2) ** 2
            + np.cos(lat_r) * np.cos(qla) * np.sin((lng_r - qln) / 2) ** 2))
        order = np.lexsort((np.arange(6), d))
        expect = order[:5].tolist()
        sub = got[got.query_id == qid].sort_values("rank")
        assert sub["data_id"].tolist() == expect, f"query {qid}"
        assert np.allclose(np.sort(sub["distance_rad"].to_numpy()),
                           np.sort(d[order[:5]]), atol=1e-12)


def test_release_session_state_unpins_blocks(spark):
    """release_session_state drops cached tables AND persisted RDDs (the
    leak classes bench measured taxing a shared session 3.1x by query 50),
    and leaves the session fully usable."""
    from s2spark.plans.session import release_session_state

    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    df.cache().count()
    ck = spark.range(500).localCheckpoint()
    assert ck.count() == 500
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert len(list(jmap.keys())) >= 1
    n = release_session_state(spark)
    assert n >= 1
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert len(list(jmap.keys())) == 0
    # session still healthy after the explicit GC
    assert spark.range(10).count() == 10
