"""Round-6 optimization equivalence tests.

Each r6 rewrite claims bit-identical results to the r5 form; these tests
pin that claim against in-test reference implementations (the old
expression shapes), independent of the DuckDB oracle gate.
"""

import importlib.util
import random
from pathlib import Path

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from s2spark.plans.session import build_session
    s = build_session(app_name="s2spark-r06-opt", master="local[4]",
                      shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "one two",
    "single",
    "",
    "   leading and   trailing   ",
    "tab\tseparated\twords here",
    "a b c d e f g h i j k l m n o p",
    "dup dup dup dup dup",
    "Mixed CASE Words And MORE mixed case",
]


@pytest.mark.parametrize("n", [2, 3, 5])
def test_word_ngrams_matches_legacy_slice_form(spark, n):
    """r6 element_at-concat gram builder == r5 concat_ws(slice) builder."""
    from s2spark.operators.textstats import word_ngrams

    def legacy(col, n):
        norm = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
        toks = F.split(norm, " ")
        grams = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        return F.when(F.size(toks) < n, F.array().cast("array<string>")) \
                .otherwise(grams)

    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                               "id int, text string")
    out = df.select("id", word_ngrams(F.col("text"), n).alias("new"),
                    legacy(F.col("text"), n).alias("old")).collect()
    for row in out:
        assert row["new"] == row["old"], (n, row["id"])


def test_decontaminate_matches_legacy_two_pass(spark):
    """r6 single-pass decontaminate == r5 two-pass (sizes |><| hits) form,
    including zero-gram and zero-overlap documents."""
    from s2spark.operators.textstats import decontaminate, word_ngrams

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "the quick brown fox jumps"),
         (3, "xx"),                        # < n words: zero grams
         (4, "nothing shared here at all")],
        "doc_id int, text string")
    benchmark = spark.createDataFrame(
        [(10, "alpha beta gamma zeta"), (11, "quick brown fox trots")],
        "doc_id int, text string")

    def legacy(corpus, benchmark, n_words=3, threshold=0.05):
        bench_grams = (benchmark
                       .select(F.explode(F.array_distinct(
                           word_ngrams(F.col("text"), n_words))).alias("gram"))
                       .distinct())
        grams = corpus.select(
            F.col("doc_id"),
            F.array_distinct(word_ngrams(F.col("text"), n_words)).alias("__g"))
        sizes = grams.select("doc_id", F.size("__g").alias("n_grams"))
        hits = (grams.select("doc_id", F.explode("__g").alias("gram"))
                .join(F.broadcast(bench_grams), "gram")
                .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_overlap")))
        out = (sizes.join(hits, "doc_id", "left")
               .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
               .withColumn("overlap_frac", F.round(
                   F.col("n_overlap") / F.greatest("n_grams", F.lit(1)), 6)))
        return out.withColumn("contaminated",
                              F.col("overlap_frac") >= threshold)

    new = decontaminate(corpus, benchmark, n_words=3, threshold=0.05)
    old = legacy(corpus, benchmark)
    assert new.columns == old.columns
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
    assert dict(new.dtypes)["n_grams"] == "int"


def test_build_corpus_index_matches_legacy_join_form(spark):
    """r6 single-pass index (signature array carried through the band
    explode) == r5 buckets-join-signatures form."""
    from s2spark.operators.dedup import (build_corpus_index,
                                         minhash_lsh_buckets,
                                         minhash_signatures)

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS) if t.strip()],
        "doc_id int, text string")
    num_hashes, bands, n = 16, 4, 5

    sig = minhash_signatures(docs, "text", "doc_id", n, num_hashes)
    buckets = minhash_lsh_buckets(docs, "text", "doc_id", n, num_hashes,
                                  bands, signatures=sig)
    sig_arr = sig.select(
        "doc_id",
        F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("corpus_sig"))
    legacy = (buckets.join(sig_arr, "doc_id")
              .select("band", "bucket", F.col("doc_id").alias("corpus_id"),
                      "corpus_sig"))

    new = build_corpus_index(docs, "text", "doc_id", n, num_hashes, bands)
    assert new.columns == legacy.columns
    assert sorted(map(tuple, new.collect())) == \
        sorted(map(tuple, legacy.collect()))


def test_chunk_dedup_totals_from_exploded_relation(spark):
    """r6 derives n_chunks_total from the exploded relation; it must equal
    ceil(words / chunk_words) floored at 1, including whitespace-only and
    fully-deduplicated documents."""
    from s2spark.operators.dedup import chunk_dedup

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven"),
         (2, "one two three four five six seven"),     # exact dup of 1
         (3, "  "),                                    # whitespace-only
         (4, "a b c")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           chunk_dedup(docs, chunk_words=3).collect()}
    assert out[1]["n_chunks_total"] == 3 and out[1]["n_chunks_kept"] == 3
    # doc 2: every chunk first occurred in doc 1 -> empty text survives
    assert out[2]["n_chunks_total"] == 3 and out[2]["n_chunks_kept"] == 0
    assert out[2]["dedup_text"] == ""
    assert out[3]["n_chunks_total"] == 1
    assert out[4]["n_chunks_total"] == 1 and out[4]["n_chunks_kept"] == 1
    assert dict(chunk_dedup(docs).dtypes)["n_chunks_total"] == "int"


def test_covercache_roundtrip():
    """cached_rows: compute-once, then memo hits (normalized to lists);
    recomputes after a memo clear; distinct keys stay distinct."""
    from s2spark.plans import covercache

    covercache._MEMO.clear()
    calls = []

    def compute():
        calls.append(1)
        return [(1, 2), (3, 4)]

    assert covercache.cached_rows(("k", 1), compute) == [[1, 2], [3, 4]]
    assert covercache.cached_rows(("k", 1), compute) == [[1, 2], [3, 4]]
    assert len(calls) == 1                     # memo hit
    covercache._MEMO.clear()
    assert covercache.cached_rows(("k", 1), compute) == [[1, 2], [3, 4]]
    assert len(calls) == 2                     # no disk tier: recomputed
    assert covercache.cached_rows(("k", 2), lambda: [(9, 9)]) == [[9, 9]]


def test_covercache_evicts_oldest_at_cap(monkeypatch):
    """The memo is bounded: past MAX_ENTRIES the oldest entry goes, in
    place (the dict object others alias is never rebound)."""
    from s2spark.operators import spatial_join as sj
    from s2spark.plans import covercache

    monkeypatch.setattr(covercache, "MAX_ENTRIES", 3)
    memo = covercache._MEMO
    memo.clear()
    for k in range(5):
        covercache.cached_rows(("k", k), lambda: [(k,)])
    assert list(memo) == [("k", 2), ("k", 3), ("k", 4)]
    assert covercache._MEMO is memo and sj._COVERING_CACHE is memo
    memo.clear()


# one vertex sequence, split into loops two ways: (triangle, quad) and
# (square, triangle) — different regions, identical concatenated bytes
_SPLIT_VERTS = "0:0, 0:1, 1:1, 1:0, 2:8, 8:10, 9:4"


def _split_polygon(first: int, depths=(0, 0)):
    from s2spark.kernel.loops import Loop, Polygon
    from s2spark.sources.fixtures import parse_vertices

    v = parse_vertices(_SPLIT_VERTS)
    return Polygon([Loop(v[:first], depth=depths[0]),
                    Loop(v[first:], depth=depths[1])])


def test_skin_covering_distinguishes_loop_splits():
    """Polygons whose loops split one vertex sequence differently get their
    own coverings, also after a memo clear (a digest over the joined loop
    bytes once served one the other's covering)."""
    import numpy as np
    from s2spark.kernel import cellid as ci
    from s2spark.operators.spatial_join import build_coverings
    from s2spark.plans import covercache

    a, b = _split_polygon(3), _split_polygon(4)
    covercache._MEMO.clear()
    cov_a = build_coverings({1: a})
    covercache._MEMO.clear()
    cov_b = build_coverings({1: b})
    assert not cov_a.equals(cov_b)
    for poly, cov in ((a, cov_a), (b, cov_b)):
        cells = ci.to_unsigned(cov["cov_cell_id"].to_numpy(np.int64))
        may, cont = poly.relate_cells(cells)
        assert may.all()
        assert cont[cov["is_interior"].to_numpy()].all()
    covercache._MEMO.clear()


def test_covering_cache_key_covers_every_input(spark):
    """Changing any coverer input misses the covering cache; repeating an
    input hits it."""
    from s2spark.kernel.loops import Loop, Polygon
    from s2spark.operators import distance_ops
    from s2spark.operators.cap_query import cap_coverings
    from s2spark.operators.rect_query import rect_coverings
    from s2spark.operators.spatial_join import build_coverings
    from s2spark.plans import covercache
    from s2spark.sources.fixtures import parse_vertices

    pts = spark.createDataFrame([(0.5, 0.5, 0)],
                                "lat double, lng double, cell_id long")
    square = Polygon([Loop(parse_vertices("0:0, 0:1, 1:1, 1:0"))])
    wider = Polygon([Loop(parse_vertices("0:0, 0:2, 1:2, 1:0"))])
    track = [(0.0, 0.0), (1.0, 1.0)]
    variants = [
        lambda: build_coverings({1: square}),
        lambda: build_coverings({1: wider}),                       # vertices
        lambda: build_coverings({1: _split_polygon(3)}),
        lambda: build_coverings({1: _split_polygon(4)}),           # loop split
        lambda: build_coverings({1: _split_polygon(3, (0, 1))}),   # depth
        lambda: build_coverings({1: square}, max_cells=8),         # max_cells
        lambda: cap_coverings({1: (0.0, 0.0, 0.01)}),
        lambda: cap_coverings({1: (0.0, 1.0, 0.01)}),              # cap centre
        lambda: cap_coverings({1: (0.0, 0.0, 0.02)}),              # cap radius
        lambda: cap_coverings({1: (0.0, 0.0, 0.01)}, max_cells=8),
        lambda: rect_coverings({1: (0.0, 0.0, 1.0, 1.0)}),
        lambda: rect_coverings({1: (0.0, 0.0, 1.0, 2.0)}),         # rect
        lambda: rect_coverings({1: (0.0, 0.0, 1.0, 1.0)}, max_cells=8),
        lambda: distance_ops.buffered_polygon_join(spark, pts, {1: square}, 0.001),
        lambda: distance_ops.buffered_polygon_join(spark, pts, {1: wider}, 0.001),
        lambda: distance_ops.buffered_polygon_join(spark, pts, {1: square}, 0.002),
        lambda: distance_ops.buffered_polygon_join(
            spark, pts, {1: square}, 0.001, coverer_max_cells=8),
        lambda: distance_ops.buffered_polygon_join(
            spark, pts, {1: square}, 0.001, max_level_diff=3),
        lambda: distance_ops.corridor_join(spark, pts, {1: track}, 0.001),
        lambda: distance_ops.corridor_join(
            spark, pts, {1: [(0.0, 0.0), (1.0, 2.0)]}, 0.001),     # track
        lambda: distance_ops.corridor_join(spark, pts, {1: track}, 0.002),
        lambda: distance_ops.corridor_join(
            spark, pts, {1: track}, 0.001, coverer_max_cells=8),
        lambda: distance_ops.corridor_join(
            spark, pts, {1: track}, 0.001, max_level_diff=3),
    ]
    covercache._MEMO.clear()
    for i, build in enumerate(variants):
        build()
        assert len(covercache._MEMO) == i + 1, i      # miss: one new entry
    for build in variants:
        build()
    assert len(covercache._MEMO) == len(variants)     # repeats: all hits
    covercache._MEMO.clear()


def test_snapshot_version_gate(spark, tmp_path):
    """resume_or_compute with a stage-definition version must NOT resume a
    snapshot committed under a different (or no) version — the r5 advisor's
    stale-resume hazard — while same-version resumes still hit."""
    from s2spark.plans.checkpoint import SnapshotStore

    store = SnapshotStore(str(tmp_path / "snaps"))
    calls = []

    def make(tag):
        def compute():
            calls.append(tag)
            return spark.createDataFrame([(tag,)], "v string")
        return compute

    # unversioned commit (pre-versioning workdir)
    assert store.resume_or_compute(spark, "s", make("a")).first()["v"] == "a"
    # versioned resume over an unversioned snapshot -> recompute
    assert store.resume_or_compute(spark, "s", make("b"),
                                   version="v2").first()["v"] == "b"
    # same version -> resume, no recompute
    assert store.resume_or_compute(spark, "s", make("c"),
                                   version="v2").first()["v"] == "b"
    # changed version -> recompute again
    assert store.resume_or_compute(spark, "s", make("d"),
                                   version="v3").first()["v"] == "d"
    assert calls == ["a", "b", "d"]
    # history preserved: three snapshots in the log
    assert [r["snapshot_id"] for r in store.snapshots("s")] == [1, 2, 3]


def test_connected_components_accepts_zero_scale_decimal(spark):
    """decimal(k,0) node ids (Parquet/JDBC-sourced) cast losslessly and
    must be accepted; fractional decimals and strings still fail loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from s2spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)],
                                  "id_a long, id_b long")
    dec = pairs.select(F.col("id_a").cast("decimal(18,0)").alias("id_a"),
                       F.col("id_b").cast("decimal(18,0)").alias("id_b"))
    out = {r["node"]: r["component"]
           for r in connected_components(dec).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    frac = pairs.select(F.col("id_a").cast("decimal(10,2)").alias("id_a"),
                        F.col("id_b").cast("decimal(10,2)").alias("id_b"))
    with _pytest.raises(TypeError):
        connected_components(frac)
    strs = pairs.select(F.col("id_a").cast("string").alias("id_a"),
                        F.col("id_b").cast("string").alias("id_b"))
    with _pytest.raises(TypeError):
        connected_components(strs)


def test_dedup_resolve_matches_python_oracle(spark):
    """End-to-end pin of the r6-touched signature->LSH->verify->CC->resolve
    chain against the independent pure-Python oracle
    (tools/py_oracle_resolve.py: hashlib md5 + set algebra + union-find,
    mirroring the frozen DuckDB oracle SQL semantics) on a randomized
    template-heavy corpus — near-dups by truncation/word-edit, exact dups,
    and boilerplate-sharing docs that collide in LSH buckets without being
    true near-dups (the regime the estimate gate exists for)."""
    spec = importlib.util.spec_from_file_location(
        "py_oracle_resolve",
        Path(__file__).resolve().parents[1] / "tools" / "py_oracle_resolve.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    boiler = " ".join(rnd.choice(vocab) for _ in range(12))
    rows, did = [], 0
    for _ in range(45):
        words = [rnd.choice(vocab) for _ in range(rnd.randint(6, 30))]
        if rnd.random() < 0.5:            # shared boilerplate prefix
            text = boiler + " " + " ".join(words)
        else:
            text = " ".join(words)
        rows.append((did, text)); did += 1
        r = rnd.random()
        if r < 0.3:                        # exact duplicate
            rows.append((did, text)); did += 1
        elif r < 0.6:                      # near-dup: truncate a few words
            rows.append((did, " ".join(text.split()[:-rnd.randint(1, 2)])))
            did += 1
        elif r < 0.8:                      # near-dup: one word edited
            ws = text.split(); ws[rnd.randrange(len(ws))] = rnd.choice(vocab)
            rows.append((did, " ".join(ws))); did += 1
    # whitespace variants, where trim() (spaces only) and the ASCII \s
    # class decide the shingles: tab borders, CRLF breaks, multi-space runs
    for k, (_, text) in enumerate(rows[:12]):
        variant = ("\t" + text + "\t", text.replace(" ", "\r\n"),
                   text.replace(" ", "   "))[k % 3]
        rows.append((did, variant)); did += 1

    from s2spark.operators.dedup import dedup_resolve
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in dedup_resolve(df).collect())
    expected = mod.py_resolve(rows)
    assert got == expected
    # the corpus must actually exercise clustering, not just singletons
    assert sum(1 for r in expected if r[0] != r[1]) >= 10
