"""Training-corpus pipeline: end-to-end run, snapshot resume, invariants."""

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from s2spark.plans.session import build_session
    s = build_session(app_name="s2spark-corpus-test", master="local[4]",
                      shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_corpus_pipeline_runs_and_resumes(spark, tmp_path):
    import corpus_pipeline

    wd = str(tmp_path / "run")
    stats = corpus_pipeline.run(spark, SF, wd)
    assert (stats["clean"] <= stats["kept"] <= stats["input"]
            <= stats["unique"] <= stats["raw_input"])
    assert stats["clean"] > 0 and stats["langs"] > 0
    assert stats["audit_rows"] >= 5  # one per audited stage

    # resume: identical stats, replayed from snapshots (no recompute)
    again = corpus_pipeline.run(spark, SF, wd)
    assert again == stats


def test_verified_near_dup_rejects_false_candidates(spark):
    """Exact-Jaccard verification must drop LSH bucket collisions: every
    surviving pair's jaccard is >= the threshold, and the survivors are a
    subset of the raw LSH candidates."""
    from s2spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cand = dedup.minhash_candidate_pairs(docs)
    verified = dedup.verified_near_dup_pairs(docs, threshold=0.8)
    n_cand = cand.count()
    v = verified.collect()
    assert all(r["jaccard"] >= 0.8 for r in v)
    assert len(v) <= n_cand
    sub = {(r["id_a"], r["id_b"]) for r in v}
    allc = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert sub <= allc


def test_dedup_resolve_keeps_longest(spark):
    """Keep-best resolution: the LONGEST doc per near-dup cluster wins
    (not the min id); length ties break to the smallest id; singletons
    keep themselves."""
    from s2spark.operators.dedup import dedup_resolve

    base_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    base_b = "one two three four five six seven eight nine ten " * 4
    base_c = "red orange yellow green blue indigo violet colors here now " * 4
    rows = []
    for i in range(4):                       # cluster 0: doc 3 longest
        rows.append((i, base_a + f" tail{'x' * i}"))
    for i in range(4, 7):                    # cluster 4: doc 6 longest
        rows.append((i, base_b + f" tail{'y' * (i - 4)}"))
    rows.append((7, "completely different text with its own words here okay"))
    rows.append((8, base_c + " tailz0"))     # cluster 8: equal lengths ->
    rows.append((9, base_c + " tailz1"))     #   tie-break to min id 8
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = {r["doc_id"]: (r["cluster_id"], r["kept_doc_id"], r["is_kept"])
           for r in dedup_resolve(docs, threshold=0.5).collect()}
    assert len(out) == 10
    for i in range(4):
        assert out[i] == (0, 3, i == 3)
    for i in range(4, 7):
        assert out[i] == (4, 6, i == 6)
    assert out[7] == (7, 7, True)
    for i in (8, 9):
        assert out[i] == (8, 8, i == 8)
    kept = sorted(d for d, (_, _, k) in out.items() if k)
    assert kept == [3, 6, 7, 8]              # exactly one survivor per cluster


def test_line_dedup_drops_frequent_lines(spark):
    """C4-style line dedup: lines at corpus count >= min_count vanish
    (matched on their TRIMMED form), rarer lines survive in original
    order, whitespace-only lines are removed outright, and fully-banned
    or empty docs come back annotated with text_clean=''."""
    from s2spark.operators.dedup import line_dedup

    docs = spark.createDataFrame([
        (1, "unique one\nSHARED FOOTER\n  \ndup line"),
        (2, "unique two\n  SHARED FOOTER  \ndup line"),
        (3, "SHARED FOOTER\nunique three"),
        (4, "SHARED FOOTER"),
        (5, ""),
    ], "doc_id long, text string")

    out = {r["doc_id"]: r.asDict()
           for r in line_dedup(docs).collect()}
    assert len(out) == 5
    # footer count 4 >= 3 -> banned everywhere; 'dup line' count 2 -> kept
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 2)
    assert out[1]["text_clean"] == "unique one\ndup line"
    assert out[2]["text_clean"] == "unique two\ndup line"
    assert out[3]["text_clean"] == "unique three"
    assert out[4] == {"doc_id": 4, "n_lines": 1, "n_kept": 0,
                      "text_clean": ""}
    assert out[5] == {"doc_id": 5, "n_lines": 0, "n_kept": 0,
                      "text_clean": ""}


def test_lsh_plan_scurve_properties():
    """The band planner's midpoint lands near the target threshold, the
    hash budget is respected, and the S-curve is monotone with the known
    closed-form value at (b=4, r=4)."""
    from s2spark.operators.dedup import lsh_collision_probability, lsh_plan

    for t in (0.3, 0.5, 0.7, 0.8, 0.9):
        for mh in (16, 64, 256):
            p = lsh_plan(t, mh)
            assert p["bands"] * p["rows_per_band"] == p["num_hashes"] <= mh
            assert abs(p["midpoint"] - t) < 0.08
            assert p["p_catch_above"] > p["p_leak_below"]
            if mh >= 64:   # a 16-hash curve is too shallow to split 0.5
                assert p["p_catch_above"] > 0.5 > p["p_leak_below"]
    # closed form: p = 1 - (1 - j^r)^b
    assert abs(lsh_collision_probability(0.8, 4, 4)
               - (1 - (1 - 0.8 ** 4) ** 4)) < 1e-12
    # monotone in jaccard
    probs = [lsh_collision_probability(j / 20, 8, 8) for j in range(21)]
    assert probs == sorted(probs)


def test_line_dedup_matches_python_oracle(spark):
    """Randomized corpus vs a pure-Python reimplementation: identical
    (n_lines, n_kept, text_clean) for every doc."""
    import random
    from collections import Counter

    from s2spark.operators.dedup import MIN_LINE_COUNT, line_dedup

    rng = random.Random(20260818)
    words = ["nav", "home", "article", "foo", "bar", "baz", "qux"]
    docs = []
    for d in range(60):
        n = rng.randint(0, 6)
        ls = [" ".join(rng.choices(words, k=rng.randint(1, 3)))
              for _ in range(n)]
        if rng.random() < 0.3:
            ls.insert(rng.randrange(len(ls) + 1), "   ")   # blank line
        docs.append((d, "\n".join(ls)))

    min_count = MIN_LINE_COUNT
    trimmed = {d: [l.strip() for l in t.split("\n")] for d, t in docs}
    nonblank = {d: [l for l in ls if l] for d, ls in trimmed.items()}
    freq = Counter(l for ls in nonblank.values() for l in ls)
    expect = {}
    for d, ls in nonblank.items():
        kept = [l for l in ls if freq[l] < min_count]
        expect[d] = (len(ls), len(kept), "\n".join(kept))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_lines"], r["n_kept"], r["text_clean"])
           for r in line_dedup(df).collect()}
    assert got == expect


def test_dedup_resolve_random_invariants(spark):
    """Random near-dup corpus: exactly one survivor per cluster; the
    survivor has the cluster's max length and the smallest id among
    max-length members; every member redirects to it."""
    import random

    from s2spark.operators.dedup import dedup_resolve

    rng = random.Random(99)
    rows = []
    did = 0
    for fam in range(8):
        base = " ".join(f"w{fam}{i}" for i in range(30)) + " "
        base = base * 3
        for _ in range(rng.randint(1, 5)):
            rows.append((did, base + "pad" * rng.randint(0, 4)))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lens = {d: len(t) for d, t in rows}

    out = dedup_resolve(docs, threshold=0.5).collect()
    assert len(out) == len(rows)
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        kept = [m for m in members if m["is_kept"]]
        assert len(kept) == 1
        k = kept[0]
        max_len = max(lens[m["doc_id"]] for m in members)
        assert lens[k["doc_id"]] == max_len
        assert k["doc_id"] == min(m["doc_id"] for m in members
                                  if lens[m["doc_id"]] == max_len)
        assert all(m["kept_doc_id"] == k["doc_id"] for m in members)


def test_pipeline_keeps_one_copy_of_verbatim_repeated_docs(spark, tmp_path):
    """Review regression: a short doc repeated verbatim >= 3x must survive
    the pipeline as ONE copy — exact dedup runs before line dedup, so the
    repeats never push their own body lines over the line-ban count."""
    import corpus_pipeline
    import pandas as pd

    body = "the quick brown fox jumps over the lazy dog again and again"
    uniq = [f"unique document number {i} with plenty of ordinary words here"
            for i in range(8)]
    pdf = pd.DataFrame({
        "doc_id": range(13),
        "text": [body] * 5 + uniq,
        "lang": ["en"] * 13,
        "source": ["t"] * 13,
        "n_chars": [len(body)] * 5 + [len(u) for u in uniq],
    })
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(pdf).write.parquet(str(sf / "documents.parquet"))

    stats = corpus_pipeline.run(spark, str(sf), str(tmp_path / "run"))
    assert stats["raw_input"] == 13
    assert stats["unique"] == 9          # 5 copies -> 1
    assert stats["input"] == 9           # line stage drops nothing here
    assert stats["clean"] >= 1           # the body survives as one doc


def test_line_dedup_trims_full_whitespace_class(spark):
    """Tab-indented / CR-terminated copies of a boilerplate line unify to
    one banned form, and a whitespace-only (tab) line is removed."""
    from s2spark.operators.dedup import line_dedup

    docs = spark.createDataFrame([
        (1, "keep me\nFOOTER\t\r"),
        (2, "\tFOOTER\nother"),
        (3, "  FOOTER  \n\t\nlast"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in line_dedup(docs).collect()}
    assert out[1] == {"doc_id": 1, "n_lines": 2, "n_kept": 1,
                      "text_clean": "keep me"}
    assert out[2]["text_clean"] == "other"
    # doc 3: the "\t" line is whitespace-only -> removed outright
    assert out[3] == {"doc_id": 3, "n_lines": 2, "n_kept": 1,
                      "text_clean": "last"}


def test_dedup_cluster_family_rejects_string_keys(spark):
    """Review regression: clustering keys must be integral — a string key
    used to be silently cast to NULL (every edge dropped, everything a
    singleton, no error).  Now the CC boundary fails loudly with a
    remediation hint; the resolve argmax itself is key-type-agnostic
    (min(struct(-len, key)), never a negated key)."""
    import pytest as _pytest

    from s2spark.operators.dedup import connected_components, dedup_resolve

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    docs = spark.createDataFrame(
        [("a", base + " t"), ("b", base + " tt")], "doc_id string, text string")
    with _pytest.raises(TypeError, match="integral node ids"):
        dedup_resolve(docs, threshold=0.5).collect()
    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    with _pytest.raises(TypeError, match="integral node ids"):
        connected_components(pairs)
