"""Training-pipeline text operators: decontamination, repetition,
domain stats, stratified sampling."""

import pytest
from pyspark.sql import functions as F

from s2spark.operators import textstats


@pytest.fixture(scope="module")
def spark():
    from s2spark.plans.session import build_session
    s = build_session(app_name="s2spark-textpipe-tests", master="local[4]",
                      shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_word_ngrams_short_text(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "a b c d"), (4, ""), (5, "  x  y  z ")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["g"] for r in df.select(
        "doc_id", textstats.word_ngrams(F.col("text"), 3).alias("g")).collect()}
    assert got[1] == []          # shorter than n: no fabricated grams
    assert got[2] == ["a b c"]
    assert got[3] == ["a b c", "b c d"]
    assert got[4] == []
    assert got[5] == ["x y z"]   # whitespace-normalized


def test_decontaminate_flags_overlap(spark, monkeypatch):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox sleeps well tonight"),   # shares 2 grams
         (2, "completely different words here entirely")],
        "doc_id long, text string")
    monkeypatch.setattr(textstats, "CONTAMINATED_FRAC", 0.3)
    got = {r["doc_id"]: r for r in textstats.decontaminate(
        corpus, bench).collect()}
    assert got[1]["n_overlap"] == 2      # "the quick brown", "quick brown fox"
    assert got[1]["contaminated"] is True
    assert got[2]["n_overlap"] == 0
    assert got[2]["contaminated"] is False


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"),       # highly repetitive
         (2, "one two three four five")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           textstats.repetition_stats(df).collect()}
    assert got[1]["n_grams"] == 7 and got[1]["n_distinct"] == 3
    assert got[1]["dup_frac"] == pytest.approx(4 / 7, abs=1e-6)
    assert got[2]["dup_frac"] == 0.0


def test_stratified_sample_deterministic_and_rate(spark):
    rows = [(i, "en" if i % 2 == 0 else "de", "t") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    a = sorted(r["doc_id"] for r in textstats.stratified_sample(
        df, rates={"en": 50, "de": 10}).collect())
    b = sorted(r["doc_id"] for r in textstats.stratified_sample(
        df.repartition(7), rates={"en": 50, "de": 10}).collect())
    assert a == b  # pure function of the key: partitioning-invariant
    n_en = sum(1 for i in a if i % 2 == 0)
    n_de = len(a) - n_en
    assert 400 <= n_en <= 600    # ~50% of 1000
    assert 50 <= n_de <= 160     # ~10% of 1000


def test_pack_sequences_matches_serial_scan(spark):
    """Distributed two-phase prefix sum == the trivially-correct serial
    scan (pandas cumsum over key order)."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    got = (textstats.pack_sequences(docs)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    # serial oracle from the SAME per-doc counts (the counts themselves
    # are oracle-checked in text_token_count)
    base = got[["doc_id", "n_tokens"]].sort_values("doc_id")
    cb = base["n_tokens"].cumsum().shift(fill_value=0)
    assert (got["pack_id"] == cb // 2048).all()
    assert (got["pack_offset"] == cb % 2048).all()
    # the fixture actually spans multiple packs and multiple range
    # partitions (500 docs over 8 shuffle partitions)
    assert got["pack_id"].nunique() > 1
    assert len(got) == docs.count()


def test_pack_sequences_offsets_within_budget(spark, monkeypatch):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    monkeypatch.setattr(textstats, "BUDGET_TOKENS", 512)
    out = textstats.pack_sequences(docs)
    bad = out.where((F.col("pack_offset") < 0)
                    | (F.col("pack_offset") >= 512)).count()
    assert bad == 0
    # stream layout is gapless: total tokens == last doc's cum_before +
    # its n_tokens, and pack ids are the contiguous range implied by it
    row = (out.select(
        F.sum("n_tokens").alias("tot"),
        F.max(F.col("pack_id") * 512 + F.col("pack_offset")).alias("last_cb"),
        F.max("pack_id").alias("max_pack")).collect()[0])
    last = out.orderBy(F.desc("doc_id")).limit(1).collect()[0]
    assert row["last_cb"] == last["pack_id"] * 512 + last["pack_offset"]
    assert row["max_pack"] == (row["tot"] - last["n_tokens"]) // 512


def test_pack_sequences_deterministic(spark, monkeypatch):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    monkeypatch.setattr(textstats, "BUDGET_TOKENS", 1024)
    a = textstats.pack_sequences(docs).orderBy("doc_id").collect()
    b = textstats.pack_sequences(docs).orderBy("doc_id").collect()
    assert a == b


def test_tfidf_topk_hand_computed(spark, monkeypatch):
    # 3 docs: "cat" appears in all (idf=ln(1)=0), "dog" in two,
    # "ferret" in one — idf separates them; repetition drives tf.
    import math
    docs = spark.createDataFrame(
        [(1, "cat dog ferret ferret"),
         (2, "cat dog dog"),
         (3, "cat cat cat")],
        "doc_id long, text string")
    monkeypatch.setattr(textstats, "TFIDF_K", 2)
    rows = textstats.tfidf_topk(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: ferret tf=2 df=1 -> 2*ln(3); dog tf=1 df=2 -> ln(1.5); cat 0
    d1 = sorted(by_doc[1], key=lambda r: r["rank"])
    assert [r["term"] for r in d1] == ["ferret", "dog"]
    assert d1[0]["tf"] == 2 and d1[0]["df"] == 1
    assert abs(d1[0]["tfidf"] - 2 * math.log(3.0)) < 1e-6
    assert abs(d1[1]["tfidf"] - math.log(1.5)) < 1e-6
    # doc 3: only "cat" (idf 0) exists; rank-1 is cat with tfidf 0
    d3 = sorted(by_doc[3], key=lambda r: r["rank"])
    assert d3[0]["term"] == "cat" and d3[0]["tfidf"] == 0.0
    # every doc returns at most k rows and ranks are 1..len
    for d, rs in by_doc.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] \
            == list(range(1, len(rs) + 1))


def test_tfidf_topk_tie_breaks_on_term(spark, monkeypatch):
    # two terms with identical (tf, df) in the same doc: rank by term asc
    docs = spark.createDataFrame(
        [(1, "zebra apple"), (2, "other words")],
        "doc_id long, text string")
    monkeypatch.setattr(textstats, "TFIDF_K", 2)
    d1 = sorted((r for r in textstats.tfidf_topk(docs).collect()
                 if r["doc_id"] == 1), key=lambda r: r["rank"])
    assert [r["term"] for r in d1] == ["apple", "zebra"]


def test_ngram_topk_counts_and_order(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran"), (3, "a cat sat")],
        "doc_id long, text string")
    monkeypatch.setattr(textstats, "NGRAM_TOPK_K", 3)
    rows = textstats.ngram_topk(docs).collect()
    # "the cat" occurs twice (docs 1,2); "cat sat" twice (docs 1,3);
    # tie at count 2 breaks on the gram string: "cat sat" < "the cat"
    assert [(r["ngram"], r["n_occurrences"], r["n_docs"]) for r in rows] == [
        ("cat sat", 2, 2), ("the cat", 2, 2), ("a cat", 1, 1)]


def test_ngram_topk_limit_is_deterministic(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(20)],
        "doc_id long, text string")
    monkeypatch.setattr(textstats, "NGRAM_TOPK_K", 2)
    a = textstats.ngram_topk(docs).collect()
    b = textstats.ngram_topk(docs).collect()
    assert a == b
    assert [r["ngram"] for r in a] == ["alpha beta", "beta gamma"]


def test_unigram_logprob_hand_computed(spark):
    import math
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            textstats.unigram_logprob(docs).collect()}
    # corpus: a=3, b=1, c=1, N=5
    ce1 = math.log2(5) - (2 * math.log2(3) + 1 * math.log2(1)) / 3
    ce2 = math.log2(5) - (math.log2(3) + math.log2(1)) / 2
    assert rows[1]["n_tokens"] == 3 and rows[2]["n_tokens"] == 2
    assert abs(rows[1]["cross_entropy_bits"] - ce1) < 1e-6
    assert abs(rows[2]["cross_entropy_bits"] - ce2) < 1e-6


def test_unigram_logprob_rare_junk_scores_higher(spark):
    common = "the cat sat on the mat " * 5
    docs = spark.createDataFrame(
        [(i, common) for i in range(1, 10)]
        + [(10, "zxqv jkwp qqzz vvxx bbnn")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r["cross_entropy_bits"]
            for r in textstats.unigram_logprob(docs).collect()}
    assert rows[10] > rows[1]


def test_pii_stats_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail me at a.b+c@sub.example.co.uk or x@y.io thanks"),
         (2, "fetch https://ex.org/p?a=1 and http://e.net/x now"),
         (3, "dial 555-123-4567 or 555 867 5309 today"),
         (4, "server at 10.0.0.1 and 192.168.255.254"),
         (5, "no sensitive content at all")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in textstats.pii_stats(df).collect()}
    assert (got[1]["n_emails"], got[1]["has_pii"]) == (2, True)
    assert got[2]["n_urls"] == 2
    assert got[3]["n_phones"] == 2
    assert got[4]["n_ipv4"] == 2
    assert got[5] == (5, 0, 0, 0, 0, False)


def test_pii_stats_spark_matches_duckdb_regex_semantics(spark):
    """Non-overlapping greedy match counts must agree between Java regex
    (Spark) and RE2 (DuckDB) for every PII pattern — the property the
    oracle depends on.  Adversarial inputs: backtracking-sensitive email
    hosts, adjacent matches, pattern-inside-pattern."""
    import duckdb
    texts = [
        (1, "a@b.co.uk c@d.e.f.gg"),                  # backtracking host
        (2, "x@y.io.x@z.com"),                        # adjacent/overlapping
        (3, "https://a.b/c?d=e#f https://g.h"),       # url then url
        (4, "1.2.3.4.5.6.7.8"),                       # chained ipv4 digits
        (5, "555-123-4567890 555.123.4567"),          # over-long phone tail
        (6, "user@192.168.0.1 http://u:p@h.io/q"),    # email-ish inside url
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in textstats.pii_stats(df).collect()}
    con = duckdb.connect()
    for doc_id, t in texts:
        for name, pat in textstats.PII_PATTERNS.items():
            want = con.execute(
                "SELECT len(regexp_extract_all(?, ?))", [t, pat]).fetchone()[0]
            assert got[doc_id][name] == want, (doc_id, name, t)


def test_canonicalize_url_golden(spark):
    cases = [
        (1, "HTTPS://WWW.Ex.COM:443/A/B/?utm_source=x&b=2&a=1#frag",
            "https://ex.com/A/B?a=1&b=2"),
        (2, "http://Host.Org:80/path///",
            "http://host.org/path"),
        (3, "https://h.io:8443/p?ref=z",          # non-default port kept
            "https://h.io:8443/p"),
        (4, "http://a.b/?utm_campaign=c&utm_medium=m&gclid=g&fbclid=f",
            "http://a.b"),                        # all params tracking
        (5, "https://A.B",                        # no path, no query
            "https://a.b"),
        (6, "http://x.y/p?z=1&utmost=2",          # utmost is NOT utm_*
            "http://x.y/p?utmost=2&z=1"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases],
                               "doc_id long, url string")
    got = {r["doc_id"]: r["c"] for r in df.select(
        "doc_id",
        textstats.canonicalize_url(F.col("url")).alias("c")).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_url_host_strips_any_port(spark):
    df = spark.createDataFrame(
        [(1, "https://a.b.c:8443/p"), (2, "http://plain.io/x")],
        "doc_id long, url string")
    got = {r["doc_id"]: r["h"] for r in df.select(
        "doc_id", textstats.url_host(F.col("url")).alias("h")).collect()}
    assert got[1] == "a.b.c" and got[2] == "plain.io"
