"""Text-analysis operators for training-data pipelines.

All hot-path logic is JVM Column expressions (split/regexp/md5/bit ops) —
no Python.  Hash derivations use md5 hex (identical across Spark, DuckDB,
and Python) so every operator here is oracle-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.frames import local_frame

# Every operator reads documents as (doc_id, text) (plus `lang` and
# `source` where it groups by them).  The word n-gram width of decontaminate
# and repetition_stats, decontaminate's contamination threshold, the
# pack_sequences sequence length, and the top-k cuts:
WORD_GRAM_N = 3
CONTAMINATED_FRAC = 0.05
BUDGET_TOKENS = 2048
TFIDF_K = 5
NGRAM_TOPK_N = 2
NGRAM_TOPK_K = 50

# tiny per-language stopword marker sets for the n-gram/stopword language
# heuristic; chosen to be disjoint-ish and ASCII-stable
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "pt": ["de", "que", "em"],
}


def normalized(col: Column) -> Column:
    """Lowercased, trimmed text with every whitespace run made one space:
    the form every dedup digest, shingle and word split reads."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens(col: Column) -> Column:
    """Whitespace + BPE-ish word/number/punct split, lowercased."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# GPT-2-style pre-tokenizer approximation: contraction suffixes, space-
# prefixed letter runs, digit runs, punctuation runs, residual whitespace.
# RE2-compatible (no lookarounds) so the SAME pattern runs in the DuckDB
# oracle; verified token-for-token identical across Spark and DuckDB
# including unicode text.
BPE_TOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s+"


def bpe_token_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(BPE_TOKEN_PATTERN))


def token_counts(documents: DataFrame) -> DataFrame:
    """Per-document token accounting for training-data budgeting:
    whitespace tokens, BPE-ish tokens, and bytes-per-BPE-token (the
    compression-rate proxy used for corpus mixing)."""
    t = F.col("text")
    n_bpe = bpe_token_count(t)
    return documents.select(
        "doc_id",
        token_count(t).alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(F.octet_length(t).cast("double")
                / F.greatest(n_bpe, F.lit(1)).cast("double"), 6)
        .alias("bytes_per_token"))


def quality_features(df: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features (pure exprs)."""
    t = F.col("text")
    toks = tokens(t)
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[^!-/:-@\[-`{-~]", ""))
    n_tok = F.size(toks)
    n_stop = F.size(F.array_intersect(toks, F.lit(["the", "and", "of", "a", "to", "in"])))
    return df.withColumns({
        "n_chars_q": n_chars,
        "n_tokens": n_tok,
        "alpha_ratio": F.round(n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        "digit_ratio": F.round(n_digit.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        "punct_ratio": F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        "mean_token_len": F.round(n_chars.cast("double") / F.greatest(n_tok, F.lit(1)), 6),
        "stopword_ratio": F.round(n_stop.cast("double") / F.greatest(n_tok, F.lit(1)), 6),
    })


def lang_id(df: DataFrame) -> DataFrame:
    """Marker-stopword language heuristic as `lang_pred`: argmax over
    per-language distinct-marker hits (deterministic tie-break by language
    code)."""
    toks = tokens(F.col("text"))
    scores = [
        F.struct(F.size(F.array_intersect(toks, F.lit(words))).alias("score"),
                 F.lit(lang).alias("lang"))
        for lang, words in sorted(LANG_MARKERS.items(), reverse=True)
    ]
    best = F.greatest(*scores)
    return df.withColumn(
        "lang_pred",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")))


def fingerprint(col: Column) -> Column:
    """64-bit document fingerprint: md5 of whitespace-normalized lowercase
    text, top 16 hex digits as a signed long (portable across engines)."""
    hex16 = F.substring(F.md5(normalized(col)), 1, 16)
    # conv returns the two's-complement string for values >= 2^63 when cast
    # via unsigned parse; map into signed range with the same bias trick
    return F.conv(hex16, 16, -10).cast("long")


def doc_stats(documents: DataFrame) -> DataFrame:
    """Per-language corpus stats over quality features."""
    q = quality_features(documents)
    return (q.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
                 F.round(F.avg("alpha_ratio"), 4).alias("avg_alpha_ratio"),
                 F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio")))


def word_ngrams(col: Column, n: int) -> Column:
    """List of word n-grams of a text column (JVM exprs only).  Empty list
    for texts shorter than n words (Spark's sequence() would otherwise
    DESCEND for stop < start and fabricate grams).

    r6 rewrite, same output strings: the token array is BOUND ONCE per
    row as a lambda variable (the transform-over-singleton trick below)
    and each gram is concat(tok_i, ' ', tok_{i+1}, ...) via element_at.
    The old concat_ws-over-F.slice form re-evaluated the whole
    regexp_replace + split subtree for EVERY GRAM: higher-order
    functions run through the interpreted evaluator, which recomputes
    any non-lambda subtree of the lambda body per element.  Binding the
    array as a lambda variable turns that into one attribute lookup, and
    dropping slice() removes an n-element array allocation per gram.
    (split() never yields nulls, so concat == concat_ws here.)"""
    toks = F.split(normalized(col), " ")

    def grams_of(t: Column) -> Column:
        def gram(i: Column) -> Column:
            parts = []
            for j in range(n):
                if j:
                    parts.append(F.lit(" "))
                parts.append(F.element_at(t, i + j))
            return F.concat(*parts)

        return (F.when(F.size(t) < n, F.array().cast("array<string>"))
                .otherwise(F.transform(
                    F.sequence(F.lit(1), F.size(t) - (n - 1)), gram)))

    # bind `toks` once: transform over a singleton array makes the token
    # array a lambda variable inside the gram builder
    return F.element_at(F.transform(F.array(toks), grams_of), 1)


def decontaminate(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing word
    WORD_GRAM_N-grams with an evaluation set (the standard pre-training
    hygiene step — e.g. GPT-3 appendix C / PaLM use 8-13-gram overlap).

    Scale shape: the benchmark gram set is tiny relative to the corpus
    (eval suites are ~10^5 docs vs 10^9+), so its DISTINCT grams are
    BROADCAST; the corpus side is a map-side explode + broadcast-hash
    semi-probe + groupBy(doc) count — one shuffle keyed on doc_id, no
    skew (each doc contributes at most its own gram count).

    Output per corpus doc: n_grams (distinct), n_overlap, overlap_frac,
    contaminated (overlap_frac >= CONTAMINATED_FRAC).  Docs with zero
    overlap are kept with n_overlap=0 so the output is a full corpus
    annotation.
    """
    bench_grams = (benchmark
                   .select(F.explode(F.array_distinct(
                       word_ngrams(F.col("text"), WORD_GRAM_N))).alias("gram"))
                   .distinct())
    # ONE corpus pass (r6): the r5 shape built the per-doc distinct-gram
    # array twice (a sizes branch and a hits branch — the gram transform
    # is interpreted HOF work, the most expensive part of the query) and
    # reunited them with an extra join.  Instead explode the distinct
    # grams once (explode_outer keeps zero-gram docs as a NULL-gram row),
    # mark bench hits with a broadcast left join, and take both counts
    # from a single partial-aggregated groupBy: count(gram) ignores the
    # NULL placeholder, count(__hit) counts only matched grams.  Output
    # is row- and column-identical.
    ex = corpus.select(
        F.col("doc_id"),
        F.explode_outer(F.array_distinct(
            word_ngrams(F.col("text"), WORD_GRAM_N))).alias("gram"))
    hit = bench_grams.withColumn("__hit", F.lit(1))
    out = (ex.join(F.broadcast(hit), "gram", "left")
           .groupBy("doc_id")
           .agg(F.count("gram").cast("int").alias("n_grams"),      # int, as size() was
                F.count("__hit").alias("n_overlap"))
           .withColumn("overlap_frac", F.round(
               F.col("n_overlap") / F.greatest("n_grams", F.lit(1)), 6)))
    return out.withColumn("contaminated",
                          F.col("overlap_frac") >= CONTAMINATED_FRAC)


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Intra-document repetition (Gopher/C4-style quality rule): fraction
    of duplicated word WORD_GRAM_N-grams within each doc.  Map-only —
    array exprs, no explode, no shuffle."""
    grams = word_ngrams(F.col("text"), WORD_GRAM_N)
    n_total = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    return documents.select(
        F.col("doc_id"),
        n_total.alias("n_grams"),
        n_distinct.alias("n_distinct"),
        F.round((n_total - n_distinct).cast("double")
                / F.greatest(n_total, F.lit(1)), 6).alias("dup_frac"))


def domain_stats(documents: DataFrame) -> DataFrame:
    """Per-domain corpus accounting (doc counts, language spread, size,
    token budget) — the source-mixing table of a training-data pipeline.
    One partial-aggregated groupBy on the domain key `source`."""
    t = F.col("text")
    return (documents.groupBy(F.col("source").alias("domain"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.sum(F.length(t)).alias("total_chars"),
                 F.round(F.avg(token_count(t)), 4).alias("avg_ws_tokens"),
                 F.sum(bpe_token_count(t)).alias("total_bpe_tokens")))


def stratified_sample(documents: DataFrame, rates: dict[str, int],
                      default_pct: int = 10) -> DataFrame:
    """Deterministic hash-based stratified sampling: keep a doc iff
    md5(doc_id) mod 100 < pct(lang).  Unlike df.sample(), the decision is
    a pure function of the key — reproducible across runs, engines
    (DuckDB oracle), cluster sizes, and partitionings, which is what a
    training-data pipeline needs for auditable corpus freezes.  Map-only.

    `rates` maps a `lang` value -> keep percentage (0-100).

    The md5 runs once per row, in a projection.  A kept row leaves through
    a generator (one row when kept, none otherwise), so no filter exists
    that the optimizer could push below the projection with the md5
    substituted into it."""
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                    16, 10).cast("long") % 100
    pct = F.lit(default_pct)
    for value, p in sorted(rates.items()):
        pct = F.when(F.col("lang") == value, F.lit(p)).otherwise(pct)
    row = F.struct("doc_id", "lang", "sample_bucket")
    return (documents
            .select("doc_id", "lang", bucket.alias("sample_bucket"))
            .select(F.inline(F.when(F.col("sample_bucket") < pct,
                                    F.array(row)))))


def word_entropy(documents: DataFrame) -> DataFrame:
    """Shannon entropy (bits) of each document's word distribution — the
    classic repetition/quality signal: template spam and keyword-stuffed
    pages score low, natural prose scores near log2(vocab).

    Plan: token explode -> (doc, word) count -> per-doc
    -sum(p*log2(p)) — two partial-aggregated shuffles keyed on doc id,
    all JVM expressions.  Output: (doc_id, n_words, n_distinct,
    entropy_bits).
    """
    toks = F.split(normalized(F.col("text")), " ")
    ex = documents.select(F.col("doc_id"), F.explode(toks).alias("w"))
    wc = ex.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.log2(F.col("c").cast("double"))).alias("__clogc"))
    # H = log2(N) - (1/N) * sum(c * log2 c)
    return per_doc.select(
        "doc_id", "n_words", "n_distinct",
        F.round(F.log2(F.col("n_words").cast("double"))
                - F.col("__clogc") / F.col("n_words"), 6).alias("entropy_bits"))


def pack_sequences(documents: DataFrame) -> DataFrame:
    """Concatenate-and-chop sequence packing: lay the corpus out in doc_id
    order as one virtual token stream and chop it into fixed
    `BUDGET_TOKENS` training sequences (the GPT-2/LLaMA pretraining data
    layout — documents may straddle pack boundaries; the pack id and the
    in-pack offset are what the tensorizer needs to place each doc).

    The whole op is one EXCLUSIVE PREFIX SUM of token counts in key
    order — the classic operation Spark has no scalable built-in for (a
    global `Window.orderBy` collapses the corpus onto ONE task).  The
    scale shape is the textbook two-phase scan:

      1. map-only per-doc BPE-ish token counts (JVM regex);
      2. `repartitionByRange(key)` — contiguous key ranges per partition,
         ~equal sizes from the range sampler;
      3. per-partition totals -> driver (ONE row per partition, bounded
         by cluster size, never by data) -> exclusive-scanned into
         per-partition start offsets, broadcast back;
      4. within-partition exclusive cumsum as a JVM window over the
         stamped partition id + the broadcast offset.

    The result is a pure function of (data, budget): cum_before(doc) =
    total tokens of all lower-keyed docs, independent of how the range
    sampler actually drew the partition boundaries.  The stamped frame is
    localCheckpointed so the partition ids seen by step 3 and step 4 are
    the same materialization (2 longs/doc; freed with the result).

    Output: (doc_id, n_tokens, pack_id, pack_offset) with
    pack_id = cum_before // budget, pack_offset = cum_before % budget.
    """
    t = documents.select(F.col("doc_id"),
                         bpe_token_count(F.col("text"))
                         .cast("long").alias("n_tokens"))
    ranged = (t.repartitionByRange(F.col("doc_id"))
              .withColumn("__pid", F.spark_partition_id())
              .localCheckpoint())

    offsets_rows = (ranged.groupBy("__pid")
                    .agg(F.sum("n_tokens").alias("tot"))
                    .collect())                      # one row per partition
    running = 0
    offs = []
    for r in sorted(offsets_rows, key=lambda r: r["__pid"]):
        offs.append((int(r["__pid"]), running))
        running += int(r["tot"])
    off_df = local_frame(documents.sparkSession, offs, "__pid int, __off long")

    from pyspark.sql.window import Window
    w = (Window.partitionBy("__pid").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = (F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
                  + F.col("__off"))
    return (ranged.join(F.broadcast(off_df), "__pid")
            .select(F.col("doc_id"), F.col("n_tokens"),
                    F.floor(cum_before / BUDGET_TOKENS).cast("long").alias("pack_id"),
                    (cum_before % BUDGET_TOKENS).cast("long").alias("pack_offset")))


def tfidf_topk(documents: DataFrame) -> DataFrame:
    """Per-document top-TFIDF_K TF-IDF terms — the classic
    keyword-extraction / corpus-indexing signal for training-data curation
    (what is this page ABOUT, which pages over-index on boilerplate terms).

    Plan (all JVM expressions, partial-aggregated):
      1. normalize + whitespace-split + explode (map-only);
      2. (doc, term) counts -> tf                [shuffle on (doc, term)];
      3. term document-frequency from the tf frame (each (doc, term) row
         is distinct by construction)            [shuffle on term];
      4. tf |><| df on term, idf from the corpus count N;
      5. per-doc row_number window, keep rank <= TFIDF_K [shuffle on doc].

    Construction cost note: N is ONE bounded count() job at construction
    (a scalar, never O(data) rows on the driver) — folding it into the
    plan as a 1-row broadcast cross join costs a BroadcastNestedLoopJoin
    plus extra exchanges for no benefit.

    Ranking is on round(score, 9) DESC, term ASC: mathematically tied
    scores (common: same tf, same df) order deterministically, and the
    9-dp round absorbs last-ulp ln() differences across engines so the
    DuckDB oracle ranks identically.  At 100 TB the term-keyed stages
    are plain hash aggregations on a uniform key; hapax terms can be
    pre-dropped with a min-df filter before the join if the vocabulary
    itself needs bounding (not done here — it changes idf semantics).

    Output: (doc_id, term, tf, df, tfidf, rank), tfidf = tf * ln(N / df)
    rounded to 6 dp.
    """
    from pyspark.sql.window import Window
    ex = documents.select(F.col("doc_id"),
                          F.explode(F.split(normalized(F.col("text")), " "))
                          .alias("term"))
    # tf feeds both the document-frequency agg and the scoring join:
    # materialize once (lazy) instead of re-running explode+aggregate
    tf = (ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
          .localCheckpoint(eager=False))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = float(documents.count())
    scored = (tf.join(dfreq, "term")
              .withColumn("__s", F.col("tf")
                          * F.log(F.lit(n_docs) / F.col("df"))))
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("__s"), 9).desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TFIDF_K)
            .select("doc_id", "term", "tf", "df",
                    F.round("__s", 6).alias("tfidf"), "rank"))


def ngram_topk(documents: DataFrame) -> DataFrame:
    """Corpus-level top-NGRAM_TOPK_K word NGRAM_TOPK_N-grams — the
    boilerplate detector: the most frequent bigrams in a web crawl are
    navigation chrome and license banners, and their document frequency
    tells you whether a gram is corpus-wide furniture or one hot document
    repeating itself.

    Plan: map-only n-gram explode -> ONE hash aggregation keyed on the
    gram (count + distinct-doc count, both partially aggregated) ->
    global top-k via ORDER BY + LIMIT, which Spark executes as
    TakeOrderedAndProject (per-partition heaps + driver merge of k rows,
    never a full sort) — the shape that survives a 100-TB corpus.  Ties
    at the k boundary break on the gram string, so the result is a
    deterministic total order and the DuckDB oracle cuts the same k.

    Output: (ngram, n_occurrences, n_docs), count-descending.
    """
    ex = documents.select(
        F.col("doc_id"),
        F.explode(word_ngrams(F.col("text"), NGRAM_TOPK_N)).alias("ngram"))
    agg = ex.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct(F.col("doc_id")).alias("n_docs"))
    return (agg.orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
            .limit(NGRAM_TOPK_K))


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """Per-document unigram cross-entropy (bits/token) under the corpus's
    OWN unigram distribution — the cheap, model-free stand-in for the
    CCNet-style LM-perplexity quality filter: pages full of rare junk
    tokens score high (surprising under the corpus), natural prose built
    from common words scores low.  Ranking by this column and cutting a
    quantile is the standard perplexity-bucket curation step.

    CE(doc) = -1/n * sum_w c_dw * log2(cw / N)
            = log2(N) - sum_w(c_dw * log2 cw) / n
    with c_dw the in-doc count, cw the corpus count, n the doc length,
    N total corpus tokens.

    Plan: token explode (map-only) -> corpus term counts [shuffle on
    term, partial-agg] -> (doc, term) counts [shuffle on (doc, term)] ->
    equi-join on term -> per-doc agg [shuffle on doc].  All JVM
    expressions.  N is ONE bounded scalar agg at construction (same
    pattern as tfidf_topk's corpus count).

    Output: (doc_id, n_tokens, cross_entropy_bits) rounded to 6 dp.
    """
    toks = F.split(normalized(F.col("text")), " ")
    n_total = documents.agg(
        F.sum(F.size(toks)).cast("double").alias("n")).collect()[0]["n"]
    ex = documents.select(F.col("doc_id"), F.explode(toks).alias("w"))
    corpus = ex.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    dtc = ex.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (dtc.join(corpus, "w")
               .groupBy("doc_id")
               .agg(F.sum("c").alias("n_tokens"),
                    F.sum(F.col("c") * F.log2(F.col("cw").cast("double")))
                    .alias("__clogcw")))
    return per_doc.select(
        "doc_id", "n_tokens",
        F.round(F.lit(math.log2(n_total))
                - F.col("__clogcw") / F.col("n_tokens"), 6)
        .alias("cross_entropy_bits"))


# PII-ish patterns, written to the common subset of Java regex (Spark) and
# RE2 (DuckDB): character classes + bounded repeats only — no lookarounds,
# no backreferences — so the SQL oracle runs the IDENTICAL pattern and
# non-overlapping greedy match counts agree engine-to-engine.
PII_PATTERNS = {
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "n_urls": r"https?://[^\s]+",
    "n_phones": r"[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "n_ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_stats(documents: DataFrame) -> DataFrame:
    """Per-document PII-pattern accounting — the scrub/redact audit signal
    of a web-text pipeline (emails, URLs, phone-shaped numbers, IPv4s).

    Map-only: four `regexp_count` JVM expressions per row, whole-stage
    codegen, zero shuffle — at 100 TB this is a pure scan-side pass that
    pushes only (key, text) through the reader.

    Output: (doc_id, n_emails, n_urls, n_phones, n_ipv4, has_pii).
    """
    t = F.col("text")
    counts = [F.regexp_count(t, F.lit(pat)).alias(name)
              for name, pat in PII_PATTERNS.items()]
    out = documents.select(F.col("doc_id"), *counts)
    total = sum(F.col(n) for n in PII_PATTERNS)
    return out.withColumn("has_pii", total > 0)


# tracking-parameter predicate shared by the Spark operator and the SQL
# oracle: a query param is dropped iff its key matches this (utm_*, ref,
# fbclid, gclid) — the common list of redirect/campaign noise
TRACKING_PARAM_RE = r"^(utm_[A-Za-z]*|ref|fbclid|gclid)="


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an http(s) URL as a pure Column expression:

    1. scheme + host lowercased; leading `www.` stripped
    2. default ports stripped (`:80` for http, `:443` for https)
    3. fragment stripped
    4. tracking params (utm_*, ref, fbclid, gclid) dropped; the surviving
       query params SORTED so param order never splits a dedup key
    5. trailing slashes on the path stripped

    Everything is regexp/split/filter/sort JVM expressions inside one
    whole-stage-codegen project — no Python, no shuffle.  The identical
    steps exist in SQL (`_url_canonicalize_oracle_sql`), so canonical
    keys are engine-portable — what a dedup pipeline needs when the
    crawl-side normalizer is not Spark.
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    host0 = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    host1 = F.regexp_replace(host0, r"^www\.", "")
    host = F.when(scheme == "https", F.regexp_replace(host1, r":443$", "")) \
            .when(scheme == "http", F.regexp_replace(host1, r":80$", "")) \
            .otherwise(host1)
    path = F.regexp_replace(
        F.regexp_extract(rest, r"^[^/?#]*([^?#]*)", 1), r"/+$", "")
    qs = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(qs, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE))
    query = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")))


def url_host(url: Column) -> Column:
    """Registrable host key of a canonicalized URL (authority sans port)."""
    return F.regexp_replace(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1),
        r":[0-9]+$", "")
