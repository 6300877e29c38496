"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shape:
* exact dedup = hash groupBy (map-side combine; shuffle on digest)
* MinHash/LSH = shingle explode -> per-doc signature agg -> band bucket
  groupBy -> candidate pairs only within buckets (never all-pairs)
* SimHash = token explode -> per-bit majority agg -> bucket on hash
* n-gram Jaccard = inverted-index self-join on shared shingles (pairs
  with zero overlap are never materialized)

All hashes derive from md5 hex (engine-portable), so every operator is
DuckDB-oracle-checkable.  At 100 TB the shuffles key on digests/buckets,
which are uniform by construction — no skew; AQE coalesces the tail.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.frames import local_frame
from .textstats import normalized

# Every operator reads documents as (doc_id, text): doc_id a unique key,
# text the body.  The MinHash family's shingle width, signature length and
# LSH bands, and the near-dup Jaccard threshold:
SHINGLE_N = 5
NUM_HASHES = 16
BANDS = 4
THRESHOLD = 0.8
SIMHASH_BITS = 16
CHUNK_WORDS = 20        # chunk_dedup span length
MIN_LINE_COUNT = 3      # line_dedup: a line this frequent is boilerplate
# connected_components: star-round cap, and the largest edge set the
# driver union-find takes (collected Rows cost ~100-150 B each)
MAX_ROUNDS = 16
DRIVER_THRESHOLD = 1_000_000


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Keep the lowest key per identical text (digest groupBy)."""
    return (documents
            .withColumn("digest", F.md5(normalized(F.col("text"))))
            .groupBy("digest")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def _distinct_grams(norm_col: str, n: int) -> Column:
    """The distinct character n-grams of the normalized text in column
    `norm_col` (one gram for a text shorter than n), as JVM sequence +
    transform."""
    return F.array_distinct(F.expr(
        f"transform(sequence(1, greatest(length({norm_col}) - {n - 1}, 1)), "
        f"i -> substr({norm_col}, i, {n}))"))


def _exploded_shingles(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingle) rows — distinct n-grams via sequence+transform."""
    df = documents.select(F.col("doc_id"),
                          normalized(F.col("text")).alias("__norm"))
    return df.select("doc_id",
                     F.explode(_distinct_grams("__norm", n)).alias("shingle"))


def perm_hash(col: Column, i: int) -> Column:
    """60-bit portable hash of a shingle under "permutation" i: md5 of a
    salted shingle, first 15 hex digits.

    Each i is an INDEPENDENT hash of the shingle content.  (An affine
    a*h+b over a 32-bit base hash with a < 2^28 — the first-cut design —
    never wraps the Mersenne modulus, so every "permutation" is monotone
    in h and all k minima pick the SAME argmin shingle: the signature
    degenerates to one effective hash and LSH recall/precision collapse.
    Salted md5 restores k independent permutations while staying
    bit-reproducible in DuckDB.)"""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"mh{i}_"), col)), 1, 15),
                  16, 10).cast("long")


def with_minhash_signatures(documents: DataFrame, text_col: str = "text",
                            num_hashes: int = NUM_HASHES,
                            n: int = SHINGLE_N) -> DataFrame:
    """Append mh0..mh{k-1} MinHash signature columns to `documents`
    (all other columns preserved).

    Computed MAP-ONLY: the distinct-grams array is built per row and each
    signature component is array_min(transform(grams, hash_i)) — all JVM
    higher-order functions, ZERO shuffle (the earlier explode+groupBy form
    shuffled |corpus shingles| rows to recombine what was already
    row-local).  Being stateless per row, the same expression also runs
    unchanged on a structured stream (see streaming.neardup_stream)."""
    # projection barriers: bind norm then the grams array to columns so the
    # per-hash transforms share one evaluation instead of re-deriving them
    df = (documents.withColumn("__mh_norm", normalized(F.col(text_col)))
          .withColumn("__grams", _distinct_grams("__mh_norm", n)))

    def _mh(i):
        # single-arg closure: a 2-arg lambda would make F.transform pass the
        # ARRAY INDEX as the second argument, silently replacing i
        return lambda g: perm_hash(g, i)

    df = df.withColumns(
        {f"mh{i}": F.array_min(F.transform(F.col("__grams"), _mh(i)))
         for i in range(num_hashes)})
    return df.drop("__mh_norm", "__grams")


def minhash_signatures(documents: DataFrame, n: int = SHINGLE_N,
                       num_hashes: int = NUM_HASHES) -> DataFrame:
    """Per-doc MinHash signature: min over shingles of k independent
    salted-md5 hashes (true permutation family; see perm_hash).
    Map-only — see with_minhash_signatures.

    PRECONDITION: `doc_id` must be unique (one row per key).  The
    map-only form emits one signature row per INPUT ROW; duplicate keys
    would pass through as duplicate signature rows and inflate downstream
    band-bucket / pair cardinality (the earlier groupBy form silently
    coalesced them).  Callers with non-unique keys must
    dropDuplicates("doc_id") first — not done here, because the dedup
    tables' primary keys are unique by construction and the extra shuffle
    would erase the map-only property this operator exists for."""
    return with_minhash_signatures(
        documents.select(F.col("doc_id"), F.col("text")),
        "text", num_hashes, n).drop("text")


def band_buckets(num_hashes: int, bands: int) -> Column:
    """array<struct<band, bucket>> over the mh0.. signature columns: band b's
    bucket is md5 of its rows' values joined by "_".  Every index and every
    probe derives buckets here, so they always agree."""
    rows_per_band = num_hashes // bands
    return F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.md5(F.concat_ws("_", *[
                     F.col(f"mh{b * rows_per_band + r}").cast("string")
                     for r in range(rows_per_band)])).alias("bucket"))
        for b in range(bands)])


def minhash_lsh_buckets(documents: DataFrame, n: int = SHINGLE_N,
                        num_hashes: int = NUM_HASHES, bands: int = BANDS,
                        signatures: DataFrame | None = None) -> DataFrame:
    """(doc_id, band, bucket_digest) rows: docs sharing a bucket in any
    band are near-duplicate candidates.  Pass precomputed `signatures` to
    avoid re-deriving them (at production scale signatures are a
    materialized index artifact, computed once per corpus snapshot)."""
    sig = signatures if signatures is not None else \
        minhash_signatures(documents, n, num_hashes)
    # single explode pass, NOT a per-band union: with map-only signatures
    # there is no exchange for Spark to reuse, so a 4-way union would
    # re-evaluate every signature md5 once per band
    return (sig.withColumn("p", F.explode(band_buckets(num_hashes, bands)))
            .select(F.col("doc_id"), F.col("p.band").alias("band"),
                    F.col("p.bucket").alias("bucket")))


def minhash_candidate_pairs(documents: DataFrame,
                            num_hashes: int = NUM_HASHES) -> DataFrame:
    """Candidate near-dup pairs = same bucket in >= 1 band (deduped).

    The bucket table is localCheckpoint'ed (lazily — no job until the
    caller's first action) because it feeds BOTH sides of the self-join:
    without the checkpoint the planner broadcasts one side, the Exchange
    is not shared, and the full signature md5 pass runs twice (measured
    r6: the signature pass is ~40% of this operator's execution)."""
    b = minhash_lsh_buckets(documents, num_hashes=num_hashes) \
        .localCheckpoint(eager=False)
    l = b.select(F.col("band"), F.col("bucket"), F.col("doc_id").alias("id_a"))
    r = b.select(F.col("band"), F.col("bucket"), F.col("doc_id").alias("id_b"))
    return (l.join(r, ["band", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def simhash(documents: DataFrame) -> DataFrame:
    """Per-doc SIMHASH_BITS-bit SimHash over tokens: bit b set iff the sum
    over tokens of (+1 if bit b of token-hash set else -1) is positive."""
    toks = F.split(normalized(F.col("text")), " ")
    ex = documents.select(F.col("doc_id"), F.explode(toks).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    ex = ex.withColumn("h", h)
    bit_sums = [
        F.sum(F.when(F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1).cast("long")) == 1,
                     1).otherwise(-1)).alias(f"s{b}")
        for b in range(SIMHASH_BITS)]
    agg = ex.groupBy("doc_id").agg(*bit_sums)
    sh = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sh = term if sh is None else sh + term
    return agg.select("doc_id", sh.alias("simhash"))


def ngram_jaccard_pairs(documents: DataFrame, n: int = SHINGLE_N,
                        threshold: float = 0.5,
                        df_cap: int | None = 100_000) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >= 1 shingle
    (inverted-index join; |A|,|B| precomputed, intersection counted once).

    df_cap bounds the document frequency of any shingle entering the
    self-join: a "stop shingle" shared by 10^6 docs would emit 10^12 pairs
    for that single key and detonate one reducer at 100 TB.  Shingles with
    df > df_cap are dropped from the INTERSECTION counting only (set sizes
    stay exact), so reported Jaccard is a lower bound for pairs sharing a
    hot shingle and exact otherwise.  With df_cap >= the corpus's true max
    df the output is bit-identical to the uncapped join.  df_cap=None
    disables the cap (exact, unsafe at scale)."""
    # The exploded (key, shingle) relation feeds FIVE consumers (per-doc
    # sizes, the df-cap frequency agg, the semi-join probe, and both
    # self-join sides); unmaterialized, the scan + normalize +
    # array_distinct + explode subtree ran once per consumer (6 Generate
    # nodes in the r5 executed plan).  One lazy localCheckpoint
    # materializes it on the first action and every consumer reads the
    # stored blocks — the blocks die with the result (ContextCleaner),
    # and at 100 TB this is the classic materialize-the-inverted-index
    # step (the exploded relation is the smallest common ancestor of all
    # five consumers).
    ex = _exploded_shingles(documents, n).localCheckpoint()
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    exj = ex
    if df_cap is not None:
        keep = (ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") <= df_cap).select("shingle"))
        exj = ex.join(keep, "shingle", "semi")
    l = exj.select(F.col("shingle"), F.col("doc_id").alias("id_a"))
    r = exj.select(F.col("shingle"), F.col("doc_id").alias("id_b"))
    inter = (l.join(r, "shingle").where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_inter")))
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    # auto-broadcast only: the per-doc size table has one row per corpus doc
    # and cannot be force-broadcast at 10^12-doc scale
    return (inter.join(sz_a, "id_a").join(sz_b, "id_b")
            .withColumn("jaccard", F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def chunk_dedup(documents: DataFrame) -> DataFrame:
    """C4/RefinedWeb-style span deduplication: split each document into
    consecutive `CHUNK_WORDS`-word chunks, drop every chunk whose exact text
    already occurred earlier in the corpus (order = (doc_id, chunk_idx)),
    and reassemble the surviving text per document.

    Unlike whole-doc dedup this removes boilerplate spans (navigation bars,
    license blocks, quoted templates) duplicated ACROSS different documents
    — the op C4 applies at the line level and RefinedWeb at the span level.

    Scale shape: chunking is a map-only JVM expression (split + transform +
    slice — no explode of words, no Python); the only shuffles are the
    groupBy on chunk digest (uniform md5 keys) and the per-doc reassembly
    groupBy.  First-occurrence selection is one min(struct) aggregate, so a
    chunk shared by 10^6 docs costs one combine tree, never a self-join.

    Output: (doc_id, dedup_text, n_chunks_kept, n_chunks_total).
    """
    w = CHUNK_WORDS
    df = documents.select(F.col("doc_id"),
                          normalized(F.col("text")).alias("__norm"))
    words = F.split(F.col("__norm"), " ")
    n_chunks = F.greatest(F.ceil(F.size(words) / F.lit(float(w))).cast("int"),
                          F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(words, i * w + 1, w), " "))
    ex = (df.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
          # group/join on the 16-byte digest, not the ~100+-byte raw
          # 20-word chunk: the digest is the shuffle key AND payload of
          # the dedup stages (md5, not a 64-bit hash — at 100 TB the
          # corpus holds ~10^10 chunks, where 64-bit birthday collisions
          # are expected and would silently drop non-duplicate spans)
          .withColumn("__digest", F.unhex(F.md5(F.col("chunk"))))
          # the exploded chunk relation feeds three consumers (the
          # first-occurrence agg, the kept join probe, and the per-doc
          # totals below); materialize it once — r5 re-ran the
          # normalize+chunk+md5 subtree per consumer.  Lazy: no job
          # until the caller's first action.
          .localCheckpoint(eager=False))
    # first occurrence of each distinct chunk across the corpus: one
    # min(struct) agg — (doc_id, chunk_idx) lexicographic order
    firsts = (ex.groupBy("__digest")
              .agg(F.min(F.struct(F.col("doc_id").alias("k"),
                                  F.col("chunk_idx").alias("i"))).alias("f")))
    kept = (ex.join(firsts, "__digest")
            .where((F.col("doc_id") == F.col("f.k"))
                   & (F.col("chunk_idx") == F.col("f.i"))))
    assembled = (kept.groupBy("doc_id")
                 .agg(F.array_join(
                          F.transform(
                              F.array_sort(F.collect_list(
                                  F.struct(F.col("chunk_idx"), F.col("chunk")))),
                              lambda s: s["chunk"]),
                          " ").alias("dedup_text"),
                      F.count(F.lit(1)).alias("n_chunks_kept")))
    # docs whose EVERY chunk was seen earlier keep an empty-text row
    # (C4 semantics: the document survives, its content is fully removed).
    # Totals come from the materialized exploded relation (one row per
    # chunk, >= 1 per doc since n_chunks is floored at 1) instead of a
    # third pass over the documents.
    base = (ex.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_chunks_total")))
    return (base.join(assembled, ["doc_id"], "left")
            .select("doc_id",
                    F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
                    F.coalesce("n_chunks_kept", F.lit(0)).alias("n_chunks_kept"),
                    "n_chunks_total"))


def build_corpus_index(corpus: DataFrame) -> DataFrame:
    """Static near-dup index over an accepted corpus: one row per (band,
    bucket) a corpus doc occupies, carrying the doc's full signature array.

    (band, bucket, corpus_id, corpus_sig).  At production scale this is a
    materialized artifact written `bucketBy(band, bucket)` so the per-batch
    probe join below runs without shuffling the corpus side."""
    # ONE map-only pass: the signature array rides along through the band
    # explode instead of being re-derived and equi-joined back on the key
    # (the r5 shape ran the full signature md5 pass twice — once under the
    # bucket explode, once under sig_arr — plus a join that exists only to
    # reunite two projections of the same row).  Bit-identical output.
    sig = minhash_signatures(corpus)
    return (sig
            .withColumn("corpus_sig",
                        F.array(*[F.col(f"mh{i}") for i in range(NUM_HASHES)]))
            .withColumn("p", F.explode(band_buckets(NUM_HASHES, BANDS)))
            .select(F.col("p.band").alias("band"),
                    F.col("p.bucket").alias("bucket"),
                    F.col("doc_id").alias("corpus_id"), "corpus_sig"))


def filter_near_dups_of_corpus(new_docs: DataFrame, corpus_index: DataFrame,
                               text_col: str = "text", key_col: str = "doc_id",
                               n: int = SHINGLE_N,
                               num_hashes: int = NUM_HASHES,
                               bands: int = BANDS,
                               est_gate: float = 0.5) -> DataFrame:
    """Drop every `new_docs` row that is a probable near-duplicate of a doc
    already in the corpus: its signature shares a band bucket with a corpus
    doc AND the signature-match estimate reaches est_gate.

    The incremental-ingest dedup shape (new crawl vs accepted corpus):
    signatures and band buckets for the new side are MAP-ONLY expressions,
    the probe is an equi-join on (band, bucket) — broadcastable when the
    new batch is small, shuffle-free against a bucketBy(band,bucket) corpus
    index otherwise — and survivors come from one left_anti join.  No
    all-pairs comparison anywhere.  Index and probe both derive buckets
    with band_buckets, so they always agree."""
    d = with_minhash_signatures(new_docs, text_col, num_hashes, n)
    pr = (d.withColumn(
              "sig", F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]))
          .withColumn("p", F.explode(band_buckets(num_hashes, bands)))
          .select(F.col(key_col), F.col("p.band").alias("band"),
                  F.col("p.bucket").alias("bucket"), "sig"))
    est = F.aggregate(
        F.zip_with("sig", "corpus_sig", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v) / float(num_hashes)
    dup_ids = (pr.join(corpus_index, ["band", "bucket"])
               .where(est >= est_gate)
               .select(key_col).distinct())
    return new_docs.join(dup_ids, key_col, "left_anti")


def _edge_checksum(edges: DataFrame) -> tuple:
    """Order-insensitive fingerprint of an edge set (count + hash sum).
    Scalar aggregate — the only driver-side value in the CC loop."""
    row = edges.agg(F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum(F.hash("u", "v").cast("long")),
                               F.lit(0)).alias("h")).collect()[0]
    return (row["n"], row["h"])


def connected_components(pairs: DataFrame) -> DataFrame:
    """(node, component) for every node in the (id_a, id_b) pair graph,
    where component is the MINIMUM node id in the node's connected
    component.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
    O(log n) rounds regardless of graph diameter, unlike min-label
    propagation whose round count equals the diameter (a 10^6-long chain of
    near-dup docs would need 10^6 shuffles under propagation, ~20 here).
    Each round is two groupBy/join stages keyed on node id;
    `localCheckpoint` truncates the iterative lineage so plans stay flat.

    * large-star: every neighbor v > u is re-pointed at
      m = min(N(u) + [u])   (halves long chains)
    * small-star: every smaller-neighbor v < u (and u itself) is pointed at
      m = min of the smaller neighborhood   (flattens into stars)

    On convergence the edge set IS the component map: (v, m) with m the
    component minimum; minima themselves have no outgoing edge.

    Pairs with a NULL endpoint are dropped up front (both regimes): a
    null id cannot name a component, and keeping the semantics identical
    across regimes is what makes the two-regime plan transparent.

    Two-regime plan (same pattern as the join's broadcast-vs-shuffle cost
    model): an edge set small enough to collect (<= DRIVER_THRESHOLD
    pairs) runs a driver-side union-find instead, trading ~6 distributed
    rounds x 4 stages of fixed job overhead for one collect.  The gate and
    the data come from ONE `limit(threshold+1).collect()` — no separate
    count() that would evaluate the (possibly non-deterministic) upstream
    lineage twice, and for an over-threshold graph the scan stops after
    threshold+1 rows instead of counting everything.  Memory: collected
    Rows cost ~100-150 B each on the driver (object headers dominate the
    16 raw bytes), so the 1M threshold holds ~150 MB transiently before
    being condensed into int dicts.  A near-dup graph is usually tiny
    relative to its corpus even at 100 TB; the iterative O(log n) path
    remains for the ones that aren't.
    """
    # node ids must be integral: the star rounds and the driver union-find
    # both key on longs, and casting a non-numeric id would silently turn
    # every edge into (NULL, NULL) -> everything a singleton.  Fail loudly.
    # Zero-scale decimals (decimal(k,0) — common for ids arriving from
    # Parquet/JDBC sources) cast to long losslessly for k <= 18 and are
    # accepted too (r5's strictness fix over-rejected them).
    import re as _re
    dtypes = dict(pairs.dtypes)
    for col in ("id_a", "id_b"):
        dt = dtypes.get(col)
        m = _re.fullmatch(r"decimal\((\d+),0\)", dt or "")
        if dt not in ("tinyint", "smallint", "int", "bigint") and not (
                m and int(m.group(1)) <= 18):
            raise TypeError(
                f"connected_components needs integral node ids; {col!r} is "
                f"{dt} — map keys to longs (e.g. a dimension "
                f"table with monotonically_increasing_id) before clustering")
    pairs = (pairs.select(F.col("id_a").cast("long").alias("id_a"),
                          F.col("id_b").cast("long").alias("id_b"))
             .where(F.col("id_a").isNotNull() & F.col("id_b").isNotNull()))
    rows = (pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
            .limit(DRIVER_THRESHOLD + 1).collect())
    if len(rows) <= DRIVER_THRESHOLD:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:       # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            ru, rv = find(int(r["u"])), find(int(r["v"]))
            if ru != rv:                   # union by min id
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        comp = [(n, find(n)) for n in list(parent)]
        return local_frame(pairs.sparkSession, comp,
                           "node long, component long")

    # over budget: distributed loop
    edges = (pairs.select(F.col("id_a").cast("long").alias("u"),
                          F.col("id_b").cast("long").alias("v"))
             .where(F.col("u") != F.col("v")).distinct())
    nodes = (pairs.select(F.col("id_a").cast("long").alias("node"))
             .unionByName(pairs.select(F.col("id_b").cast("long").alias("node")))
             .distinct())

    prev = None
    for _ in range(MAX_ROUNDS):
        # large-star over the symmetric neighborhood
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", F.col("u")).alias("m")))
        edges = (sym.join(mins, "u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .where(F.col("u") != F.col("v")).distinct())
        # small-star over edges directed toward the smaller endpoint
        d = (edges.select(F.greatest("u", "v").alias("u"),
                          F.least("u", "v").alias("v")))
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        nb = d.join(mins, "u")
        edges = (nb.select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .unionByName(mins.select("u", F.col("m").alias("v")))
                 .where(F.col("u") != F.col("v")).distinct()
                 .localCheckpoint())
        cur = _edge_checksum(edges)
        if cur == prev:
            break
        prev = cur

    comp = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (nodes.join(comp, "node", "left")
            .select("node",
                    F.coalesce("component", F.col("node")).alias("component")))


def dedup_clusters(documents: DataFrame, n: int = SHINGLE_N,
                   num_hashes: int = NUM_HASHES, bands: int = BANDS,
                   threshold: float = THRESHOLD) -> DataFrame:
    """End-to-end near-dup clustering: LSH-verified pairs -> connected
    components -> one canonical (min-id) doc per cluster.

    Output: (doc_id, cluster_id, is_kept) for EVERY document — singletons
    cluster with themselves.  `is_kept` marks the canonical doc; filtering
    on it yields the deduplicated corpus.  This is the full production
    near-dup removal pipeline shape at 100 TB: banded LSH bounds candidate
    generation, exact Jaccard prevents false drops, large/small-star
    bounds shuffle rounds at O(log n)."""
    # eager localCheckpoint: the pair set seeds BOTH the edge list and the
    # node list of the CC loop (and the final doc join) — unmaterialized,
    # the whole LSH+verify pipeline would re-run once per consumer.
    # localCheckpoint (not persist) so the blocks are freed by the
    # ContextCleaner when the caller drops the result, instead of
    # accumulating in executor storage across calls in a long session.
    # Tradeoff: lineage is discarded, so an executor lost mid-job (spot
    # nodes, dynamic-allocation decommission) cannot recompute its blocks
    # and the job fails — on preemptible clusters prefer persist() with an
    # unpersist hook, or reliable checkpointing to shared storage.
    pairs = verified_near_dup_pairs(documents, n, num_hashes, bands,
                                    threshold).localCheckpoint()
    comp = connected_components(pairs)
    return (documents.select(F.col("doc_id"))
            .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", F.col("doc_id")).alias("cluster_id"))
            .withColumn("is_kept", F.col("cluster_id") == F.col("doc_id")))


def verified_near_dup_pairs(documents: DataFrame, n: int = SHINGLE_N,
                            num_hashes: int = NUM_HASHES, bands: int = BANDS,
                            threshold: float = THRESHOLD) -> DataFrame:
    """MinHash-LSH candidates verified by EXACT n-gram Jaccard — the
    production near-dup shape: the LSH band join bounds candidate
    generation (never all-pairs), then the exact similarity is computed
    ONLY for candidates, so false-positive bucket collisions (template-
    heavy corpora collide constantly) never cause a false drop.

    Between the band join and the exact join sits a SIGNATURE-ESTIMATE
    gate: est = (matching minhashes)/num_hashes must reach
    `threshold - 0.3`.  The estimate is a binomial(num_hashes, jaccard)
    mean, so a true >=threshold pair fails the gate with probability
    ~1e-4 at 16 hashes (3.8 sigma) — while template-heavy corpora, whose
    band joins emit millions of ~0.3-jaccard collisions, shed ~90% of
    candidates before the expensive shingle-intersection join.  The gate
    is a pure function of the signatures, so the DuckDB oracle reproduces
    it bit-for-bit.

    Output: (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    """
    est_gate = max(0.0, threshold - 0.3)
    # signatures are computed ONCE and materialized (eager localCheckpoint,
    # cleaned up with the result's lifetime): the band join, the estimate
    # gate, and (at scale) repeated runs all read the same tiny
    # (#docs x num_hashes longs) table -- the materialized-index pattern.
    sig = minhash_signatures(documents, n, num_hashes).localCheckpoint()
    sig_arr = sig.select(
        "doc_id", F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("sig"))
    # Raw band collisions WITHOUT the dedupe: on template corpora the band
    # join emits millions of duplicate-laden rows, and the gate (a pure
    # per-pair predicate) is cheaper than a distinct — the sig joins are
    # broadcast/map-side and the gate runs before the only shuffle, so the
    # distinct sees ~10x fewer rows than gating after it would.
    b = minhash_lsh_buckets(documents, n, num_hashes, bands, signatures=sig)
    raw = (b.select("band", "bucket", F.col("doc_id").alias("id_a"))
           .join(b.select("band", "bucket", F.col("doc_id").alias("id_b")),
                 ["band", "bucket"])
           .where(F.col("id_a") < F.col("id_b"))
           .select("id_a", "id_b"))
    raw = (raw
           .join(sig_arr.select(F.col("doc_id").alias("id_a"),
                                F.col("sig").alias("sa")), "id_a")
           .join(sig_arr.select(F.col("doc_id").alias("id_b"),
                                F.col("sig").alias("sb")), "id_b"))
    est = F.aggregate(F.zip_with("sa", "sb", lambda x, y: (x == y).cast("int")),
                      F.lit(0), lambda acc, v: acc + v) / float(num_hashes)
    # materialize the gated pairs: used three times below (two explode-side
    # semi-joins + the intersection join) — without this Spark re-derives
    # the whole band join + gate per use
    pairs = (raw.where(est >= est_gate)
             .select("id_a", "id_b").distinct().localCheckpoint())
    # The exact verify only touches docs that SURVIVED the gate — semi-join
    # the corpus down BEFORE exploding shingles.  At production scale the
    # candidate set is a tiny fraction of the corpus, so this turns the
    # verify stage's shuffle from O(corpus shingles) into O(candidate
    # shingles); output is identical (non-candidate docs never reach the
    # intersection join anyway).
    cand_ids = (pairs.select(F.col("id_a").alias("doc_id"))
                .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
                .distinct())
    docs_cand = documents.join(cand_ids, "doc_id", "semi")
    # Exact verify as a per-pair array intersection: each candidate doc's
    # distinct-gram ARRAY (map-only expression) joins to its pairs, and
    # n_inter = size(array_intersect(ga, gb)) — identical to counting
    # shared exploded shingles, but with no 100M-row (pair x shingle)
    # shuffle join and no separate per-doc size table (sizes are just
    # size(g)).  Shuffle volume is pairs x gram-array payload; on template
    # corpora (dense candidates) this beats the inverted-index join, and
    # with rare candidates both are small.
    # ship 60-bit md5 gram hashes, not gram strings: the pair join below
    # duplicates each doc's gram payload once per pair it appears in, so
    # payload width drives the dominant shuffle (8B/gram vs ~25B/gram).
    # Distinct within a doc is computed on the STRINGS first; a 60-bit
    # cross-gram collision (p ~ 1e-12/doc) is mirrored bit-for-bit by the
    # DuckDB oracle, which hashes the same way.  localCheckpoint(): both
    # join branches read the same small table instead of re-deriving it,
    # and the blocks die with the result instead of pinning the cache.
    ghashed = F.transform(
        _distinct_grams("__norm", n),
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"))
    gdf = (docs_cand.select(F.col("doc_id"),
                            normalized(F.col("text")).alias("__norm"))
           .select(F.col("doc_id"), ghashed.alias("g")).localCheckpoint())
    scored = (pairs
              .join(gdf.select(F.col("doc_id").alias("id_a"),
                               F.col("g").alias("ga")), "id_a")
              .join(gdf.select(F.col("doc_id").alias("id_b"),
                               F.col("g").alias("gb")), "id_b")
              .select("id_a", "id_b",
                      F.size(F.array_intersect("ga", "gb")).alias("n_inter"),
                      F.size("ga").alias("sz_a"), F.size("gb").alias("sz_b")))
    return (scored
            .withColumn("jaccard", F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def dedup_resolve(documents: DataFrame, n: int = SHINGLE_N,
                  num_hashes: int = NUM_HASHES, bands: int = BANDS,
                  threshold: float = THRESHOLD) -> DataFrame:
    """Near-dup RESOLUTION: cluster, then keep the LONGEST document per
    cluster (ties broken by smallest id).  `dedup_clusters` keeps the
    min-id doc — an arbitrary representative; production pipelines
    (RefinedWeb, CCNet-style curation) keep the *best* copy, and doc
    length is the standard deterministic proxy when near-dups differ by
    truncation or boilerplate trim.

    Output per document: (doc_id, cluster_id, kept_doc_id, is_kept).
    Filtering on is_kept yields the deduplicated corpus; the
    (doc_id -> kept_doc_id) map is the redirect table for downstream
    references.

    Scale shape: one join of the cluster map to (doc_id, length) — both
    keyed on doc_id, co-partitioned — then the per-cluster argmax as
    max(struct(len, -id)), an ordinary partial-aggregatable max (map-side
    combine absorbs giant boilerplate clusters; no window sort), and a
    join back keyed on cluster_id (AQE skew-join splits any pathological
    mega-cluster).
    """
    clusters = dedup_clusters(documents, n, num_hashes, bands, threshold) \
        .select("doc_id", "cluster_id")
    # scored is consumed twice (the per-cluster argmax and the final
    # annotate join); materialize the tiny (key, cluster, len) table once
    # (lazy) so the cluster-map join lineage doesn't run per consumer
    scored = clusters.join(
        documents.select(F.col("doc_id"),
                         F.length("text").alias("__len")), "doc_id") \
        .localCheckpoint()
    # argmax(len, then min id) as a plain min over (-len, id): partial
    # aggregation applies, unlike a row_number window which must co-sort
    # every cluster's rows in one partition.  Negating the LENGTH (always
    # numeric) instead of the key keeps string/any-orderable keys working.
    best = (scored.groupBy("cluster_id")
            .agg(F.min(F.struct((-F.col("__len")).alias("neg_len"),
                                F.col("doc_id").alias("k"))).alias("b"))
            .select("cluster_id", F.col("b.k").alias("kept_doc_id")))
    return (scored.join(best, "cluster_id")
            .select("doc_id", "cluster_id", "kept_doc_id",
                    (F.col("doc_id") == F.col("kept_doc_id")).alias("is_kept")))


def line_dedup(documents: DataFrame) -> DataFrame:
    """Corpus-level LINE deduplication (the C4 / Dolma boilerplate rule):
    drop every line whose trimmed form occurs at least `MIN_LINE_COUNT` times
    across the corpus — navigation chrome, cookie banners, copyright
    footers — and reassemble each document from its surviving lines in
    original order.  Whitespace-only lines are removed outright.

    Output per document: (doc_id, n_lines, n_kept, text_clean), where
    text_clean joins kept lines with a single newline ('' if none
    survive).

    Scale shape: the line-frequency count is a hash aggregate with
    map-side combine, so a line occurring a billion times still arrives
    at the reducer as one partial count per mapper (no hot-key shuffle).
    The banned set (count >= MIN_LINE_COUNT) is tiny relative to distinct
    lines and joins back as a left_anti keyed on the line — AQE picks a
    broadcast when it fits and splits skewed probe partitions when it
    does not.  Reassembly shuffles once keyed on doc_id (never skewed:
    a doc's lines are bounded by the doc itself).  The exploded `lines`
    relation feeds three consumers (frequency agg, anti-join probe,
    per-doc sizes) and is materialized once (lazy localCheckpoint, r6):
    storing blocks of roughly corpus size that die with the result
    measured cheaper than re-running the scan + split + trim + filter
    subtree per consumer.

    Trimming uses the full whitespace class (regexp), not trim()'s
    space-only semantics: tab-indented or CR-terminated copies of a
    boilerplate line must unify to one banned form, and a "\\t" line is
    whitespace-only and removed.
    """
    ws_trim = lambda c: F.regexp_replace(c, r"^\s+|\s+$", "")  # noqa: E731
    # r6: materialize the exploded line relation once (lazy checkpoint).
    # It feeds three consumers (frequency agg, anti-join probe, per-doc
    # sizes); r5 deliberately re-ran the scan+split per consumer on the
    # argument that the exploded relation is larger than its source, but
    # measurement shows the explode+trim+filter recompute costs more
    # than storing blocks of roughly corpus size that die with the
    # result — the same trade every shuffle of this relation makes.
    lines = (documents
             .select(F.col("doc_id"),
                     F.posexplode(F.split(F.col("text"), "\n"))
                     .alias("idx", "line"))
             .withColumn("line", ws_trim(F.col("line")))
             .where(F.length("line") > 0)
             .localCheckpoint(eager=False))
    banned = (lines.groupBy("line")
              .agg(F.count(F.lit(1)).alias("__n"))
              .where(F.col("__n") >= MIN_LINE_COUNT)
              .select("line"))
    kept = lines.join(banned, "line", "left_anti")
    sizes = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    assembled = (kept.groupBy("doc_id")
                 .agg(F.count(F.lit(1)).alias("n_kept"),
                      F.concat_ws("\n", F.transform(
                          F.array_sort(F.collect_list(
                              F.struct("idx", "line"))),
                          lambda s: s["line"])).alias("text_clean")))
    return (documents.select("doc_id")
            .join(sizes, "doc_id", "left")
            .join(assembled, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("text_clean", F.lit("")).alias("text_clean")))


def lsh_collision_probability(jaccard: float, bands: int,
                              rows_per_band: int) -> float:
    """Probability a pair at the given Jaccard similarity shares at least
    one LSH band bucket: 1 - (1 - j^r)^b (the banding S-curve, Mining of
    Massive Datasets ch. 3).  Pure function — drives lsh_plan and lets a
    pipeline report its own expected false-negative rate."""
    return 1.0 - (1.0 - jaccard ** rows_per_band) ** bands


def lsh_plan(threshold: float, max_hashes: int = 256) -> dict:
    """Choose (num_hashes, bands, rows_per_band) whose S-curve midpoint
    (1/b)^(1/r) sits closest to the target Jaccard threshold, subject to
    bands * rows <= max_hashes.  Among near-ties (within 0.01) prefer
    more total hashes — a steeper S-curve, i.e. fewer false positives
    below the threshold AND fewer false negatives above it.  Returns the
    plan plus its predicted catch/leak rates at threshold +/- 0.1 so the
    caller can budget the verify stage.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    cands = [(abs((1.0 / b) ** (1.0 / r) - threshold), b * r, b, r,
              (1.0 / b) ** (1.0 / r))
             for r in range(1, max_hashes + 1)
             for b in range(1, max_hashes // r + 1)]
    min_err = min(c[0] for c in cands)
    # among near-optimal midpoints, maximize hashes (steepness); break
    # remaining ties by lower err, then fewer bands — fully deterministic
    _, _, bands, rows, mid = max(
        (c for c in cands if c[0] <= min_err + 0.01),
        key=lambda c: (c[1], -c[0], -c[2]))
    return {
        "num_hashes": bands * rows,
        "bands": bands,
        "rows_per_band": rows,
        "midpoint": round(mid, 4),
        "p_catch_above": round(
            lsh_collision_probability(min(threshold + 0.1, 0.999),
                                      bands, rows), 4),
        "p_leak_below": round(
            lsh_collision_probability(max(threshold - 0.1, 0.001),
                                      bands, rows), 4),
    }
