"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k: the correctness baseline — cross join pruned by
  broadcast of the (small) query side; dot product as a JVM higher-order
  function (zip_with + aggregate), no Python.
* LSH-bucketed (sign-random-projection) variant: the scale path — each
  vector hashed to a b-bit sketch by the signs of b fixed pseudo-random
  projections; candidates share a bucket (multi-probe by flipping one bit),
  so the join is an equi-join on bucket id instead of all-pairs.
* embedding-cosine near-dup: same machinery, thresholded.

At 100 TB the all-pairs form is impossible; the bucket join shuffles on
uniformly-distributed sketch ids and scales linearly in candidates.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# ivf_topk / semdedup coarse quantizer: every CENTROID_STRIDE-th vector (by
# key) is a centroid; ivf_topk probes the NPROBE closest lists per query
CENTROID_STRIDE = 31
NPROBE = 4
# width of the embedding vectors cosine_near_dup_pairs sketches
NEAR_DUP_DIM = 64


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns: one higher-order aggregate, whose
    FP fold order is (((0.0 + a1*b1) + a2*b2) + ...)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    """sqrt(sum of squares), one higher-order aggregate like _dot."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def as_double_array(col: Column) -> Column:
    return F.transform(col, lambda v: v.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """`cosine` with the per-side norms precomputed as columns.

    Bit-identical to `cosine` (same _dot(a,b) / (na * nb) double
    expression tree — norms are stored doubles, multiplication order
    unchanged), but the norms are evaluated once per ROW instead of once
    per candidate PAIR.  In the hot pair joins (N x C centroid
    assignment, within-bucket/within-cluster self-joins) the per-pair
    lambda work drops from three array aggregates (dot + both norms) to
    one (the dot): at 10^9 vectors x sqrt(N) centroids the two hoisted
    norms are the difference between 3x and 1x full-corpus-dim passes
    per candidate."""
    return _dot(a, b) / (na * nb)


def brute_force_topk(embeddings: DataFrame, queries: DataFrame,
                     k: int) -> DataFrame:
    """Exact cosine top-k per query (queries broadcast; data side streamed)
    of (vec_id, embedding) data against (query_id, embedding) queries.

    Output: (query_id, vec_id, cos_sim, rank)."""
    d = (embeddings.select(F.col("vec_id"),
                           as_double_array(F.col("embedding")).alias("v"))
         .withColumn("nv", _norm(F.col("v"))))
    q = (queries.select(F.col("query_id"),
                        as_double_array(F.col("embedding")).alias("qv"))
         .withColumn("nq", _norm(F.col("qv"))))
    scored = (d.crossJoin(F.broadcast(q))
              .withColumn("cos_sim", F.round(_cosine_pre(
                  F.col("qv"), F.col("v"), F.col("nq"), F.col("nv")), 4)))
    return _rank_topk(scored, k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The k best `cos_sim` per query, ties to the lowest vec_id:
    (query_id, vec_id, cos_sim, rank)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", "cos_sim", "rank"))


def _projection_vectors(dim: int, bits: int) -> list[list[float]]:
    """Deterministic pseudo-random unit projections (fixed LCG, no numpy
    dependency at plan-build time)."""
    vecs = []
    state = 0x853C49E6748FEA9B
    for _ in range(bits):
        comps = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            comps.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        n = math.sqrt(sum(c * c for c in comps)) or 1.0
        vecs.append([c / n for c in comps])
    return vecs


def srp_sketch(vec: Column, dim: int, bits: int = 16) -> Column:
    """Sign-random-projection b-bit sketch as a single integer Column.

    The projection dot product is rounded to 6 decimals BEFORE taking the
    sign: the raw sign of an FP sum is sensitive to summation order across
    engines (a dot near 0 can flip), while a rounded value only differs if
    two engines straddle a 1e-6 boundary — which makes the sketch portable
    enough for a DuckDB oracle.

    Each projection is ONE array literal of D-suffixed doubles (a bare
    0.123 would parse as DECIMAL), not F.lit(list), which builds the array
    one JVM call per element."""
    projections = _projection_vectors(dim, bits)
    sketch = F.lit(0).cast("long")
    for b, proj in enumerate(projections):
        lit = F.expr("array(" + ", ".join(f"{c!r}D" for c in proj) + ")")
        d = F.round(_dot(vec, lit), 6)
        sketch = sketch + F.when(d >= 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return sketch


def lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int, dim: int,
             bits: int = 12) -> DataFrame:
    """Approximate cosine top-k: candidates = data vectors whose SRP sketch
    is within Hamming distance 1 of the query's sketch (multi-probe).
    Inputs and output as brute_force_topk."""
    d = (embeddings.select(F.col("vec_id"),
                           as_double_array(F.col("embedding")).alias("v"))
         .withColumn("nv", _norm(F.col("v"))))
    d = d.withColumn("bucket", srp_sketch(F.col("v"), dim, bits))
    q = (queries.select(F.col("query_id"),
                        as_double_array(F.col("embedding")).alias("qv"))
         .withColumn("nq", _norm(F.col("qv"))))
    q = q.withColumn("sketch", srp_sketch(F.col("qv"), dim, bits))
    probes = F.array(F.col("sketch"),
                     *[F.col("sketch").bitwiseXOR(F.lit(1 << b).cast("long"))
                       for b in range(bits)])
    q = q.withColumn("bucket", F.explode(probes))
    # dedupe candidates BEFORE ranking: a data vector reachable through
    # several probe buckets must hold one rank, not occupy several
    cand = (d.join(F.broadcast(q), "bucket")
            .dropDuplicates(["query_id", "vec_id"])
            .withColumn("cos_sim", F.round(_cosine_pre(
                F.col("qv"), F.col("v"), F.col("nq"), F.col("nv")), 4)))
    return _rank_topk(cand, k)


def cosine_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                          bits: int = 12) -> DataFrame:
    """Embedding-cosine near-duplicate pairs of a (vec_id, embedding)
    table via SRP bucket self-join: (id_a, id_b, cos_sim)."""
    d = (embeddings.select(F.col("vec_id"),
                           as_double_array(F.col("embedding")).alias("v"))
         .withColumn("nv", _norm(F.col("v"))))
    d = d.withColumn("bucket", srp_sketch(F.col("v"), NEAR_DUP_DIM, bits))
    l = d.select(F.col("bucket"), F.col("vec_id").alias("id_a"),
                 F.col("v").alias("va"), F.col("nv").alias("na"))
    r = d.select(F.col("bucket"), F.col("vec_id").alias("id_b"),
                 F.col("v").alias("vb"), F.col("nv").alias("nb"))
    return (l.join(r, "bucket").where(F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim", F.round(_cosine_pre(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 4))
            .where(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim").distinct())


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """IVF-flat approximate top-k: the partition-pruned ANN scale path.

    Coarse quantizer: every `CENTROID_STRIDE`-th vector (by key) is a
    centroid — a deterministic seeding (no Lloyd iterations) so the index
    is a pure function of the data and reproducible in the SQL oracle.
    With stride ~ sqrt(N) this is the classic IVF shape: ~sqrt(N)
    centroids, ~sqrt(N) vectors per inverted list.

    Execution shape at 100 TB:
      * centroids are tiny (sqrt of the data) -> BROADCAST; nearest
        centroid per vector is a map-side partial max_by aggregate, so the
        only assignment shuffle carries one pre-reduced row per vector
        (O(N), independent of centroid count);
      * the data shuffles ONCE on centroid_id (building the inverted
        lists — in a persisted index this is the write-time layout, cf.
        sources.bucketed bucketing by tile);
      * each query probes its `NPROBE` closest centroids -> candidates
        arrive through an equi-join on centroid_id, never a cross join:
        the scan is pruned to NPROBE/num_centroids of the data.

    Similarities are rounded to 4 dp before ranking (ties broken by key)
    so ranks are stable across FP summation orders — same contract as
    lsh_topk / brute_force_topk.

    Output: (query_id, vec_id, cos_sim, rank) — schema-identical to
    brute_force_topk so callers can swap exact for approximate.
    """
    d = (embeddings.select(F.col("vec_id"),
                           as_double_array(F.col("embedding")).alias("v"))
         .withColumn("nv", _norm(F.col("v"))))
    cent = (d.where(F.col("vec_id") % CENTROID_STRIDE == 0)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("v").alias("cv"), F.col("nv").alias("ncv")))

    # assignment: argmax rounded-cosine over broadcast centroids via
    # max_by partial aggregation.  The broadcast-nested-loop join emits
    # N*C rows map-side, but the partial HashAggregate collapses them to
    # one row per vector BEFORE the exchange — the shuffle is O(N), never
    # O(N*C).  (A row_number window here would shuffle all N*C candidate
    # rows: a dead plan at 10^9 vectors x sqrt(N) centroids.)  Tie-break
    # contract unchanged: highest rounded sim, then lowest centroid_id,
    # encoded as max over the lexicographic struct (sim, -centroid_id).
    # Norms are hoisted per side (_cosine_pre): each of the N*C map-side
    # candidates costs ONE array aggregate (the dot), not three.
    sim = F.round(_cosine_pre(F.col("v"), F.col("cv"),
                              F.col("nv"), F.col("ncv")), 4)
    assigned = (d.crossJoin(F.broadcast(cent))
                .withColumn("sim", sim)
                .groupBy("vec_id")
                .agg(F.max_by(
                    F.struct(F.col("centroid_id"), F.col("v"), F.col("nv")),
                    F.struct(F.col("sim"),
                             (-F.col("centroid_id")).alias("nc"))).alias("a"))
                .select("vec_id", F.col("a.v").alias("v"),
                        F.col("a.nv").alias("nv"),
                        F.col("a.centroid_id").alias("centroid_id")))

    # query side: NPROBE nearest centroids each (same broadcast, tiny)
    q = (queries.select(F.col("query_id"),
                        as_double_array(F.col("embedding")).alias("qv"))
         .withColumn("nq", _norm(F.col("qv"))))
    qsim = F.round(_cosine_pre(F.col("qv"), F.col("cv"),
                               F.col("nq"), F.col("ncv")), 4)
    qw = Window.partitionBy("query_id").orderBy(F.desc("qsim"), F.col("centroid_id"))
    probes = (q.crossJoin(F.broadcast(cent))
              .withColumn("qsim", qsim)
              .withColumn("rn", F.row_number().over(qw))
              .where(F.col("rn") <= NPROBE)
              .select("query_id", "qv", "nq", "centroid_id"))

    # candidate generation: equi-join on centroid_id (inverted-list probe)
    cand = assigned.join(F.broadcast(probes), "centroid_id")
    scored = cand.withColumn(
        "cos_sim", F.round(_cosine_pre(F.col("qv"), F.col("v"),
                                       F.col("nq"), F.col("nv")), 4))
    return _rank_topk(scored, k)


def semdedup(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): remove documents
    whose EMBEDDINGS are near-duplicates, catching paraphrases and
    re-encodings that no lexical dedup (MinHash/SimHash/n-gram) can see.

    Shape: cluster the embedding space with a coarse quantizer, compute
    cosine similarity only WITHIN each cluster, threshold, and keep one
    canonical member per connected component of the resulting graph.
    The quantizer here is the same deterministic stride seeding as
    `ivf_topk` (every `CENTROID_STRIDE`-th vector by key) so the whole
    pipeline is a pure function of the data and reproducible in the SQL
    oracle; a production run would swap in k-means centroids — every
    downstream stage is unchanged by that substitution.

    Execution shape at 100 TB (mirrors the paper's reason for clustering
    first — all-pairs cosine over the corpus is impossible):
      * centroids are ~sqrt(N) rows -> BROADCAST; assignment is the same
        map-side max_by partial aggregate as ivf_topk, so the one
        assignment shuffle carries O(N) pre-reduced rows;
      * the pair join is an EQUI-join on centroid_id — candidate pairs
        are sum over clusters of |c|^2, never N^2.  With stride ~sqrt(N)
        that is ~N*sqrt(N) worst case and ~N*stride typical; a skewed
        quantizer (one mega-cluster) should be re-seeded, which is a
        quantizer-quality problem the paper accepts, not a plan problem;
      * components via the O(log n) large/small-star loop
        (`dedup.connected_components`), min-id canonicalization.

    Output: (vec_id, cluster_id, is_kept) for EVERY input row — singletons
    cluster with themselves; filtering on is_kept yields the
    semantically-deduplicated corpus.  Schema mirrors `dedup_clusters`
    so lexical and semantic dedup are drop-in interchangeable stages.
    """
    from .dedup import connected_components

    d = (embeddings.select(F.col("vec_id"),
                           as_double_array(F.col("embedding")).alias("v"))
         .withColumn("nv", _norm(F.col("v"))))
    cent = (d.where(F.col("vec_id") % CENTROID_STRIDE == 0)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.col("v").alias("cv"), F.col("nv").alias("ncv")))

    # nearest-centroid assignment: identical contract to ivf_topk
    # (rounded cosine, ties to the lowest centroid id, max_by partial agg
    # so the shuffle is O(N) not O(N x centroids)); norms hoisted per
    # side (_cosine_pre) so each N*C candidate costs one dot, not
    # dot + both norms
    sim = F.round(_cosine_pre(F.col("v"), F.col("cv"),
                              F.col("nv"), F.col("ncv")), 4)
    assigned = (d.crossJoin(F.broadcast(cent))
                .withColumn("sim", sim)
                .groupBy("vec_id")
                .agg(F.max_by(
                    F.struct(F.col("centroid_id"), F.col("v"), F.col("nv")),
                    F.struct(F.col("sim"),
                             (-F.col("centroid_id")).alias("nc"))).alias("a"))
                .select(F.col("vec_id"),
                        F.col("a.v").alias("v"),
                        F.col("a.nv").alias("nv"),
                        F.col("a.centroid_id").alias("centroid_id")))

    # within-cluster pairs only: equi-join on centroid_id
    lhs = assigned.select("centroid_id", F.col("vec_id").alias("id_a"),
                          F.col("v").alias("va"), F.col("nv").alias("na"))
    rhs = assigned.select("centroid_id", F.col("vec_id").alias("id_b"),
                          F.col("v").alias("vb"), F.col("nv").alias("nb"))
    pairs = (lhs.join(rhs, "centroid_id")
             .where(F.col("id_a") < F.col("id_b"))
             .withColumn("cos_sim", F.round(_cosine_pre(
                 F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 4))
             .where(F.col("cos_sim") >= threshold)
             .select("id_a", "id_b", "cos_sim")
             # the pair set seeds both sides of the CC loop; materialize
             # once (freed with the result, same rationale as
             # dedup.dedup_clusters)
             .localCheckpoint())

    comp = connected_components(pairs)
    return (embeddings.select(F.col("vec_id"))
            .join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
            .select(F.col("vec_id"),
                    F.coalesce("component", F.col("vec_id")).alias("cluster_id"))
            .withColumn("is_kept", F.col("cluster_id") == F.col("vec_id")))


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the standard 4x storage/bandwidth cut before ANN indexing or
    shipping vectors through a shuffle: q_i = round_even(v_i/s * 127),
    s = max |v_i| (so q spans [-127, 127]; dequantize as q*s/127).

    Map-only JVM higher-order functions — no shuffle, no Python; the op
    is embarrassingly parallel at any scale.  round-half-EVEN on an
    identical double expression tree keeps the quantized codes
    bit-identical across Spark, DuckDB, and numpy (the same parity note
    as the S2 StToIj encode).  Zero vectors quantize to all-zero codes
    via the epsilon-guarded scale.

    Output: (vec_id, dim, scale [6 dp], q [comma-joined int8 codes of
    `embedding` — a string so the value hash is engine-portable]).
    """
    v = as_double_array(F.col("embedding"))
    s = F.array_max(F.transform(v, F.abs))
    safe = F.greatest(s, F.lit(1e-30))
    q = F.transform(v, lambda x: F.bround(x / safe * 127, 0).cast("int"))
    return embeddings.select(
        F.col("vec_id"),
        F.size(v).alias("dim"),
        F.round(s, 6).alias("scale"),
        F.concat_ws(",", F.transform(q, lambda x: x.cast("string")))
        .alias("q"))


def recall_at_k(truth: DataFrame, retrieved: DataFrame) -> DataFrame:
    """Retrieval-quality evaluation: per-query recall of an approximate
    top-k result against the exact one — the measure-don't-guess gate
    every ANN deployment needs before trading exactness for speed.

    Output per truth query: (query_id, n_true, n_retrieved, n_hit,
    recall) with recall = n_hit / n_true.  Queries absent from
    `retrieved` score 0; items retrieved for queries absent from `truth`
    are ignored (recall is defined over the truth set).

    Scale shape: both inputs are top-k outputs (<= k rows per query), so
    every stage — two partial-aggregatable counts and one inner join on
    (query, item) — is bounded by k x #queries, never by corpus size.

    PRECONDITION: (query_id, vec_id) pairs must be UNIQUE within each input
    (true of every top-k producer in this module).  Duplicate rows would
    multiply-count through the hit join and can report recall > 1.0;
    deduplicating here would add two shuffles every call pays for a
    malformed input, so — like minhash_signatures' key-uniqueness
    precondition — it is the caller's contract.
    """
    t = truth.select("query_id", "vec_id")
    r = retrieved.select("query_id", "vec_id")
    n_true = t.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    n_ret = r.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_retrieved"))
    n_hit = (t.join(r, ["query_id", "vec_id"])
             .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")))
    return (n_true.join(n_ret, "query_id", "left")
            .join(n_hit, "query_id", "left")
            .select("query_id", "n_true",
                    F.coalesce("n_retrieved", F.lit(0)).alias("n_retrieved"),
                    F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
                    F.round(F.coalesce("n_hit", F.lit(0)) / F.col("n_true"),
                            4).alias("recall")))
