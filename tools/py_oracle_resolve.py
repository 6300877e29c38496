"""Independent pure-Python oracle for dedup_resolve, mirroring the DuckDB
oracle SQL semantics exactly (hashlib md5, sets, union-find) — used to
validate the 4x-scale copies whose DuckDB runs exceed the box's temp disk.

Usage: python py_oracle_resolve.py <sf_dir> [more dirs...]
Compares against the Spark engine's dedup_resolve output for each dir.
"""
import hashlib
import math
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def md5_15(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def round6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def py_resolve(rows, n=5, num_hashes=16, bands=4, threshold=0.8):
    """rows: list of (doc_id, text). Returns sorted [(doc_id, cluster_id,
    kept_doc_id, is_kept)].  Parameters and the estimate gate
    (threshold - 0.3) mirror dedup_resolve."""
    grams_of, hset_of, raw_len, sig_of = {}, {}, {}, {}
    for doc_id, text in rows:
        raw_len[doc_id] = len(text)
        # Spark/DuckDB trim() strips spaces only, and their \s is ASCII
        t = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.strip(" ").lower())
        if len(t) >= n:
            gs = {t[i:i + n] for i in range(len(t) - n + 1)}
        else:
            gs = {t}
        grams_of[doc_id] = gs
        hset_of[doc_id] = {md5_15(g) for g in gs}
        sig_of[doc_id] = [min(md5_15(f"mh{i}_" + g) for g in gs)
                          for i in range(num_hashes)]
    # band buckets
    rows_per_band = num_hashes // bands
    buckets = {}
    for doc_id, sig in sig_of.items():
        for b in range(bands):
            band = sig[b * rows_per_band:(b + 1) * rows_per_band]
            key = (b, hashlib.md5(
                "_".join(str(v) for v in band).encode()).hexdigest())
            buckets.setdefault(key, []).append(doc_id)
    cand = set()
    for members in buckets.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                cand.add((members[i], members[j]))
    # signature-estimate gate
    gate = max(0.0, threshold - 0.3)
    gated = [(a, b) for a, b in cand
             if sum(1 for i in range(num_hashes) if sig_of[a][i] == sig_of[b][i])
             / num_hashes >= gate]
    # exact verify
    pairs = []
    for a, b in gated:
        n_inter = len(hset_of[a] & hset_of[b])
        sz_a, sz_b = len(grams_of[a]), len(grams_of[b])
        if round6(n_inter / (sz_a + sz_b - n_inter)) >= threshold:
            pairs.append((a, b))
    # connected components, min-id representative
    parent = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    cluster = {d: (find(d) if d in parent else d) for d in grams_of}
    # keep longest raw text, tie -> min doc_id
    best = {}
    for d in grams_of:
        c = cluster[d]
        key = (-raw_len[d], d)
        if c not in best or key < best[c][0]:
            best[c] = (key, d)
    return sorted((d, cluster[d], best[cluster[d]][1],
                   d == best[cluster[d]][1]) for d in grams_of)


def spark_resolve(sf_dir, spark, qs):
    df = qs["dedup_resolve"](spark, sf_dir)
    return sorted(tuple(r) for r in df.collect())


def main():
    import duckdb

    import __spark_entry__ as entry
    from s2spark.plans.session import build_session, release_session_state
    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    con = duckdb.connect()
    ok = True
    for sf_dir in sys.argv[1:]:
        rows = con.sql(
            f"select doc_id, text from '{sf_dir}/documents.parquet'"
        ).fetchall()
        expected = py_resolve(rows)
        got = spark_resolve(sf_dir, spark, qs)
        release_session_state(spark)
        match = expected == got
        ok &= match
        print(f"{'OK  ' if match else 'FAIL'} {sf_dir}: "
              f"{len(got)} rows, clusters>1: "
              f"{sum(1 for r in expected if r[0] != r[1])}")
        if not match:
            es, gs = set(expected), set(got)
            print("  only expected:", list(es - gs)[:4])
            print("  only got:     ", list(gs - es)[:4])
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
