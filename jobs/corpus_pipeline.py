"""Resumable training-corpus cleaning pipeline (spark-submit entry point).

    spark-submit --py-files s2spark.zip jobs/corpus_pipeline.py \
        --sf-dir /root/testdata/sf0.1 --workdir /data/corpus_run1

The document-side counterpart of jobs/spatial_pipeline.py: the standard
LLM training-data preparation flow, every stage a pure DataFrame plan,
snapshot-checkpointed so a restarted job replays completed stages, and
audited with per-partition lineage rows.

  1. exact      drop exact duplicates (digest groupBy, first doc_id wins)
                — BEFORE line dedup, so a verbatim-repeated document
                collapses to one copy instead of banning its own lines
  2. lines      C4-style corpus line dedup (boilerplate removal): lines
                occurring >= 3x corpus-wide are stripped from every doc;
                docs with no surviving line are dropped
  3. features   documents -> quality features + predicted language +
                BPE-ish token counts                      [pure Column exprs]
  4. filter     quality gate (length / alpha-ratio / stopword floor)
  5. neardup    MinHash-LSH verified pairs -> connected components ->
                keep the LONGEST doc per near-dup cluster (dedup_resolve)
  6. corpus     final clean corpus + per-language token budget report

At 100 TB every stage is shuffle-bounded: features/filter are map-only,
line dedup's frequency agg combines map-side and reassembly shuffles on
doc_id, exact dedup shuffles once on the digest, near-dup shuffles on
LSH band buckets (never all-pairs) plus O(log n) CC rounds, and the
final report is a small agg.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from s2spark.operators import dedup, textstats  # noqa: E402
from s2spark.plans.audit import append_audit, partition_metrics  # noqa: E402
from s2spark.plans.checkpoint import SnapshotStore  # noqa: E402


# Stage-definition version: bump whenever a stage's SEMANTICS change (the
# r5 reorder reused the 'exact' stage name with different meaning — pre-
# and post-reorder snapshots must never mix on resume).  Committed with
# every snapshot; resume_or_compute recomputes on mismatch.
PIPELINE_VERSION = "corpus-v2-exact-before-lines"


def run(spark, sf_dir: str, workdir: str,
        min_tokens: int = 5, min_alpha_ratio: float = 0.5) -> dict:
    store = SnapshotStore(os.path.join(workdir, "snapshots"))
    audit_dir = os.path.join(workdir, "audit")
    raw = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def stage_exact():
        # exact dedup FIRST: a short document repeated verbatim >= 3x
        # would otherwise push its own body lines over line_dedup's
        # min_count and lose EVERY copy; collapsing verbatim duplicates
        # to one representative first means the line stage only ever
        # targets true cross-document boilerplate.
        keepers = dedup.exact_dedup(raw).select(
            F.col("keep_id").alias("doc_id"))
        df = raw.join(keepers, "doc_id", "left_semi")
        append_audit(partition_metrics(df, "exact"), audit_dir)
        return df

    uniq = store.resume_or_compute(spark, "exact", stage_exact,
                                         version=PIPELINE_VERSION)

    def stage_lines():
        # corpus-level boilerplate strip: substitute each doc's text with
        # its line-deduplicated form; docs reduced to nothing are dropped
        ld = dedup.line_dedup(uniq)
        df = (uniq.join(ld, "doc_id")
              .where(F.col("n_kept") > 0)
              .withColumn("text", F.col("text_clean"))
              .drop("n_lines", "n_kept", "text_clean"))
        append_audit(partition_metrics(df, "lines"), audit_dir)
        return df

    docs = store.resume_or_compute(spark, "lines", stage_lines,
                                         version=PIPELINE_VERSION)

    def stage_features():
        df = textstats.quality_features(docs)
        df = textstats.lang_id(df)
        df = df.join(textstats.token_counts(docs), "doc_id")
        append_audit(partition_metrics(df, "features"), audit_dir)
        return df

    feats = store.resume_or_compute(spark, "features", stage_features,
                                         version=PIPELINE_VERSION)

    def stage_filter():
        df = feats.where((F.col("n_bpe_tokens") >= min_tokens)
                         & (F.col("alpha_ratio") >= min_alpha_ratio))
        append_audit(partition_metrics(df, "filter"), audit_dir)
        return df

    kept = store.resume_or_compute(spark, "filter", stage_filter,
                                         version=PIPELINE_VERSION)

    def stage_neardup():
        # LSH bounds candidate generation, exact Jaccard verification
        # prevents template-collision false drops, connected components
        # (O(log n) rounds) close transitive chains, and the LONGEST doc
        # of each cluster survives (keep-best, not keep-arbitrary).
        resolved = dedup.dedup_resolve(kept, threshold=0.8)
        df = kept.join(resolved.where(F.col("is_kept")).select("doc_id"),
                       "doc_id", "left_semi")
        append_audit(partition_metrics(df, "neardup"), audit_dir)
        return df

    clean = store.resume_or_compute(spark, "neardup", stage_neardup,
                                         version=PIPELINE_VERSION)

    def stage_corpus():
        return (clean.groupBy("lang_pred")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_bpe_tokens").alias("n_tokens"),
                     F.round(F.avg("bytes_per_token"), 4).alias("avg_bpt")))

    report = store.resume_or_compute(spark, "corpus", stage_corpus,
                                         version=PIPELINE_VERSION)

    return {
        "raw_input": raw.count(),
        "unique": uniq.count(),
        "input": docs.count(),
        "kept": kept.count(),
        "clean": clean.count(),
        "langs": report.count(),
        "audit_rows": spark.read.parquet(audit_dir).count(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from s2spark.plans.session import build_session
    spark = build_session(app_name="s2spark-corpus", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    print(run(spark, args.sf_dir, args.workdir))
    spark.stop()


if __name__ == "__main__":
    main()
