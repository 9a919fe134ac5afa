"""End-to-end corpus-cleaning run: the composition a training-data pipeline
actually executes, chained from the same operators the gate value-checks
one by one. Stages (each a gate query, so each is oracle-verified):

  1. profile        - tokens, lang-id, quality, fingerprints (text_profile)
  2. repetition     - dup/top n-gram mass per doc (text_repetition_profile)
  3. dedup          - MinHash-LSH candidates -> connected components
  4. keep verdict   - quality + length + repetition + canonicality
                      (text_pretrain_keep)
  5. splits         - leakage-safe 80/10/10 by dup cluster
  6. shards         - token-budget shard manifest over the KEPT train docs
                      (text_kept_token_shards: the prefix sum runs after the
                      keep/split restriction, so the manifest spans exactly
                      the cleaned training subset)

Intermediates (profile, gram counts, candidate pairs, clusters) are
session-cached, so the chain costs one derivation each — the run is the
same work a driver round does, just composed. Output: a summary line per
stage plus a parquet manifest directory.

    python scripts/run_cleaning_pipeline.py [--sf-dir /root/testdata/sf0.01]
                                            [--out /tmp/clean_run]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hive_server_spark.session import get_spark  # noqa: E402

# the composed chain, in execution order — shared with scale_probe.py's
# --pipeline mode so the probed composition can never drift from the one
# this script ships
CLEANING_STAGES = [
    "text_profile",
    "text_repetition_profile",
    "dedup_clusters",
    "text_pretrain_keep",
    "text_leakage_safe_splits",
    "text_kept_token_shards",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/clean_run")
    args = ap.parse_args()

    spark = get_spark("cleaning-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    from hive_server_spark import gate

    qs = gate.spark_queries()
    os.makedirs(args.out, exist_ok=True)

    ran: list[str] = []

    def stage(name: str):
        ran.append(name)
        t0 = time.perf_counter()
        df = qs[name](spark, args.sf_dir)
        n = df.count()
        print(f"{name}: {n} rows in {time.perf_counter() - t0:.1f}s")
        return df

    stage("text_profile")
    stage("text_repetition_profile")
    clusters = stage("dedup_clusters")
    keep = stage("text_pretrain_keep")
    splits = stage("text_leakage_safe_splits")

    # train-split KEPT docs feed the shard manifest; the joins are
    # doc_id-keyed over the same session-cached frames the gate verifies
    kept_train = (
        keep.where(F.col("kept"))
        .join(splits.where(F.col("split") == "train"), "doc_id", "left_semi")
    )
    n_kept = kept_train.count()
    n_docs = clusters.count()
    print(f"kept for training: {n_kept}/{n_docs} docs")

    # gate-verified: text_kept_token_shards re-derives kept AND train
    # internally (the written manifest must cover only the cleaned
    # subset, not the raw corpus)
    shards = stage("text_kept_token_shards")
    n_sharded = shards.agg(F.sum("n_docs")).collect()[0][0]
    assert n_sharded == n_kept, (
        f"shard manifest covers {n_sharded} docs but {n_kept} were kept for "
        "training — the manifest no longer spans exactly the cleaned subset"
    )
    shards.write.mode("overwrite").parquet(os.path.join(args.out, "shard_manifest"))
    keep.write.mode("overwrite").parquet(os.path.join(args.out, "keep_verdicts"))
    splits.write.mode("overwrite").parquet(os.path.join(args.out, "splits"))
    assert ran == CLEANING_STAGES, (
        f"stage calls drifted from CLEANING_STAGES: {ran} != {CLEANING_STAGES}"
    )
    print(f"manifests written to {args.out}")


if __name__ == "__main__":
    main()
