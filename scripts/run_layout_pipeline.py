"""End-to-end LAKEHOUSE-LAYOUT maintenance run: the table-maintenance
twin of run_cleaning_pipeline.py / run_media_pipeline.py /
run_embedding_pipeline.py — the composition a lakehouse table's
maintenance job actually executes (Delta OPTIMIZE + VACUUM, Iceberg
rewrite_data_files + expire_snapshots, public specs), chained from the
same operators the gate value-checks one by one. Stages:

  1. z-order       - multi-column clustering manifest
                     (layout_zorder_manifest)
  2. compaction    - small-file bin-packing plan
                     (layout_compaction_plan)
  3. zone maps     - per-file min/max/count statistics, the write-side
                     state every pruning read depends on
                     (one-shot derivation, or --incremental: the
                     streaming ingest streamed_zonemaps —
                     layout_zonemap_streaming)
  4. skipping audit- the read-side proof: four predicates evaluated
                     against the maps, files skipped vs rows scanned
                     (layout_zonemap_skipping)
  5. deletion vecs - predicate DELETE as positional deletion vectors,
                     no file rewrite
                     (layout_deletion_vectors, or --incremental: the
                     streaming ingest streamed_deletion_vectors —
                     layout_dv_streaming, registered round 15)
  6. snapshot expiry - retention over the v1→v2→v3 manifest chain
                     (layout_snapshot_expiry)
  7. manifest diff - snapshot-to-snapshot change audit
                     (layout_manifest_diff)
  8. bucketed read - the pre-shuffled zero-exchange join the maintained
                     layout exists to serve
                     (layout_bucketed_join, registered round 15)

The maintenance artifacts (zone-map statistics + deletion-vector
report) are written to the out dir. Because the streaming ingests'
final state equals the one-shot derivations row for row (MIN/MAX
semilattice + COUNT-sum merge for the maps, offset-disciplined
positions for the DVs; pinned by tests/test_streaming.py), BOTH modes
must write identical artifacts — run them against the same --out dir to
prove the batch and streaming maintenance pipelines share state layout,
exactly like the embedding pipeline's index proof.

    python scripts/run_layout_pipeline.py [--sf-dir /root/testdata/sf0.01]
                                          [--out /tmp/layout_run]
                                          [--incremental]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hive_server_spark.session import get_spark  # noqa: E402

# the composed chain, in execution order (gate-registered stages; the
# zonemap/DV stages swap to their streaming twins under --incremental)
LAYOUT_STAGES = [
    "layout_zorder_manifest",
    "layout_compaction_plan",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/layout_run")
    ap.add_argument("--incremental", action="store_true",
                    help="maintain the zone maps and deletion vectors by "
                    "the streaming ingest paths instead of the one-shot "
                    "derivations; the written maintenance artifacts must "
                    "come out identical (the ingest-equals-rebuild "
                    "contract)")
    args = ap.parse_args()

    spark = get_spark("layout-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    from hive_server_spark import gate
    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.sources_pack import _DV_PRED, _ZM_FILE_ROWS

    qs = gate.spark_queries()
    os.makedirs(args.out, exist_ok=True)

    ran: list[str] = []

    def stage(name: str, fn=None):
        ran.append(name)
        t0 = time.perf_counter()
        df = (fn or qs[name])(spark, args.sf_dir)
        n = df.count()
        print(f"{name}: {n} rows in {time.perf_counter() - t0:.1f}s")
        return df

    zorder = stage("layout_zorder_manifest")
    compact = stage("layout_compaction_plan")
    assert ran == LAYOUT_STAGES, (
        f"stage calls drifted from LAYOUT_STAGES: {ran} != {LAYOUT_STAGES}"
    )

    # stages 3 & 5: the maintained state — one-shot derivations by
    # default, or the versioned streaming ingests under --incremental.
    # Both must produce identical artifacts (the maps merge as a MIN/MAX
    # semilattice + COUNT sum; DV positions are offset-disciplined so
    # id-ordered landing makes offset + local rank the global position).
    # The batch zone-map derivation below IS the oracle's `files` CTE —
    # any drift from the streaming state fails the identical-artifact
    # check at the bottom (and tests/test_pipeline_ops.py re-proves it).
    if args.incremental:
        from hive_server_spark.plans.streaming_pack import (
            streamed_deletion_vectors,
            streamed_zonemaps,
        )

        zonemaps = stage(
            "zonemaps[streaming]",
            lambda s, d: streamed_zonemaps(s, d, chunks=3),
        )
    else:
        def batch_zonemaps(s, d):
            return (
                load_table(s, d, "events")
                .groupBy(
                    F.expr(f"event_id DIV {_ZM_FILE_ROWS}")
                    .cast("bigint")
                    .alias("file_id")
                )
                .agg(
                    F.count("*").cast("bigint").alias("n_rows"),
                    F.min(F.unix_micros("ts")).cast("bigint").alias("min_ts_us"),
                    F.max(F.unix_micros("ts")).cast("bigint").alias("max_ts_us"),
                    F.min("value").cast("double").alias("min_value"),
                    F.max("value").cast("double").alias("max_value"),
                    F.min("event_type").alias("min_type"),
                    F.max("event_type").alias("max_type"),
                )
            )

        zonemaps = stage("zonemaps[batch]", batch_zonemaps)

    skipping = stage("layout_zonemap_skipping")

    if args.incremental:
        dv = stage(
            "deletion_vectors[streaming]",
            lambda s, d: streamed_deletion_vectors(s, d, chunks=3),
        )
    else:
        dv = stage("deletion_vectors[batch]", qs["layout_deletion_vectors"])

    expiry = stage("layout_snapshot_expiry")
    diff = stage("layout_manifest_diff")
    bucketed = stage("layout_bucketed_join")

    # maintenance summary + reconciliations: the numbers a table-
    # maintenance commit records, cross-checked against the corpus
    ev = load_table(spark, args.sf_dir, "events")
    n_events = ev.count()
    n_files = zonemaps.count()
    n_mapped = zonemaps.agg(F.sum("n_rows")).collect()[0][0]
    assert n_mapped == n_events, (
        f"zone maps cover {n_mapped} rows but the table has {n_events} — "
        "the statistics no longer span the corpus"
    )
    audit_files = {r["n_files"] for r in skipping.select("n_files").collect()}
    assert audit_files == {n_files}, (
        f"skipping audit sees {audit_files} files but the maintained maps "
        f"cover {n_files} — read-side and write-side file layouts diverged"
    )
    n_deleted = dv.agg(F.sum("n_deleted")).collect()[0][0]
    n_pred = ev.where(F.expr(_DV_PRED)).count()
    assert n_deleted == n_pred, (
        f"deletion vectors mark {n_deleted} positions but the predicate "
        f"matches {n_pred} rows — the DELETE lost or duplicated rows"
    )
    bad_live = dv.where(
        F.col("n_live") != F.col("n_rows") - F.col("n_deleted")
    ).count()
    assert bad_live == 0, f"{bad_live} files break n_live = n_rows - n_deleted"
    n_seg = bucketed.count()
    assert n_seg > 0, "bucketed read path returned no segments"
    print(
        f"layout: {n_events} rows in {n_files} files; z-order rows "
        f"{zorder.count()}, compaction bins {compact.count()}, "
        f"{n_deleted} positions deleted across {dv.count()} files, "
        f"snapshots expired rows {expiry.count()}, manifest-diff rows "
        f"{diff.count()}, bucketed segments {n_seg}"
    )

    zonemaps.write.mode("overwrite").parquet(os.path.join(args.out, "zonemaps"))
    dv.write.mode("overwrite").parquet(
        os.path.join(args.out, "deletion_vectors")
    )
    mode = "streaming" if args.incremental else "batch"
    print(f"maintenance artifacts written to {args.out} ({mode} ingest mode)")


if __name__ == "__main__":
    main()
