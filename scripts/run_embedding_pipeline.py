"""End-to-end EMBEDDING-INDEX run: the ANN twin of
run_cleaning_pipeline.py and run_media_pipeline.py — the composition an
embedding-serving pipeline actually executes, chained from the same
operators the gate value-checks one by one. Stages:

  1. norm audit      - corpus hygiene: norm/zero/NaN census
                       (emb_norm_audit)
  2. semantic dedup  - SemDeDup verdicts before indexing
                       (emb_semantic_dedup)
  3. coarse train    - one k-means Lloyd step for the coarse quantizer
                       (emb_kmeans_update)
  4. PQ train        - per-subspace Lloyd step for the sub-quantizers
                       (emb_pq_train)
  5. IVF build       - coarse index census
                       (emb_ivf_build, or --incremental: the streaming
                       ingest streamed_ivf_census — emb_ivf_streaming)
  6. PQ encode       - per-vector codes table
                       (emb_pq_codes, or --incremental: the streaming
                       ingest streamed_pq_codes — emb_pq_streaming)
  7. serve           - IVF-PQ top-k read path (emb_ivfpq_topk)
  8. recall audit    - nprobe sweep vs exact top-k
                       (emb_ivf_recall_curve)
  9. maintain        - retention-delete census subtract, reconciled
                       against the tombstone count
                       (emb_ivf_delete_maintenance)
  10. monitor        - cell-skew audit + distortion-ranked split plan
                       over the build census
                       (emb_ivf_rebalance_plan, unregistered)
  11. rebalance      - execute the plan's splits: one cell-scoped Lloyd
                       assignment per flagged cell, conservation +
                       distortion-never-increases reconciled
                       (emb_ivf_split_execute, unregistered)
  12. merge          - execute the plan's underfull retirements: only
                       the cold tail reassigns, survivors' census rows
                       untouched; equals the survivor-set rebuild
                       (emb_ivf_merge_execute, unregistered)

The index artifacts (IVF census + PQ codes) are written to the out dir.
Because the streaming ingests' final state equals the one-shot builds
row for row (batch-0-frozen quantizers, per-batch-only assignment /
encode; pinned by tests/test_streaming.py), BOTH modes must write
identical artifacts — run them against the same --out dir to prove the
batch and streaming index pipelines share state layout, exactly like
run_media_pipeline.py's band-index proof.

    python scripts/run_embedding_pipeline.py [--sf-dir /root/testdata/sf0.01]
                                             [--out /tmp/emb_run]
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
# build/encode stages swap to their streaming twins under --incremental)
EMBEDDING_STAGES = [
    "emb_norm_audit",
    "emb_semantic_dedup",
    "emb_kmeans_update",
    "emb_pq_train",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/emb_run")
    ap.add_argument("--incremental", action="store_true",
                    help="produce the IVF census and PQ codes by the "
                    "streaming ingest paths instead of the one-shot "
                    "builds; the written index artifacts must come out "
                    "identical (the ingest-equals-rebuild contract)")
    args = ap.parse_args()

    spark = get_spark("embedding-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    from hive_server_spark import gate

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

    audit = stage("emb_norm_audit")
    dedup = stage("emb_semantic_dedup")
    stage("emb_kmeans_update")
    stage("emb_pq_train")
    assert ran == EMBEDDING_STAGES, (
        f"stage calls drifted from EMBEDDING_STAGES: {ran} != {EMBEDDING_STAGES}"
    )

    # stages 5-6: the index state — one-shot builds by default, or the
    # versioned streaming ingests under --incremental. Both must produce
    # identical artifacts (quantizers frozen from the same id-ordered
    # seeds, assignment/encode are pure per-vector functions of them).
    if args.incremental:
        from hive_server_spark.plans.streaming_pack import (
            streamed_ivf_census,
            streamed_pq_codes,
        )

        census = stage(
            "ivf_census[streaming]",
            lambda s, d: streamed_ivf_census(s, d, chunks=3),
        )
        codes = stage(
            "pq_codes[streaming]",
            lambda s, d: streamed_pq_codes(s, d, chunks=3),
        )
    else:
        census = stage("ivf_census[batch]", qs["emb_ivf_build"])
        codes = stage("pq_codes[batch]", qs["emb_pq_codes"])

    serve = stage("emb_ivfpq_topk")
    recall = stage("emb_ivf_recall_curve")

    # stage 9: index maintenance under a retention DELETE —
    # the tombstoned slice's census partials subtracted from the
    # persisted build census, equal to the rebuild over survivors
    # (emb_ivf_delete_maintenance). The survivor-count
    # reconciliation is the pipeline-level version of its gate contract.
    from hive_server_spark.plans.embedding_pack import (
        _IVF_DELETE_PRED,
        emb_ivf_delete_maintenance,
    )

    maint = stage("ivf_delete_maintenance", emb_ivf_delete_maintenance)

    # stage 10: the monitor step — per-cell skew audit and
    # split plan over the build census (k-row metadata; executing a
    # flagged split is a cell-scoped Lloyd step, not done here)
    from hive_server_spark.plans.embedding_pack import emb_ivf_rebalance_plan

    # the monitor audits the MAINTAINED census from stage 5 (the
    # streamed state under --incremental) — the deployed shape: the
    # monitor reads the index artifact, it never re-derives it
    plan = stage(
        "ivf_rebalance_plan",
        lambda s, d: emb_ivf_rebalance_plan(s, d, census=census),
    )

    # index summary: the numbers an index commit records
    n_cells = census.count()
    n_vecs = census.agg(F.sum("n_vecs")).collect()[0][0]
    n_coded = codes.count()
    assert n_coded == n_vecs, (
        f"codes table covers {n_coded} vectors but the census counts "
        f"{n_vecs} — the index halves no longer span the same corpus"
    )
    n_reps = dedup.where("is_representative").count()
    from hive_server_spark.catalog import load_table

    n_tomb = (
        load_table(spark, args.sf_dir, "embeddings")
        .where(F.expr(_IVF_DELETE_PRED))
        .count()
    )
    n_after = maint.agg(F.sum("n_vecs")).collect()[0][0]
    assert n_after == n_vecs - n_tomb, (
        f"delete maintenance lost vectors: {n_vecs} - {n_tomb} tombstones "
        f"!= {n_after} surviving"
    )
    n_planned = plan.agg(F.sum("n_vecs")).collect()[0][0]
    assert n_planned == n_vecs, (
        f"rebalance plan covers {n_planned} vectors but the census counts "
        f"{n_vecs} — the monitor no longer spans the index"
    )
    n_split = plan.where("action = 'split'").count()

    # stage 11: execute the flagged splits and reconcile —
    # the sub-cells must exactly partition their parents' posting lists
    # and never increase the summed micro-distortion (the acceptance
    # check before a deployed index swaps the new cells in)
    from hive_server_spark.plans.embedding_pack import emb_ivf_split_execute

    sub = stage("ivf_split_execute", emb_ivf_split_execute)
    parents = [r["parent_id"] for r in sub.select("parent_id").distinct().collect()]
    assert len(parents) == n_split, (
        f"split execution touched {len(parents)} cells but the plan "
        f"flagged {n_split}"
    )
    if parents:
        cen = {
            r["cluster_id"]: r
            for r in census.where(F.col("cluster_id").isin(parents)).collect()
        }
        agg = {
            r["parent_id"]: r
            for r in sub.groupBy("parent_id")
            .agg(
                F.sum("n_vecs").alias("nv"),
                F.sum("sum_d2_micro").alias("d2"),
            )
            .collect()
        }
        for p in parents:
            assert agg[p]["nv"] == cen[p]["n_vecs"], (
                f"split of cell {p} lost vectors"
            )
            assert agg[p]["d2"] <= cen[p]["sum_d2_micro"], (
                f"split of cell {p} increased distortion"
            )
    # stage 12: retire the underfull cells — population must
    # be conserved and exactly the plan's non-underfull cells survive
    from hive_server_spark.plans.embedding_pack import emb_ivf_merge_execute

    merged = stage("ivf_merge_execute", emb_ivf_merge_execute)
    n_merged = merged.agg(F.sum("n_vecs")).collect()[0][0]
    assert n_merged == n_vecs, (
        f"merge execution lost vectors: {n_vecs} -> {n_merged}"
    )
    surv_cells = {r["cluster_id"] for r in merged.select("cluster_id").collect()}
    plan_surv = {
        r["cluster_id"]
        for r in plan.where("action != 'underfull'").collect()
    }
    assert surv_cells == plan_surv, (
        f"merge survivors {sorted(surv_cells)} != plan's non-underfull "
        f"cells {sorted(plan_surv)}"
    )

    print(
        f"index: {n_vecs} vectors in {n_cells} cells, {n_coded} codes, "
        f"{n_reps}/{dedup.count()} semantic-dedup representatives, "
        f"serve rows {serve.count()}, recall rows {recall.count()}, "
        f"audit rows {audit.count()}; retention delete: {n_tomb} "
        f"tombstones -> {n_after} vectors maintained; rebalance plan: "
        f"{n_split} cells flagged for split"
    )

    census.write.mode("overwrite").parquet(os.path.join(args.out, "ivf_census"))
    codes.write.mode("overwrite").parquet(os.path.join(args.out, "pq_codes"))
    mode = "streaming" if args.incremental else "batch"
    print(f"index artifacts written to {args.out} ({mode} ingest mode)")


if __name__ == "__main__":
    main()
