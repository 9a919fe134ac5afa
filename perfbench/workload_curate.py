"""curate: the LLM-data surface. The cleaning chain (CLEANING_STAGES of
scripts/run_cleaning_pipeline.py) and then the media chain (MEDIA_STAGES
without the two video stages, `multimodal_bundle_neardup` and the batch
band-flag rule of scripts/run_media_pipeline.py), in the order those
scripts run them, over a seeded `documents.parquet`. The video stages are
left out to keep a run inside the benchmark's time budget; the image and
audio stages load the same layers (`plans.multimodal_pack`,
`functions.multimodal` over Python workers).

The pass is timed cold, straight after session start: each pipeline script
is a batch job in its own process, so its users pay JIT and Python-worker
start-up on every run. A chain's time runs from its first stage's call to
its last stage's rows counted. The action that counts a stage's rows also
computes that stage's output check; the shard-manifest check of the
cleaning chain runs after the timing.
"""

from __future__ import annotations

import os
import time
from statistics import median

import inputs

N_DOCS = 600
# output checks folded into the action that counts a stage's rows, so a
# check costs no extra pass over the stage's plan
STAGE_CHECKS = {
    "text_kept_token_shards": "sum(n_docs)",
    "multimodal_phash_incremental": "count_if(partner_media_id >= media_id)",
    "multimodal_bundle_neardup": "count_if(partner >= doc_id)",
}
SETUP_REPS = 3


def _band_flags(spark, sf_dir: str):
    """The batch band-flag rule of scripts/run_media_pipeline.py: every
    image whose dHash shares a band with a smaller media id."""
    from pyspark.sql import functions as F

    from hive_server_spark.catalog import load_table
    from hive_server_spark.functions import multimodal as M

    bands = M.band_long(
        M.dhash_bands(M.synthesize_dhash_jpeg_media(load_table(spark, sf_dir, "documents")))
    )
    bmin = bands.groupBy("band_idx", "band_val").agg(F.min("media_id").alias("min_media_id"))
    return (
        bands.join(bmin, ["band_idx", "band_val"])
        .where(F.col("min_media_id") < F.col("media_id"))
        .groupBy("media_id")
        .agg(
            F.count("*").cast("bigint").alias("n_occupied_bands"),
            F.min("min_media_id").cast("bigint").alias("partner_media_id"),
        )
        .select(
            F.col("media_id").cast("bigint").alias("media_id"),
            "n_occupied_bands",
            "partner_media_id",
        )
    )


class Pass:
    """One run of both chains over one corpus path."""

    def __init__(self, run, sf_dir: str) -> None:
        from hive_server_spark import gate

        self.run, self.sf_dir = run, sf_dir
        self.queries = gate.spark_queries()
        self.stage_s: dict[str, float] = {}
        self.stage_spans: dict[str, dict] = {}
        self.cached_mb_peak = 0.0

    def stage(self, layer: str, name: str, build):
        """Build one stage and count its rows; returns (DataFrame, the
        stage's STAGE_CHECKS value or None)."""
        from pyspark.sql import functions as F

        run = self.run
        extra = [F.expr(STAGE_CHECKS[name])] if name in STAGE_CHECKS else []
        with run.tracer.span(f"{layer}:{name}") as sp:
            t0 = time.perf_counter()
            df = build()
            row = df.agg(F.count(F.lit(1)), *extra).collect()[0]
            self.stage_s[name] = time.perf_counter() - t0
        run.check(row[0] > 0, f"stage {name} returned no rows")
        if sp is not None:
            self.stage_spans[name] = sp
            self.cached_mb_peak = max(self.cached_mb_peak, run.status.storage()[0])
        return df, row[1] if extra else None

    def clean(self) -> float:
        """The cleaning chain; then its check: the shard manifest covers
        exactly the kept train documents."""
        from pyspark.sql import functions as F
        from scripts.run_cleaning_pipeline import CLEANING_STAGES

        spark, sf, q = self.run.spark, self.sf_dir, self.queries
        t0 = time.perf_counter()
        out = {
            name: self.stage("plans.text_pack", name, lambda n=name: q[n](spark, sf))
            for name in CLEANING_STAGES
        }
        elapsed = time.perf_counter() - t0
        with self.run.tracer.span("checks:clean"):
            n_kept = out["text_pretrain_keep"][0].where(F.col("kept")).join(
                out["text_leakage_safe_splits"][0].where(F.col("split") == "train"),
                "doc_id", "left_semi",
            ).count()
        n_sharded = out["text_kept_token_shards"][1]
        self.run.check(n_kept > 0 and n_sharded == n_kept,
                       f"shard manifest covers {n_sharded} docs, {n_kept} kept for training")
        return elapsed

    def media(self) -> float:
        """The media chain in batch band-index mode; its checks (every
        near-duplicate partner is a smaller id) ride on the stage counts."""
        from scripts.run_media_pipeline import MEDIA_STAGES

        from hive_server_spark.plans.multimodal_pack import multimodal_bundle_neardup

        spark, sf, q = self.run.spark, self.sf_dir, self.queries
        t0 = time.perf_counter()
        out = {
            name: self.stage("plans.multimodal_pack", name, lambda n=name: q[n](spark, sf))
            for name in MEDIA_STAGES
            if not name.startswith("multimodal_video")
        }
        out["multimodal_bundle_neardup"] = self.stage(
            "plans.multimodal_pack", "multimodal_bundle_neardup",
            lambda: multimodal_bundle_neardup(spark, sf),
        )
        self.stage("functions.multimodal", "image_band_flags", lambda: _band_flags(spark, sf))
        elapsed = time.perf_counter() - t0
        for name, what in (("multimodal_bundle_neardup", "bundle partners"),
                           ("multimodal_phash_incremental", "incremental-refresh partners")):
            bad = out[name][1]
            self.run.check(bad == 0, f"{bad} {what} are not smaller ids")
        return elapsed


def run(run) -> dict:
    tracer = run.tracer

    reps, hashes = [], []
    with tracer.span("inputs:documents"):
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            paths = inputs.write_documents(os.path.join(run.work, f"docs{i}"), run.seed, N_DOCS)
            reps.append(time.perf_counter() - t0)
            hashes.append(inputs.content_hash(paths))
    run.check(len(set(hashes)) == 1, "same seed gave different documents files")

    run.begin_measure()
    p = Pass(run, os.path.dirname(paths[0]))
    with tracer.span("plans.text_pack:clean_chain"):
        clean_s = p.clean()
    with tracer.span("plans.multimodal_pack:media_chain") as media_span:
        media_s = p.media()
    run.end_measure()

    run.named.update({
        "curate.clean_s": (clean_s, "s"),
        "curate.media_s": (media_s, "s"),
        "curate.failed_frac": (run.failed / max(run.attempted, 1), "ratio"),
    })
    run.record.update({
        "documents": N_DOCS,
        "stage_s": {name: round(t, 3) for name, t in p.stage_s.items()},
    })
    if run.trace:
        for name, sp in p.stage_spans.items():
            base = f"curate.stage.{name}"
            wall = p.stage_s[name]
            run.layer.update({
                f"{base}.s": wall,
                f"{base}.jobs": sp["jobs"],
                f"{base}.tasks": sp["tasks"],
                f"{base}.driver_s": max(wall - sp["job_s"], 0.0),
            })
        run.layer.update({
            "curate.media.task_cpu_s": media_span["task_cpu_s"],
            "curate.media.gc_s": media_span["gc_s"],
            "curate.media.shuffle_mb": media_span["shuffle_bytes"] / 2**20,
            "curate.media.spill_mb": media_span["spill_bytes"] / 2**20,
            "curate.cached_mb_peak": p.cached_mb_peak,
            "curate.cached_rdds_end": run.status.storage()[1],
        })
    # the two chains load different layers (JVM text work; Python-worker
    # media work), so each gets its own end-to-end figure
    return {
        "setup_s": run.session_s + median(reps),
        "latency_ms": clean_s * 1000,
        "throughput_per_s": N_DOCS / media_s,
    }
