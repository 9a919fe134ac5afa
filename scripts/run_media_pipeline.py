"""End-to-end MEDIA curation run: the multimodal twin of
run_cleaning_pipeline.py — the composition a multimodal training-data
pipeline actually executes, chained from the same operators the gate
value-checks one by one. Stages:

  1. inventory       - payload/type census over the media corpus
                       (multimodal_inventory)
  2. image near-dup  - decode -> dHash -> banded LSH -> Hamming verify
                       (multimodal_phash_neardup)
  3. audio near-dup  - WAV decode -> energy fingerprint -> band verify
                       (multimodal_audio_fp_neardup)
  4. video near-dup  - AVI decode -> keyframe dHash -> 128-bit verify
                       (multimodal_video_fp_neardup)
  5. video curation  - shots -> keyframes -> near-dup verdict -> keep
                       (multimodal_video_curation)
  6. incremental refresh - new image batch vs the persisted band index
                       (multimodal_phash_incremental)
  7. bundle verdict  - fused text/image/audio per-document dedup
                       (multimodal_bundle_neardup)
  8. image band flags - the full-corpus occupied-band verdict, produced
                       by the BATCH rule by default, or — with
                       --incremental — by driving the versioned band
                       index through the STREAMING ingest path
                       (streamed_media_neardup — media_neardup_streaming)

The final manifest joins the fused bundle verdict, the video-curation
keep flag, and the image band-flag partner into one per-document media
keep decision. Because the streaming ingest's flags table equals the
batch occupied-band rule exactly (media_id-ordered chunks; pinned by
tests/test_streaming.py), BOTH modes must write identical manifests —
run them against the same --out dir to prove the batch and streaming
pipelines share state layout. Decodes ride the session fingerprint
caches, so the chain costs one decode per modality — the same work a
driver round does, just composed. Every stage's scale shape is
individually probed in SCALE.md (10x and 100x tables).

    python scripts/run_media_pipeline.py [--sf-dir /root/testdata/sf0.01]
                                         [--out /tmp/media_run]
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
# bundle verdict is imported directly below)
MEDIA_STAGES = [
    "multimodal_inventory",
    "multimodal_phash_neardup",
    "multimodal_audio_fp_neardup",
    "multimodal_video_fp_neardup",
    "multimodal_video_curation",
    "multimodal_phash_incremental",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/media_run")
    ap.add_argument("--incremental", action="store_true",
                    help="produce the image band flags by streaming the "
                    "corpus through the versioned band index instead of "
                    "the one-shot batch rule; the manifest must come out "
                    "identical (the ingest-equals-batch contract)")
    args = ap.parse_args()

    spark = get_spark("media-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    from hive_server_spark import gate
    from hive_server_spark.plans.multimodal_pack import multimodal_bundle_neardup

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

    stage("multimodal_inventory")
    stage("multimodal_phash_neardup")
    stage("multimodal_audio_fp_neardup")
    stage("multimodal_video_fp_neardup")
    curation = stage("multimodal_video_curation")
    refresh = stage("multimodal_phash_incremental")
    assert ran == MEDIA_STAGES, (
        f"stage calls drifted from MEDIA_STAGES: {ran} != {MEDIA_STAGES}"
    )

    bundle = stage("multimodal_bundle_neardup", multimodal_bundle_neardup)

    # stage 8: the full-corpus image occupied-band verdict. Batch mode
    # computes it one-shot; --incremental drives the SAME versioned band
    # index through the streaming ingest (media_id-ordered chunks, each
    # batch decoded once, MIN-merged, flagged post-merge) — the flags
    # tables are equal by the ingest-equals-batch contract
    # (tests/test_streaming.py), so the manifests must match byte-for-row.
    def _batch_band_flags(s, d):
        from hive_server_spark.catalog import load_table
        from hive_server_spark.functions import multimodal as M
        from hive_server_spark.functions.clusters import band_index, occupied_flags

        bands = M.band_long(
            M.dhash_bands(M.synthesize_dhash_jpeg_media(
                load_table(s, d, "documents")
            ))
        )
        return occupied_flags(
            bands, band_index(bands, M.BAND_KEYS, "media_id"), M.BAND_KEYS, "media_id"
        )

    if args.incremental:
        from hive_server_spark.plans.streaming_pack import streamed_media_neardup

        flags = stage(
            "image_band_flags[streaming]",
            # media_mod=1: the pipeline proof must cover the SAME full
            # corpus as the batch rule (the gate query's doc_id % 3
            # media-bearing slice is its own corpus contract)
            lambda s, d: streamed_media_neardup(s, d, chunks=3, media_mod=1),
        )
    else:
        flags = stage("image_band_flags[batch]", _batch_band_flags)

    # fused per-document manifest: a document survives iff no modality of
    # its bundle near-duplicates a smaller document AND its video clip
    # passes curation (not-dup and >= 2 shots)
    manifest = (
        bundle.select(
            "doc_id",
            F.col("partner").alias("bundle_partner"),
            F.col("keep").alias("bundle_keep"),
        )
        .join(
            curation.select(
                F.col("media_id").alias("doc_id"),
                F.col("dup_partner").alias("video_partner"),
                F.col("keep").alias("video_keep"),
            ),
            "doc_id",
            "left",
        )
        .join(
            flags.select(
                F.col("media_id").alias("doc_id"),
                F.col("partner_media_id").alias("image_band_partner"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "bundle_partner",
            "video_partner",
            "image_band_partner",
            (F.col("bundle_keep") & F.coalesce("video_keep", F.lit(False)))
            .alias("keep"),
        )
    )
    n_docs = manifest.count()
    n_kept = manifest.where("keep").count()
    # sanity contracts: every flagged partner is canonical (a smaller id),
    # and the refresh only ever flags batch members against smaller ids
    assert manifest.where("bundle_partner >= doc_id").count() == 0
    assert refresh.where("partner_media_id >= media_id").count() == 0
    print(f"kept for training: {n_kept}/{n_docs} documents")

    manifest.write.mode("overwrite").parquet(
        os.path.join(args.out, "media_keep_manifest")
    )
    mode = "streaming" if args.incremental else "batch"
    print(f"manifest written to {args.out} ({mode} band-index mode)")


if __name__ == "__main__":
    main()
