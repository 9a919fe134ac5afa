"""Scale probe: does each headline query scale ~linearly from sf0.1 to ~sf1?

The container only ships sf0.001/0.01/0.1, so this script *synthesizes* a
~10x corpus by unioning MULT shifted copies of every fact table (dimension
tables region/nation are fixed, like real TPC-H). Key shifts preserve the
semantic invariants the gate queries rely on:

- every foreign key is shifted by the same stride as its primary key
  (orders.o_custkey moves with customer.c_custkey, etc.), so join
  selectivity per row is unchanged;
- `events.event_id` is shifted by a multiple of LCM-friendly strides —
  the synthetic order_events derivation (sources/synthetic.py) is pure
  modular arithmetic on event_id, so 10x events means 10x events *per
  order/pool* (state cardinality constant, fold input 10x): exactly the
  shape a 100 TB log has;
- `documents.text` is re-tokenized per copy with a DETERMINISTIC keyed
  shuffle (tokens sorted by md5(token, position, copy)) plus a copy-suffix
  token. The shuffle preserves the token MULTISET exactly — so every
  multiset-based stat (profile counts, stopword ratios, language ID,
  token shards) sees identical per-row work — while making cross-copy
  n-grams and shingles DISTINCT: a replicated corpus must not consist of
  MULT near-copies of every base doc, or every gram/shingle-granularity
  operator (minhash candidates, dup spans) measures the synthetic
  C(MULT,2) duplicate structure instead of engine scaling. Under the
  shuffle, near-dup/dup-span mass is the base corpus's own structure
  replicated linearly — the shape a real 100 TB corpus has. (An earlier
  probe used a suffix-only perturbation; its C(MULT,2) candidate-pair
  caveat and the resulting text_dup_spans / pretrain_keep exclusions are
  obsolete under the shuffle.) The suffix still guarantees byte-level
  distinctness for degenerate one-token docs;
- `embeddings.embedding` gets a per-copy, per-dimension deterministic
  perturbation (sin-based, a function of (copy, dim)) large enough to flip
  some hyperplane signs, so copies spread across LSH buckets instead of
  stacking in them.

Output: a markdown table of per-query wall time at 1x vs MULTx and the
ratio. A query whose ratio is >> MULT is superlinear — the thing this probe
exists to expose. Run:

    python scripts/scale_probe.py [--mult 10] [--queries q1,q2,...]

Writes the table to stdout; `--update-scale-md` rewrites the
"## Measured scaling" section of SCALE.md in place.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from hive_server_spark import gate  # noqa: E402
from hive_server_spark.catalog import load_table  # noqa: E402
from hive_server_spark.session import get_spark  # noqa: E402

BASE_DIR = "/root/testdata/sf0.1"

# Headline queries spanning every plan shape: fold, book, walk, join+agg,
# window, as-of, grid fill, sessionization, dedup, ANN, text profile, skew.
DEFAULT_QUERIES = [
    "orders_state",
    "order_book_levels",
    "amount_out_buy",
    "rel_revenue_by_nation",
    "rel_nation_trade_flows",
    "rel_window_running_total",
    "asof_trade_price",
    "price_hourly_gapfill",
    "evt_sessions",
    "scale_salted_cohort_rollup",
    "text_profile",
    "text_exact_dedup",
    # dedup_minhash_sigs is the linear signature scan; under the keyed-
    # shuffle replication (see module docstring) candidate-pair volume is
    # also linear in mult (cross-copy shingles are distinct, so only the
    # base corpus's own near-dup structure replicates), making the suffix-only
    # probe's C(mult,2) caveat obsolete.
    "dedup_minhash_sigs",
    "text_repetition_profile",
    # NOTE on shared session caches: queries later in this list that share a
    # cached intermediate with an earlier one time only their residual work —
    # text_source_overlap warms the shingled-corpus cache that
    # text_decontaminate then reuses, so decontaminate's row measures the
    # broadcast join/agg, not the tokenize+shingle derivation (which
    # source_overlap's row covers).
    "text_source_overlap",
    "text_pack_windows",
    "text_token_shards",
    "text_decontaminate",
    "emb_lsh_buckets",
    "emb_cosine_topk",
    "emb_int8_quantization",
    # both map-only scans + small aggs (the shapes that
    # must scale perfectly linearly): JVM-regexp PII scrub, WAV codec
    # synth+decode through the Arrow worker
    "text_pii_scrub",
    "multimodal_audio_profile",
    # the mixing/bucket audits are scan +
    # tiny agg; the moment matrix is the d(d+1)/2-per-row pair explode —
    # inherent arithmetic for a covariance pass, linear in rows.
    "text_source_mixing",
    "text_length_buckets",
    "emb_pca_moments",
    # the two de-broadcast survivor-set joins. Under the keyed-shuffle
    # replication their survivor sets scale with the base corpus's own
    # duplicate structure (injected footers/passages), not with C(mult,2)
    # copy collisions — so the probe measures the new shuffle-join plan,
    # which is the point.
    "text_line_dedup",
    "text_dup_spans",
    # vocabulary census (explode + map-side-combined
    # token agg + bounded top-N) and winnowing fingerprints (per-doc ROWS
    # window over gram hashes) — both must scale linearly.
    "text_vocab_census",
    "text_winnow_fingerprints",
    # nearest as-of (two window sorts, one shuffle),
    # SCD-2 versions (per-key window), source-KL (vocabulary equi-join) —
    # window- and join-shaped plans that must stay linear.
    "asof_nearest_price",
    "orders_scd2_versions",
    "text_source_kl",
    # cdc_book_snapshots pays the full 3-slice incremental fold + CDC landing;
    # orders_state_changelog reuses the session-cached fold for the same
    # sf_dir (plans/serving_pack.py), so its time is the CDF read alone.
    "cdc_book_snapshots",
    "orders_state_changelog",
    # mergeable sketches (map-side-combined grids,
    # bounded regardless of corpus size), the Bloom runtime-filter join
    # (bounded 128-bit set broadcast + co-partitioned equi-join), the
    # zone-map audit (per-file agg + one conditional-agg pass), and the
    # composed IVF-PQ read path (candidate restriction BEFORE the decode
    # explode — its ratio should track nprobe/nlist of a linear scan).
    "evt_cms_heavy_hitters",
    "evt_hll_cardinality",
    "evt_bloom_prune_join",
    "layout_zonemap_skipping",
    "emb_ivfpq_topk",
    # Gopher rules are the map-only filter shape;
    # TF-IDF and DSIR are explode + (vocab-join | bounded-model-join)
    # shapes; tick flow is two per-pool windows + rollup; hard negatives
    # is the two-level grouped_topk (per-partition heads, bounded merge);
    # bitext is the bucket equi-shuffle; the recall curve is one
    # assignment scan + bounded joins; RRF fuses two bounded top-k arms.
    "text_gopher_rules",
    "text_tfidf_terms",
    "text_dsir_weights",
    "trade_tick_flow",
    "emb_hard_negatives",
    "emb_bitext_mining",
    "emb_ivf_recall_curve",
    "rag_hybrid_rrf",
    # sixth batch: the DELETE-without-rewrite primitive (per-file windows +
    # one agg — must scale with the file count, i.e. linearly), the
    # rank-restricted EWMA fold (bounded per pool by construction), and the
    # per-user lag + bounded-pair-table Markov matrix
    "layout_deletion_vectors",
    "trade_price_ewma",
    "evt_markov_transitions",
    # seventh batch: the bitext-stance broadcast-bench leakage sweep and
    # the all-integer Hamilton allocation + per-source md5-rank draw
    "emb_semantic_decontaminate",
    "text_quota_sample",
    "evt_cusum_drift",
    # MMR measured rather than
    # excluded — its ratio should be ~1x by design (k fixed selection
    # steps over localCheckpointed ≤625-row sets; only the pool-build
    # scan is corpus-linear), and the probe row PROVES the
    # bounded-iteration claim instead of asserting it. The BPE pair:
    # train = one linear vocab-build pass + K
    # vocab-sized iterations (corpus-size-independent after the first
    # agg); encode = per-(source, token) agg + vocab-to-vocab join.
    "emb_mmr_diverse_topk",
    "text_bpe_train",
    "text_bpe_encode",
    # the manifest diff is two per-file aggs + a manifest-join (file-count-
    # sized); the evolution round trip is two columnar writes + one merged
    # scan — both must track the events/orders linear scans.
    "layout_manifest_diff",
    "src_schema_evolution_roundtrip",
    # CCNet buckets = the NLL plan + an |sources|-row threshold join;
    # the hashed scorer is map + one doc-keyed agg. Both stay at 10x for
    # 100x purposes: their corpus-sized halves are the gram explode+join
    # family already probed at 100x (text_tfidf_terms, text_dsir_weights,
    # text_gopher_rules). HLL set algebra: register pair-join bounded by
    # construction; the corpus-sized parts (distinct pass + user-keyed
    # exact self-join) stay at 10x — evt_hll_cardinality covers the
    # register build at 100x.
    "text_ccnet_buckets",
    "text_hash_features_score",
    "evt_hll_set_algebra",
    # the bounded-threshold quality cut (held-out slice + capped
    # per-group percentile — the probe verifies the NEW plan still rides
    # the profile scan linearly) and the batch IVF-PQ read path (per-query
    # routing via a bounded broadcast table; ratio should track the
    # single-query path since corpus-sized work is shared across queries).
    "text_quality_filter",
    "emb_ivfpq_batch_topk",
    # excluded: udtf_char_ngram_census (a deliberate Python-slow-path API
    # showcase on a corpus slice; the declarative twin IS the production
    # plan — see SCALE.md §5); evt_cusum_streaming (availableNow harness
    # replays the replicated log through fixed-cost micro-batch landings,
    # like evt_cms_streaming/evt_hll_streaming below — the maintained
    # hourly-agg math is evt_cusum_drift, probed above);
    # docs_neardup_streaming (same harness exclusion — its per-batch math
    # is the dedup_minhash_sigs signature scan, probed at 10x/100x, plus a
    # band-keyed agg/join against the bounded band index).
    # the perceptual-hash near-dup chain (decode + dHash is a
    # partition-preserving linear scan; candidates are band-bucket joins —
    # under the keyed-shuffle replication each copy's header prefix is
    # distinct, so dup mass is the base structure replicated linearly) and
    # the cross-snapshot incremental dedup (one band agg over each half +
    # the band-keyed index merge/flag joins; the parquet index write/read
    # is the operator's own persistence leg, timed as part of it).
    "multimodal_phash_neardup",
    "docs_neardup_incremental",
]

# --mult 100 list: the cheap-per-row families where a
# 100x corpus still fits local[32]'s memory and a probe run's time budget.
# Exclusions, each explicit:
# - cdc_book_snapshots / orders_state_changelog: the streaming harness
#   replays the full 100x log through availableNow micro-batches — linear
#   but wall-clock-dominated by the fixed per-batch landing cost; the fold
#   math itself is covered by orders_state below.
# - text_source_overlap: kept at 10x — under the keyed-shuffle
#   replication its pair volume is linear, but the broadcast eval-set
#   probe it shares a cache with is already characterized there.
# - emb_cosine_topk / emb_lsh_buckets: kept at 10x; the 100x embedding
#   table is covered by the linear-scan quantization probe below.
# - emb_pca_moments: kept at 10x; at 100x the pair explode is ~10^10
#   integer multiplies — linear, but it would time raw arithmetic
#   throughput against the probe's wall-clock budget, not a plan shape.
HUNDREDX_QUERIES = [
    "orders_state",
    "order_book_levels",
    "amount_out_buy",
    "rel_revenue_by_nation",
    "rel_window_running_total",
    "evt_sessions",
    "scale_salted_cohort_rollup",
    "text_profile",
    "text_exact_dedup",
    "dedup_minhash_sigs",
    "text_repetition_profile",
    "text_token_shards",
    "text_pack_windows",
    "text_decontaminate",
    "emb_int8_quantization",
    "text_pii_scrub",
    "multimodal_audio_profile",
    "text_source_mixing",
    "text_length_buckets",
    # the de-broadcast survivor-set joins,
    # probed at 100x under the new shuffle plan
    "text_line_dedup",
    "text_dup_spans",
    # token-agg + bounded-top-N census,
    # per-doc window fingerprints, two-direction as-of windows, per-key
    # SCD-2 windows, vocabulary-join KL — every shape must stay linear.
    "text_vocab_census",
    "text_winnow_fingerprints",
    "asof_nearest_price",
    "orders_scd2_versions",
    "text_source_kl",
    # The sketches are the 100x headline: CMS/HLL
    # grids are bounded by construction, so 100x data is pure linear scan
    # + map-side combine into a fixed-size state. Bloom prune and the
    # zone-map audit are events-table linear shapes.
    # evt_cms_streaming / evt_hll_streaming / evt_cusum_streaming are
    # excluded like cdc_book_snapshots: the availableNow harness replays
    # the 100x log through fixed-cost micro-batch landings; the sketch /
    # hourly-agg math itself is covered by the batch rows below.
    "evt_cms_heavy_hitters",
    "evt_hll_cardinality",
    "evt_bloom_prune_join",
    "layout_zonemap_skipping",
    # the composed IVF-PQ read path at 100x
    # for real — candidate restriction lands BEFORE the decode explode, so
    # the ratio should track a linear scan shrunk by nprobe/nlist plus the
    # bounded LUT/codebook broadcasts. emb_bitext_mining stays at 10x BY
    # CONTRACT: with the gate's FIXED 4-plane grid, candidate pairs grow
    # ~n_src*n_tgt/2^planes (~quadratic/16) — at 100x that measures the
    # documented plane-count knob (raise planes with corpus size to hold
    # bucket occupancy constant, the SCALE.md bitext note), not the
    # engine; the 10x row + note is the honest characterization.
    # emb_mmr_diverse_topk stays at 10x: its post-pool cost is
    # corpus-size-independent by construction (measured ~flat at 10x), so
    # a 100x run would re-time the same constant step overhead.
    # text_bpe_encode is the corpus-touching half of the BPE pair (the
    # per-(source, token) agg + vocab join); text_bpe_train stays at 10x —
    # after its first linear vocab-build agg the K iterations are
    # vocab-sized, so 100x would re-time one agg plus constants.
    "emb_ivfpq_topk",
    # the batch generalization at 100x — the
    # corpus-sized halves (assignment scan, candidate ADC) are shared
    # across the 8 queries, so the ratio should sit near emb_ivfpq_topk's.
    "emb_ivfpq_batch_topk",
    "text_bpe_encode",
    "layout_manifest_diff",
    # the corpus-scaling members: map-only Gopher
    # rules, the two explode+join text shapes, and the per-pool window
    # rollup. The emb_* members and RRF stay at 10x: embeddings at 100x is
    # already characterized by the emb_int8_quantization linear scan, and
    # the RRF fusion inputs are bounded top-k sets whose cost is the arms'
    # (bm25's corpus side is text_bm25-shaped, already probed via tfidf's
    # explode+join twin).
    "text_gopher_rules",
    "text_tfidf_terms",
    "text_dsir_weights",
    "trade_tick_flow",
    "layout_deletion_vectors",
    "trade_price_ewma",
    "evt_markov_transitions",
    "text_quota_sample",
    "evt_cusum_drift",
    # both near-dup additions are cheap-per-row (decode+dHash ~
    # 0.2 ms/image; band joins O(near-dups)) so the 100x corpus fits the
    # probe budget; the keyed-shuffle replication keeps header-prefix dup
    # mass linear (distinct prefixes per copy — no C(mult,2) structure).
    "multimodal_phash_neardup",
    "docs_neardup_incremental",
]

# pk stride column(s) per table; every fk shift reuses the owning pk stride.
_SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": [],  # composite pk (l_orderkey, l_linenumber): fk shifts only
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_FKS = {
    "orders": {"o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
}
_DIMS = ["region", "nation"]


def _strides(spark: SparkSession) -> dict[str, int]:
    """stride(table) = max(pk)+1 rounded up to a multiple of 120 so the
    modular structure of the order_events derivation (pool = event_id % 3,
    order_id = event_id % 120) maps shifted copies onto the SAME pools and
    order ids — more events per order, not more orders."""
    out: dict[str, int] = {}
    for t, pks in _SHIFTS.items():
        if not pks:
            continue
        mx = load_table(spark, BASE_DIR, t).agg(F.max(pks[0])).collect()[0][0]
        stride = int(mx) + 1
        out[t] = stride + (-stride) % 120
    return out


def _scaled_copy(
    spark: SparkSession, table: str, mult: int, strides: dict[str, int]
) -> DataFrame:
    base = load_table(spark, BASE_DIR, table)
    copies = []
    for i in range(mult):
        df = base
        for pk in _SHIFTS.get(table, []):
            df = df.withColumn(pk, F.col(pk) + F.lit(i * strides[table]))
        for fk, owner in _FKS.get(table, {}).items():
            df = df.withColumn(fk, F.col(fk) + F.lit(i * strides[owner]))
        if table == "documents" and i > 0:
            # keyed token shuffle (see module docstring): multiset-exact,
            # cross-copy gram/shingle-distinct. Fully vectorized — one
            # split, one array_sort by a per-(token, position, copy) md5
            # key, one join; no element_at-in-lambda O(n^2) re-splits.
            df = df.withColumn(
                "text",
                F.expr(
                    "array_join(transform(array_sort(transform("
                    "split(text, ' '), (t, p) -> struct("
                    f"md5(concat(t, '#', CAST(p AS STRING), '#', '{i}')) AS k,"
                    " t AS t))), s -> s.t), ' ')"
                ),
            )
            df = df.withColumn("text", F.concat("text", F.lit(f" rep{i}")))
        if table == "embeddings" and i > 0:
            # per-(copy, dim) deterministic perturbation: a uniform offset
            # would shift every hyperplane projection by c*sum(weights) and
            # copies would still stack in the same LSH buckets; varying the
            # offset by dimension flips a meaningful fraction of plane signs.
            df = df.withColumn(
                "embedding",
                F.expr(
                    "transform(embedding, (x, d) -> "
                    f"CAST(x + 0.08 * sin((d + 1) * 12.9898 * {i}) AS FLOAT))"
                ),
            )
        copies.append(df)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def build_scaled_dir(spark: SparkSession, out_dir: str, mult: int) -> None:
    strides = _strides(spark)
    for t in _DIMS:
        src = os.path.join(BASE_DIR, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)
    for t in _SHIFTS:
        # events.ts: load_table normalizes whatever parquet encoding the
        # driver shipped (ns-as-bigint / µs-NTZ / µs-UTC) to session
        # TIMESTAMP; the copy written here is µs-UTC, which load_table
        # passes through untouched on re-read.
        _scaled_copy(spark, t, mult, strides).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )


def time_queries(
    spark: SparkSession, sf_dir: str, names: list[str]
) -> dict[str, float]:
    qs = gate.spark_queries()
    out: dict[str, float] = {}
    for n in names:
        t0 = time.perf_counter()
        # noop sink, not .count(): count() lets Catalyst prune every
        # unreferenced column, so a map-only query (e.g. emb_lsh_buckets)
        # would be timed as a bare scan with its projection expressions
        # optimized away. The noop writer fully evaluates every output
        # column without driver-side transfer.
        qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[n] = time.perf_counter() - t0
    return out


def time_cleaning_pipeline(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Stage-level wall times for the composed corpus-cleaning run
    (scripts/run_cleaning_pipeline.py's chain) against `sf_dir` — the
    composition a 100 TB user actually executes, probed as one pipeline so
    stage-to-stage cache reuse is measured, not just per-query times.
    Under the keyed-shuffle replication (module docstring) the dedup/keep
    stages see candidate-pair volume linear in mult — the base corpus's
    own near-dup structure replicated — so every stage ratio is an engine
    signal, including at --mult 100."""
    from scripts.run_cleaning_pipeline import CLEANING_STAGES

    qs = gate.spark_queries()
    out: dict[str, float] = {}
    for name in CLEANING_STAGES:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = time.perf_counter() - t0
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--queries", default=None,
                    help="comma list; default: DEFAULT_QUERIES, or "
                         "HUNDREDX_QUERIES when --mult >= 100")
    ap.add_argument("--pipeline", action="store_true",
                    help="also time the composed cleaning-pipeline stages "
                         "at 1x and at --mult x")
    ap.add_argument("--update-scale-md", action="store_true")
    args = ap.parse_args()
    if args.queries is None:
        args.queries = ",".join(
            HUNDREDX_QUERIES if args.mult >= 100 else DEFAULT_QUERIES
        )
    names = [q for q in args.queries.split(",") if q]

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        t0 = time.perf_counter()
        build_scaled_dir(spark, tmp, args.mult)
        print(f"# built {args.mult}x corpus in {time.perf_counter() - t0:.1f}s -> {tmp}",
              file=sys.stderr)

        # warm-up both dirs (parquet footers, codegen) before timing
        for d in (BASE_DIR, tmp):
            load_table(spark, d, "lineitem").count()
        qs = gate.spark_queries()
        qs[names[0]](spark, "/root/testdata/sf0.001").count()

        pipe_table = None
        if args.pipeline:
            # timed BEFORE the per-query sweep so every stage runs against
            # cold session caches — the composed run a user executes. The
            # warmed caches then carry into the per-query sweep for BOTH
            # dirs equally, so its ratios stay comparable.
            p_base = time_cleaning_pipeline(spark, BASE_DIR)
            p_big = time_cleaning_pipeline(spark, tmp)
            plines = [
                "| stage | 1x (s) | %dx (s) | ratio |" % args.mult,
                "|---|---|---|---|",
            ]
            for n in p_base:
                r = p_big[n] / p_base[n] if p_base[n] > 0 else float("inf")
                plines.append(
                    f"| {n} | {p_base[n]:.2f} | {p_big[n]:.2f} | {r:.1f}x |"
                )
            pipe_table = "\n".join(plines)
            print(pipe_table)

        base_t = time_queries(spark, BASE_DIR, names)
        big_t = time_queries(spark, tmp, names)

        lines = [
            "| query | 1x (s) | %dx (s) | ratio |" % args.mult,
            "|---|---|---|---|",
        ]
        for n in names:
            r = big_t[n] / base_t[n] if base_t[n] > 0 else float("inf")
            lines.append(f"| {n} | {base_t[n]:.2f} | {big_t[n]:.2f} | {r:.1f}x |")
        table = "\n".join(lines)
        print(table)

        if args.update_scale_md:
            _splice_scale_md(table, args.mult)
            if pipe_table is not None:
                _splice_pipeline_md(pipe_table, args.mult)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_MARK = "## Measured scaling"


def _splice_subsection(submark: str, subsection: str) -> None:
    """Insert/replace one `### ...` subsection inside '## Measured scaling',
    preserving the section intro and every other subsection — the section
    accumulates one measured table per (probe kind, multiplier). The
    next-subsection search is scoped to the Measured-scaling section, so a
    later '## ' section with its own '### ' headings is never touched."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "SCALE.md")
    with open(path) as f:
        text = f.read()
    if _MARK not in text:
        text = text.rstrip() + "\n\n" + _MARK + "\n\n" + subsection
    else:
        head, rest = text.split(_MARK, 1)
        nxt = rest.find("\n## ")
        section, tail = (
            (rest[:nxt], rest[nxt + 1:]) if nxt != -1 else (rest, "")
        )
        # legacy format (no subsections): wrap the existing table as the
        # probe subsection for its old multiplier, read from its own text
        if "### " not in section and "--mult" in section:
            import re as _re

            m = _re.search(r"--mult (\d+)", section)
            old = m.group(1) if m else "10"
            section = f"\n\n### {old}x probe\n{section.split(chr(10), 1)[1]}"
        if submark in section:
            pre, sub = section.split(submark, 1)
            nxt_sub = sub.find("\n### ")
            post = sub[nxt_sub + 1:] if nxt_sub != -1 else ""
            section = pre + subsection + ("\n" + post if post else "")
        else:
            section = section.rstrip() + "\n\n" + subsection
        text = head + _MARK + section.rstrip() + "\n" + ("\n" + tail if tail else "")
    with open(path, "w") as f:
        f.write(text)


def _splice_scale_md(table: str, mult: int) -> None:
    submark = f"### {mult}x probe"
    _splice_subsection(submark, (
        f"{submark}\n\n"
        f"`scripts/scale_probe.py --mult {mult}`: wall time per headline query on\n"
        f"`local[32]` at sf0.1 (1x) vs a synthesized {mult}x corpus (shifted-key\n"
        f"fact-table replication; see the script docstring for why the shifts\n"
        f"preserve join selectivity and state cardinality). A ratio well above\n"
        f"{mult}x would mean superlinear work. Ratios below {mult}x mean\n"
        f"per-query fixed costs (planning, job scheduling, task launch) still\n"
        f"dominate at this corpus size — the probe is a superlinearity\n"
        f"detector, not a throughput benchmark. See the durable caveats at\n"
        f"the top of this section; exclusions are reasoned in the script's\n"
        f"query lists.\n\n"
        f"{table}\n"
    ))


def _splice_pipeline_md(table: str, mult: int) -> None:
    submark = f"### Cleaning pipeline at {mult}x"
    _splice_subsection(submark, (
        f"{submark}\n\n"
        f"`scripts/scale_probe.py --mult {mult} --pipeline`: the composed\n"
        f"corpus-cleaning chain (CLEANING_STAGES from\n"
        f"scripts/run_cleaning_pipeline.py), each stage timed\n"
        f"cold-cache-first so intra-pipeline cache reuse is part of the\n"
        f"measurement. The keyed-shuffle replication (script docstring)\n"
        f"makes exact-gram pair volume linear and same-doc cross-copy\n"
        f"MinHash collisions vanish, but CROSS-base near-dup pairs\n"
        f"replicate ~C(mult,2): genuinely-similar base docs stay similar\n"
        f"in every copy, so the replicated corpus is quadratically\n"
        f"self-similar — see the dedup_clusters decomposition caveat at\n"
        f"the top of Measured scaling for what that does to the cluster\n"
        f"stage (and why its ratio is an upper bound).\n\n"
        f"{table}\n"
    ))



if __name__ == "__main__":
    main()
