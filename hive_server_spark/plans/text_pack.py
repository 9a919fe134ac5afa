"""Gate queries for the text-analysis / dedup surface (functions/text.py).

Each oracle SQL is assembled from the same dialect-dispatched fragments as
the Spark implementation, so both engines execute structurally identical
expressions (seeded md5 hashing, in-order folds, single-division ratios)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_server_spark.catalog import load_table
from hive_server_spark.functions import text as T
from hive_server_spark.registry import register

_TOKS_CTE_D = f"toks AS (SELECT *, {T.tokens_expr('text', 'd')} AS toks FROM documents)"
_SHINGLES_CTE_D = (
    f"shingled AS (SELECT doc_id, {T.shingles_expr('toks', 'd')} AS shingles FROM toks)"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread to at least full parallelism. The tokenize /
    shingle / gram builds downstream are CPU-bound at many times the byte
    volume of the raw text, and the bench corpus arrives as ONE dense
    parquet split — without the rebalance every derivation in this pack
    runs single-task. The shuffle moves only the narrow raw rows, never a
    derived/exploded table."""
    return T.spread(load_table(spark, sf_dir, "documents"))


# LSH candidate pairs are the dedup family's shared intermediate — the
# "candidate table" a production pipeline would materialize once per corpus
# snapshot. Persisted per (session, sf_dir) so the pairwise verifier and the
# connected-components pass (dedup_minhash_candidates / dedup_clusters)
# derive it once, exactly like orders_state in gate.py.
from hive_server_spark.session_cache import shared


def _minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        spark,
        ("text:minhash_candidates", sf_dir),
        lambda: T.minhash_candidates(_docs(spark, sf_dir)),
    )


# the resolved duplicate clusters are likewise a shared intermediate:
# dedup_clusters surfaces them directly and text_leakage_safe_splits keys
# its split assignment on them — run the components loop once per
# (session, sf_dir), not once per query
def _dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_server_spark.functions.clusters import dup_clusters

    return shared(
        spark,
        ("text:dup_clusters", sf_dir),
        lambda: dup_clusters(
            _docs(spark, sf_dir), _minhash_candidates(spark, sf_dir)
        ),
    )


# the shingled corpus (doc_id, source, shingles[]) feeds top-ngrams,
# decontamination, and the source-overlap matrix — materialized once per
# (session, corpus) like the profile, instead of re-tokenizing per query
def _shingled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        spark,
        ("text:shingled", sf_dir),
        lambda: T.with_shingles(_docs(spark, sf_dir)).select(
            "doc_id", "source", "shingles"
        ),
    )


# the per-document profile (tokens, lang-id, quality, fingerprints) is the
# other shared intermediate: profile, histogram, filter, and corpus stats
# all start from it — one CPU-heavy derivation, persisted per session
def _profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        spark, ("text:profile", sf_dir), lambda: T.doc_profile(_docs(spark, sf_dir))
    )


# ---------------------------------------------------------------------------
# per-document profile: token stats, lang-id, quality, fingerprints
# ---------------------------------------------------------------------------
_PROFILE_SQL = f"""
WITH {_TOKS_CTE_D},
profile AS (
  SELECT doc_id, lang, source,
         CAST(len(toks) AS BIGINT)                AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
         CAST({T.subtoken_count_expr('toks', 'd')} AS BIGINT) AS n_subtokens,
         CAST({T.stop_count_expr('toks', 'en', 'd')} AS BIGINT) AS s_en,
         CAST({T.stop_count_expr('toks', 'es', 'd')} AS BIGINT) AS s_es,
         CAST({T.stop_count_expr('toks', 'de', 'd')} AS BIGINT) AS s_de,
         CAST({T.stop_count_expr('toks', 'fr', 'd')} AS BIGINT) AS s_fr,
         CAST(CASE WHEN regexp_matches(text, '{T.CJK_RE}') THEN 1 ELSE 0 END AS BIGINT) AS s_zh,
         md5(text) AS fingerprint_md5,
         CAST({T.rolling_fp_expr('toks', 'd')} AS BIGINT) AS fingerprint_roll
  FROM toks
)
SELECT doc_id, lang, source, n_tokens, n_distinct_tokens, n_subtokens,
       CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS ttr,
       CAST(s_en + s_es + s_de + s_fr AS DOUBLE) / n_tokens AS stop_ratio,
       CASE WHEN s_zh = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'zh'
            WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
            WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
            WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
            ELSE 'fr' END AS predicted_lang,
       (CASE WHEN s_zh = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'zh'
             WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
             WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
             WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
             ELSE 'fr' END) = lang AS lang_match,
       0.5 * (CAST(n_distinct_tokens AS DOUBLE) / n_tokens)
         + 0.3 * (1.0 - CAST(s_en + s_es + s_de + s_fr AS DOUBLE) / n_tokens)
         + 0.2 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS quality_score,
       fingerprint_md5, fingerprint_roll
FROM profile
"""


@register("text_profile", _PROFILE_SQL)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _profile(spark, sf_dir)


# ---------------------------------------------------------------------------
# exact dedup by content hash
# ---------------------------------------------------------------------------
@register(
    "text_exact_dedup",
    """
SELECT md5(text) AS fingerprint_md5,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT)    AS group_size
FROM documents GROUP BY md5(text)
""",
)
def text_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.exact_dedup(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard near-dup pairs (threshold 0.5, df-cut applied)
# ---------------------------------------------------------------------------
_JACCARD_SQL = f"""
WITH {_TOKS_CTE_D},
{_SHINGLES_CTE_D},
sh0 AS (SELECT doc_id, s AS shingle FROM shingled, unnest(shingles) AS u(s)),
df_ok AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= {T.DF_CUT}),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN df_ok USING (shingle)),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(common AS BIGINT) AS common,
       CAST(na.n_sh AS BIGINT) AS n_a,
       CAST(nb.n_sh AS BIGINT) AS n_b,
       CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common) AS jaccard
FROM common
JOIN counts na ON common.doc_a = na.doc_id
JOIN counts nb ON common.doc_b = nb.doc_id
WHERE CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common) >= 0.5
"""


@register("dedup_ngram_jaccard", _JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


# ---------------------------------------------------------------------------
# MinHash signatures + LSH band keys
# ---------------------------------------------------------------------------
_mh_cols_d = ",\n       ".join(
    f"CAST({T.minhash_expr('shingles', j, 'd')} AS BIGINT) AS mh_{j}"
    for j in range(T.N_MINHASH)
)
_band_cols_d = ",\n       ".join(
    f"concat(mh_{2*b}, '_', mh_{2*b+1}) AS band_{b}" for b in range(T.N_BANDS)
)
_SIGS_SQL = f"""
WITH {_TOKS_CTE_D},
{_SHINGLES_CTE_D},
sigs AS (
  SELECT doc_id,
       {_mh_cols_d}
  FROM shingled
)
SELECT doc_id, {', '.join(f'mh_{j}' for j in range(T.N_MINHASH))},
       {_band_cols_d}
FROM sigs
"""


@register("dedup_minhash_sigs", _SIGS_SQL)
def dedup_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.minhash_signatures(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# MinHash-LSH candidate pairs
# ---------------------------------------------------------------------------
_band_union_d = "\nUNION ALL\n".join(
    f"SELECT doc_id, concat('{b}', '#', band_{b}) AS band_key FROM sigs_b"
    for b in range(T.N_BANDS)
)
_CAND_SQL = f"""
WITH {_TOKS_CTE_D},
{_SHINGLES_CTE_D},
sigs AS (
  SELECT doc_id,
       {_mh_cols_d}
  FROM shingled
),
sigs_b AS (
  SELECT doc_id, {_band_cols_d}
  FROM sigs
),
bands AS ({_band_union_d})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


@register("dedup_minhash_candidates", _CAND_SQL)
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_candidates(spark, sf_dir)


# ---------------------------------------------------------------------------
# SimHash fingerprints + hamming-LSH halves
# ---------------------------------------------------------------------------
_SIMHASH_SQL = f"""
WITH {_TOKS_CTE_D},
hashed AS (SELECT doc_id, {T.token_hashes_expr('toks', 'd')} AS th FROM toks),
fp AS (SELECT doc_id, CAST({T.simhash_expr('th', 'd')} AS BIGINT) AS simhash FROM hashed)
SELECT doc_id, simhash,
       CAST(simhash % 65536 AS BIGINT)  AS band_lo,
       CAST(simhash // 65536 AS BIGINT) AS band_hi
FROM fp
"""


@register("dedup_simhash", _SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.simhash_fingerprints(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# corpus roll-up: per (lang, source) token statistics
# ---------------------------------------------------------------------------
@register(
    "text_corpus_stats",
    f"""
WITH {_TOKS_CTE_D}
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT)        AS n_docs,
       CAST(SUM(len(toks)) AS BIGINT)  AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT)    AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / SUM(len(toks)) AS chars_per_token
FROM toks GROUP BY lang, source
""",
)
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T.with_tokens(_docs(spark, sf_dir))
    return d.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size("toks")).cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.sum(F.size("toks"))).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# corpus n-gram frequencies (top-k shingles)
# ---------------------------------------------------------------------------
@register(
    "text_top_ngrams",
    f"""
WITH {{toks}},
{{shingled}},
freq AS (
  SELECT s AS shingle, COUNT(*) AS df
  FROM shingled, unnest(shingles) AS u(s)
  GROUP BY s
)
SELECT shingle, CAST(df AS BIGINT) AS df, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (ORDER BY df DESC, shingle ASC) AS rk FROM freq)
WHERE rk <= 50
""".format(toks=_TOKS_CTE_D, shingled=_SHINGLES_CTE_D),
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 word 3-grams by document frequency — the
    aggregate-then-rank shape again: the heavy explode reduces to one count
    per distinct shingle before the single-partition top-k."""
    sh = _shingled_docs(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    from hive_server_spark.operators.topk import global_topk

    return global_topk(freq, [F.desc("df"), F.asc("shingle")], 50).select(
        "shingle", F.col("df").cast("bigint").alias("df"), "rk"
    )


# ---------------------------------------------------------------------------
# duplicate clusters: connected components over MinHash-LSH candidates
# ---------------------------------------------------------------------------
_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_TOKS_CTE_D},
{_SHINGLES_CTE_D},
sigs AS (
  SELECT doc_id,
       {_mh_cols_d}
  FROM shingled
),
sigs_b AS (
  SELECT doc_id, {_band_cols_d}
  FROM sigs
),
bands AS ({_band_union_d}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS x, doc_b AS y FROM cand
  UNION SELECT doc_b, doc_a FROM cand
),
reach(x, y) AS (
  SELECT x, y FROM edges
  UNION
  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
),
comp AS (
  SELECT x AS doc_id, least(min(y), x) AS cluster_id FROM reach GROUP BY x
)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""


@register("dedup_clusters", _CLUSTERS_ORACLE)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate groups: connected components (iterative DataFrame
    label propagation, functions/clusters.py) over the LSH candidate pairs —
    the oracle computes the same components via a recursive-CTE transitive
    closure, so the iterative algorithm gets full value parity."""
    return _dup_clusters(spark, sf_dir)


# ---------------------------------------------------------------------------
# quality-score histogram (width_bucket over the per-doc profile)
# ---------------------------------------------------------------------------
@register(
    "text_quality_histogram",
    f"""
WITH {{toks}},
scored AS (
  SELECT doc_id, lang,
         0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.3 * (1.0 - CAST({{s_en}} + {{s_es}} + {{s_de}} + {{s_fr}} AS DOUBLE) / len(toks))
           + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS q
  FROM toks
)
SELECT lang, CAST(least(CAST(floor(q * 10) AS BIGINT) + 1, 10) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM scored GROUP BY lang, least(CAST(floor(q * 10) AS BIGINT) + 1, 10)
""".format(
        toks=_TOKS_CTE_D,
        s_en=T.stop_count_expr("toks", "en", "d"),
        s_es=T.stop_count_expr("toks", "es", "d"),
        s_de=T.stop_count_expr("toks", "de", "d"),
        s_fr=T.stop_count_expr("toks", "fr", "d"),
    ),
)
def text_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality distribution per language: width_bucket over the
    (bit-deterministic) quality score — the filter-threshold-picking view a
    data-curation pipeline reads before choosing a cutoff."""
    prof = _profile(spark, sf_dir)
    bucket = F.least(
        F.floor(F.col("quality_score") * 10).cast("bigint") + 1, F.lit(10)
    ).cast("bigint")
    return prof.groupBy("lang", bucket.alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Reproducible sampling: seeded-hash selection, never TABLESAMPLE/rand().
# A training corpus must sample identically across reruns, engines, and
# cluster sizes; rand()/TABLESAMPLE are none of those. The seeded md5-hash
# predicate is bit-identical in Spark and DuckDB (functions/text.hash_expr),
# so the SAME rows are selected everywhere — and the gate proves it.
# ---------------------------------------------------------------------------
_SAMPLE_PRED_S = f"pmod({T.hash_expr('doc_id', 'sample42', 's')}, 10) = 0"
_SAMPLE_PRED_D = f"(({T.hash_expr('doc_id', 'sample42', 'd')}) % 10 + 10) % 10 = 0"


@register(
    "text_deterministic_sample",
    f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {_SAMPLE_PRED_D}
""",
)
def text_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% document sample via seeded hash-mod — the selection pushes to
    the scan as a deterministic predicate (no shuffle, no sort, no state),
    and re-running at any parallelism returns the identical row set."""
    return (
        _docs(spark, sf_dir)
        .where(F.expr(_SAMPLE_PRED_S))
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "text_sample_rates",
    f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN {_SAMPLE_PRED_D} THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(SUM(CASE WHEN {_SAMPLE_PRED_D} THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS sample_rate
FROM documents
GROUP BY lang
""",
)
def text_sample_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language realized sampling rate of the hash-mod sample — the
    stratification check a pipeline runs before trusting a sample: rates
    should hover near 1/10 for every stratum because the hash is
    uncorrelated with language."""
    d = _docs(spark, sf_dir).withColumn(
        "sampled", F.expr(_SAMPLE_PRED_S).cast("int")
    )
    return d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("sampled").cast("bigint").alias("n_sampled"),
        (F.sum("sampled").cast("double") / F.count("*")).alias("sample_rate"),
    )


# ---------------------------------------------------------------------------
# Quality-threshold filtering: keep documents at or above their language's
# median quality — the concrete curation step the histogram view informs.
# Median via exact interpolated percentile (Spark `percentile` ≡ DuckDB
# `quantile_cont`, bit-identical on the same doubles), so even the
# threshold comparison is hash-gated.
#
# Threshold estimation is BOUNDED (the same fix as text_ccnet_buckets): an
# exact percentile over every doc of a language buffers the whole group —
# unbounded at 100 TB. The median is instead estimated on a held-out slice
# (seeded hash-mod predicate, map-side) capped at _QF_HELDOUT_CAP docs per
# language via the two-level grouped_topk, so the percentile buffer holds ≤
# cap values per group at any corpus size. Languages with no held-out doc
# fall back to the global held-out median (1 broadcast row). Identical
# capped slice in both engines keeps the hash gate bit-exact.
# ---------------------------------------------------------------------------
_QF_HELDOUT_MOD = 3
_QF_HELDOUT_CAP = 256


# The slice/cap mechanism itself is shared repo-wide (it lives in
# operators/heldout.py so the events and relational packs route their
# thresholds through the IDENTICAL code path): these aliases keep this
# pack's call sites and the dedicated cap/fallback parity tests reading
# at the policy's original home.
from hive_server_spark.operators.heldout import (  # noqa: E402
    capped_heldout as _capped_heldout,
    held_cte_d as _held_cte_d,
)
_SCORED_CTE_D = """
scored AS (
  SELECT doc_id, lang,
         0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.3 * (1.0 - CAST({s_en} + {s_es} + {s_de} + {s_fr} AS DOUBLE) / len(toks))
           + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS quality
  FROM toks
)
""".format(
    s_en=T.stop_count_expr("toks", "en", "d"),
    s_es=T.stop_count_expr("toks", "es", "d"),
    s_de=T.stop_count_expr("toks", "de", "d"),
    s_fr=T.stop_count_expr("toks", "fr", "d"),
)


@register(
    "text_quality_filter",
    f"""
WITH {_TOKS_CTE_D},
{_SCORED_CTE_D},
{_held_cte_d('scored', 'lang', 'quality', 'qmed42',
             _QF_HELDOUT_MOD, _QF_HELDOUT_CAP)},
med AS (
  SELECT lang, quantile_cont(quality, 0.5) AS med FROM held GROUP BY lang
),
gmed AS (SELECT quantile_cont(quality, 0.5) AS gmed FROM held)
SELECT s.doc_id, s.lang, s.quality,
       COALESCE(m.med, g.gmed) AS lang_median
FROM scored s LEFT JOIN med m ON s.lang = m.lang CROSS JOIN gmed g
WHERE s.quality >= COALESCE(m.med, g.gmed, s.quality)
""",
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language median-quality cut, median estimated on a capped
    held-out slice (≤ _QF_HELDOUT_CAP docs/lang — see block comment for
    the buffer bound): one bounded aggregate for the thresholds (|langs|
    rows — broadcast back), one map-side filter over the corpus.

    Degenerate floor: if the ENTIRE held-out slice is empty (possible
    only on tiny corpora — P ≈ (1 - 1/mod)^n), both medians are NULL and
    a bare >= would drop every document silently; the final COALESCE arm
    falls back to the doc's own quality, keeping the whole corpus (no
    threshold evidence → no cut) with lang_median reported as NULL."""
    prof = _profile(spark, sf_dir).select(
        "doc_id", "lang", F.col("quality_score").alias("quality")
    )
    held = _capped_heldout(
        prof, "lang", "quality", "qmed42", _QF_HELDOUT_MOD, _QF_HELDOUT_CAP
    )
    med = held.groupBy("lang").agg(F.percentile("quality", 0.5).alias("med"))
    gmed = held.agg(F.percentile("quality", 0.5).alias("gmed"))
    return (
        prof.join(F.broadcast(med), "lang", "left")
        .crossJoin(F.broadcast(gmed))
        .where(F.col("quality") >= F.coalesce("med", "gmed", "quality"))
        .select(
            "doc_id",
            "lang",
            "quality",
            F.coalesce("med", "gmed").alias("lang_median"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget sharding: assign documents (in doc_id order, per source) to
# fixed-token-budget shards — the layout step before sequence packing in a
# training pipeline. shard = floor(tokens_before / budget) is a pure prefix
# sum, computed two-level so parallelism is never bounded by source count.
# ---------------------------------------------------------------------------
# docs per prefix-sum bucket: the doc-level window partitions on
# (source, doc_id DIV _PREFIX_BUCKET), so one task never sorts more than
# ~_PREFIX_BUCKET rows regardless of corpus size.
_PREFIX_BUCKET = 4096


def _toks_before(toks: DataFrame) -> DataFrame:
    """Exact per-source running token offset (`toks_before`) for every doc,
    as a TWO-LEVEL prefix sum.

    A single `SUM() OVER (PARTITION BY source ORDER BY doc_id)` puts each
    source's entire document set into one shuffle partition — with a handful
    of sources at 100 TB that caps parallelism at the source count. Instead:

    1. per-(source, bucket) token subtotals, bucket = doc_id DIV B — a plain
       hash aggregate, fully parallel, output ~n_docs/B rows;
    2. the running bucket offset, a window over that *tiny* aggregate (the
       only source-partitioned window left — it sorts bucket subtotals, not
       documents);
    3. broadcast the offset table back and add the within-bucket prefix sum,
       whose window partitions on (source, bucket) — parallelism ~corpus/B.

    bucket is monotone in doc_id, so (bucket, doc_id) order == doc_id order
    and the decomposition is exact integer arithmetic: `toks_before` is
    bit-identical to the single-window form (the DuckDB oracles, which keep
    the one-window formulation, pin that equivalence)."""
    toks = toks.withColumn("bucket", F.expr(f"doc_id DIV {_PREFIX_BUCKET}"))
    sub = toks.groupBy("source", "bucket").agg(F.sum("n_toks").alias("bucket_toks"))
    w_off = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sub.select(
        "source",
        "bucket",
        F.coalesce(F.sum("bucket_toks").over(w_off), F.lit(0)).alias("bucket_offset"),
    )
    w_in = (
        Window.partitionBy("source", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return toks.join(F.broadcast(offsets), ["source", "bucket"]).withColumn(
        "toks_before",
        F.col("bucket_offset") + F.coalesce(F.sum("n_toks").over(w_in), F.lit(0)),
    )



@register(
    "text_token_shards",
    f"""
WITH {_TOKS_CTE_D},
counted AS (
  SELECT doc_id, source, len(toks) AS n_toks FROM toks
), positioned AS (
  SELECT doc_id, source, n_toks,
         COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS toks_before
  FROM counted
)
SELECT source,
       CAST(toks_before // 2000 AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT)            AS n_docs,
       CAST(SUM(n_toks) AS BIGINT)         AS shard_tokens,
       CAST(MIN(doc_id) AS BIGINT)         AS first_doc,
       CAST(MAX(doc_id) AS BIGINT)         AS last_doc
FROM positioned
GROUP BY source, CAST(toks_before // 2000 AS BIGINT)
""",
)
def text_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2000-token shards per source in stable doc_id order. Shard boundaries
    are deterministic (integer arithmetic on the exact two-level prefix sum),
    so a rerun — or a different cluster — produces identical shard manifests,
    which is what makes incremental re-sharding safe."""
    toks = T.with_tokens(_docs(spark, sf_dir)).select(
        "doc_id", "source", F.size("toks").alias("n_toks")
    )
    pos = _toks_before(toks)
    return pos.groupBy(
        "source", F.floor(F.col("toks_before") / 2000).cast("bigint").alias("shard_id")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("shard_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# Recursive CTE surface (Spark 4 WITH RECURSIVE): bounded-depth reachability
# from the smallest candidate doc over the near-dup pair graph. Spark's
# recursion is UNION ALL-only, so termination on the (cyclic) pair graph
# comes from the explicit depth bound, with a final DISTINCT — the oracle
# uses the identical formulation. Depth-4 covers any near-dup cluster here;
# UNBOUNDED transitive closure at scale belongs to the iterative
# connected-components operator (dedup_clusters), not recursion.
# ---------------------------------------------------------------------------
_REACH_SQL_BODY = """
, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION ALL
  SELECT doc_b, doc_a FROM cand
), seed AS (SELECT min(a) AS s FROM edges),
reach(x, lvl) AS (
  SELECT s, 0 FROM seed
  UNION ALL
  -- DISTINCT per level is load-bearing: without it the recursion enumerates
  -- WALKS (rows multiply by node degree each level — exponential in a dense
  -- near-dup clique), with it each level is a BFS frontier bounded by n.
  -- The final outer DISTINCT makes the result set identical either way.
  -- the BROADCAST hint keeps each iteration's join shuffle-free (the edge
  -- set is the bounded candidate graph, tiny next to the corpus; the
  -- frontier side never needs to move). DuckDB parses /*+ */ as a comment,
  -- so the shared body stays oracle-identical.
  SELECT /*+ BROADCAST(e) */ DISTINCT e.b, r.lvl + 1
  FROM reach r JOIN edges e ON r.x = e.a WHERE r.lvl < 4
)
SELECT DISTINCT CAST(x AS BIGINT) AS doc_id FROM reach
"""

_REACH_ORACLE = f"""
WITH RECURSIVE {_TOKS_CTE_D},
{_SHINGLES_CTE_D},
sigs AS (
  SELECT doc_id,
       {_mh_cols_d}
  FROM shingled
),
sigs_b AS (
  SELECT doc_id, {_band_cols_d}
  FROM sigs
),
bands AS ({_band_union_d}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
){_REACH_SQL_BODY}"""


def _minhash_candidates_view(spark: SparkSession, sf_dir: str) -> str:
    """The shared candidate table as a session temp view, registered once
    per (session, sf_dir). The view's plan IS the persisted candidates
    frame, and dropping a temp view uncaches its plan, so the view lives as
    long as the cache entry: `shared` drops it only in its release. The
    name is unique (the session catalog is shared state; a generic 'cand'
    could clobber another query's view)."""
    import uuid

    def build() -> str:
        view = f"cand_{uuid.uuid4().hex[:12]}"
        _minhash_candidates(spark, sf_dir).createOrReplaceTempView(view)
        return view

    return shared(
        spark,
        ("text:minhash_candidates_view", sf_dir),
        build,
        release=spark.catalog.dropTempView,
    )


@register("dedup_reachability_recursive", _REACH_ORACLE)
def dedup_reachability_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs within 4 hops of the smallest candidate doc, via an actual
    WITH RECURSIVE query over the materialized candidate table."""
    view = _minhash_candidates_view(spark, sf_dir)
    # recursion iterations run outside AQE's runtime coalescing, so the
    # per-level DISTINCT would otherwise shuffle at the full session
    # partition count for a graph of a few hundred edges. Shuffle
    # partitions are a runtime conf, so the recursion must EXECUTE
    # inside the scope — localCheckpoint(eager) materializes the (small,
    # ≤ one dedup cluster) result there.
    from hive_server_spark.session import scoped_shuffle_partitions

    with scoped_shuffle_partitions(spark):
        return spark.sql(
            "WITH RECURSIVE _x AS (SELECT 1)"
            + _REACH_SQL_BODY.replace("FROM cand", f"FROM {view}")
        ).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Mixture sampling: per-source target weights (the training-mix step) with
# the same seeded-hash mechanism — each source keeps `rate`% of its docs,
# deterministically, and the realized mix is auditable per stratum.
# ---------------------------------------------------------------------------
_MIX_HASH_S = T.hash_expr("doc_id", "mix7", "s")
_MIX_HASH_D = T.hash_expr("doc_id", "mix7", "d")
_MIX_RATE_S = "10 + (CAST(substring(source, 4, 8) AS INT) * 7) % 80"
_MIX_RATE_D = "10 + (CAST(substr(source, 4) AS INT) * 7) % 80"


@register(
    "text_mixture_sample",
    f"""
SELECT source,
       CAST({_MIX_RATE_D} AS BIGINT) AS target_rate_pct,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN (({_MIX_HASH_D}) % 100 + 100) % 100 < {_MIX_RATE_D}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN (({_MIX_HASH_D}) % 100 + 100) % 100 < {_MIX_RATE_D}
                THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS realized_rate
FROM documents
GROUP BY source
""",
)
def text_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture over sources: each stratum keeps a deterministic
    hash-threshold fraction (its target weight), so the corpus mix is
    reproducible and the realized-vs-target rates are one audit query."""
    d = _docs(spark, sf_dir).select(
        "source",
        F.expr(f"CAST({_MIX_RATE_S} AS BIGINT)").alias("target_rate_pct"),
        (F.expr(f"pmod({_MIX_HASH_S}, 100)") < F.expr(_MIX_RATE_S))
        .cast("int")
        .alias("kept"),
    )
    return d.groupBy("source", "target_rate_pct").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        (F.sum("kept").cast("double") / F.count("*")).alias("realized_rate"),
    )


# ---------------------------------------------------------------------------
# Bigram language-model statistics: top bigrams with conditional probability
# P(b|a) = c(ab)/c(a·). Counts are exact integers; the probability is one
# division — the n-gram statistics pass an LM data pipeline runs over a
# corpus. Spark side builds bigrams with zip_with over two slices (arguments
# evaluate once per ROW; a transform over the derived token array would
# re-inline the split per ELEMENT — the CollapseProject trap).
# ---------------------------------------------------------------------------
@register(
    "text_bigram_lm",
    f"""
WITH {_TOKS_CTE_D},
bg AS (
  SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))
           AS bigram
  FROM toks WHERE len(toks) >= 2
), c_ab AS (
  SELECT bigram, COUNT(*) AS n_ab FROM bg GROUP BY bigram
), c_a AS (
  SELECT split_part(bigram, ' ', 1) AS head, COUNT(*) AS n_a
  FROM bg GROUP BY split_part(bigram, ' ', 1)
), ranked AS (
  SELECT bigram, n_ab, n_a,
         row_number() OVER (ORDER BY n_ab DESC, bigram ASC) AS rk
  FROM c_ab JOIN c_a ON split_part(bigram, ' ', 1) = head
)
SELECT bigram,
       CAST(n_ab AS BIGINT) AS n_ab,
       CAST(n_a AS BIGINT)  AS n_head,
       CAST(n_ab AS DOUBLE) / n_a AS cond_p,
       CAST(rk AS BIGINT)   AS rk
FROM ranked WHERE rk <= 50
""",
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_server_spark.operators.topk import global_topk

    toks = T.with_tokens(_docs(spark, sf_dir)).where(F.size("toks") >= 2)
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram")
    )
    c_ab = bigrams.groupBy("bigram").agg(F.count("*").alias("n_ab"))
    c_a = (
        bigrams.select(F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("head"))
        .groupBy("head")
        .agg(F.count("*").alias("n_a"))
    )
    j = c_ab.join(
        c_a, F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)) == F.col("head")
    )
    top = global_topk(j, [F.desc("n_ab"), F.asc("bigram")], 50)
    return top.select(
        "bigram",
        F.col("n_ab").cast("bigint").alias("n_ab"),
        F.col("n_a").cast("bigint").alias("n_head"),
        (F.col("n_ab").cast("double") / F.col("n_a")).alias("cond_p"),
        "rk",
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk): the GPT-pretraining data op. Docs are
# concatenated in stable (source, doc_id) order and cut into fixed 512-token
# context windows; a doc whose span crosses a boundary contributes to every
# window it overlaps. The whole manifest is exact integer arithmetic on ONE
# per-source prefix sum: start = tokens-before, end = start + n_toks, touched
# windows = start DIV 512 .. (end-1) DIV 512 — an explode bounded by
# ceil(n_toks/512)+1 rows per doc, never a cross join. Same 100 TB shape as
# text_token_shards: the two-level prefix sum (_toks_before), so no window
# ever sorts a whole source. The n_toks > 0 guard keeps the explode range
# non-empty on both engines: Spark's sequence(start, stop) DESCENDS when
# start > stop while DuckDB's generate_series returns empty, so a zero-token
# doc sitting exactly on a window boundary would otherwise fan out to bogus
# windows on the Spark side only (currently unreachable — split() always
# yields ≥1 token — but pinned here against tokenizer changes).
# ---------------------------------------------------------------------------
_PACK_CTX = 512

_PACK_SQL = f"""
WITH {_TOKS_CTE_D},
counted AS (
  SELECT doc_id, source, len(toks) AS n_toks FROM toks
), positioned AS (
  SELECT doc_id, source, n_toks,
         CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_tok
  FROM counted
), spans AS (
  SELECT doc_id, source, n_toks, start_tok,
         start_tok + n_toks AS end_tok
  FROM positioned
  WHERE n_toks > 0
), touched AS (
  SELECT s.doc_id, s.source, s.start_tok, s.end_tok, w.window_id
  FROM spans s,
       unnest(generate_series(s.start_tok // {_PACK_CTX},
                              (s.end_tok - 1) // {_PACK_CTX})) AS w(window_id)
)
SELECT source,
       CAST(window_id AS BIGINT) AS window_id,
       CAST(COUNT(*) AS BIGINT)  AS n_docs,
       CAST(SUM(CASE WHEN start_tok // {_PACK_CTX} = window_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_starting,
       CAST(SUM(CASE WHEN start_tok >= window_id * {_PACK_CTX}
                      AND end_tok <= (window_id + 1) * {_PACK_CTX}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_full_docs,
       CAST(SUM(LEAST(end_tok, (window_id + 1) * {_PACK_CTX})
                - GREATEST(start_tok, window_id * {_PACK_CTX})) AS BIGINT)
         AS window_tokens
FROM touched
GROUP BY source, window_id
"""


@register("text_pack_windows", _PACK_SQL)
def text_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, context-window) packing manifest: how many docs each
    512-token training window touches, how many start in / fit fully inside
    it, and its token fill (== 512 everywhere except each source's final
    window — the only padded one under concat-and-chunk packing)."""
    ctx = _PACK_CTX
    toks = T.with_tokens(_docs(spark, sf_dir)).select(
        "doc_id", "source", F.size("toks").alias("n_toks")
    )
    spans = (
        _toks_before(toks)
        .withColumnRenamed("toks_before", "start_tok")
        .withColumn("end_tok", F.col("start_tok") + F.col("n_toks"))
        .where(F.col("n_toks") > 0)
    )
    touched = spans.select(
        "doc_id",
        "source",
        "start_tok",
        "end_tok",
        F.explode(
            F.sequence(
                F.expr(f"start_tok DIV {ctx}"), F.expr(f"(end_tok - 1) DIV {ctx}")
            )
        ).alias("window_id"),
    )
    win_start = F.col("window_id") * ctx
    win_end = (F.col("window_id") + 1) * ctx
    return touched.groupBy("source", F.col("window_id").cast("bigint").alias("window_id")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            (F.expr(f"start_tok DIV {ctx}") == F.col("window_id")).cast("int")
        ).cast("bigint").alias("n_docs_starting"),
        F.sum(
            ((F.col("start_tok") >= win_start) & (F.col("end_tok") <= win_end)).cast("int")
        ).cast("bigint").alias("n_full_docs"),
        F.sum(
            F.least(F.col("end_tok"), win_end) - F.greatest(F.col("start_tok"), win_start)
        ).cast("bigint").alias("window_tokens"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag corpus documents whose 3-gram shingle sets
# overlap a held-out benchmark set (doc_id % 101 == 0) — the standard
# eval-leakage sweep a pretraining pipeline runs before training. Scale
# shape: the benchmark shingle set is tiny and BROADCAST; the corpus is
# streamed through one explode + broadcast-hash join + per-doc count — no
# shuffle of corpus text, O(corpus shingles) work.
# ---------------------------------------------------------------------------
_DECON_SQL = f"""
WITH {_TOKS_CTE_D},
{_SHINGLES_CTE_D},
bench AS (
  SELECT DISTINCT s AS shingle
  FROM shingled, unnest(shingles) AS u(s)
  WHERE doc_id % 101 = 0
),
corpus AS (
  SELECT doc_id, len(shingles) AS n_sh, s AS shingle
  FROM shingled, unnest(shingles) AS u(s)
  WHERE doc_id % 101 <> 0
)
SELECT c.doc_id,
       CAST(ANY_VALUE(c.n_sh) AS BIGINT) AS n_shingles,
       CAST(COUNT(*) AS BIGINT)          AS n_overlap,
       CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(c.n_sh) AS overlap_ratio,
       CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(c.n_sh) >= 0.2 AS contaminated
FROM corpus c JOIN bench b ON c.shingle = b.shingle
GROUP BY c.doc_id
"""


@register("text_decontaminate", _DECON_SQL)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus docs sharing >=1 shingle with the benchmark holdout, with the
    overlap ratio and a 0.2-threshold contamination flag. Only overlapping
    docs are returned (the sweep's hit list, not the full corpus)."""
    sh = _shingled_docs(spark, sf_dir).select(
        "doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle")
    )
    bench = (
        sh.where(F.col("doc_id") % 101 == 0).select("shingle").distinct()
    )
    corpus = sh.where(F.col("doc_id") % 101 != 0)
    hits = corpus.join(F.broadcast(bench), "shingle")
    ratio = F.count("*").cast("double") / F.any_value("n_sh")
    return hits.groupBy("doc_id").agg(
        F.any_value("n_sh").cast("bigint").alias("n_shingles"),
        F.count("*").cast("bigint").alias("n_overlap"),
        ratio.alias("overlap_ratio"),
        (ratio >= 0.2).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test splits: assignment is by dedup CLUSTER, not by
# document — a per-doc hash split would scatter near-duplicates across
# train and test, silently leaking eval content into training (the standard
# contamination failure in web-scale corpora). Hashing the cluster
# representative keeps every near-dup group in one split, with the usual
# deterministic seeded-md5 80/10/10 assignment. Oracle: the dedup_clusters
# recursive-closure oracle re-used verbatim, with the split CASE as its
# final projection.
# ---------------------------------------------------------------------------
_SPLITS_ORACLE = _CLUSTERS_ORACLE.rsplit("SELECT d.doc_id,", 1)[0] + f""",
resolved AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, cluster_id,
       CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id, cluster_id,
         {T.hash_expr("CAST(cluster_id AS VARCHAR)", "split", "d")} % 10 AS h
  FROM resolved
)
"""
assert "reach(" in _SPLITS_ORACLE and "CASE WHEN h < 8" in _SPLITS_ORACLE, (
    "splits oracle splice failed: _CLUSTERS_ORACLE's final SELECT changed; "
    "update the rsplit target in text_pack._SPLITS_ORACLE"
)


@register("text_leakage_safe_splits", _SPLITS_ORACLE)
def text_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split over dedup clusters: connected components over the LSH
    candidate pairs (shared session-cached intermediate), then one seeded
    md5 hash of the cluster representative decides the split for every
    member. Deterministic across runs and cluster sizes; no shuffle beyond
    the components loop itself."""
    comp = _dup_clusters(spark, sf_dir)
    h = (
        F.expr(T.hash_expr("CAST(cluster_id AS STRING)", "split", "s")) % 10
    )
    return comp.select(
        "doc_id",
        "cluster_id",
        F.when(h < 8, "train").when(h == 8, "val").otherwise("test").alias("split"),
    )


# ---------------------------------------------------------------------------
# repetition profile: within-document duplicate / top n-gram mass — the
# Gopher-style repetition quality signals (count-fraction form of its
# "fraction of characters in duplicate n-grams" rules). Long-form output,
# one row per (doc, gram_size in {2,3}):
#   top_gram_frac  = multiplicity of the most frequent k-gram / total k-grams
#   dup_gram_frac  = 1 - distinct k-grams / total k-grams
# Scale shape: explode fans out ~2 rows per token; the first aggregate keys
# on (doc_id, gram_size, gram) — near-unique, map-side combinable, no skew —
# and collapses the corpus to one row per distinct in-doc gram before the
# tiny per-doc rollup. No per-row O(tokens^2) work, no driver collection.
# ---------------------------------------------------------------------------
_REPETITION_ORACLE = f"""
WITH {_TOKS_CTE_D},
grams AS (
  SELECT doc_id, 2 AS gram_size,
         unnest({T.ngram_list_expr('toks', 2, 'd')}) AS gram
  FROM toks WHERE len(toks) >= 2
  UNION ALL
  SELECT doc_id, 3 AS gram_size,
         unnest({T.ngram_list_expr('toks', 3, 'd')}) AS gram
  FROM toks WHERE len(toks) >= 3
),
counts AS (
  SELECT doc_id, gram_size, gram, COUNT(*) AS c
  FROM grams GROUP BY 1, 2, 3
)
SELECT doc_id, gram_size,
       CAST(SUM(c) AS BIGINT)   AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_gram_frac,
       1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_gram_frac
FROM counts
GROUP BY doc_id, gram_size
"""


# the per-(doc, gram-size, gram) multiplicity table is shared between the
# repetition profile and the pretrain keep verdict — one corpus-wide
# tokenize+explode per session, like the other cached text intermediates
def _gram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.expr(T.tokens_expr("text", "s")).alias("toks")
        )
        # both gram sizes from ONE scan and ONE explode: tag each k-gram
        # with its size inside the array, instead of a union of two scans
        # of the corpus (which would read every document twice at 100 TB)
        both = (
            f"concat("
            f"transform({T.ngram_list_expr('toks', 2, 's')},"
            f" g -> named_struct('gram_size', 2, 'gram', g)), "
            f"transform({T.ngram_list_expr('toks', 3, 's')},"
            f" g -> named_struct('gram_size', 3, 'gram', g)))"
        )
        return (
            docs.select("doc_id", F.explode(F.expr(both)).alias("g"))
            .select(
                "doc_id",
                F.col("g.gram_size").alias("gram_size"),
                F.col("g.gram").alias("gram"),
            )
            .groupBy("doc_id", "gram_size", "gram")
            .agg(F.count("*").alias("c"))
        )

    return shared(spark, ("text:gram_counts", sf_dir), build)


@register("text_repetition_profile", _REPETITION_ORACLE)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals over word 2- and 3-grams (long form,
    one row per doc x gram size). Both ratios are single divisions of the
    same aggregates in both engines, so the doubles are bit-identical."""
    counts = _gram_counts(spark, sf_dir)
    return counts.groupBy("doc_id", "gram_size").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.count("*").cast("bigint").alias("n_distinct"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top_gram_frac"
        ),
        (
            F.lit(1.0) - F.count("*").cast("double") / F.sum("c").cast("double")
        ).alias("dup_gram_frac"),
    )


# ---------------------------------------------------------------------------
# cross-source contamination matrix: for every pair of corpus sources, how
# many distinct 3-token shingles they share, plus the Jaccard overlap of
# their shingle sets — the source-level complement of text_decontaminate
# (which checks the corpus against an external benchmark). Shingles present
# in more than SRC_CUT sources are dropped before pairing: they are
# boilerplate, carry no contamination signal, and — the scale reason — the
# per-shingle self-join fan-out is bounded by SRC_CUT^2 instead of
# (number of sources)^2. The cap is live on the gate corpus (its densest
# shingles span 7 of 20 sources).
# Scale shape: distinct (source, shingle) → per-shingle df filter → a
# shingle-keyed self-join whose groups are ≤ SRC_CUT rows → a pair-keyed
# aggregate whose output is at most (n_sources choose 2) rows; the
# per-source set sizes are a tiny broadcast. At 100 TB the one thing to
# add is persisting the filtered (source, shingle) set, which is read
# three times below.
# ---------------------------------------------------------------------------
SRC_CUT = 5

_SRC_OVERLAP_ORACLE = f"""
WITH {_TOKS_CTE_D},
{_SHINGLES_CTE_D},
ss AS (
  SELECT DISTINCT d.source, u.s AS shingle
  FROM shingled sh JOIN documents d ON d.doc_id = sh.doc_id,
       unnest(sh.shingles) AS u(s)
),
keep AS (SELECT shingle FROM ss GROUP BY shingle HAVING COUNT(*) <= {SRC_CUT}),
sk AS (SELECT ss.* FROM ss JOIN keep USING (shingle)),
sizes AS (SELECT source, COUNT(*) AS n FROM sk GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
  FROM sk a JOIN sk b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b,
       CAST(p.n_common AS BIGINT) AS n_common,
       CAST(sa.n AS BIGINT)       AS n_a,
       CAST(sb.n AS BIGINT)       AS n_b,
       CAST(p.n_common AS DOUBLE) / CAST(sa.n + sb.n - p.n_common AS DOUBLE)
         AS jaccard
FROM pairs p
JOIN sizes sa ON sa.source = p.source_a
JOIN sizes sb ON sb.source = p.source_b
"""


def _source_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped distinct (source, shingle) set — persisted because the
    overlap query reads it three times (sizes + both self-join sides); at
    100 TB this is the intermediate a pipeline would materialize."""

    def build() -> DataFrame:
        ss = (
            _shingled_docs(spark, sf_dir)
            .select("source", F.explode("shingles").alias("shingle"))
            .distinct()
        )
        keep = (
            ss.groupBy("shingle")
            .agg(F.count("*").alias("src_df"))
            .where(F.col("src_df") <= SRC_CUT)
            .select("shingle")
        )
        return ss.join(keep, "shingle")

    return shared(spark, ("text:source_shingles", sf_dir), build)


@register("text_source_overlap", _SRC_OVERLAP_ORACLE)
def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shared-shingle counts and Jaccard overlap between sources,
    with the SRC_CUT boilerplate/fan-out cap described above."""
    sk = _source_shingles(spark, sf_dir)
    sizes = sk.groupBy("source").agg(F.count("*").alias("n"))
    pairs = (
        sk.alias("a")
        .join(
            sk.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    size_a = sizes.select(
        F.col("source").alias("source_a"), F.col("n").alias("n_a")
    )
    size_b = sizes.select(
        F.col("source").alias("source_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(size_a), "source_a")
        .join(F.broadcast(size_b), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# the end-to-end pretraining keep/drop decision: the composition a cleaning
# pipeline actually ships — quality floor, length band, repetition cap, and
# near-dup-cluster canonicality — evaluated per document with per-rule
# verdicts so a corpus owner can audit WHY a document was dropped. Reuses
# the three session-cached intermediates (doc profile, dup clusters) plus a
# bigram-only repetition pass; every rule is live on the gate corpus. The
# oracle nests the profile and repetition oracles as derived tables inside
# the recursive-CC splice, so both engines evaluate bit-identical doubles
# before the threshold compares.
# ---------------------------------------------------------------------------
QUALITY_MIN = 0.61
TOKENS_MIN, TOKENS_MAX = 12, 1000
TOP_BIGRAM_MAX = 0.09

_KEEP_ORACLE = _CLUSTERS_ORACLE.rsplit("SELECT d.doc_id,", 1)[0] + f""",
resolved AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
prof AS (
  SELECT doc_id, quality_score, n_tokens FROM ({_PROFILE_SQL}) _p
),
rep2 AS (
  SELECT doc_id, top_gram_frac FROM ({_REPETITION_ORACLE}) _r WHERE gram_size = 2
)
SELECT r.doc_id,
       p.quality_score >= CAST({QUALITY_MIN} AS DOUBLE)      AS keep_quality,
       p.n_tokens BETWEEN {TOKENS_MIN} AND {TOKENS_MAX}      AS keep_length,
       COALESCE(b.top_gram_frac <= CAST({TOP_BIGRAM_MAX} AS DOUBLE), TRUE)
         AS keep_repetition,
       r.cluster_id = r.doc_id                               AS keep_canonical,
       (p.quality_score >= CAST({QUALITY_MIN} AS DOUBLE)
        AND p.n_tokens BETWEEN {TOKENS_MIN} AND {TOKENS_MAX}
        AND COALESCE(b.top_gram_frac <= CAST({TOP_BIGRAM_MAX} AS DOUBLE), TRUE)
        AND r.cluster_id = r.doc_id)                         AS kept
FROM resolved r
JOIN prof p ON p.doc_id = r.doc_id
LEFT JOIN rep2 b ON b.doc_id = r.doc_id
"""
assert "reach(" in _KEEP_ORACLE and "keep_canonical" in _KEEP_ORACLE, (
    "keep oracle splice failed: _CLUSTERS_ORACLE's final SELECT changed; "
    "update the rsplit target in text_pack._KEEP_ORACLE"
)


@register("text_pretrain_keep", _KEEP_ORACLE)
def text_pretrain_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep/drop verdict with per-rule booleans. All joins are
    doc_id-keyed over cached intermediates; the only new work is the
    bigram-only repetition pass (same two-aggregate shape as the full
    repetition profile)."""
    prof = _profile(spark, sf_dir).select("doc_id", "quality_score", "n_tokens")
    comp = _dup_clusters(spark, sf_dir)
    rep2 = (
        _gram_counts(spark, sf_dir)
        .where(F.col("gram_size") == 2)
        .groupBy("doc_id")
        .agg(
            (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
                "top_gram_frac"
            )
        )
    )
    keep_q = F.col("quality_score") >= F.lit(QUALITY_MIN)
    keep_l = F.col("n_tokens").between(TOKENS_MIN, TOKENS_MAX)
    keep_r = F.coalesce(F.col("top_gram_frac") <= F.lit(TOP_BIGRAM_MAX), F.lit(True))
    keep_c = F.col("cluster_id") == F.col("doc_id")
    return (
        comp.join(prof, "doc_id")
        .join(rep2, "doc_id", "left")
        .select(
            "doc_id",
            keep_q.alias("keep_quality"),
            keep_l.alias("keep_length"),
            keep_r.alias("keep_repetition"),
            keep_c.alias("keep_canonical"),
            (keep_q & keep_l & keep_r & keep_c).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# cleaned-corpus shard manifest: token-budget sharding restricted to the
# documents the pipeline actually trains on (kept AND split='train') — the
# composition scripts/run_cleaning_pipeline.py ships as its final artifact
# (the manifest must span the cleaned subset, not the raw corpus). The
# prefix sum runs AFTER the keep/split restriction, so shard offsets count
# only surviving tokens and the manifest is directly loadable by a trainer.
# Oracle: the keep-verdict splice extended with the split hash, then the
# same one-window positioned/shard rollup as text_token_shards —
# bit-identical to the Spark two-level prefix sum.
# ---------------------------------------------------------------------------
_KEPT_SHARDS_ORACLE = _KEEP_ORACLE.rsplit("SELECT r.doc_id,", 1)[0] + f""",
kept_train AS (
  SELECT r.doc_id
  FROM resolved r
  JOIN prof p ON p.doc_id = r.doc_id
  LEFT JOIN rep2 b ON b.doc_id = r.doc_id
  WHERE p.quality_score >= CAST({QUALITY_MIN} AS DOUBLE)
    AND p.n_tokens BETWEEN {TOKENS_MIN} AND {TOKENS_MAX}
    AND COALESCE(b.top_gram_frac <= CAST({TOP_BIGRAM_MAX} AS DOUBLE), TRUE)
    AND r.cluster_id = r.doc_id
    AND ({T.hash_expr("CAST(r.cluster_id AS VARCHAR)", "split", "d")} % 10) < 8
),
counted AS (
  SELECT t.doc_id, t.source, len(t.toks) AS n_toks
  FROM toks t
  WHERE t.doc_id IN (SELECT doc_id FROM kept_train)
),
positioned AS (
  SELECT doc_id, source, n_toks,
         COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS toks_before
  FROM counted
)
SELECT source,
       CAST(toks_before // 2000 AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT)            AS n_docs,
       CAST(SUM(n_toks) AS BIGINT)         AS shard_tokens,
       CAST(MIN(doc_id) AS BIGINT)         AS first_doc,
       CAST(MAX(doc_id) AS BIGINT)         AS last_doc
FROM positioned
GROUP BY source, CAST(toks_before // 2000 AS BIGINT)
"""
# the guard must prove the rsplit actually CUT the keep oracle's final
# SELECT: on a failed rsplit the whole _KEEP_ORACLE (including its final
# "SELECT r.doc_id,") survives as a prefix and the SQL is malformed
assert "SELECT r.doc_id," not in _KEPT_SHARDS_ORACLE and "reach(" in _KEPT_SHARDS_ORACLE, (
    "kept-shards oracle splice failed: _KEEP_ORACLE's final SELECT changed; "
    "update the rsplit target in text_pack._KEPT_SHARDS_ORACLE"
)


@register("text_kept_token_shards", _KEPT_SHARDS_ORACLE)
def text_kept_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2000-token shards over the CLEANED training subset: the raw-corpus
    token table semi-joined to the kept-and-train doc set, then the same
    two-level prefix sum as text_token_shards over the survivors.

    The train-split test needs no join against text_leakage_safe_splits:
    `kept` implies keep_canonical (cluster_id == doc_id), so the split
    hash of the doc's cluster representative IS the hash of its own
    doc_id — one filter on the keep verdict replaces a second corpus-sized
    semi-join and the whole splits subtree (the oracle hashes
    r.cluster_id, provably equal under the kept predicate). Scale shape:
    one doc_id-keyed semi-join (the verdict table is corpus-cardinality,
    not broadcastable); everything after is the proven sharding plan."""
    train_h = F.expr(T.hash_expr("CAST(doc_id AS STRING)", "split", "s")) % 10
    kept_train = (
        text_pretrain_keep(spark, sf_dir)
        .where(F.col("kept") & (train_h < 8))
        .select("doc_id")
    )
    toks = T.with_tokens(_docs(spark, sf_dir)).select(
        "doc_id", "source", F.size("toks").alias("n_toks")
    )
    sel = toks.join(kept_train, "doc_id", "left_semi")
    pos = _toks_before(sel)
    return pos.groupBy(
        "source", F.floor(F.col("toks_before") / 2000).cast("bigint").alias("shard_id")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("shard_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# tokenizer-aware token counting: whitespace tokens vs the GPT-2-style
# pretokenizer (functions/text.py BPE_PATTERN) — the pre-merge token-count
# estimate a training-budget calculation actually uses. Per-doc long output
# so the fertility ratio (bpe per whitespace token) and compression
# (chars per bpe token) are auditable per document; pure regexp_extract_all
# column expressions in both engines (JVM-side, no UDF), linear scan.
# ---------------------------------------------------------------------------
@register(
    "text_bpe_token_stats",
    f"""
WITH {_TOKS_CTE_D},
c AS (
  SELECT doc_id,
         len(toks) AS n_ws,
         len({T.bpe_tokens_expr('text', 'd')}) AS n_bpe,
         length(text) AS n_chars
  FROM toks
)
SELECT doc_id,
       CAST(n_ws AS BIGINT)  AS n_ws_tokens,
       CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
       CASE WHEN n_ws = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(n_bpe AS DOUBLE) / CAST(n_ws AS DOUBLE) END AS bpe_per_ws,
       CASE WHEN n_bpe = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(n_chars AS DOUBLE) / CAST(n_bpe AS DOUBLE) END
         AS chars_per_bpe_token
FROM c
""",
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish pretokenizer token counts per document, with
    the fertility and chars-per-token ratios — single narrow scan, every
    expression whole-stage-codegen (regexp_extract_all is JVM-side)."""
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        f"CAST(size({T.tokens_expr('text', 's')}) AS BIGINT) AS n_ws_tokens",
        f"CAST(size({T.bpe_tokens_expr('text', 's')}) AS BIGINT) AS n_bpe_tokens",
        "length(text) AS n_chars",
    ).selectExpr(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        "CASE WHEN n_ws_tokens = 0 THEN CAST(0 AS DOUBLE) "
        "ELSE CAST(n_bpe_tokens AS DOUBLE) / CAST(n_ws_tokens AS DOUBLE) END "
        "AS bpe_per_ws",
        "CASE WHEN n_bpe_tokens = 0 THEN CAST(0 AS DOUBLE) "
        "ELSE CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE) END "
        "AS chars_per_bpe_token",
    )


# ---------------------------------------------------------------------------
# cross-document novelty: the fraction of a document's DISTINCT bigrams
# that occur in no other document — the cross-corpus complement of the
# within-doc repetition profile (a boilerplate/template detector: low
# novelty = the doc is made of corpus-common phrasing; high novelty =
# original text). Exact integer aggregates + one final division, so the
# double is bit-identical cross-engine (house float-safety rule: no
# multi-row float aggregation). Scale shape: reuses the cached per-(doc,
# gram) multiplicity table, and needs NO join back to it — a gram with
# document frequency 1 is owned by exactly one doc, so the per-gram
# aggregate carries its owner and the singleton set re-aggregates straight
# to per-doc exclusive counts; the only large shuffle is the map-side-
# combined gram aggregate itself.
# ---------------------------------------------------------------------------
_NOVELTY_ORACLE = f"""
WITH {_TOKS_CTE_D},
grams AS (
  SELECT doc_id,
         unnest({T.ngram_list_expr('toks', 2, 'd')}) AS gram
  FROM toks WHERE len(toks) >= 2
),
counts AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
),
totals AS (
  SELECT gram, SUM(c) AS tc, COUNT(*) AS df FROM counts GROUP BY gram
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT)                            AS n_distinct,
       CAST(SUM(CASE WHEN t.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exclusive,
       CAST(SUM(CASE WHEN t.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE)                        AS novelty_rate
FROM counts c JOIN totals t ON c.gram = t.gram
GROUP BY c.doc_id
"""


@register("text_doc_novelty", _NOVELTY_ORACLE)
def text_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document count and fraction of bigrams exclusive to the document
    (document frequency 1 across the corpus). Reuses the session-cached
    per-(doc, gram) multiplicity table shared with the repetition profile
    and the keep verdict — the novelty pass costs one gram-keyed aggregate
    plus one join, not a second corpus tokenization."""
    counts = _gram_counts(spark, sf_dir).where(F.col("gram_size") == 2)
    # first(doc_id) is deterministic exactly where it is consumed: the
    # df == 1 groups have a single row
    per_gram = counts.groupBy("gram").agg(
        F.count("*").alias("df"), F.first("doc_id").alias("owner")
    )
    excl = (
        per_gram.where(F.col("df") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count("*").alias("n_excl"))
    )
    dist = counts.groupBy("doc_id").agg(F.count("*").alias("n_distinct"))
    j = dist.join(excl, "doc_id", "left").na.fill({"n_excl": 0})
    return j.select(
        "doc_id",
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.col("n_excl").cast("bigint").alias("n_exclusive"),
        (F.col("n_excl").cast("double") / F.col("n_distinct").cast("double")).alias(
            "novelty_rate"
        ),
    )


# ---------------------------------------------------------------------------
# PII detection / redaction: the scrubbing pass a pretraining pipeline runs
# before packing (emails, phone numbers, IPv4 addresses). The driver corpus
# is digit-free word soup, so — exactly like the multimodal fixtures — the
# PII is INJECTED deterministically by doc_id with the same closed-form
# expression in both dialects, then detected and redacted with the same
# RE2-and-Java-compatible regexes (no lookarounds, no backrefs, explicit
# [0-9] classes). All aggregates are exact integers: match counts from
# regexp_count (Spark) / len(regexp_extract_all) (DuckDB), redaction cost
# as a length delta. Scale shape: pure per-row JVM regexp in one scan +
# one hash aggregate on the 5-value source key — no shuffle beyond the
# final 5-group agg, no Python.
# ---------------------------------------------------------------------------
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\b555-[0-9]{4}\\b"
_PII_IP = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

# the injected-fixture expression, written once per dialect over (doc_id,
# text); the two must stay literally equivalent — tests/test_text_ops.py
# pins a hand-computed row of each class
_PII_INJECT_SQL = """
CASE CAST(doc_id % 5 AS INTEGER)
  WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com now'
  WHEN 1 THEN text || ' call 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
  WHEN 2 THEN text || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
              || CAST((doc_id * 7) % 256 AS VARCHAR) || '.42 logged'
  ELSE text
END
"""

_PII_ORACLE = f"""
WITH injected AS (
  SELECT doc_id, source, {_PII_INJECT_SQL} AS t FROM documents
), hits AS (
  SELECT doc_id, source, t,
         len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
         len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones,
         len(regexp_extract_all(t, '{_PII_IP}'))    AS n_ips,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_IP}', '<IP>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
  FROM injected
)
SELECT source,
       CAST(COUNT(*) AS BIGINT)     AS n_docs,
       CAST(SUM(CASE WHEN n_emails + n_phones + n_ips > 0 THEN 1 ELSE 0 END)
            AS BIGINT)              AS docs_with_pii,
       CAST(SUM(n_emails) AS BIGINT) AS n_emails,
       CAST(SUM(n_phones) AS BIGINT) AS n_phones,
       CAST(SUM(n_ips) AS BIGINT)    AS n_ips,
       CAST(SUM(length(t) - length(redacted)) AS BIGINT) AS chars_redacted
FROM hits GROUP BY source
"""


def pii_inject_col() -> F.Column:
    """Spark twin of _PII_INJECT_SQL (VARCHAR→STRING is the only edit)."""
    return F.expr(_PII_INJECT_SQL.replace("VARCHAR", "STRING"))


@register("text_pii_scrub", _PII_ORACLE)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII scrub report over the injected corpus: document and
    match counts per PII class (email / phone / IPv4) plus the exact
    character cost of redacting them with <EMAIL>/<IP>/<PHONE> tokens.
    Detection and redaction are single-pass JVM regexps; at 100 TB this is
    a map-only scan plus a 5-group aggregate."""
    t = pii_inject_col()
    hits = _docs(spark, sf_dir).select(
        "source",
        t.alias("t"),
        F.regexp_count(t, F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(t, F.lit(_PII_PHONE)).alias("n_phones"),
        F.regexp_count(t, F.lit(_PII_IP)).alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"), _PII_IP, "<IP>"
            ),
            _PII_PHONE,
            "<PHONE>",
        ).alias("redacted"),
    )
    any_pii = F.col("n_emails") + F.col("n_phones") + F.col("n_ips") > 0
    return hits.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(any_pii, 1).otherwise(0)).cast("bigint").alias("docs_with_pii"),
        F.sum("n_emails").cast("bigint").alias("n_emails"),
        F.sum("n_phones").cast("bigint").alias("n_phones"),
        F.sum("n_ips").cast("bigint").alias("n_ips"),
        F.sum(F.length("t") - F.length("redacted"))
        .cast("bigint")
        .alias("chars_redacted"),
    )


# ---------------------------------------------------------------------------
# cross-document line-level dedup (the C4/CCNet boilerplate rule): a line
# that occurs in >= LINE_DF_CUT distinct documents is boilerplate
# ("subscribe to our newsletter", nav bars, license footers) and is removed
# from every document that carries it. The driver corpus is single-line
# word soup, so — exactly like the PII and multimodal fixtures — multi-line
# structure is INJECTED deterministically by doc_id with the same
# closed-form expression in both dialects: docs in class 0/2 gain a shared
# newsletter footer, class 1 a rights footer, class 2 additionally a cookie
# banner; classes 3/4 stay single-line. Every aggregate is an exact
# integer (line multiplicities, byte lengths), so the hash oracle is exact.
#
# Scale shape: one explode, then the line text is immediately reduced to a
# 32-byte md5 key (the raw line never travels past the first map-side-
# combined aggregate). Document frequency is an aggregate over the already-
# distinct (doc, line-hash) rows; the df >= cut survivor set joins back to
# the per-doc table as a plain equi-join on the hash, NOT a forced
# broadcast: on a real web corpus the boilerplate-line set
# is billions of rows (C4/CCNet found cross-document repeated lines to be
# a dominant mass), so a forced broadcast OOMs at exactly the scale this
# operator exists for. Both sides are keyed and pre-aggregated on `h`, so
# the co-partitioned shuffle join is the correct 100 TB plan; when the
# survivor set genuinely is small, Spark's own size stats (and AQE at
# runtime) still elect a broadcast without the hint.
# ---------------------------------------------------------------------------
LINE_DF_CUT = 3  # a line in >= 3 distinct docs is boilerplate

_LINE_INJECT_SQL = """
CASE CAST(doc_id % 5 AS INTEGER)
  WHEN 0 THEN text || chr(10) || 'subscribe to our newsletter for updates'
  WHEN 1 THEN text || chr(10) || 'all rights reserved contact the webmaster'
  WHEN 2 THEN text || chr(10) || 'subscribe to our newsletter for updates'
              || chr(10) || 'cookie policy accepted by continuing'
  ELSE text
END
"""

_LINE_DEDUP_ORACLE = f"""
WITH injected AS (
  SELECT doc_id, {_LINE_INJECT_SQL} AS t FROM documents
),
lines AS (
  SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM injected
),
per AS (
  SELECT doc_id, md5(line) AS h, COUNT(*) AS c, MAX(length(line)) AS ln
  FROM lines GROUP BY doc_id, md5(line)
),
freq AS (
  SELECT h, COUNT(*) AS df FROM per GROUP BY h
)
SELECT p.doc_id,
       CAST(SUM(p.c) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN f.df >= {LINE_DF_CUT} THEN p.c ELSE 0 END) AS BIGINT)
         AS n_dropped_lines,
       CAST(SUM(CASE WHEN f.df >= {LINE_DF_CUT} THEN p.c * p.ln ELSE 0 END)
            AS BIGINT) AS chars_dropped,
       CAST(SUM(CASE WHEN f.df < {LINE_DF_CUT} THEN p.c * p.ln ELSE 0 END)
            + GREATEST(SUM(CASE WHEN f.df < {LINE_DF_CUT} THEN p.c ELSE 0 END)
                       - 1, 0) AS BIGINT) AS cleaned_n_chars
FROM per p JOIN freq f ON p.h = f.h
GROUP BY p.doc_id
"""


def line_dedup_report(docs: DataFrame, df_cut: int = LINE_DF_CUT) -> DataFrame:
    """Per-document line-dedup report over an already multi-line `t` column:
    total lines, boilerplate lines dropped (document frequency >= df_cut),
    exact character cost, and the cleaned length (kept lines re-joined by
    newline). See the block comment above for the survivor-set join scale
    posture (plain equi-join, never a forced broadcast)."""
    lines = docs.select(
        "doc_id", F.explode(F.split(F.col("t"), "\n")).alias("line")
    )
    per = lines.groupBy("doc_id", F.md5("line").alias("h")).agg(
        F.count("*").alias("c"), F.max(F.length("line")).alias("ln")
    )
    # ONE pass over the per-(doc, line) table, the oracle's own shape:
    # join the full line-df table and split kept vs dropped with
    # conditional sums in a single doc-keyed aggregate. Deriving separate
    # children from `per` (survivor set, dropped rollup, totals rollup)
    # would rebuild the exploded corpus once per child and add a
    # doc-keyed shuffle for the totals/dropped outer join; here both
    # `freq` and the probe repartition `per` identically on h, so the
    # build is shared (ReusedExchange) and the corpus explodes once.
    freq = per.groupBy("h").agg(F.count("*").alias("df"))
    is_dup = F.col("df") >= df_cut
    j = per.join(freq, "h").groupBy("doc_id").agg(
        F.sum("c").alias("t_lines"),
        F.sum(F.when(is_dup, F.col("c")).otherwise(F.lit(0))).alias("d_lines"),
        F.sum(
            F.when(is_dup, F.col("c") * F.col("ln")).otherwise(F.lit(0))
        ).alias("d_chars"),
        F.sum(
            F.when(~is_dup, F.col("c") * F.col("ln")).otherwise(F.lit(0))
        ).alias("k_chars"),
    )
    return j.select(
        "doc_id",
        F.col("t_lines").cast("bigint").alias("n_lines"),
        F.col("d_lines").cast("bigint").alias("n_dropped_lines"),
        F.col("d_chars").cast("bigint").alias("chars_dropped"),
        (
            F.col("k_chars")
            + F.greatest(
                F.col("t_lines") - F.col("d_lines") - F.lit(1), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("cleaned_n_chars"),
    )


@register("text_line_dedup", _LINE_DEDUP_ORACLE)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup over the injected multi-line
    corpus: per document, how many lines are corpus-common boilerplate
    (>= LINE_DF_CUT docs) and the exact byte cost of stripping them."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_LINE_INJECT_SQL).alias("t")
    )
    return line_dedup_report(docs)


# ---------------------------------------------------------------------------
# BM25-shaped keyword retrieval: score documents against a fixed
# query-term set and return the global top-k — the inverted-index scoring
# pass of a retrieval / data-curation pipeline (rank corpus docs against a
# probe query, e.g. for targeted decontamination or quality-biased
# sampling). Scoring is the BM25 term-frequency saturation formula
# (k1=1.2, b=0.75) with the LOG-FREE Robertson–Spärck-Jones idf ratio
# (N − df + 0.5)/(df + 0.5): every factor is then integer-derived +, −, ×,
# ÷ on doubles — single-rounded IEEE ops that are bit-identical across
# Spark and DuckDB, where a ln() would differ in the last ulp between
# libm implementations. Per-(doc, term) contributions are rounded to
# integer MICRO units before summing, so the aggregate is an integer sum —
# order-independent, hash-stable under any partitioning.
# Scale: explode+filter is a scan (the term list prunes before the
# shuffle); df/stat sides are tiny and broadcast; top-k is
# TakeOrderedAndProject. Docs containing no query term score no rows —
# they cannot reach any top-k that the query terms define.
# ---------------------------------------------------------------------------
_BM25_TERMS = ("spark", "merge", "vector")
_BM25_K = 25


_BM25_ORACLE = f"""
WITH {_TOKS_CTE_D},
dl AS (
  SELECT doc_id, len(toks) AS dl FROM toks
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl
),
hits AS (
  SELECT t.doc_id, u.tok, COUNT(*) AS tf
  FROM toks t, unnest(t.toks) AS u(tok)
  WHERE u.tok IN {str(tuple(_BM25_TERMS))}
  GROUP BY t.doc_id, u.tok
),
dft AS (
  SELECT tok, COUNT(*) AS df FROM hits GROUP BY tok
),
contrib AS (
  SELECT h.doc_id,
         CAST(ROUND(
           ((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
             / (CAST(d.df AS DOUBLE) + 0.5))
           * ((CAST(h.tf AS DOUBLE) * 2.2)
              / (CAST(h.tf AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                                         / (CAST(s.sum_dl AS DOUBLE)
                                            / CAST(s.n_docs AS DOUBLE))))))
           * 1000000.0) AS BIGINT) AS micro
  FROM hits h
  JOIN dft d ON h.tok = d.tok
  JOIN dl l ON h.doc_id = l.doc_id
  CROSS JOIN stats s
),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
         CAST(SUM(micro) AS BIGINT) AS score_micro
  FROM contrib GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, n_terms_hit, score_micro,
         row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rk
  FROM scored
)
SELECT doc_id, n_terms_hit, score_micro, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_BM25_K}
"""


@register("text_bm25_topk", _BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword scoring (log-free RSJ idf, fixed-point micro-unit
    summation) + deterministic global top-k over the documents corpus."""
    from hive_server_spark.operators.topk import global_topk

    toks = T.with_tokens(_docs(spark, sf_dir)).select("doc_id", "toks")
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    # dl rides through the explode so the per-doc length never needs a
    # corpus-sized join back — the only shuffles are the two aggregates
    hits = (
        toks.select(
            "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("tok")
        )
        .where(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dft = hits.groupBy("tok").agg(F.count("*").alias("df"))
    j = hits.join(F.broadcast(dft), "tok").crossJoin(F.broadcast(stats))
    n_d = F.col("n_docs").cast("double")
    df_d = F.col("df").cast("double")
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n_d
    idf = (n_d - df_d + F.lit(0.5)) / (df_d + F.lit(0.5))
    satur = (tf_d * F.lit(2.2)) / (
        tf_d + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (dl_d / avgdl))
    )
    contrib = j.select(
        "doc_id",
        F.round(idf * satur * F.lit(1000000.0)).cast("bigint").alias("micro"),
    )
    scored = contrib.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_terms_hit"),
        F.sum("micro").cast("bigint").alias("score_micro"),
    )
    return global_topk(
        scored, [F.desc("score_micro"), F.asc("doc_id")], _BM25_K
    ).select("doc_id", "n_terms_hit", "score_micro", "rk")


# ---------------------------------------------------------------------------
# Per-document bigram-LM negative log-likelihood: the language-
# model quality signal (KenLM-style) data pipelines use to rank documents —
# fluent in-distribution text scores low, repetitive or out-of-distribution
# text scores high. The LM is the corpus's own MLE bigram model (the same
# counts text_bigram_lm surfaces): nll(a b) = ln(c(a·)/c(ab)), summed over
# every bigram INSTANCE of the document. Each distinct (n_a, n_ab) pair is
# rounded to integer micro-nats once, then multiplied by its in-doc
# instance count and integer-summed — aggregation order cannot perturb the
# hash, and the one ln() per distinct count-pair is the only
# libm-dependent op (a last-ulp difference would need to land within
# ~1e-10 of a rounding boundary to flip a micro unit).
# Scale: two scans of the bigram stream (doc-side and LM-side), shuffles
# keyed on the bigram; LM joins are small-side broadcast only when the
# vocabulary is (here it is); docs with < 2 tokens have no bigrams and no
# row — mirrored in both engines.
# ---------------------------------------------------------------------------
# shared with text_ccnet_buckets below, which quantile-buckets these
# per-doc scores per source
_NLL_PER_DOC_ORACLE = f"""
WITH {_TOKS_CTE_D},
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM toks WHERE len(toks) >= 2
),
inst AS (
  SELECT doc_id, bigram, COUNT(*) AS m FROM bg GROUP BY doc_id, bigram
),
c_ab AS (
  SELECT bigram, COUNT(*) AS n_ab FROM bg GROUP BY bigram
),
c_a AS (
  SELECT split_part(bigram, ' ', 1) AS head, COUNT(*) AS n_a
  FROM bg GROUP BY split_part(bigram, ' ', 1)
),
micro AS (
  SELECT i.doc_id, i.m,
         CAST(ROUND(ln(CAST(a.n_a AS DOUBLE) / CAST(ab.n_ab AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS nll_micro
  FROM inst i
  JOIN c_ab ab ON i.bigram = ab.bigram
  JOIN c_a a ON split_part(i.bigram, ' ', 1) = a.head
)
SELECT doc_id,
       CAST(SUM(m) AS BIGINT)             AS n_bigrams,
       CAST(SUM(m * nll_micro) AS BIGINT) AS nll_micro_total
FROM micro GROUP BY doc_id
"""


# the per-doc NLL table feeds two gate queries (this one and
# text_ccnet_buckets' threshold/bucket legs, which otherwise re-run the
# whole LM chain up to three times) — persist it once per (session,
# sf_dir) like the other shared text intermediates; at scale this is the
# materialized per-doc score table CCNet itself writes between its LM
# pass and its bucketing pass (Wenzek 2019 §4)


@register("text_bigram_nll", _NLL_PER_DOC_ORACLE)
def text_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document negative log-likelihood under the corpus MLE bigram
    LM, in integer micro-nats (fixed-point so the sum is order-free).
    All three count tables fold out of the session-cached per-(doc,
    bigram) multiplicity table (`_gram_counts`): the per-doc instance
    counts ARE its rows, the corpus bigram counts are a sum over it, and
    the head counts are a sum over the bigram counts — the corpus is
    tokenized zero extra times instead of three. The head-count (c_a)
    join is a plain equi-join, NOT a forced broadcast: c_a
    is a vocabulary-sized table, and whitespace-token vocabulary on web
    text is unbounded (every typo/URL/number is a head), so forcing a
    broadcast OOMs at scale. The nll of a bigram is a function of the
    bigram alone, so it is resolved on the DISTINCT-bigram count table
    first (c_ab ⋈ c_a — both vocabulary-sized) and the corpus-sized
    instance table joins ONCE on the bigram; joining instances through
    both count tables would shuffle the instance table a second time on
    the derived head key for no extra information."""

    def build() -> DataFrame:
        inst = (
            _gram_counts(spark, sf_dir)
            .where(F.col("gram_size") == 2)
            .select("doc_id", F.col("gram").alias("bigram"), F.col("c").alias("m"))
        )
        c_ab = inst.groupBy("bigram").agg(F.sum("m").alias("n_ab"))
        c_a = (
            c_ab.select(
                F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("head"),
                "n_ab",
            )
            .groupBy("head")
            .agg(F.sum("n_ab").alias("n_a"))
        )
        per_bigram = (
            c_ab.join(
                c_a,
                F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
                == F.col("head"),
            )
            .select(
                "bigram",
                F.round(
                    F.log(F.col("n_a").cast("double") / F.col("n_ab").cast("double"))
                    * F.lit(1000000.0)
                )
                .cast("bigint")
                .alias("nll_micro"),
            )
        )
        micro = inst.join(per_bigram, "bigram").select("doc_id", "m", "nll_micro")
        return micro.groupBy("doc_id").agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("m") * F.col("nll_micro"))
            .cast("bigint")
            .alias("nll_micro_total"),
        )

    return shared(spark, ("text:nll_per_doc", sf_dir), build)


# ---------------------------------------------------------------------------
# C4 heuristic cleaning rules: the line- and document-level
# filters from the C4 pipeline (Raffel et al. 2020, public) — keep only
# lines ending in terminal punctuation, drop lines under 3 words, drop
# lines mentioning javascript, drop whole documents containing '{' or the
# phrase 'lorem ipsum'. The corpus's single-line docs violate the
# terminal-punctuation rule by construction, so each rule is exercised by
# an injected line keyed on doc_id % 6 (the _LINE_INJECT_SQL pattern):
# a clean kept sentence / a javascript line / a brace line / a lorem-ipsum
# sentence / a too-short line / no injection.
# Scale: pure per-row array HOFs (split + filter + aggregate) — no
# shuffle, no explode; the whole report is one scan with a map-side-only
# plan shape.
# ---------------------------------------------------------------------------
_C4_INJECT_SQL = """
CASE CAST(doc_id % 6 AS INTEGER)
  WHEN 0 THEN text || chr(10) || 'click here to read the full story.'
  WHEN 1 THEN text || chr(10) || 'please enable javascript to view this site.'
  WHEN 2 THEN text || chr(10) || 'function() { return cookies; }'
  WHEN 3 THEN text || chr(10) || 'lorem ipsum dolor sit amet.'
  WHEN 4 THEN text || chr(10) || 'ok.'
  ELSE text
END
"""

@register(
    "text_c4_filters",
    f"""
WITH injected AS (
  SELECT doc_id, {_C4_INJECT_SQL} AS t FROM documents
),
per AS (
  SELECT doc_id,
         string_split(t, chr(10)) AS lines,
         list_filter(string_split(t, chr(10)),
                     l -> right(l, 1) IN ('.', '!', '?', '"')
                          AND len(string_split(l, ' ')) >= 3
                          AND position('javascript' IN l) = 0) AS kept,
         position('{{' IN t) > 0 AS has_brace,
         position('lorem ipsum' IN t) > 0 AS has_lorem
  FROM injected
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT)  AS n_kept,
       CAST(COALESCE(list_sum(list_transform(kept, l -> length(l))), 0)
            AS BIGINT)            AS kept_chars,
       has_brace, has_lorem,
       (NOT has_brace) AND (NOT has_lorem) AND len(kept) >= 1 AS keep
FROM per
""",
)
def text_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line/document heuristic filters over the injected multi-line
    corpus: per-doc kept-line stats + the document keep verdict."""
    docs = _docs(spark, sf_dir).select("doc_id", F.expr(_C4_INJECT_SQL).alias("t"))
    per = docs.select(
        "doc_id",
        F.expr("split(t, chr(10))").alias("lines"),
        F.expr(
            "filter(split(t, chr(10)),"
            " l -> right(l, 1) IN ('.', '!', '?', '\"')"
            " AND size(split(l, ' ')) >= 3"
            " AND position('javascript' IN l) = 0)"
        ).alias("kept"),
        F.expr("position('{' IN t) > 0").alias("has_brace"),
        F.expr("position('lorem ipsum' IN t) > 0").alias("has_lorem"),
    )
    return per.select(
        "doc_id",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.size("kept").cast("bigint").alias("n_kept"),
        F.expr("aggregate(kept, 0L, (acc, l) -> acc + length(l))")
        .cast("bigint")
        .alias("kept_chars"),
        "has_brace",
        "has_lorem",
        (
            (~F.col("has_brace")) & (~F.col("has_lorem")) & (F.size("kept") >= 1)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# temperature-weighted source mixing: the sampling-weight table a
# pretraining run derives before reading a single shard — per source,
# weight ~ n_tokens^tau, normalized to a sampling probability, a token
# quota out of a fixed budget, and the implied epochs over that source
# (the unitary-scale mixing rule of GPT-3 / The Pile; tau < 1 upsamples
# small high-quality sources). tau is pinned to 0.5 because sqrt is the
# ONE fractional power IEEE 754 requires to be correctly rounded — pow(x,
# 0.7) may differ in the last ulp between Java's libm and DuckDB's, and a
# last-ulp difference under floor() flips the micro-weight. Every
# aggregate is an exact integer; the doubles are single-division /
# identically-shaped expressions over identical ints. Scale shape: one
# narrow scan, map-side-combined per-source aggregate (source cardinality
# ~ tens), broadcast total — no shuffle beyond the tiny final agg.
# ---------------------------------------------------------------------------
_MIX_BUDGET = 10_000_000  # token budget the quotas are carved from


@register(
    "text_source_mixing",
    f"""
WITH {_TOKS_CTE_D},
per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT)        AS n_docs,
         CAST(SUM(len(toks)) AS BIGINT)  AS n_tokens
  FROM toks GROUP BY source
),
w AS (
  SELECT *,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS w_micro
  FROM per
),
tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tw FROM w)
SELECT source, n_docs, n_tokens, w_micro,
       CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE) AS p_sample,
       CAST(floor({_MIX_BUDGET}.0
                  * (CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE)))
            AS BIGINT) AS quota_tokens,
       ({_MIX_BUDGET}.0 * (CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE)))
         / CAST(n_tokens AS DOUBLE) AS epochs
FROM w CROSS JOIN tot
""",
)
def text_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature-sampling table (tau = 0.5): token counts,
    sqrt-scaled integer micro-weight, normalized sampling probability,
    token quota out of a 10M budget, and implied epochs. One scan + one
    tiny aggregate; the grand total broadcasts back."""
    per = (
        _docs(spark, sf_dir)
        .selectExpr("source", f"size({T.tokens_expr('text', 's')}) AS n")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "w_micro",
            F.expr(
                "CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)"
            ),
        )
    )
    tot = per.agg(F.sum("w_micro").cast("bigint").alias("tw"))
    return per.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_docs",
        "n_tokens",
        "w_micro",
        "CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE) AS p_sample",
        f"CAST(floor({_MIX_BUDGET}.0"
        " * (CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE))) AS BIGINT)"
        " AS quota_tokens",
        f"({_MIX_BUDGET}.0 * (CAST(w_micro AS DOUBLE) / CAST(tw AS DOUBLE)))"
        " / CAST(n_tokens AS DOUBLE) AS epochs",
    )


# ---------------------------------------------------------------------------
# cross-document exact substring-span dedup: the Lee et al. 2021
# "Deduplicating Training Data" operator — find every maximal token span
# that appears verbatim in >= 2 documents, per document. Mechanism: slide
# K_SPAN-token grams WITH their start positions, keep grams whose cross-
# document frequency is >= 2, then merge overlapping/adjacent duplicated
# gram intervals [p, p+K-1] per document into maximal spans
# (gaps-and-islands: a new span starts when the gap to the previous
# duplicated position exceeds K). The corpus is digit-free word soup, so —
# like the PII and line-dedup fixtures — duplicated passages are INJECTED
# deterministically by doc_id with the same literal expression in both
# dialects; %4==2 docs carry one passage at each end and must yield exactly
# two spans. All outputs are exact integers plus one final division.
# Scale shape: gram df is a map-side-combined aggregate; the >= 2 survivor
# set joins back to the position table as a plain equi-join on the 32-char
# gram digest, NOT a forced broadcast: duplicated-span mass
# on real web corpora is enormous — Lee et al. needed suffix arrays
# precisely because the duplicated-gram set is a large fraction of the
# corpus — so a forced broadcast OOMs at the operator's target scale.
# Both sides are keyed on `gh` (survivors pre-aggregated, positions one
# row per gram), so the co-partitioned shuffle join is the correct 100 TB
# plan; a genuinely tiny survivor set still elects broadcast via Spark's
# size stats / AQE without the hint.
# ---------------------------------------------------------------------------
K_SPAN = 8  # exact-match span unit, in tokens

_SPAN_PASSAGE_A = "the quick brown fox jumps over the lazy dog again and again"
_SPAN_PASSAGE_B = "terms of service apply to every visitor of this website today"

_SPAN_INJECT_SQL = f"""
CASE CAST(doc_id % 4 AS INTEGER)
  WHEN 0 THEN text || ' {_SPAN_PASSAGE_A}'
  WHEN 1 THEN '{_SPAN_PASSAGE_B} ' || text
  WHEN 2 THEN '{_SPAN_PASSAGE_B} ' || text || ' {_SPAN_PASSAGE_A}'
  ELSE text
END
"""

_SPAN_ORACLE = f"""
WITH injected AS (
  SELECT doc_id, {_SPAN_INJECT_SQL} AS text FROM documents
),
toks AS (SELECT doc_id, {T.tokens_expr('text', 'd')} AS toks FROM injected),
g AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
         {T.ngram_list_expr('toks', K_SPAN, 'd')} AS gl
  FROM toks
),
pos AS (
  SELECT doc_id, n_toks, md5(unnest(gl)) AS gh,
         unnest(range(1, len(gl)+1)) AS p
  FROM g
),
dup AS (
  SELECT gh FROM (
    SELECT gh, COUNT(DISTINCT doc_id) AS df FROM pos GROUP BY gh
  ) WHERE df >= 2
),
dpos AS (
  SELECT p.doc_id, p.n_toks, p.p FROM pos p JOIN dup d ON p.gh = d.gh
),
marks AS (
  SELECT doc_id, n_toks, p,
         CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
                   > {K_SPAN} THEN 1 ELSE 0 END AS brk
  FROM dpos
),
islands AS (
  SELECT doc_id, n_toks, p,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM marks
),
spans AS (
  SELECT doc_id, n_toks, isl,
         MIN(p) AS p0, MAX(p) AS p1, COUNT(*) AS n_pos
  FROM islands GROUP BY doc_id, n_toks, isl
)
SELECT doc_id,
       CAST(MAX(n_toks) AS BIGINT)              AS n_toks,
       CAST(COUNT(*) AS BIGINT)                 AS n_spans,
       CAST(SUM(n_pos) AS BIGINT)               AS n_dup_grams,
       CAST(SUM(p1 - p0 + {K_SPAN}) AS BIGINT)  AS dup_tokens,
       CAST(SUM(p1 - p0 + {K_SPAN}) AS DOUBLE)
         / CAST(MAX(n_toks) AS DOUBLE)          AS dup_token_rate
FROM spans GROUP BY doc_id
"""


def _span_positions(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, n_toks, p, gh): every k-gram's md5 with its 1-based start
    position. The gram is hashed AT THE EXPLODE (md5, the line-dedup
    posture): downstream only tests equality, so the shuffle and the
    survivor-set join carry fixed 32-char digests instead of
    arbitrary-length k-word strings — and a 128-bit digest is
    collision-free in practice, so the df semantics are unchanged.
    Parallelism comes from the caller's input partitioning — the gate
    path feeds `_docs`, which is already rebalanced wide."""
    g = docs.selectExpr(
        "doc_id",
        f"CAST(size({T.tokens_expr('text', 's')}) AS BIGINT) AS n_toks",
        f"{T.ngram_list_expr(T.tokens_expr('text', 's'), k, 's')} AS gl",
    )
    return g.select(
        "doc_id", "n_toks", F.posexplode("gl").alias("p0", "gram")
    ).select(
        "doc_id", "n_toks", (F.col("p0") + 1).alias("p"), F.md5("gram").alias("gh")
    )


def dup_span_report(
    docs: DataFrame, k: int = K_SPAN, positions: DataFrame | None = None
) -> DataFrame:
    """Per-document maximal cross-document duplicated spans over a `text`
    column: span count, duplicated k-gram count, exact duplicated token
    mass (interval-merged, no double counting), and the duplicated-token
    rate. Only documents containing at least one duplicated gram appear.
    `positions` lets a caller pass an already-persisted position table —
    it feeds both the df aggregate and the join probe, so without it the
    gram build runs twice. See the block comment above for the
    survivor-set join scale posture (plain equi-join, never a forced
    broadcast)."""
    pos = positions if positions is not None else _span_positions(docs, k)
    # "appears in >= 2 distinct docs" needs no distinct aggregate:
    # min(doc_id) != max(doc_id) is the same predicate, and Spark plans a
    # single map-side-combined hash aggregate for it where
    # count_distinct(doc_id) >= 2 costs a two-phase distinct aggregate
    # keyed (gh, doc_id) — one extra Exchange of the full position table
    # (the oracle keeps COUNT(DISTINCT) — same rows).
    dup = (
        pos.groupBy("gh")
        .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
        .where(F.col("_mn") != F.col("_mx"))
        .select("gh")
    )
    dpos = pos.join(dup, "gh").select("doc_id", "n_toks", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    marks = dpos.withColumn(
        "brk",
        F.when(F.col("p") - F.lag("p").over(w) > k, F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    islands = marks.withColumn(
        "isl", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = islands.groupBy("doc_id", "n_toks", "isl").agg(
        F.min("p").alias("p0"),
        F.max("p").alias("p1"),
        F.count("*").alias("n_pos"),
    )
    return spans.groupBy("doc_id").agg(
        F.max("n_toks").cast("bigint").alias("n_toks"),
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("n_pos").cast("bigint").alias("n_dup_grams"),
        F.sum(F.col("p1") - F.col("p0") + k).cast("bigint").alias("dup_tokens"),
        (
            F.sum(F.col("p1") - F.col("p0") + k).cast("double")
            / F.max("n_toks").cast("double")
        ).alias("dup_token_rate"),
    )


# the k-gram position table feeds both the df aggregate and the join probe
# — persist it once per session like the other shared text intermediates


@register("text_dup_spans", _SPAN_ORACLE)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup report over the injected corpus: for each
    document with a verbatim >= K_SPAN-token overlap with another document,
    the maximal duplicated spans and their exact token cost."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_SPAN_INJECT_SQL).alias("text")
    )

    pos = shared(
        spark, ("text:span_positions", sf_dir), lambda: _span_positions(docs, K_SPAN)
    )
    return dup_span_report(docs, positions=pos)


# ---------------------------------------------------------------------------
# length-bucketed batching audit: the padding-efficiency table a
# trainer derives before fixed-shape batching — assign every document to a
# power-of-2 length bucket from a FIXED ladder (the production pattern:
# compiled kernel shapes exist only for the ladder entries), batch in
# groups of BATCH_ROWS, and account exactly for the padding waste of
# pad-to-cap batches (the last partial batch still allocates BATCH_ROWS
# rows — that is what the accelerator step costs). The ladder is an
# explicit CASE, not 2^ceil(log2 n): log2 is libm (last-ulp divergence
# between engines flips a boundary doc), and real trainers enumerate their
# bucket shapes anyway. All integers except the final fill-rate division.
# Scale shape: one narrow scan, map-side-combined aggregate on a <= 6-row
# key — no meaningful shuffle at any corpus size.
# ---------------------------------------------------------------------------
BATCH_ROWS = 16  # rows per training batch

_BUCKET_CASE = (
    "CASE WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 "
    "WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512 ELSE 2048 END"
)


@register(
    "text_length_buckets",
    f"""
WITH {_TOKS_CTE_D},
lens AS (SELECT CAST(len(toks) AS BIGINT) AS n FROM toks),
b AS (SELECT CAST({_BUCKET_CASE} AS BIGINT) AS bucket_cap, n FROM lens),
agg AS (
  SELECT bucket_cap,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT)   AS total_tokens
  FROM b GROUP BY bucket_cap
)
SELECT bucket_cap, n_docs, total_tokens,
       CAST((n_docs + {BATCH_ROWS - 1}) // {BATCH_ROWS} AS BIGINT)
         AS n_batches,
       CAST(((n_docs + {BATCH_ROWS - 1}) // {BATCH_ROWS})
            * {BATCH_ROWS} * bucket_cap AS BIGINT) AS alloc_tokens,
       CAST(((n_docs + {BATCH_ROWS - 1}) // {BATCH_ROWS})
            * {BATCH_ROWS} * bucket_cap - total_tokens AS BIGINT)
         AS waste_tokens,
       CAST(total_tokens AS DOUBLE)
         / CAST(((n_docs + {BATCH_ROWS - 1}) // {BATCH_ROWS})
                * {BATCH_ROWS} * bucket_cap AS DOUBLE) AS fill_rate
FROM agg
""",
)
def text_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-ladder length bucketing: per power-of-2 bucket cap, document
    and token counts, full batches of BATCH_ROWS, exact allocated/wasted
    padding tokens, and the resulting fill rate."""
    b = _docs(spark, sf_dir).selectExpr(
        f"CAST(size({T.tokens_expr('text', 's')}) AS BIGINT) AS n"
    ).selectExpr(f"CAST({_BUCKET_CASE} AS BIGINT) AS bucket_cap", "n")
    agg = b.groupBy("bucket_cap").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
    )
    nb = f"((n_docs + {BATCH_ROWS - 1}) DIV {BATCH_ROWS})"
    return agg.selectExpr(
        "bucket_cap",
        "n_docs",
        "total_tokens",
        f"CAST({nb} AS BIGINT) AS n_batches",
        f"CAST({nb} * {BATCH_ROWS} * bucket_cap AS BIGINT) AS alloc_tokens",
        f"CAST({nb} * {BATCH_ROWS} * bucket_cap - total_tokens AS BIGINT)"
        " AS waste_tokens",
        "CAST(total_tokens AS DOUBLE)"
        f" / CAST({nb} * {BATCH_ROWS} * bucket_cap AS DOUBLE) AS fill_rate",
    )


# ---------------------------------------------------------------------------
# MinHash accuracy audit: for every LSH candidate pair, the
# sketch's Jaccard ESTIMATE (signature agreement rate) next to the EXACT
# shingle-set Jaccard — the error audit a pipeline runs before trusting a
# sketch parameterization (N_MINHASH=8 here, so the estimate is coarse by
# design and the audit shows exactly how coarse). Exactness discipline:
# agreement and intersection counts are integers; est = agree/8.0 is exact
# binary; the exact Jaccard is one division of exact ints; the signed
# error folds to integer milli-units with round() (same away-from-zero
# half rule in both engines). Scale shape: the LSH contract itself —
# exact verification runs ONLY on candidate pairs (O(near-dups)), never
# all pairs; the shingle join probes are candidate-restricted before the
# (doc, shingle) shuffle.
# ---------------------------------------------------------------------------
_sig_agree_d = " + ".join(
    f"CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END"
    for j in range(T.N_MINHASH)
)

_MH_ACC_ORACLE = f"""
WITH {_TOKS_CTE_D},
{_SHINGLES_CTE_D},
sigs AS (
  SELECT doc_id,
       {_mh_cols_d}
  FROM shingled
),
sigs_b AS (
  SELECT doc_id, {_band_cols_d}
  FROM sigs
),
bands AS ({_band_union_d}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sh0 AS (SELECT doc_id, s AS shingle FROM shingled, unnest(shingles) AS u(s)),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh0 GROUP BY doc_id),
com AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS common
  FROM cand c
  JOIN sh0 a ON a.doc_id = c.doc_a
  JOIN sh0 b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
paired AS (
  SELECT c.doc_a, c.doc_b,
         CAST({_sig_agree_d} AS BIGINT)   AS n_sig_agree,
         CAST(COALESCE(m.common, 0) AS BIGINT) AS common,
         CAST(na.n_sh AS BIGINT) AS n_a,
         CAST(nb.n_sh AS BIGINT) AS n_b
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
  JOIN counts na ON na.doc_id = c.doc_a
  JOIN counts nb ON nb.doc_id = c.doc_b
  LEFT JOIN com m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
)
SELECT doc_a, doc_b, n_sig_agree, common, n_a, n_b,
       CAST(n_sig_agree AS DOUBLE) / {T.N_MINHASH}.0 AS est_jaccard,
       CAST(common AS DOUBLE) / CAST(n_a + n_b - common AS DOUBLE)
         AS exact_jaccard,
       CAST(round((CAST(n_sig_agree AS DOUBLE) / {T.N_MINHASH}.0
                   - CAST(common AS DOUBLE)
                     / CAST(n_a + n_b - common AS DOUBLE)) * 1000.0)
            AS BIGINT) AS err_milli
FROM paired
"""


@register("dedup_minhash_accuracy", _MH_ACC_ORACLE)
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-truth audit per LSH candidate pair: MinHash agreement
    estimate, exact shingle Jaccard, and the signed error in milli-units.
    Every input is a session-cached intermediate (candidates, signatures,
    shingled corpus) — the audit adds only candidate-restricted joins."""
    cand = _minhash_candidates(spark, sf_dir)
    sigs = T.minhash_signatures(_docs(spark, sf_dir)).select(
        "doc_id", *[f"mh_{j}" for j in range(T.N_MINHASH)]
    )
    sh = _shingled_docs(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingle").alias("shingle_b")
    )
    com = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .where(F.col("shingle") == F.col("shingle_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    agree = sum(
        F.when(F.col(f"a.mh_{j}") == F.col(f"b.mh_{j}"), 1).otherwise(0)
        for j in range(T.N_MINHASH)
    )
    paired = (
        cand.join(sigs.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
        .join(sigs.alias("b"), F.col("doc_b") == F.col("b.doc_id"))
        .join(
            counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .join(com, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            agree.cast("bigint").alias("n_sig_agree"),
            F.coalesce("common", F.lit(0)).cast("bigint").alias("common"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
        )
    )
    est = F.col("n_sig_agree").cast("double") / F.lit(float(T.N_MINHASH))
    exact = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    ).cast("double")
    return paired.select(
        "doc_a",
        "doc_b",
        "n_sig_agree",
        "common",
        "n_a",
        "n_b",
        est.alias("est_jaccard"),
        exact.alias("exact_jaccard"),
        F.round((est - exact) * 1000.0).cast("bigint").alias("err_milli"),
    )


# ---------------------------------------------------------------------------
# quality-ranked cluster canonicalization: dedup_clusters keeps
# the MIN-doc_id member of each duplicate cluster; a production pipeline
# keeps the BEST one. This operator re-canonicalizes every cluster by the
# profile quality score (micro-floored to an exact integer — the score
# itself is bit-identical cross-engine, the hash-gated text_profile proves
# it), tie-broken by doc_id, and accounts the exact token cost of
# dropping the rest. Scale shape: one doc_id-keyed join of two
# session-cached intermediates (clusters, profile) + one cluster-keyed
# aggregate via max(struct(...)) — no window, no sort, map-side combined.
# ---------------------------------------------------------------------------
_stops_d = " + ".join(
    T.stop_count_expr("toks", lang, "d") for lang in ("en", "es", "de", "fr")
)
_quality_d = (
    "0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))"
    f" + 0.3 * (1.0 - CAST({_stops_d} AS DOUBLE) / len(toks))"
    " + 0.2 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)"
)

_CANON_Q_ORACLE = f"""
WITH RECURSIVE {_TOKS_CTE_D},
{_SHINGLES_CTE_D},
sigs AS (
  SELECT doc_id,
       {_mh_cols_d}
  FROM shingled
),
sigs_b AS (
  SELECT doc_id, {_band_cols_d}
  FROM sigs
),
bands AS ({_band_union_d}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS x, doc_b AS y FROM cand
  UNION SELECT doc_b, doc_a FROM cand
),
reach(x, y) AS (
  SELECT x, y FROM edges
  UNION
  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
),
comp AS (
  SELECT x AS doc_id, least(min(y), x) AS cluster_id FROM reach GROUP BY x
),
members AS (
  SELECT t.doc_id,
         COALESCE(c.cluster_id, t.doc_id) AS cluster_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(floor(({_quality_d}) * 1000000.0) AS BIGINT) AS q_micro
  FROM toks t LEFT JOIN comp c ON t.doc_id = c.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY q_micro DESC, doc_id ASC) AS rk
  FROM members
)
SELECT m.cluster_id,
       CAST(COUNT(*) AS BIGINT)        AS n_members,
       CAST(SUM(m.n_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(r.doc_id) AS BIGINT)   AS rep_doc_id,
       CAST(MAX(r.q_micro) AS BIGINT)  AS rep_q_micro,
       CAST(SUM(m.n_tokens) - MAX(r.n_tokens) AS BIGINT) AS dropped_tokens
FROM members m
JOIN (SELECT * FROM ranked WHERE rk = 1) r ON m.cluster_id = r.cluster_id
GROUP BY m.cluster_id
"""


@register("dedup_canonical_quality", _CANON_Q_ORACLE)
def dedup_canonical_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per duplicate cluster: member/token totals and the quality-ranked
    representative (max quality micro-units, doc_id tie-break) with the
    exact token mass dropped by keeping only it."""
    clusters = _dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    prof = _profile(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        F.expr("CAST(floor(quality_score * 1000000.0) AS BIGINT)").alias("q_micro"),
    )
    m = clusters.join(prof, "doc_id")
    best = F.max(
        F.struct(
            F.col("q_micro").alias("q"),
            (-F.col("doc_id")).alias("neg_id"),
            F.col("n_tokens").alias("nt"),
        )
    ).alias("best")
    agg = m.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        best,
    )
    return agg.select(
        "cluster_id",
        "n_members",
        "total_tokens",
        (-F.col("best.neg_id")).cast("bigint").alias("rep_doc_id"),
        F.col("best.q").cast("bigint").alias("rep_q_micro"),
        (F.col("total_tokens") - F.col("best.nt")).cast("bigint").alias(
            "dropped_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# RAG chunk manifest: per-document OVERLAPPING retrieval chunks
# (64-token windows, stride 48 — the ~25% overlap retrieval pipelines use
# so no answer span straddles a boundary uncovered). The complement of
# text_pack_windows: packing concatenates ACROSS documents for training
# throughput; chunking windows WITHIN one document for retrieval, and a
# chunk never crosses a document boundary. Each chunk row carries the
# order-sensitive polynomial rolling hash of its exact token slice, so the
# oracle verifies chunk CONTENT and boundaries, not just arithmetic.
# Scale shape: map-only — per-row start-list explode bounded by
# ceil(doc_len / stride), no shuffle anywhere, embarrassingly parallel.
# ---------------------------------------------------------------------------
RAG_CHUNK = 64  # tokens per chunk
RAG_STRIDE = 48  # chunk start stride (overlap = RAG_CHUNK - RAG_STRIDE)

_rag_last_d = (
    f"CASE WHEN len(toks) <= {RAG_CHUNK} THEN 0 "
    f"ELSE ((len(toks) - {RAG_CHUNK} + {RAG_STRIDE - 1}) // {RAG_STRIDE})"
    f" * {RAG_STRIDE} END"
)
_rag_last_s = (
    f"CASE WHEN size(toks) <= {RAG_CHUNK} THEN 0 "
    f"ELSE ((size(toks) - {RAG_CHUNK} + {RAG_STRIDE - 1}) DIV {RAG_STRIDE})"
    f" * {RAG_STRIDE} END"
)
_rag_slice_d = (
    f"(toks[CAST(s + 1 AS INTEGER)"
    f":CAST(s + least({RAG_CHUNK}, n - s) AS INTEGER)])"
)
_rag_slice_s = f"slice(toks, s + 1, least({RAG_CHUNK}, n - s))"
_rag_fp_d = T.rolling_fp_expr(_rag_slice_d, "d")
_rag_fp_s = T.rolling_fp_expr(_rag_slice_s, "s")

_RAG_ORACLE = f"""
WITH {_TOKS_CTE_D},
base AS (
  SELECT doc_id, toks, len(toks) AS n,
         {_rag_last_d} AS last_start
  FROM toks
),
chunks AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, last_start, {RAG_STRIDE})) AS s
  FROM base
)
SELECT doc_id,
       CAST(s // {RAG_STRIDE} AS BIGINT)         AS chunk_idx,
       CAST(s AS BIGINT)                         AS start_tok,
       CAST(least({RAG_CHUNK}, n - s) AS BIGINT) AS n_chunk_toks,
       CAST({_rag_fp_d} AS BIGINT)               AS chunk_fp
FROM chunks
"""


@register("text_rag_chunks", _RAG_ORACLE)
def text_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64/48 retrieval-chunk manifest per document: chunk
    index, start offset, exact length, and the rolling content hash of the
    token slice."""
    base = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{T.tokens_expr('text', 's')} AS toks"
    ).selectExpr(
        "doc_id",
        "toks",
        "size(toks) AS n",
        f"{_rag_last_s} AS last_start",
    )
    chunks = base.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.expr(f"sequence(0, last_start, {RAG_STRIDE})")).alias("s"),
    )
    return chunks.selectExpr(
        "doc_id",
        f"CAST(s DIV {RAG_STRIDE} AS BIGINT) AS chunk_idx",
        "CAST(s AS BIGINT) AS start_tok",
        f"CAST(least({RAG_CHUNK}, n - s) AS BIGINT) AS n_chunk_toks",
        f"CAST({_rag_fp_s} AS BIGINT) AS chunk_fp",
    )


# ---------------------------------------------------------------------------
# language-ID confusion matrix: the evaluation table for the
# heuristic classifier the profile carries — per (true lang, predicted
# lang): doc count, token mass, and the cell's share of the true-lang row
# (recall when on the diagonal). Everything reuses the session-cached
# profile; aggregates are exact integers plus one identical division.
# Scale: a <= |langs|² aggregate over one cached scan.
# ---------------------------------------------------------------------------
@register(
    "text_lang_confusion",
    f"""
WITH {_TOKS_CTE_D},
profile AS (
  SELECT doc_id, lang, len(toks) AS n_tokens,
         {T.stop_count_expr('toks', 'en', 'd')} AS s_en,
         {T.stop_count_expr('toks', 'es', 'd')} AS s_es,
         {T.stop_count_expr('toks', 'de', 'd')} AS s_de,
         {T.stop_count_expr('toks', 'fr', 'd')} AS s_fr,
         CASE WHEN regexp_matches(text, '{T.CJK_RE}') THEN 1 ELSE 0 END AS s_zh
  FROM toks
),
pred AS (
  SELECT lang, n_tokens,
         CASE WHEN s_zh = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'zh'
              WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
              WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
              WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
              ELSE 'fr' END AS predicted_lang
  FROM profile
),
cells AS (
  SELECT lang, predicted_lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
  FROM pred GROUP BY lang, predicted_lang
),
rows_t AS (
  SELECT lang, SUM(n_docs) AS row_n FROM cells GROUP BY lang
)
SELECT c.lang, c.predicted_lang, c.n_docs, c.total_tokens,
       CAST(c.n_docs AS DOUBLE) / CAST(r.row_n AS DOUBLE) AS row_share
FROM cells c JOIN rows_t r ON c.lang = r.lang
""",
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language classifier vs the labeled
    lang column: per (lang, predicted_lang) cell, doc count, token mass,
    and the share of the true-lang row (diagonal = recall)."""
    p = _profile(spark, sf_dir).select("lang", "predicted_lang", "n_tokens")
    cells = p.groupBy("lang", "predicted_lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    rows_t = cells.groupBy("lang").agg(F.sum("n_docs").alias("row_n"))
    return cells.join(F.broadcast(rows_t), "lang").select(
        "lang",
        "predicted_lang",
        "n_docs",
        "total_tokens",
        (F.col("n_docs").cast("double") / F.col("row_n").cast("double")).alias(
            "row_share"
        ),
    )


# ---------------------------------------------------------------------------
# Vocabulary census: the tokenizer-building primitive — corpus
# collection frequency (cf) and document frequency (df) per token, the
# top-N head with exact counts and corpus-mass fractions. Scale shape: one
# explode collapsed by a map-side-combinable (token) hash aggregate —
# near-unique keys, no skew hazard — then a bounded top-N via
# TakeOrderedAndProject (never a global sort of the vocabulary); the
# corpus total rides a broadcast one-row crossJoin; rank is a window over
# the already-limited N rows. Tie-break (cf DESC, token ASC) is total, so
# the selected set and ranks are deterministic.
# ---------------------------------------------------------------------------
VOCAB_TOP_N = 25

_VOCAB_ORACLE = f"""
WITH {_TOKS_CTE_D},
tok AS (SELECT doc_id, unnest(toks) AS token FROM toks),
vocab AS (
  SELECT token, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df
  FROM tok GROUP BY token
),
tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS total_cf FROM vocab),
top AS (
  SELECT token, cf, df FROM vocab
  ORDER BY cf DESC, token ASC LIMIT {VOCAB_TOP_N}
)
SELECT CAST(row_number() OVER (ORDER BY cf DESC, token ASC) AS BIGINT) AS rank,
       token,
       CAST(cf AS BIGINT) AS cf,
       CAST(df AS BIGINT) AS df,
       CAST(cf AS DOUBLE) / CAST(t.total_cf AS DOUBLE) AS cf_frac
FROM top, tot t
"""


def vocab_census(docs: DataFrame, top_n: int = VOCAB_TOP_N) -> DataFrame:
    """Top-N vocabulary head by collection frequency with document
    frequency and exact corpus-mass fraction — the census a tokenizer /
    vocab build runs first. See the block comment above for the plan
    shape."""
    tok = docs.select(
        "doc_id", F.explode(F.expr(T.tokens_expr("text", "s"))).alias("token")
    )
    vocab = tok.groupBy("token").agg(
        F.count("*").alias("cf"), F.count_distinct("doc_id").alias("df")
    )
    total = vocab.agg(F.sum("cf").cast("bigint").alias("total_cf"))
    top = vocab.orderBy(F.desc("cf"), F.asc("token")).limit(top_n)
    w = Window.orderBy(F.desc("cf"), F.asc("token"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select(
            "rank",
            "token",
            F.col("cf").cast("bigint").alias("cf"),
            F.col("df").cast("bigint").alias("df"),
            (F.col("cf").cast("double") / F.col("total_cf").cast("double")).alias(
                "cf_frac"
            ),
        )
    )


@register("text_vocab_census", _VOCAB_ORACLE)
def text_vocab_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_census(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Winnowing fingerprints: the Schleimer/Wilkerson/Aiken 2003
# local document fingerprinting scheme (the MOSS algorithm) — hash every
# K_WIN-token gram, slide a W_WIN-window over the hash sequence, keep each
# window's MINIMUM hash; the distinct kept hashes are the document's
# fingerprint set, with the guarantee that any shared run of
# W_WIN + K_WIN - 1 tokens between two documents shares a fingerprint.
# Scale shape: explode is linear; the window min is per-doc (ROWS frame,
# parallel across documents, bounded within); output is a per-doc summary
# — the fingerprint-set size and its density over eligible windows. The
# gram hash is the shared 32-bit md5-prefix hash (functions/text.py
# hash_expr), identical in both engines.
# ---------------------------------------------------------------------------
K_WIN = 4   # gram size, tokens
W_WIN = 5   # window length, grams

_WINNOW_ORACLE = f"""
WITH {_TOKS_CTE_D},
g AS (
  SELECT doc_id, {T.ngram_list_expr('toks', K_WIN, 'd')} AS gl FROM toks
),
pos AS (
  SELECT doc_id, CAST(len(gl) AS BIGINT) AS n_grams,
         unnest(range(1, len(gl)+1)) AS p,
         {T.hash_expr('unnest(gl)', 'win', 'd')} AS h
  FROM g
),
mins AS (
  SELECT doc_id, n_grams, p,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND {W_WIN - 1} FOLLOWING) AS fp
  FROM pos
)
SELECT doc_id,
       CAST(MAX(n_grams) AS BIGINT)               AS n_grams,
       CAST(MAX(n_grams) - {W_WIN} + 1 AS BIGINT) AS n_windows,
       CAST(COUNT(DISTINCT fp) AS BIGINT)         AS n_fingerprints,
       CAST(COUNT(DISTINCT fp) AS DOUBLE)
         / CAST(MAX(n_grams) - {W_WIN} + 1 AS DOUBLE) AS fp_density
FROM mins
WHERE n_grams >= {W_WIN} AND p <= n_grams - {W_WIN} + 1
GROUP BY doc_id
"""


def winnow_report(docs: DataFrame) -> DataFrame:
    """Per-document winnowing fingerprint census: eligible window count,
    distinct selected min-hashes, and selection density. See the block
    comment above for the scheme and scale shape."""
    g = docs.selectExpr(
        "doc_id",
        f"{T.ngram_list_expr(T.tokens_expr('text', 's'), K_WIN, 's')} AS gl",
    )
    pos = g.select(
        "doc_id",
        F.size("gl").cast("bigint").alias("n_grams"),
        F.posexplode("gl").alias("p0", "gram"),
    ).select(
        "doc_id",
        "n_grams",
        (F.col("p0") + 1).alias("p"),
        F.expr(T.hash_expr("gram", "win", "s")).alias("h"),
    )
    wspec = (
        Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, W_WIN - 1)
    )
    mins = pos.withColumn("fp", F.min("h").over(wspec))
    eligible = mins.where(
        (F.col("n_grams") >= W_WIN)
        & (F.col("p") <= F.col("n_grams") - W_WIN + 1)
    )
    return eligible.groupBy("doc_id").agg(
        F.max("n_grams").cast("bigint").alias("n_grams"),
        (F.max("n_grams") - W_WIN + 1).cast("bigint").alias("n_windows"),
        F.count_distinct("fp").cast("bigint").alias("n_fingerprints"),
        (
            F.count_distinct("fp").cast("double")
            / (F.max("n_grams") - W_WIN + 1).cast("double")
        ).alias("fp_density"),
    )


@register("text_winnow_fingerprints", _WINNOW_ORACLE)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_report(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth: distinct-vocabulary size after the
# first N corpus tokens (doc_id reading order) at geometric ladder points —
# the curve a tokenizer/vocab budget is sized against. Exact formulation:
# a token contributes to every prefix at or after its FIRST global
# occurrence, so vocab_size(N) = |{tokens: first_occurrence <= N}|.
# Scale shape: global token positions come from the same two-level prefix
# sum as the shard manifests (constant source key — bucket subtotals stay
# fully parallel, the only single-partition window sorts ~n_docs/4096
# subtotal rows); first occurrence is a map-side-combined min per token;
# the ladder (<= 12 rows) broadcasts against the vocabulary for the
# inequality fan-out. The oracle keeps the one-window formulation, pinning
# the two-level equivalence exactly like text_token_shards.
# ---------------------------------------------------------------------------
_HEAPS_BASE = 256   # smallest prefix; ladder = 256 * 2^k, k < 12
_HEAPS_STEPS = 12

_HEAPS_ORACLE = f"""
WITH {_TOKS_CTE_D},
doc_off AS (
  SELECT doc_id, toks,
         COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS toks_before
  FROM toks
),
pos AS (
  SELECT toks_before + unnest(range(1, len(toks)+1)) AS gp,
         unnest(toks) AS token
  FROM doc_off
),
first_occ AS (SELECT token, MIN(gp) AS fo FROM pos GROUP BY token),
total AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS n FROM toks),
ladder AS (
  SELECT CAST({_HEAPS_BASE} * (1 << k.k) AS BIGINT) AS n_prefix
  FROM (SELECT unnest(range(0, {_HEAPS_STEPS})) AS k) k, total t
  WHERE {_HEAPS_BASE} * (1 << k.k) <= t.n
)
SELECT CAST(l.n_prefix AS BIGINT) AS n_prefix,
       CAST(COUNT(*) AS BIGINT)   AS vocab_size,
       CAST(COUNT(*) AS DOUBLE) / CAST(l.n_prefix AS DOUBLE)
         AS type_token_ratio
FROM ladder l JOIN first_occ f ON f.fo <= l.n_prefix
GROUP BY l.n_prefix
"""


def heaps_curve(docs: DataFrame) -> DataFrame:
    """Vocabulary size at geometric corpus-prefix points (see block
    comment). Input needs (doc_id, text)."""
    spark = docs.sparkSession
    toks = docs.select(
        "doc_id", F.expr(T.tokens_expr("text", "s")).alias("toks")
    ).select(
        F.lit("_corpus").alias("source"),
        "doc_id",
        "toks",
        F.size("toks").cast("bigint").alias("n_toks"),
    )
    off = _toks_before(toks)
    pos = off.select(
        "toks_before", F.posexplode("toks").alias("p0", "token")
    ).select((F.col("toks_before") + F.col("p0") + 1).alias("gp"), "token")
    first = pos.groupBy("token").agg(F.min("gp").alias("fo"))
    total = toks.agg(F.sum("n_toks").cast("bigint").alias("n"))
    ladder = (
        spark.range(_HEAPS_STEPS)
        .select(
            F.expr(
                f"CAST({_HEAPS_BASE} AS BIGINT)"
                " * CAST(shiftleft(1, CAST(id AS INT)) AS BIGINT)"
            ).alias("n_prefix")
        )
        .crossJoin(F.broadcast(total))
        .where(F.col("n_prefix") <= F.col("n"))
        .select("n_prefix")
    )
    return (
        first.join(F.broadcast(ladder), F.col("fo") <= F.col("n_prefix"))
        .groupBy("n_prefix")
        .agg(
            F.count("*").cast("bigint").alias("vocab_size"),
            (F.count("*").cast("double") / F.col("n_prefix").cast("double")).alias(
                "type_token_ratio"
            ),
        )
        .select(
            F.col("n_prefix").cast("bigint").alias("n_prefix"),
            "vocab_size",
            "type_token_ratio",
        )
    )


@register("text_heaps_law", _HEAPS_ORACLE)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    return heaps_curve(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Source-vs-corpus KL divergence: for each source, the KL
# divergence of its unigram distribution from the corpus mixture — the
# quantitative "how different is this source" signal a data-mixing /
# domain-weighting decision reads. Exactness: each token's contribution
# c_s * ln(c_s*N_c / (c_c*N_s)) is rounded to integer micro-nats BEFORE
# the per-source sum (order-free, the bigram-NLL posture); the final
# per-token-average division happens once in DOUBLE. Restriction to
# tokens with c_s > 0 makes every log argument finite (and c_c >= c_s by
# construction). Scale shape: one explode, a map-side-combined
# (source, token) aggregate, a vocabulary-sized co-partitioned equi-join
# on token (deliberately NOT broadcast — vocabulary is unbounded on web
# text, the same posture as text_bigram_nll's head counts), and tiny
# broadcast sides for the per-source and corpus totals.
# ---------------------------------------------------------------------------
_KL_ORACLE = f"""
WITH {_TOKS_CTE_D},
tok AS (SELECT source, unnest(toks) AS token FROM toks),
sc AS (SELECT source, token, COUNT(*) AS c_s FROM tok GROUP BY 1, 2),
cc AS (SELECT token, SUM(c_s) AS c_c FROM sc GROUP BY 1),
ns AS (SELECT source, SUM(c_s) AS n_s FROM sc GROUP BY 1),
nc AS (SELECT CAST(SUM(c_c) AS BIGINT) AS n_c FROM cc)
SELECT s.source,
       CAST(MAX(n.n_s) AS BIGINT)  AS n_tokens,
       CAST(COUNT(*) AS BIGINT)    AS vocab_size,
       CAST(SUM(CAST(round(CAST(s.c_s AS DOUBLE)
                * ln(CAST(s.c_s * x.n_c AS DOUBLE)
                     / CAST(c.c_c * n.n_s AS DOUBLE))
                * 1000000.0) AS BIGINT)) AS BIGINT) AS kl_micro,
       CAST(SUM(CAST(round(CAST(s.c_s AS DOUBLE)
                * ln(CAST(s.c_s * x.n_c AS DOUBLE)
                     / CAST(c.c_c * n.n_s AS DOUBLE))
                * 1000000.0) AS BIGINT)) AS DOUBLE)
         / CAST(MAX(n.n_s) AS DOUBLE) / 1000000.0 AS kl_nats
FROM sc s JOIN cc c USING (token) JOIN ns n USING (source), nc x
GROUP BY s.source
"""


def source_kl_report(docs: DataFrame) -> DataFrame:
    """Per-source unigram KL divergence from the corpus mixture, in exact
    integer micro-nats plus the per-token average in nats. See the block
    comment above for the exactness and join posture."""
    tok = docs.select(
        "source", F.explode(F.expr(T.tokens_expr("text", "s"))).alias("token")
    )
    # the (source, token) count table feeds three consumers (corpus counts,
    # per-source totals, the KL join probe) on three DIFFERENT keys, so no
    # exchange is reusable — uncached, the corpus is scanned and exploded
    # three times. persist() the vocabulary-sized aggregate instead;
    # CacheManager dedups re-invocations onto one entry. |sources| × vocab
    # rows is the same boundedness class as the cached _gram_counts table.
    sc_ = tok.groupBy("source", "token").agg(F.count("*").alias("c_s")).persist()
    cc = sc_.groupBy("token").agg(F.sum("c_s").alias("c_c"))
    ns = sc_.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    nc = cc.agg(F.sum("c_c").cast("bigint").alias("n_c"))
    j = (
        sc_.join(cc, "token")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nc))
    )
    term = F.round(
        F.col("c_s").cast("double")
        * F.log(
            (F.col("c_s") * F.col("n_c")).cast("double")
            / (F.col("c_c") * F.col("n_s")).cast("double")
        )
        * F.lit(1000000.0)
    ).cast("bigint")
    return j.groupBy("source").agg(
        F.max("n_s").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab_size"),
        F.sum(term).cast("bigint").alias("kl_micro"),
        (
            F.sum(term).cast("double")
            / F.max("n_s").cast("double")
            / F.lit(1000000.0)
        ).alias("kl_nats"),
    )


@register("text_source_kl", _KL_ORACLE)
def text_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_kl_report(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# BPE merge step: the inner loop of byte-pair-encoding tokenizer
# TRAINING — count adjacent single-character symbol pairs across the
# corpus, weighted by pretoken collection frequency; the argmax pair is
# the next merge a BPE trainer would learn (GPT-2's first merges are
# exactly the space+letter heads this surfaces). Scale shape: the
# corpus-sized work is ONE explode collapsed into the pretoken frequency
# table (map-side-combinable hash agg, vocab-sized result); the pair
# fan-out then runs over DISTINCT pretokens only — the classic
# distributed-BPE trick (Σ chars per vocab entry, independent of corpus
# size); the pair agg is again map-side combined over a ≤|alphabet|²
# key space, and the head is a bounded TakeOrderedAndProject. Total
# tie-break (pair_count DESC, sym_a ASC, sym_b ASC) in both engines.
# ---------------------------------------------------------------------------
BPE_MERGE_TOP_N = 20

_BPE_MERGE_ORACLE = f"""
WITH tok AS (
  SELECT unnest({T.bpe_tokens_expr('text', 'd')}) AS token FROM documents
),
w AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
pos AS (
  SELECT token, cnt, unnest(range(1, length(token))) AS i
  FROM w WHERE length(token) >= 2
),
pairs AS (
  SELECT substr(token, CAST(i AS INT), 1) AS sym_a,
         substr(token, CAST(i AS INT) + 1, 1) AS sym_b,
         cnt, token
  FROM pos
),
agg AS (
  SELECT sym_a, sym_b, CAST(SUM(cnt) AS BIGINT) AS pair_count,
         CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types
  FROM pairs GROUP BY sym_a, sym_b
),
top AS (
  SELECT * FROM agg
  ORDER BY pair_count DESC, sym_a ASC, sym_b ASC LIMIT {BPE_MERGE_TOP_N}
)
SELECT CAST(row_number() OVER
         (ORDER BY pair_count DESC, sym_a ASC, sym_b ASC) AS BIGINT) AS rank,
       sym_a, sym_b, pair_count, n_types
FROM top
"""


def bpe_merge_step(docs: DataFrame, top_n: int = BPE_MERGE_TOP_N) -> DataFrame:
    """Top-N adjacent symbol pairs by corpus-weighted count — one BPE
    training merge step over the GPT-2-style pretokens. See the block
    comment above for the plan shape."""
    from hive_server_spark.operators.topk import global_topk

    w = (
        docs.select(
            F.explode(F.expr(T.bpe_tokens_expr("text", "s"))).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .where(F.length("token") >= 2)
    )
    pairs = w.select(
        "token",
        "cnt",
        F.explode(F.expr("sequence(1, length(token) - 1)")).alias("i"),
    ).select(
        F.expr("substring(token, i, 1)").alias("sym_a"),
        F.expr("substring(token, i + 1, 1)").alias("sym_b"),
        "cnt",
        "token",
    )
    agg = pairs.groupBy("sym_a", "sym_b").agg(
        F.sum("cnt").cast("bigint").alias("pair_count"),
        F.count_distinct("token").cast("bigint").alias("n_types"),
    )
    top = global_topk(
        agg,
        [F.desc("pair_count"), F.asc("sym_a"), F.asc("sym_b")],
        top_n,
        rank_col="rank",
    )
    return top.select("rank", "sym_a", "sym_b", "pair_count", "n_types")


@register("text_bpe_merge_step", _BPE_MERGE_ORACLE)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_merge_step(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Gopher quality rules: the document-level heuristic filter suite
# from Gopher (Rae et al. 2021, public) / MassiveText — word-count bounds,
# mean-word-length band, symbol-to-word ratio, alphabetic-word fraction,
# stop-word presence, bullet-line and ellipsis-line fractions. Complements
# text_c4_filters (line-level C4 rules): C4 edits lines, Gopher scores whole
# documents. Thresholds are the published ones where the synthetic corpus
# can exercise them and corpus-calibrated where it cannot (word-count band
# 30..5000 instead of 50..100k; bullet/ellipsis line caps 40%/30% because
# the injected docs have 2 lines, vs Gopher's 90%/30% over many; the stop
# set is drawn from the corpus vocabulary — Gopher's own set shares only
# 'the' with it). Violations are exercised by injected content keyed on
# doc_id % 6, the text_c4_filters pattern: a bullet line / an ellipsis
# line / a '#'-symbol run / a numeric-token run (kills the alphabetic
# fraction) / a benign extra line / no injection.
# Scale: one scan, pure per-row array HOFs + fixed-width string ops — a
# map-only plan with zero shuffle; every ratio is a single division
# micro-rounded to BIGINT so the keep verdict is integer-exact in both
# engines.
# ---------------------------------------------------------------------------
_GOPHER_INJECT_SQL = """
CASE CAST(doc_id % 6 AS INTEGER)
  WHEN 0 THEN text || chr(10) || '- bullet item in a list'
  WHEN 1 THEN text || chr(10) || 'to be continued...'
  WHEN 2 THEN text || ' ' || trim(repeat('# ', 20))
  WHEN 3 THEN text || repeat(' 12345', 30)
  WHEN 4 THEN text || chr(10) || 'the table holds the data rows.'
  ELSE text
END
"""

_GOPHER_STOPS = ("the", "a", "to", "of", "and", "data", "table", "row")


def _gopher_exprs(d: str) -> dict[str, str]:
    """Dialect-dispatched metric fragments ('s' = Spark, 'd' = DuckDB).
    Shared contract: words = single-space split of the newline-flattened
    text (injections never create double spaces); every fraction is
    round(1e6 * a / b) cast BIGINT so threshold comparisons are integer."""
    flt, alen, contains = (
        ("filter", "size", "array_contains")
        if d == "s"
        else ("list_filter", "len", "list_contains")
    )
    ws = "split(replace(t, chr(10), ' '), ' ')" if d == "s" else \
        "string_split(replace(t, chr(10), ' '), ' ')"
    lines = "split(t, chr(10))" if d == "s" else "string_split(t, chr(10))"
    if d == "s":
        sum_wlen = ("aggregate(ws, CAST(0 AS BIGINT), "
                    "(acc, w) -> acc + length(w))")
        alpha = "size(filter(ws, w -> w rlike '[a-z]'))"
    else:
        sum_wlen = ("COALESCE(list_sum(list_transform(ws, "
                    "w -> CAST(length(w) AS BIGINT))), 0)")
        alpha = "len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))"
    n_stop = " + ".join(
        f"(CASE WHEN {contains}(ws, '{s}') THEN 1 ELSE 0 END)"
        for s in _GOPHER_STOPS
    )
    return {
        "ws": ws,
        "lines": lines,
        "n_words": f"CAST({alen}(ws) AS BIGINT)",
        "sum_wlen": sum_wlen,
        "hashes": "CAST(length(t) - length(replace(t, '#', '')) AS BIGINT)",
        "ellipses": ("CAST((length(t) - length(replace(t, '...', ''))) / 3 "
                     "AS BIGINT)"),
        "n_alpha": f"CAST({alpha} AS BIGINT)",
        "n_stop": f"CAST({n_stop} AS BIGINT)",
        "n_lines": f"CAST({alen}(lines) AS BIGINT)",
        "n_bullet": (f"CAST({alen}({flt}(lines, l -> l LIKE '- %' "
                     f"OR l LIKE '* %')) AS BIGINT)"),
        "n_ell_lines": (f"CAST({alen}({flt}(lines, l -> right(l, 3) = '...'))"
                        " AS BIGINT)"),
    }


_GOPHER_MICRO = {
    "mean_wlen_micro": ("sum_wlen", "n_words"),
    "sym_ratio_micro": ("hashes + ellipses", "n_words"),
    "alpha_frac_micro": ("n_alpha", "n_words"),
    "bullet_frac_micro": ("n_bullet", "n_lines"),
    "ellipsis_frac_micro": ("n_ell_lines", "n_lines"),
}

_GOPHER_KEEP = (
    "n_words >= 30 AND n_words <= 5000"
    " AND mean_wlen_micro >= 3000000 AND mean_wlen_micro <= 10000000"
    " AND sym_ratio_micro <= 100000"
    " AND alpha_frac_micro >= 800000"
    " AND n_stop >= 2"
    " AND bullet_frac_micro <= 400000"
    " AND ellipsis_frac_micro <= 300000"
)


def _gopher_select(d: str) -> str:
    e = _gopher_exprs(d)
    micro = ", ".join(
        f"CAST(round(1000000.0 * ({num}) / ({den})) AS BIGINT) AS {name}"
        for name, (num, den) in _GOPHER_MICRO.items()
    )
    return (
        f"SELECT doc_id, n_words, {micro}, n_stop FROM ("
        f"SELECT doc_id, {e['n_words']} AS n_words, {e['sum_wlen']} AS sum_wlen, "
        f"{e['hashes']} AS hashes, {e['ellipses']} AS ellipses, "
        f"{e['n_alpha']} AS n_alpha, {e['n_stop']} AS n_stop, "
        f"{e['n_lines']} AS n_lines, {e['n_bullet']} AS n_bullet, "
        f"{e['n_ell_lines']} AS n_ell_lines "
        f"FROM (SELECT doc_id, t, {e['ws']} AS ws, {e['lines']} AS lines "
        f"FROM injected) base) m"
    )


_GOPHER_ORACLE = f"""
WITH injected AS (
  SELECT doc_id, {_GOPHER_INJECT_SQL} AS t FROM documents
),
scored AS ({_gopher_select('d')})
SELECT doc_id, n_words, mean_wlen_micro, sym_ratio_micro, alpha_frac_micro,
       n_stop, bullet_frac_micro, ellipsis_frac_micro,
       {_GOPHER_KEEP} AS keep
FROM scored
"""


@register("text_gopher_rules", _GOPHER_ORACLE)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules over the injected corpus: per-doc
    metric panel plus the keep verdict (see block comment for the rule set
    and the scaled thresholds)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_GOPHER_INJECT_SQL).alias("t")
    )
    # Build via the same fragment pipeline as the oracle: base -> metrics ->
    # micro ratios + keep, each stage a selectExpr so the expression shapes
    # match the DuckDB text exactly.
    e = _gopher_exprs("s")
    base = docs.selectExpr(
        "doc_id", "t", f"{e['ws']} AS ws", f"{e['lines']} AS lines"
    )
    m = base.selectExpr(
        "doc_id",
        f"{e['n_words']} AS n_words",
        f"{e['sum_wlen']} AS sum_wlen",
        f"{e['hashes']} AS hashes",
        f"{e['ellipses']} AS ellipses",
        f"{e['n_alpha']} AS n_alpha",
        f"{e['n_stop']} AS n_stop",
        f"{e['n_lines']} AS n_lines",
        f"{e['n_bullet']} AS n_bullet",
        f"{e['n_ell_lines']} AS n_ell_lines",
    )
    micro = m.selectExpr(
        "doc_id",
        "n_words",
        *[
            f"CAST(round(1000000.0 * ({num}) / ({den})) AS BIGINT) AS {name}"
            for name, (num, den) in _GOPHER_MICRO.items()
        ],
        "n_stop",
    )
    return micro.selectExpr(
        "doc_id", "n_words", "mean_wlen_micro", "sym_ratio_micro",
        "alpha_frac_micro", "n_stop", "bullet_frac_micro",
        "ellipsis_frac_micro", f"({_GOPHER_KEEP}) AS keep",
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction: top-3 terms per document by
# tf-idf — the classic per-document keyword/topic signal (Sparck Jones
# 1972, public); complements text_bm25_topk (which ranks documents for a
# fixed query — this ranks terms for each document). tf = in-doc count /
# doc length; idf = ln(N / df) over the FULL corpus. The gate scores the
# doc_id % 25 == 0 slice to keep the parity output small — the full-corpus
# run has the same plan, just more output rows.
# Scale shape: one explode → per-(doc, term) count with map-side combine;
# doc length is a per-doc window sum over that table (rows per doc ≤ doc
# vocabulary, bounded); df is a vocabulary-sized aggregate joined back as
# a PLAIN equi-join on term — vocabulary on web text is unbounded, so no
# forced broadcast (the survivor-set lesson; Spark's stats still elect
# broadcast when it genuinely fits); N is a 1-row broadcast. The per-doc
# top-3 window sorts ≤ doc-vocabulary rows per doc, parallel across docs.
# Score is micro-rounded after a fixed (tf * ln) shape so ranking ties are
# integer-exact in both engines; ties break on term ASC.
# ---------------------------------------------------------------------------
_TFIDF_SCORE = (
    "CAST(round(1000000.0 * (CAST(c AS DOUBLE) / CAST(n_words AS DOUBLE)) "
    "* ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))) AS BIGINT)"
)

_TFIDF_ORACLE = f"""
WITH {_TOKS_CTE_D},
tok AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tf AS (
  SELECT doc_id, term, COUNT(*) AS c,
         SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS n_words
  FROM tok GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok
          GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.c, tf.n_words, dfreq.df,
         {_TFIDF_SCORE} AS tfidf_micro
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
  WHERE tf.doc_id % 25 = 0
)
SELECT doc_id, term,
       CAST(c AS BIGINT) AS c, CAST(n_words AS BIGINT) AS n_words, df,
       tfidf_micro, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_micro DESC, term ASC) AS rk
      FROM scored)
WHERE rk <= 3
"""


@register("text_tfidf_terms", _TFIDF_ORACLE)
def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top-3 keyword extraction (see block comment for
    the plan shape; df join deliberately hint-free)."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(F.expr(T.tokens_expr("text", "s"))).alias("term")
    )
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "n_words",
            F.sum("c").over(Window.partitionBy("doc_id")),
        )
    )
    dfreq = tok.groupBy("term").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    n = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    scored = (
        tf.where(F.col("doc_id") % 25 == 0)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf_micro", F.expr(_TFIDF_SCORE))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 3)
        .select(
            "doc_id", "term",
            F.col("c").cast("bigint").alias("c"),
            F.col("n_words").cast("bigint").alias("n_words"),
            "df", "tfidf_micro", "rk",
        )
    )


# ---------------------------------------------------------------------------
# DSIR importance weights: Data Selection via Importance
# Resampling (Xie et al. 2023, public) — score every document by how much
# its hashed n-gram feature distribution looks like a TARGET domain vs the
# rest of the corpus. Features are unigram hashes folded into 128 buckets
# (the paper's hashed-feature trick: the model is over a FIXED-SIZE bucket
# space, never the unbounded vocabulary); bucket probabilities are add-1
# smoothed; a document's score is the sum over its tokens of
# ln(p_target(bucket) / p_source(bucket)). The gate's target is the
# 'src0' slice — a stand-in for "looks like Wikipedia" in the paper.
# Exactness: per-BUCKET log-ratios are micro-rounded BIGINTs (128 of
# them), and each document's score is an integer SUM of those — order-free
# under any parallelism, the same discipline as text_bigram_nll.
# Scale shape: one token explode feeds one conditional aggregate into a
# ≤128-row model table (map-side combined); totals are window sums over
# that bounded table; scoring joins tokens to the model on bucket with a
# FORCED broadcast that is legitimate for once — the model is bounded BY
# CONSTRUCTION (128 rows), unlike the corpus-derived survivor sets the
# no-forced-broadcast rule exists for.
# ---------------------------------------------------------------------------
_DSIR_BUCKETS = 128
_DSIR_TARGET = "src0"


def _dsir_w_micro() -> str:
    # every operand CAST to DOUBLE first: Spark parses bare x.y literals as
    # DECIMAL and would run the whole ratio in decimal arithmetic (truncated
    # scale -> ln argument off at 1e-7, micro-rounding flips)
    return (
        f"CAST(round(1000000.0 * ln("
        f"((CAST(tcnt AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + {_DSIR_BUCKETS}.0)) / "
        f"((CAST(scnt AS DOUBLE) + 1.0) / (CAST(st AS DOUBLE) + {_DSIR_BUCKETS}.0)))) AS BIGINT)"
    )


_DSIR_ORACLE = f"""
WITH {_TOKS_CTE_D},
tok AS (
  SELECT doc_id, source,
         {T.hash_expr('unnest(toks)', 'dsir', 'd')} % {_DSIR_BUCKETS} AS bucket
  FROM toks
),
model AS (
  SELECT bucket,
         SUM(CASE WHEN source = '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS tcnt,
         SUM(CASE WHEN source <> '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS scnt
  FROM tok GROUP BY bucket
),
weights AS (
  SELECT bucket, {_dsir_w_micro()} AS w_micro
  FROM (SELECT bucket, tcnt, scnt,
               SUM(tcnt) OVER () AS tt, SUM(scnt) OVER () AS st
        FROM model) m
)
SELECT t.doc_id, t.source,
       CAST(COUNT(*) AS BIGINT)       AS n_tokens,
       CAST(SUM(w.w_micro) AS BIGINT) AS dsir_micro_total
FROM tok t JOIN weights w USING (bucket)
GROUP BY t.doc_id, t.source
"""


@register("text_dsir_weights", _DSIR_ORACLE)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance score against the 'src0' target slice
    (see block comment; 128-bucket hashed unigram model, integer
    micro-nats)."""
    docs = _docs(spark, sf_dir)
    # explode before hashing so the md5 runs on token strings, the same
    # bytes as the oracle's unnest
    tok = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.expr(T.tokens_expr("text", "s"))).alias("token"),
        )
        .select(
            "doc_id",
            "source",
            (F.expr(T.hash_expr("token", "dsir", "s")) % _DSIR_BUCKETS)
            .alias("bucket"),
        )
    )
    model = tok.groupBy("bucket").agg(
        F.sum(F.when(F.col("source") == _DSIR_TARGET, 1).otherwise(0))
        .alias("tcnt"),
        F.sum(F.when(F.col("source") != _DSIR_TARGET, 1).otherwise(0))
        .alias("scnt"),
    )
    w_all = Window.partitionBy()
    weights = (
        model.withColumn("tt", F.sum("tcnt").over(w_all))
        .withColumn("st", F.sum("scnt").over(w_all))
        .selectExpr("bucket", f"{_dsir_w_micro()} AS w_micro")
    )
    return (
        tok.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("w_micro").cast("bigint").alias("dsir_micro_total"),
        )
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval via Reciprocal Rank Fusion: fuse the lexical
# BM25 top-25 (text_bm25_topk's fixed probe query) with the semantic
# cosine top-25 (stored query vector 0; vec_id = doc_id in this corpus)
# using RRF (Cormack et al. 2009, public): score(d) = Σ_arms 1/(60 + rank).
# This is the retrieval stack RAG pipelines actually deploy — each arm
# covers the other's misses, and rank-space fusion needs no score
# calibration between BM25 units and cosine units.
# Exactness: each arm's contribution is micro-rounded from the INTEGER
# rank (1e6/(60+rk) — one double division), so the fused score is an
# integer sum; top-10 ties break on doc_id.
# Scale shape: both arms end in bounded top-k sets (TakeOrderedAndProject
# lexically, broadcast-query scan semantically), so the fusion is a
# full-outer join of two ≤k-row sides and a ≤2k-row rank — nothing
# corpus-sized moves after the arms reduce. The full-outer join of two
# bounded sets is an allowed SMJ shape (README plan-audit note).
# ---------------------------------------------------------------------------
_RRF_K0 = 60
_RRF_TOPK = 10


def _rrf_contrib(rk: str) -> str:
    return (
        f"COALESCE(CAST(round(1000000.0 / ({_RRF_K0}.0 + CAST({rk} AS DOUBLE)))"
        f" AS BIGINT), 0)"
    )


_RRF_ORACLE = f"""
WITH lex AS ({_BM25_ORACLE}),
sem AS ({{sem_oracle}}),
fused AS (
  SELECT COALESCE(l.doc_id, s.vec_id) AS doc_id,
         l.rk AS lex_rk, s.rk AS sem_rk,
         {_rrf_contrib('l.rk')} + {_rrf_contrib('s.rk')} AS rrf_micro
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.vec_id
)
SELECT CAST(rank AS BIGINT) AS rank, doc_id, lex_rk, sem_rk, rrf_micro
FROM (SELECT *, row_number() OVER (ORDER BY rrf_micro DESC, doc_id ASC)
             AS rank
      FROM fused)
WHERE rank <= {_RRF_TOPK}
"""


def _rrf_oracle() -> str:
    from hive_server_spark.functions import embeddings as E

    return _RRF_ORACLE.format(sem_oracle=E.topk_oracle(0, _BM25_K, False))


@register("rag_hybrid_rrf", _rrf_oracle())
def rag_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval fused with RRF (see block comment
    for semantics and the bounded-fusion scale shape)."""
    from hive_server_spark.functions import embeddings as E
    from hive_server_spark.operators.topk import global_topk
    from hive_server_spark.plans.embedding_pack import _emb

    lex = text_bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rk").alias("lex_rk")
    )
    # the semantic arm reads the session-cached embeddings working set
    # (embedding_pack._emb) instead of its own parquet scan
    sem = E.cosine_topk(
        _emb(spark, sf_dir), query_vec_id=0, k=_BM25_K
    ).select(F.col("vec_id").alias("sem_doc_id"), F.col("rk").alias("sem_rk"))
    fused = (
        # FULL OUTER has no broadcast form, so this is a sort-merge join;
        # both arms are k-row top-k sets, so it sorts ~2k rows
        lex.join(sem, lex.doc_id == sem.sem_doc_id, "full_outer")
        .select(
            F.coalesce("doc_id", "sem_doc_id").alias("doc_id"),
            "lex_rk",
            "sem_rk",
            (
                F.expr(_rrf_contrib("lex_rk")) + F.expr(_rrf_contrib("sem_rk"))
            ).alias("rrf_micro"),
        )
    )
    return global_topk(
        fused, [F.desc("rrf_micro"), F.asc("doc_id")], _RRF_TOPK,
        rank_col="rank",
    ).select("rank", "doc_id", "lex_rk", "sem_rk", "rrf_micro")


# ---------------------------------------------------------------------------
# Exact stratified quota sampling: allocate a FIXED total sample
# size across sources proportionally via the largest-remainder (Hamilton)
# method — the apportionment algorithm that gives every source
# floor(N*n_s/T) seats and hands the N - Σfloor leftovers to the largest
# remainders — then deterministically draw each source's quota by md5
# rank. "Give me exactly 100 eval docs, stratified like the corpus" is a
# curation op that proportional Bernoulli sampling (text_deterministic_
# sample) cannot answer: Bernoulli's total is binomial, never exact.
# Exactness: the entire allocation is INTEGER arithmetic — floor_q =
# (N*n_s) DIV T, remainder = (N*n_s) MOD T, seat assignment by
# (remainder DESC, source ASC) rank — no float anywhere; the draw
# checksum pins the md5-ranked selection itself.
# Scale shape: one map-side-combined count per source; the allocation
# runs on the |sources|-row table (windows over a bounded set); the draw
# CANNOT be a per-source rank window — sources are FEW, so that window
# would funnel corpus/|sources| rows through single-task sorts. Since
# every quota is ≤ N by construction, the draw is grouped_topk (per-
# partition N-row heads, bounded merge) with k = N, then the quota
# filter. The oracle keeps the declarative full-rank window — same
# semantics, independently formulated.
# ---------------------------------------------------------------------------
_QUOTA_N = 100


_QUOTA_ORACLE = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
floored AS (
  SELECT source, n_docs,
         ({_QUOTA_N} * n_docs) // SUM(n_docs) OVER ()  AS floor_q,
         ({_QUOTA_N} * n_docs) %  SUM(n_docs) OVER ()  AS rem
  FROM counts
),
seated AS (
  SELECT source, n_docs, floor_q, rem,
         row_number() OVER (ORDER BY rem DESC, source ASC)
           <= {_QUOTA_N} - SUM(floor_q) OVER () AS extra
  FROM floored
),
quotas AS (
  SELECT source, n_docs, CAST(floor_q AS BIGINT) AS floor_q,
         CAST(rem AS BIGINT) AS rem, extra,
         CAST(floor_q + CASE WHEN extra THEN 1 ELSE 0 END AS BIGINT)
           AS quota
  FROM seated
),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS draw_rank
  FROM documents
)
SELECT q.source, CAST(q.n_docs AS BIGINT) AS n_docs, q.floor_q, q.rem,
       q.extra, q.quota,
       CAST(COALESCE(SUM(CASE WHEN r.draw_rank <= q.quota THEN r.doc_id END),
                     0) AS BIGINT) AS sample_id_sum,
       CAST(SUM(CASE WHEN r.draw_rank <= q.quota THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sampled
FROM quotas q JOIN ranked r USING (source)
GROUP BY q.source, q.n_docs, q.floor_q, q.rem, q.extra, q.quota
"""


@register("text_quota_sample", _QUOTA_ORACLE)
def text_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder stratified allocation of a fixed 100-doc sample
    across sources, plus the md5-ranked deterministic draw checksum (see
    block comment; all-integer arithmetic)."""
    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    whole = Window.partitionBy()
    alloc = (
        counts.withColumn("total", F.sum("n_docs").over(whole))
        .withColumn("floor_q", F.expr(f"({_QUOTA_N} * n_docs) DIV total"))
        .withColumn("rem", F.expr(f"({_QUOTA_N} * n_docs) % total"))
        .withColumn(
            "seats_left",
            F.lit(_QUOTA_N) - F.sum("floor_q").over(whole),
        )
    )
    seat_rank = Window.orderBy(F.desc("rem"), F.asc("source"))
    quotas = alloc.withColumn(
        "extra", F.row_number().over(seat_rank) <= F.col("seats_left")
    ).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("floor_q").cast("bigint").alias("floor_q"),
        F.col("rem").cast("bigint").alias("rem"),
        "extra",
        (F.col("floor_q") + F.when(F.col("extra"), 1).otherwise(0))
        .cast("bigint")
        .alias("quota"),
    )
    from hive_server_spark.operators.topk import grouped_topk

    ranked = grouped_topk(
        docs.select(
            "source",
            F.md5(F.col("doc_id").cast("string")).alias("draw_key"),
            "doc_id",
        ),
        group_cols=["source"],
        sort_cols=["draw_key", "doc_id"],
        payload_cols=[],
        k=_QUOTA_N,
        rank_col="draw_rank",
    ).select("source", "doc_id", "draw_rank")
    return (
        quotas.join(ranked, "source")
        .groupBy("source", "n_docs", "floor_q", "rem", "extra", "quota")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("draw_rank") <= F.col("quota"), F.col("doc_id"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("sample_id_sum"),
            F.sum(
                F.when(F.col("draw_rank") <= F.col("quota"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_sampled"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer TRAINING loop: the full
# bounded-K merge-learning loop a tokenizer trainer runs, built from the
# text_bpe_merge_step primitive. Distributed-BPE shape (Sennrich et al.
# 2016 + the trick every large-scale trainer uses): the corpus-sized work
# is ONE pass collapsing documents into the pretoken frequency table;
# every merge iteration then runs over the DISTINCT-pretoken vocab only
# (Σ symbols per vocab entry, independent of corpus size). Per iteration:
# pair counts = one map-side-combined hash agg over a ≤|sym-vocab|² key
# space, the winner is a bounded TakeOrderedAndProject (k=1), and the
# merge is applied with a greedy left-to-right FOLD over the symbol list
# (Spark aggregate() HOF / DuckDB list_reduce — see _bpe_apply_fold_sql:
# a plain string replace is WRONG on back-to-back pair occurrences
# because replace consumes the shared separator). Symbol sequences are
# space-joined; GPT-2's own whitespace remap (space->Ġ, \n->Ċ, \t->ĉ,
# \r->č) keeps the separator unambiguous. Bounded-iteration discipline
# (the MMR pattern): the vocab table and each 1-row winner are
# localCheckpoint-ed per step, so plans stay flat instead of growing a
# 2^K lineage; at 100 TB the checkpointed table is vocab-sized (the
# object a real trainer holds in memory anyway), never corpus-sized.
# Total tie-break (pair_count DESC, sym_a ASC, sym_b ASC) in both
# engines; counts are exact integers, so parity is exact.
# ---------------------------------------------------------------------------
_BPE_TRAIN_STEPS = 10


_BPE_CHAR_MAP = (
    # GPT-2-style whitespace remap so ' ' can separate symbols — plus
    # every character Java regex '.' excludes but RE2 '.' does not
    # (\x0B \x0C \u0085 \u2028 \u2029): without the remap the two
    # engines would split initial symbols differently on such input
    # (latent parity break; the test corpus is ASCII so it never fired).
    (" ", "Ġ"),
    ("chr(10)", "Ċ"),
    ("chr(9)", "ĉ"),
    ("chr(13)", "č"),
    ("chr(11)", "ċ"),
    ("chr(12)", "Č"),
    ("chr(133)", "Ė"),
    ("chr(8232)", "Ĺ"),
    ("chr(8233)", "Ľ"),
)


def _bpe_ws_map(col: str, d: str) -> str:
    """Separator-safety remap (see _BPE_CHAR_MAP) — DIALECT-AWARE.

    The chr(N) spelling is only safe on the DuckDB side: Spark's chr()
    wraps its argument at 256 (chr(8232) = '(' and chr(8233) = ')'), so a
    shared spelling would rewrite every paren in real text to the U+2028/
    U+2029 markers on the Spark side while never remapping the actual
    separators — corrupting text AND breaking oracle parity on any corpus
    containing '(' or ')' (the sf corpora happen to be paren-free, so
    the gate alone would not catch it). For Spark we embed
    the actual codepoint in the string literal (the SQL text is unicode;
    verified replace(t, '<U+2028>', ...) matches only the separator);
    DuckDB keeps chr(N), whose chr() does NOT wrap."""
    expr = col
    for raw, marker in _BPE_CHAR_MAP:
        if not raw.startswith("chr"):
            raw_sql = f"'{raw}'"
        elif d == "s" and int(raw[4:-1]) > 255:
            raw_sql = "'" + chr(int(raw[4:-1])) + "'"
        else:
            raw_sql = raw
        expr = f"replace({expr}, {raw_sql}, '{marker}')"
    return expr


def _bpe_sym_init(col: str, d: str) -> str:
    """Initial symbol sequence: one space-separated character per symbol
    ('.' matches one codepoint in both regex engines; DuckDB needs the
    explicit 'g' flag Spark applies by default)."""
    if d == "s":
        return f"trim(regexp_replace({_bpe_ws_map(col, d)}, '(.)', '$1 '))"
    return f"trim(regexp_replace({_bpe_ws_map(col, d)}, '(.)', '\\1 ', 'g'))"


def _bpe_apply_fold_sql(seq: str, a: str, b: str) -> str:
    """Apply one learned merge to a space-joined symbol sequence — DuckDB
    spelling of the greedy left-to-right fold. A plain string replace is
    WRONG here (found by review, verified empirically): back-to-back
    occurrences share the separator space, so replace(' a n a n ') merges
    only the first pair ('b an a n a' instead of BPE's 'b an an a'), and
    a run like 'a a a a' becomes 'aa a aa' instead of 'aa aa'. The fold
    consumes one ORIGINAL symbol at a time and merges when the
    accumulator's last element is `a` and the incoming symbol is `b` —
    merged tokens (a||b) can never re-match `a` in the same pass, which
    is exactly BPE's non-overlapping greedy application. Accumulator
    lists ride list_reduce's seed-is-first-element form (the _cusum_fold
    trick, lifted to VARCHAR[])."""
    ls = f"string_split({seq}, ' ')"
    return (
        "array_to_string(list_reduce("
        f"list_prepend([{ls}[1]], list_transform({ls}[2:], s -> [s])), "
        f"(acc, e) -> CASE WHEN acc[len(acc)] = {a} AND e[1] = {b} "
        f"THEN list_append(acc[1:len(acc)-1], {a} || {b}) "
        "ELSE list_append(acc, e[1]) END"
        "), ' ')"
    )


def bpe_apply_merge_col(col, a: str, b: str):
    """Spark twin of _bpe_apply_fold_sql over literal merge (a, b):
    aggregate() over the symbol tail with the head as seed — verified
    element-wise identical to the DuckDB fold and to a python greedy
    reference on back-to-back/run-of-k cases (tests/test_text_ops.py)."""
    syms = F.split(col, " ")
    head = F.slice(syms, 1, 1)
    tail = F.slice(syms, 2, F.size(syms) - 1)
    folded = F.aggregate(
        tail,
        head,
        lambda acc, s: F.when(
            (F.element_at(acc, -1) == F.lit(a)) & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return F.array_join(folded, " ")


def _bpe_chain_ctes(steps: int) -> list[str]:
    """DuckDB CTE chain: vocab v0, then per step k the pair counts p{k},
    the 1-row winner m{k}, and the merged vocab v{k} — the longhand
    unrolling of the training loop (the mmr_oracle chained-CTE pattern).

    AS MATERIALIZED is load-bearing: each v{k} is referenced twice
    (p{k+1} and v{k+1}), so inlined CTEs re-evaluate the whole prefix at
    every reference — 2^K blowup (measured: 36 s for K=10 at sf0.01
    inlined, <1 s materialized)."""
    parts = [
        f"tok AS (SELECT unnest({T.bpe_tokens_expr('text', 'd')}) AS token "
        "FROM documents)",
        "w AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)",
        "v0 AS MATERIALIZED (SELECT token, "
        f"{_bpe_sym_init('token', 'd')} AS symseq, cnt FROM w)",
    ]
    for k in range(1, steps + 1):
        parts.append(
            f"p{k} AS (SELECT ls[CAST(i AS INT)] AS sym_a, "
            "ls[CAST(i AS INT) + 1] AS sym_b, "
            "CAST(SUM(cnt) AS BIGINT) AS pair_count "
            "FROM (SELECT cnt, string_split(symseq, ' ') AS ls, "
            "unnest(range(1, len(string_split(symseq, ' ')))) AS i "
            f"FROM v{k - 1}) GROUP BY sym_a, sym_b)"
        )
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT CAST({k} AS BIGINT) AS step, "
            f"sym_a, sym_b, pair_count FROM p{k} "
            "ORDER BY pair_count DESC, sym_a ASC, sym_b ASC LIMIT 1)"
        )
        # LEFT JOIN ON TRUE: on a degenerate corpus a later m{k} is
        # EMPTY (no pairs left to merge); a cross join would empty every
        # following v{k} while the Spark loop break keeps its final vocab
        # — the NULL-guarded left join carries symseq through unchanged
        parts.append(
            f"v{k} AS MATERIALIZED (SELECT token, "
            "CASE WHEN m.sym_a IS NULL THEN symseq ELSE "
            f"{_bpe_apply_fold_sql('symseq', 'm.sym_a', 'm.sym_b')} END "
            f"AS symseq, cnt FROM v{k - 1} LEFT JOIN m{k} m ON TRUE)"
        )
    return parts


def _bpe_train(spark: SparkSession, sf_dir: str, steps: int = _BPE_TRAIN_STEPS):
    """Run the K-merge training loop once per (session, sf_dir); returns
    (merge table DF, final vocab DF with token/symseq/cnt). Shared because
    text_bpe_train reads the merges while text_bpe_encode and the BPE
    stream read the vocab, and re-training costs K collect round-trips.

    The 1-row argmax IS collected to the driver each step — deliberately:
    the learned merge rule is bounded trainer METADATA (K × 3 strings),
    exactly the object a real distributed-BPE trainer holds and
    broadcasts every round; corpus- and vocab-sized data never leaves
    executors. The vocab is localCheckpoint-ed EVERY step (the MMR
    bounded-iteration discipline): the greedy-fold application references
    the previous step's symseq several times (head/tail/size of the
    split), and Catalyst's CollapseProject inlines the referenced
    expression at every use — without the per-step truncation the
    expression tree grows ~4^K and a 10-step chain OOMs the driver during
    task serialization (observed on the vanilla 1g-heap session). The
    checkpointed table is vocab-sized, never corpus-sized. Shuffle
    partitions are pinned for the loop (vocab-sized aggregates; on a
    real cluster size this to the live vocab)."""

    def build() -> tuple:
        import pyarrow as pa

        from hive_server_spark.session import scoped_shuffle_partitions

        with scoped_shuffle_partitions(spark, 8):
            vocab = (
                _docs(spark, sf_dir)
                .select(
                    F.explode(F.expr(T.bpe_tokens_expr("text", "s"))).alias("token")
                )
                .groupBy("token")
                .agg(F.count("*").alias("cnt"))
                .select(
                    "token", F.expr(_bpe_sym_init("token", "s")).alias("symseq"), "cnt"
                )
                .localCheckpoint()
            )
            rows = []
            for k in range(1, steps + 1):
                # size >= 2 filter is load-bearing on the Spark side:
                # sequence(1, 0) DESCENDS ([1, 0]) instead of being empty
                pairs = (
                    vocab.select("cnt", F.split("symseq", " ").alias("ls"))
                    .where(F.size("ls") >= 2)
                    .select(
                        "cnt",
                        "ls",
                        F.explode(F.expr("sequence(1, size(ls) - 1)")).alias("i"),
                    )
                    .select(
                        F.expr("element_at(ls, i)").alias("sym_a"),
                        F.expr("element_at(ls, i + 1)").alias("sym_b"),
                        "cnt",
                    )
                    .groupBy("sym_a", "sym_b")
                    .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
                )
                top = (
                    pairs.orderBy(
                        F.desc("pair_count"), F.asc("sym_a"), F.asc("sym_b")
                    )
                    .limit(1)
                    .collect()
                )
                if not top:  # degenerate corpus: nothing left to merge
                    break
                a, b, cnt = top[0]["sym_a"], top[0]["sym_b"], top[0]["pair_count"]
                rows.append((k, a, b, cnt))
                # column-function fold (not an F.expr string): symbols
                # may contain quotes/regex metachars; literals need no
                # escaping here
                vocab = vocab.select(
                    "token",
                    bpe_apply_merge_col(F.col("symseq"), a, b).alias("symseq"),
                    "cnt",
                ).localCheckpoint()
        # an arrow table becomes a LocalTableScan (the rows live in the
        # plan; collecting it runs no job); a list of tuples would be a
        # Scan ExistingRDD with defaultParallelism partitions
        schema = pa.schema(
            [
                ("step", pa.int64()),
                ("sym_a", pa.string()),
                ("sym_b", pa.string()),
                ("pair_count", pa.int64()),
            ]
        )
        merges = spark.createDataFrame(
            pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in rows], schema=schema
            )
        )
        return merges, vocab

    return shared(spark, ("text:bpe_train", sf_dir), build)


_BPE_TRAIN_ORACLE = (
    "WITH "
    + ",\n".join(_bpe_chain_ctes(_BPE_TRAIN_STEPS))
    + "\n"
    + " UNION ALL ".join(
        f"SELECT step, sym_a, sym_b, pair_count FROM m{k}"
        for k in range(1, _BPE_TRAIN_STEPS + 1)
    )
)


@register("text_bpe_train", _BPE_TRAIN_ORACLE)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned K-step BPE merge table (step, sym_a, sym_b,
    pair_count) — the artifact a tokenizer trainer emits (see block
    comment for the distributed shape and the bounded-iteration
    discipline)."""
    merges, _vocab = _bpe_train(spark, sf_dir)
    return merges


# ---------------------------------------------------------------------------
# BPE corpus ENCODE: apply the trained merge table back to the
# corpus — the tokenization pass every training-data pipeline runs last.
# Same vocab trick in reverse: merges are applied once per DISTINCT
# pretoken (the final training vocab already holds the merged symbol
# sequences), and the corpus-sized side only needs per-(source, token)
# counts — a hash agg — joined vocab-to-vocab on token (AQE elects
# broadcast when the vocab is small; plain shuffle equi-join otherwise,
# hint-free). Reports per source: pretoken count, post-merge BPE token
# count, and micro-rounded symbols-per-pretoken — the compression a K-merge
# tokenizer actually achieves on each slice.
# ---------------------------------------------------------------------------
_BPE_ENCODE_ORACLE = (
    "WITH "
    + ",\n".join(_bpe_chain_ctes(_BPE_TRAIN_STEPS))
    + f""",
enc AS (SELECT token,
               CAST(len(string_split(symseq, ' ')) AS BIGINT) AS n_syms
        FROM v{_BPE_TRAIN_STEPS}),
stok AS (SELECT source, unnest({T.bpe_tokens_expr('text', 'd')}) AS token
         FROM documents),
sw AS (SELECT source, token, COUNT(*) AS cnt FROM stok GROUP BY source, token)
SELECT sw.source,
       CAST(SUM(sw.cnt) AS BIGINT) AS n_pretokens,
       CAST(SUM(sw.cnt * e.n_syms) AS BIGINT) AS n_bpe_tokens,
       CAST(round(1000000.0 * SUM(sw.cnt * e.n_syms) / SUM(sw.cnt)) AS BIGINT)
         AS syms_per_pretoken_micro
FROM sw JOIN enc e ON sw.token = e.token
GROUP BY sw.source
"""
)


@register("text_bpe_encode", _BPE_ENCODE_ORACLE)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenization census under the trained K-merge BPE:
    pretokens, post-merge tokens, micro-rounded symbols-per-pretoken (see
    block comment for the vocab-join shape)."""
    _merges, vocab = _bpe_train(spark, sf_dir)
    enc = vocab.select(
        "token", F.size(F.split("symseq", " ")).cast("bigint").alias("n_syms")
    )
    sw = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.explode(F.expr(T.bpe_tokens_expr("text", "s"))).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        sw.join(enc, "token")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_pretokens"),
            F.sum(F.col("cnt") * F.col("n_syms")).cast("bigint").alias("n_bpe_tokens"),
            F.round(
                1000000.0
                * F.sum(F.col("cnt") * F.col("n_syms"))
                / F.sum("cnt")
            )
            .cast("bigint")
            .alias("syms_per_pretoken_micro"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets, with BOUNDED threshold estimation:
# the canonical LM-quality partition (Wenzek et al. 2019, public) — per
# SOURCE, rank documents by their mean per-bigram NLL under the corpus LM
# and split at the 33rd/66th percentiles into head (most fluent) /
# middle / tail.
#
# Threshold estimation: an exact
# `percentile` over EVERY document of a source buffers every group value
# in the aggregation buffer — unbounded at 100 TB. CCNet itself never
# does that: it estimates the cut points on a held-out slice (Wenzek
# 2019 §3). Mirrored here, doubly bounded:
#   1. held-out slice = docs with seeded-hash(doc_id) % _CCNET_HELDOUT_MOD
#      == 0 — a map-side predicate, no shuffle, deterministic at any
#      parallelism (the text_deterministic_sample pattern);
#   2. per-source cap = the first _CCNET_HELDOUT_CAP slice docs by
#      (md5 draw key, doc_id) via the two-level grouped_topk — per-task
#      state is k-bounded, so the percentile's aggregation buffer holds
#      ≤ cap rows per source NO MATTER the corpus size (the buffer bound
#      the slice alone cannot give: corpus/K still grows with the corpus).
# Sources with no held-out doc fall back to the GLOBAL held-out
# thresholds (1 row, broadcast) — deterministic in both engines, and the
# exact percentile stays bit-reproducible (Spark `percentile` ≡ DuckDB
# `quantile_cont` on identical doubles, the rel_exact_percentiles
# precedent) because both engines see the identical capped slice.
# Scale: per-doc scores are the text_bigram_nll plan (gram-cache folds);
# the threshold table is |sources| rows LEFT-joined back under an
# explicit broadcast (its percentile aggregate carries no size estimate,
# so without the hint the join strategy would follow whatever else the
# session has cached); the bucket rollup is a bounded-key hash agg.
# Docs with < 2 tokens have no bigrams, no score, and no bucket —
# mirrored in both engines.
# ---------------------------------------------------------------------------
_CCNET_HELDOUT_MOD = 3  # ~1/3 of docs reach the capped draw; raise at scale
_CCNET_HELDOUT_CAP = 256  # exact-percentile buffer bound, per source

# Degenerate floor: if the whole held-out slice is empty (tiny corpora
# only), every threshold is NULL, both CASE comparisons are NULL, and
# every doc lands in ELSE 'tail' — the honest degenerate answer (no
# threshold evidence → nothing is distinguishably head/middle), output
# still corpus-complete, identical in both engines.
_CCNET_ORACLE = f"""
WITH nll AS ({_NLL_PER_DOC_ORACLE}),
per_doc AS (
  SELECT d.source, n.doc_id, n.n_bigrams,
         n.nll_micro_total // n.n_bigrams AS mean_micro
  FROM nll n JOIN documents d ON n.doc_id = d.doc_id
),
{_held_cte_d('per_doc', 'source', 'mean_micro', 'ccnet42',
             _CCNET_HELDOUT_MOD, _CCNET_HELDOUT_CAP)},
thr AS (
  SELECT source,
         quantile_cont(CAST(mean_micro AS DOUBLE), 0.33) AS t33,
         quantile_cont(CAST(mean_micro AS DOUBLE), 0.66) AS t66
  FROM held GROUP BY source
),
gthr AS (
  SELECT quantile_cont(CAST(mean_micro AS DOUBLE), 0.33) AS g33,
         quantile_cont(CAST(mean_micro AS DOUBLE), 0.66) AS g66
  FROM held
),
bucketed AS (
  SELECT p.source,
         CASE WHEN CAST(p.mean_micro AS DOUBLE) < COALESCE(t.t33, g.g33)
                THEN 'head'
              WHEN CAST(p.mean_micro AS DOUBLE) < COALESCE(t.t66, g.g66)
                THEN 'middle'
              ELSE 'tail' END AS bucket,
         p.n_bigrams, p.mean_micro
  FROM per_doc p LEFT JOIN thr t ON p.source = t.source CROSS JOIN gthr g
)
SELECT source, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams_total,
       CAST(SUM(mean_micro) AS BIGINT) AS mean_micro_sum
FROM bucketed GROUP BY source, bucket
"""


@register("text_ccnet_buckets", _CCNET_ORACLE)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source head/middle/tail perplexity buckets at the 33/66
    percentiles of the mean bigram-NLL score, thresholds estimated on a
    capped held-out slice (see block comment: CCNet's own method, and the
    only shape whose percentile buffer is bounded at 100 TB)."""
    nll = text_bigram_nll(spark, sf_dir)
    per_doc = nll.select(
        "doc_id",
        "n_bigrams",
        F.expr("nll_micro_total DIV n_bigrams").alias("mean_micro"),
    ).join(_docs(spark, sf_dir).select("doc_id", "source"), "doc_id")
    held = _capped_heldout(
        per_doc, "source", "mean_micro", "ccnet42",
        _CCNET_HELDOUT_MOD, _CCNET_HELDOUT_CAP,
    )
    thr = held.groupBy("source").agg(
        F.percentile(F.col("mean_micro").cast("double"), 0.33).alias("t33"),
        F.percentile(F.col("mean_micro").cast("double"), 0.66).alias("t66"),
    )
    gthr = held.agg(
        F.percentile(F.col("mean_micro").cast("double"), 0.33).alias("g33"),
        F.percentile(F.col("mean_micro").cast("double"), 0.66).alias("g66"),
    )
    bucketed = (
        per_doc.join(F.broadcast(thr), "source", "left")
        .crossJoin(F.broadcast(gthr))
        .select(
            "source",
            F.when(
                F.col("mean_micro").cast("double")
                < F.coalesce("t33", "g33"),
                "head",
            )
            .when(
                F.col("mean_micro").cast("double")
                < F.coalesce("t66", "g66"),
                "middle",
            )
            .otherwise("tail")
            .alias("bucket"),
            "n_bigrams",
            "mean_micro",
        )
    )
    return bucketed.groupBy("source", "bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("n_bigrams_total"),
        F.sum("mean_micro").cast("bigint").alias("mean_micro_sum"),
    )


# ---------------------------------------------------------------------------
# Hashed-feature linear scorer: the fastText-shaped quality
# classifier every big curation pipeline applies at full corpus scale
# (CCNet's LM filter, LLaMA's wiki-reference classifier) reduced to its
# distributed essence — feature hashing (bigrams → 2^12 buckets via the
# seeded md5 hash both engines share) and a sparse dot product with a
# fixed weight table. Weights are a deterministic function of the bucket
# id (a Knuth multiplicative hash mapped to [-1000, 1000]), so the model
# ships as an expression instead of a side table and the whole scorer is
# map + one doc-keyed hash agg — zero joins, zero floats, exactly the
# shape a broadcast weight-vector scorer has at 100 TB. Score and
# decision are integer-exact in both engines.
# ---------------------------------------------------------------------------
_HASHFEAT_BUCKETS = 4096
_HASHFEAT_KNUTH = 2654435761


def _hashfeat_weight(bucket: str) -> str:
    """Deterministic weight in [-1000, 1000] for a feature bucket id —
    identical integer arithmetic in both dialects."""
    return f"(({bucket}) * {_HASHFEAT_KNUTH}) % 2001 - 1000"


_HASHFEAT_ORACLE = f"""
WITH {_TOKS_CTE_D},
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM toks WHERE len(toks) >= 2
),
inst AS (
  SELECT doc_id, bigram, COUNT(*) AS m FROM bg GROUP BY doc_id, bigram
),
feats AS (
  SELECT doc_id, m,
         {T.hash_expr('bigram', 'feat', 'd')} % {_HASHFEAT_BUCKETS} AS bucket
  FROM inst
)
SELECT doc_id,
       CAST(SUM(m) AS BIGINT) AS n_feature_instances,
       CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets_hit,
       CAST(SUM(m * ({_hashfeat_weight('bucket')})) AS BIGINT) AS score_units,
       SUM(m * ({_hashfeat_weight('bucket')})) > 0 AS kept
FROM feats GROUP BY doc_id
"""


@register("text_hash_features_score", _HASHFEAT_ORACLE)
def text_hash_features_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document hashed-bigram linear-classifier score and keep
    decision (see block comment; integer weights, zero joins)."""
    inst = (
        _gram_counts(spark, sf_dir)
        .where(F.col("gram_size") == 2)
        .select("doc_id", F.col("gram").alias("bigram"), F.col("c").alias("m"))
    )
    feats = inst.select(
        "doc_id",
        "m",
        (
            F.expr(T.hash_expr("bigram", "feat", "s")) % _HASHFEAT_BUCKETS
        ).alias("bucket"),
    )
    w = F.expr(_hashfeat_weight("bucket"))
    return feats.groupBy("doc_id").agg(
        F.sum("m").cast("bigint").alias("n_feature_instances"),
        F.count_distinct("bucket").cast("bigint").alias("n_buckets_hit"),
        F.sum(F.col("m") * w).cast("bigint").alias("score_units"),
        (F.sum(F.col("m") * w) > 0).alias("kept"),
    )
