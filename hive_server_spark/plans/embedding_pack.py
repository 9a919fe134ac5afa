"""Gate queries for the similarity-search surface (functions/embeddings.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_server_spark.catalog import load_table
from hive_server_spark.functions import embeddings as E
from hive_server_spark.functions.text import spread
from hive_server_spark.registry import register
from hive_server_spark.session_cache import shared


# The embeddings table is every ANN query's working set, and each query
# walks it several times in one plan (corpus scan, coarse-codebook slice,
# query slice, PQ sub-centroid slice, exact re-rank) — unshared, every walk
# re-scans parquet and re-runs spread()'s rebalance. Rebalance once per
# (session, sf_dir), the same architecture statement as gate._orders_state:
# a deployed ANN index keeps its vector table resident (that is what an
# index IS); the per-query cost is the InMemoryTableScan, not a re-read.
def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        spark,
        ("emb:working_set", sf_dir),
        lambda: spread(load_table(spark, sf_dir, "embeddings")),
    )


@register("emb_cosine_topk", E.topk_oracle(query_vec_id=0, k=10, within_label=False))
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for stored query vector 0 — the exactness
    baseline every ANN variant is measured against."""
    return E.cosine_topk(_emb(spark, sf_dir), query_vec_id=0, k=10)


@register("emb_ivf_topk", E.topk_oracle(query_vec_id=0, k=10, within_label=True))
def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style top-10: scan restricted to the query's label partition (the
    coarse-quantizer cell). At scale: partition the table by label and this
    prunes to one partition."""
    return E.cosine_topk(_emb(spark, sf_dir), query_vec_id=0, k=10, within_label=True)


@register("emb_lsh_buckets", E.buckets_oracle())
def emb_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket assignment for every vector (1024 buckets)."""
    return E.lsh_buckets(_emb(spark, sf_dir))


@register("emb_lsh_neardup_topk", E.neardup_oracle(k=20))
def emb_lsh_neardup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar pairs among LSH same-bucket candidates — the
    scale path for embedding near-dup detection."""
    return E.lsh_neardup_topk(_emb(spark, sf_dir), k=20)


# ---------------------------------------------------------------------------
# int8 scalar quantization profile — the storage/serving compression step of
# an ANN pipeline (256-level per-vector min-max quantizer). Everything is a
# per-row projection (no shuffle); exactness discipline: every element is
# CAST to DOUBLE before arithmetic (float→double is exact, and mixed-
# precision promotion rules differ between engines), codes use floor (no
# round-half ambiguity), the code sum is an in-order BIGINT fold, and the
# reconstruction error surfaces as an order-insensitive array max — all
# bit-identical in Spark and DuckDB.
# ---------------------------------------------------------------------------
def _quant_exprs(d: str) -> dict[str, str]:
    """Dialect-dispatched expression fragments ('s' = Spark, 'd' = DuckDB)."""
    tr, amin, amax, alen = (
        ("transform", "array_min", "array_max", "size")
        if d == "s"
        else ("list_transform", "list_min", "list_max", "len")
    )
    xd = "CAST(x AS DOUBLE)"
    code = f"CAST(floor(({xd} - mn) / (mx - mn) * 255.0) AS BIGINT)"
    err = (
        f"abs({xd} - (mn + (CAST({code} AS DOUBLE) + 0.5) / 256.0 * (mx - mn)))"
    )
    if d == "s":
        code_sum = (
            f"aggregate(embedding, CAST(0 AS BIGINT), (acc, x) -> acc + {code})"
        )
    else:
        code_sum = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"{tr}(embedding, x -> {code})), (acc, c) -> acc + c)"
        )
    return {
        "mn": f"CAST({amin}(embedding) AS DOUBLE)",
        "mx": f"CAST({amax}(embedding) AS DOUBLE)",
        "n_dims": f"CAST({alen}(embedding) AS BIGINT)",
        "code_sum": code_sum,
        "max_abs_err": f"{amax}({tr}(embedding, x -> {err}))",
    }


_QS, _QD = _quant_exprs("s"), _quant_exprs("d")

_QUANT_ORACLE = f"""
WITH ranged AS (
  SELECT vec_id, label, embedding,
         {_QD["mn"]} AS mn, {_QD["mx"]} AS mx
  FROM embeddings
)
SELECT vec_id, label,
       {_QD["n_dims"]} AS n_dims,
       mn AS v_min, mx AS v_max,
       CASE WHEN mx = mn THEN 0 ELSE {_QD["code_sum"]} END AS code_sum,
       CASE WHEN mx = mn THEN 0.0 ELSE {_QD["max_abs_err"]} END AS max_abs_err
FROM ranged
"""


@register("emb_int8_quantization", _QUANT_ORACLE)
def emb_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization profile: value range, exact BIGINT code
    checksum, and the max absolute reconstruction error of the 256-level
    min-max quantizer (constant vectors degenerate to code 0 / error 0)."""
    from pyspark.sql import functions as F

    ranged = _emb(spark, sf_dir).select(
        "vec_id",
        "label",
        "embedding",
        F.expr(_QS["mn"]).alias("mn"),
        F.expr(_QS["mx"]).alias("mx"),
    )
    return ranged.select(
        "vec_id",
        "label",
        F.expr(_QS["n_dims"]).alias("n_dims"),
        F.col("mn").alias("v_min"),
        F.col("mx").alias("v_max"),
        F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("bigint"))
        .otherwise(F.expr(_QS["code_sum"]))
        .alias("code_sum"),
        F.when(F.col("mx") == F.col("mn"), F.lit(0.0))
        .otherwise(F.expr(_QS["max_abs_err"]))
        .alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# one Lloyd iteration, exact-checkable (round 6): seeds are vec_id 0..7,
# assignment via bit-deterministic in-order L2^2 folds with min(struct(d2,
# cid)) tie-breaking, centroid update as fixed-point micro-unit sums so the
# per-(cluster, dim) output hash-matches across engines (the house float
# rule: the only float is one exact-int division). This is the iterative-
# refinement building block an IVF coarse quantizer trains with; each
# iteration is a broadcast + map-only assignment + (cluster, dim)-keyed
# partial-sum shuffle — Lloyd in map-reduce normal form.
# ---------------------------------------------------------------------------
@register("emb_kmeans_update", E.kmeans_oracle(k=8))
def emb_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every embedding to the nearest of 8 seed centroids and emit
    the full recomputed centroid (one row per cluster x dimension, in
    micro-units) plus cluster populations."""
    return E.kmeans_update(_emb(spark, sf_dir), k=8)


@register("emb_semantic_dedup", E.semantic_dedup_oracle())
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup over the injected-duplicate corpus:
    LSH candidate discovery -> cosine >= 0.999 edges -> connected
    components (iterative label propagation; oracle recomputes them as a
    recursive-CTE closure) -> min-vec_id representative + cluster size for
    every vector. The keep-set a 100 TB embedding-dedup pass emits is
    exactly the is_representative = true rows."""
    return E.semantic_dedup(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# PCA moment matrix (round 6): the single-pass second-moment accumulation
# that whitening / PCA / low-rank projection of an embedding corpus starts
# from — per dimension pair (i <= j), the exact co-moment sum plus per-dim
# first-moment sums, from which covariance falls out in closed form.
# Exactness discipline: every element is quantized ONCE to integer micro
# units (CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT) — float→double is
# exact and the product is single-rounded, so the code is bit-identical
# cross-engine), and all accumulation is BIGINT — order-free under any
# partitioning. The one double per row is an identically-shaped closed-form
# expression over those exact ints. Scale shape: the pair explode is
# d(d+1)/2 per row — the inherent arithmetic cost of a d x d moment matrix
# — and the shuffle after the map-side-combined (i, j) aggregate is
# d(d+1)/2 rows PER PARTITION, independent of corpus size; the two
# per-dim sum tables are d rows and broadcast back. Overflow headroom:
# |x| < 1 → |q| < 1e6 → per-row product < 1e12; 2^63 accommodates ~9e6x
# more rows than sf0.1 before the sum needs decimal widening.
# ---------------------------------------------------------------------------
def _q_expr(x: str) -> str:
    return f"CAST(floor(CAST({x} AS DOUBLE) * 1000000.0) AS BIGINT)"


_PCA_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> {_q_expr('x')}) AS q
  FROM embeddings
),
d AS (
  SELECT vec_id, unnest(q) AS qv,
         CAST(unnest(range(1, len(q)+1)) AS BIGINT) AS i
  FROM q
),
dims AS (
  SELECT i, CAST(SUM(qv) AS BIGINT) AS sum_q, CAST(COUNT(*) AS BIGINT) AS n
  FROM d GROUP BY i
),
pairs AS (
  SELECT a.i AS i, b.i AS j,
         CAST(SUM(a.qv * b.qv) AS BIGINT) AS sum_pp,
         CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM d a JOIN d b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
)
SELECT p.i AS dim_i, p.j AS dim_j, p.n_vectors,
       di.sum_q AS sum_qi, dj.sum_q AS sum_qj, p.sum_pp,
       (CAST(p.sum_pp AS DOUBLE) / CAST(p.n_vectors AS DOUBLE)
        - (CAST(di.sum_q AS DOUBLE) / CAST(p.n_vectors AS DOUBLE))
          * (CAST(dj.sum_q AS DOUBLE) / CAST(p.n_vectors AS DOUBLE)))
       / 1000000000000.0 AS cov
FROM pairs p JOIN dims di ON p.i = di.i JOIN dims dj ON p.j = dj.i
"""


@register("emb_pca_moments", _PCA_ORACLE)
def emb_pca_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangular co-moment matrix of the embedding corpus in exact
    integer micro-units, with the covariance as a closed-form double —
    one row per dimension pair (i <= j, 1-based). The pair products are
    built per row as a flattened transform-over-slices (quantize inline,
    no array materialization to re-inline), exploded, and aggregated with
    map-side combine; the d-row per-dim sums broadcast back."""
    from pyspark.sql import functions as F

    # the pair build is d(d+1)/2 products per row and CPU-bound; the bench
    # corpus arrives as ONE parquet split, so rebalance the narrow
    # (vec_id, embedding) projection to full parallelism first — at real
    # scale the scan is already wide and this is a cheap no-op rebalance
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    emb = emb.repartition(spark.sparkContext.defaultParallelism)
    q = _q_expr("x")
    qi, qj = _q_expr("xi"), _q_expr("xj")
    pairs_expr = (
        "flatten(transform(embedding, (xi, i) -> "
        "transform(slice(embedding, i + 1, size(embedding) - i), (xj, j) -> "
        f"struct(CAST(i + 1 AS BIGINT) AS i, CAST(i + j + 1 AS BIGINT) AS j, "
        f"{qi} * {qj} AS pp))))"
    )
    pairs = (
        emb.select(F.explode(F.expr(pairs_expr)).alias("e"))
        .select("e.i", "e.j", "e.pp")
        .groupBy("i", "j")
        .agg(
            F.sum("pp").cast("bigint").alias("sum_pp"),
            F.count("*").cast("bigint").alias("n_vectors"),
        )
    )
    dims = (
        emb.select(F.posexplode("embedding").alias("i0", "x"))
        .select(
            (F.col("i0") + 1).cast("bigint").alias("i"),
            F.expr(q).alias("qv"),
        )
        .groupBy("i")
        .agg(
            F.sum("qv").cast("bigint").alias("sum_q"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    di = dims.select(F.col("i"), F.col("sum_q").alias("sum_qi"))
    dj = dims.select(F.col("i").alias("j"), F.col("sum_q").alias("sum_qj"))
    return (
        pairs.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .selectExpr(
            "i AS dim_i",
            "j AS dim_j",
            "n_vectors",
            "sum_qi",
            "sum_qj",
            "sum_pp",
            "(CAST(sum_pp AS DOUBLE) / CAST(n_vectors AS DOUBLE)"
            " - (CAST(sum_qi AS DOUBLE) / CAST(n_vectors AS DOUBLE))"
            "   * (CAST(sum_qj AS DOUBLE) / CAST(n_vectors AS DOUBLE)))"
            " / 1000000000000.0 AS cov",
        )
    )


# ---------------------------------------------------------------------------
# IVF index build artifact (round 6): the posting-list census an IVF index
# materializes after training — every vector assigned to its nearest seed
# centroid (same bit-deterministic assignment as emb_kmeans_update), then
# per cell: population, corpus share, an exact posting-list checksum
# (sum of member vec_ids), and the quantization distortion (sum of
# micro-floored L2² to the assigned centroid — the quantity IVF training
# minimizes; cells with high mean distortion need splitting). Completes
# the ANN lifecycle: kmeans trains, THIS builds, ivf_topk searches.
# Exactness: d2 is the in-order IEEE fold (bit-identical cross-engine),
# micro-floored per row before the BIGINT sum; the doubles are single
# divisions of exact ints. Scale: broadcast k centroids, map-only assign,
# k-row aggregate — the 1-row total broadcasts back.
# ---------------------------------------------------------------------------
_IVF_K = 8


def _ivf_build_oracle(
    k: int = _IVF_K, micro: int = 1_000_000, where: str = ""
) -> str:
    # `where` scopes the corpus (e.g. the delete-maintenance rebuild over
    # the surviving vectors); it must never touch the vec_id < k seeds —
    # the callers' predicates all carry an explicit vec_id >= k guard.
    return f"""
WITH vec AS (
  SELECT vec_id, {E.vec_expr('embedding', 'd')} AS v FROM embeddings{where}
),
c AS (SELECT vec_id AS cid, v AS cv FROM vec WHERE vec_id < {k}),
d AS (
  SELECT vec.vec_id, c.cid,
         {E.sqdist_expr('vec.v', 'c.cv', 'd')} AS d2
  FROM vec CROSS JOIN c
), a AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM a)
SELECT CAST(cid AS BIGINT)                 AS cluster_id,
       CAST(COUNT(*) AS BIGINT)            AS n_vecs,
       CAST(COUNT(*) AS DOUBLE) / CAST(nv AS DOUBLE) AS share,
       CAST(SUM(vec_id) AS BIGINT)         AS posting_checksum,
       CAST(SUM(CAST(floor(d2 * {micro}.0) AS BIGINT)) AS BIGINT)
                                           AS sum_d2_micro,
       CAST(SUM(CAST(floor(d2 * {micro}.0) AS BIGINT)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE)        AS mean_d2_micro
FROM a CROSS JOIN tot
GROUP BY cid, nv
"""


@register("emb_ivf_build", _ivf_build_oracle())
def emb_ivf_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-IVF-cell build census: population, corpus share, posting-list
    checksum, and exact fixed-point quantization distortion against the
    assigned seed centroid."""
    from pyspark.sql import functions as F

    vec = E._vecs(_emb(spark, sf_dir)).select("vec_id", "v")
    cent = vec.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    assigned = (
        vec.crossJoin(F.broadcast(cent))
        .withColumn("d2", F.expr(E.sqdist_expr("v", "cv", "s")))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"), F.col("m.d2").alias("d2"))
    )
    tot = assigned.agg(F.count("*").cast("bigint").alias("nv"))
    per = assigned.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum("vec_id").cast("bigint").alias("posting_checksum"),
        F.sum(F.expr("CAST(floor(d2 * 1000000.0) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_d2_micro"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("cid").cast("bigint").alias("cluster_id"),
        "n_vecs",
        (F.col("n_vecs").cast("double") / F.col("nv").cast("double")).alias("share"),
        "posting_checksum",
        "sum_d2_micro",
        (
            F.col("sum_d2_micro").cast("double") / F.col("n_vecs").cast("double")
        ).alias("mean_d2_micro"),
    )


# ---------------------------------------------------------------------------
# L2-norm audit (round 6): the pre-flight check every cosine/ANN pipeline
# owes itself — per vector, the squared-norm in-order IEEE fold (the same
# bit-deterministic accumulation dot_expr/cosine use), the norm in exact
# micro-units (sqrt is correctly rounded by IEEE 754 — the one libm-safe
# root), and a unit-norm flag at 1% tolerance. Vectors failing the flag
# would silently skew any dot-product-as-cosine shortcut. Map-only scan.
# ---------------------------------------------------------------------------
def _norm_audit_oracle() -> str:
    ssq = E.dot_expr("v", "v", "d")
    return f"""
WITH vec AS (SELECT vec_id, {E.vec_expr('embedding', 'd')} AS v FROM embeddings)
SELECT CAST(vec_id AS BIGINT)      AS vec_id,
       CAST(len(v) AS BIGINT)      AS n_dims,
       {ssq}                       AS ssq,
       CAST(floor(sqrt({ssq}) * 1000000.0) AS BIGINT) AS norm_micro,
       abs(sqrt({ssq}) - 1.0) <= 0.01 AS is_unit
FROM vec
"""


@register("emb_norm_audit", _norm_audit_oracle())
def emb_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector squared norm (bit-deterministic fold), micro-unit norm,
    and the 1%-tolerance unit-norm flag."""
    from pyspark.sql import functions as F

    ssq = E.dot_expr("v", "v", "s")
    return E._vecs(_emb(spark, sf_dir)).selectExpr(
        "CAST(vec_id AS BIGINT) AS vec_id",
        "CAST(size(v) AS BIGINT) AS n_dims",
        f"{ssq} AS ssq",
        f"CAST(floor(sqrt({ssq}) * 1000000.0) AS BIGINT) AS norm_micro",
        f"abs(sqrt({ssq}) - 1.0) <= 0.01 AS is_unit",
    )


@register("emb_truncated_recall", E.truncated_recall_oracle())
def emb_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style ANN quality audit: recall@10 of cosine top-k under
    dimension truncation (first 8/16/32 of 64 dims) vs the exact full-dim
    ranking — the measurement that decides how small a truncated index can
    be before it loses the neighbors it exists to find."""
    return E.truncated_recall(_emb(spark, sf_dir))


@register("emb_pq_codes", E.pq_codes_oracle())
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook assignment: each vector split into 8
    subspaces, each subspace assigned to the nearest of 4 deterministic
    sub-centroids, packed into one integer code with exact micro-unit
    total distortion — the PQ half of an IVF-PQ index build."""
    return E.pq_codes(_emb(spark, sf_dir))


@register("emb_pq_adc_topk", E.pq_adc_topk_oracle())
def emb_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search: top-10 nearest stored vectors to the
    query under the codes-only ADC metric (32-entry broadcast LUT +
    bounded decode explode), with the exact L2² micro-distance re-rank
    joined onto the ≤k survivors — the read path of the PQ index whose
    build is `emb_pq_codes`."""
    return E.pq_adc_topk(_emb(spark, sf_dir))


@register("emb_ivfpq_topk", E.ivfpq_topk_oracle())
def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed top-k: coarse routing to the query's 2 nearest of
    8 cells, ADC over the stored codes of ONLY the probed cells
    (candidate restriction applied before the decode explode, so scanned
    work shrinks by ~nprobe/nlist exactly as the index promises), exact
    re-rank of the ≤k survivors. Completes the ANN lifecycle:
    emb_kmeans_update trains, emb_ivf_build builds, emb_pq_codes
    compresses, emb_pq_adc_topk serves flat, THIS serves the routed
    index."""
    return E.ivfpq_topk(_emb(spark, sf_dir))


@register("emb_ivfpq_batch_topk", E.ivfpq_batch_topk_oracle(n_queries=8, k=3))
def emb_ivfpq_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF-PQ retrieval: a query TABLE (8 bounded queries) routes
    to its nprobe cells, candidates restrict via the broadcast routing
    table (map-side — no corpus shuffle to route), PQ codes decode once
    per DISTINCT candidate, ADC sums against a broadcast per-query LUT,
    and per-query top-3 comes from the two-level grouped_topk — the
    batch-amortized read path a deployed index serves a query stream
    with (see functions/embeddings.py block comment)."""
    return E.ivfpq_batch_topk(_emb(spark, sf_dir), n_queries=8, k=3)


@register("emb_hard_negatives", E.hard_negatives_oracle(n_anchors=8, k=3))
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: top-3 most-similar DIFFERENT-label
    vectors per bounded anchor, via the two-level grouped_topk (no
    corpus-sized per-anchor window sort — see functions/embeddings.py)."""
    return E.hard_negatives(_emb(spark, sf_dir), n_anchors=8, k=3)


@register("emb_ivf_recall_curve", E.ivf_recall_oracle(query_vec_id=0, k=10))
def emb_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 vs nprobe (1/2/4 of 8 cells) for exact cell-restricted
    search against the full-scan ground truth — the routing-loss half of
    the ANN recall budget (emb_ivfpq_topk covers the quantization half)."""
    return E.ivf_recall_curve(_emb(spark, sf_dir), query_vec_id=0, k=10)


@register("emb_bitext_mining", E.bitext_oracle())
def emb_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCMatrix-style bitext mining: per zh document, the top-1 en document
    among LSH co-bucket candidates (coarse 4-plane buckets — see
    functions/embeddings.py for the recall-vs-precision stance)."""
    return E.bitext_mining(
        load_table(spark, sf_dir, "documents"), _emb(spark, sf_dir)
    )


@register("emb_mmr_diverse_topk", E.mmr_oracle(query_vec_id=0))
def emb_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking of the cosine top-25 pool down to 5 (λ=0.7);
    the iterative selection runs over BOUNDED sets only — see
    functions/embeddings.py for the step-exactness discipline."""
    return E.mmr_diverse_topk(_emb(spark, sf_dir), query_vec_id=0)


@register("emb_semantic_decontaminate", E.semantic_decontaminate_oracle())
def emb_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-leakage sweep against the vec_id % 101 holdout
    (the semantic twin of text_decontaminate — see functions/embeddings.py
    for the broadcast-bench / coarse-bucket stance)."""
    return E.semantic_decontaminate(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# Incremental IVF index maintenance. The
# embeddings twin of docs_neardup_incremental: the IVF index is a
# first-class PERSISTED artifact between corpus snapshots — centroids
# plus a per-cell census (population, posting checksum, distortion sum),
# every column a SUM/COUNT monoid. A refresh assigns ONLY the new batch
# against the persisted centroids and merges k rows:
#
#   1. the prior snapshot (vec_id-ordered first half) writes centroids +
#      its per-cell census partials to parquet;
#   2. the NEW batch (second half) assigns against the centroids READ
#      BACK from the index — the prior corpus is never rescanned;
#   3. census partials merge by cell (additive monoid), then share /
#      mean distortion derive from the merged sums.
#
# The merged census must equal emb_ivf_build's full-corpus rebuild
# EXACTLY (same fixed seed centroids, bit-deterministic assignment, and
# the micro-flooring happens per row BEFORE the sums — floor-then-sum is
# what makes the partial sums mergeable without re-rounding drift), so
# the oracle IS the full-rebuild oracle. Scale: per refresh the cost is
# O(batch) map-side assignment + a k-row merge; at 100 TB the index
# census is k rows regardless of corpus size.
# ---------------------------------------------------------------------------


def _ivf_partial_census(vec: DataFrame, cent: DataFrame) -> DataFrame:
    """Per-cell additive census partials (n_vecs, posting_checksum,
    sum_d2_micro) for `vec` against broadcast centroids — the mergeable
    building block shared by the prior-snapshot build and the batch
    refresh."""
    from pyspark.sql import functions as F

    assigned = (
        vec.crossJoin(F.broadcast(cent))
        .withColumn("d2", F.expr(E.sqdist_expr("v", "cv", "s")))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"), F.col("m.d2").alias("d2"))
    )
    return assigned.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum("vec_id").cast("bigint").alias("posting_checksum"),
        F.sum(F.expr("CAST(floor(d2 * 1000000.0) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_d2_micro"),
    )


def _merge_census(parts: DataFrame) -> DataFrame:
    """Fold additive census partials (the _ivf_partial_census monoid) —
    the ONE spelling of the merge, shared by the batch-incremental
    refresh and the streaming ingest so they cannot drift."""
    from pyspark.sql import functions as F

    return parts.groupBy("cid").agg(
        F.sum("n_vecs").cast("bigint").alias("n_vecs"),
        F.sum("posting_checksum").cast("bigint").alias("posting_checksum"),
        F.sum("sum_d2_micro").cast("bigint").alias("sum_d2_micro"),
    )


def _census_report(census: DataFrame) -> DataFrame:
    """The final build-census projection (share + mean distortion) over a
    merged census — emb_ivf_build's output shape, shared by every census
    producer."""
    from pyspark.sql import functions as F

    tot = census.agg(F.sum("n_vecs").cast("bigint").alias("nv"))
    return census.crossJoin(F.broadcast(tot)).select(
        F.col("cid").cast("bigint").alias("cluster_id"),
        "n_vecs",
        (F.col("n_vecs").cast("double") / F.col("nv").cast("double")).alias(
            "share"
        ),
        "posting_checksum",
        "sum_d2_micro",
        (
            F.col("sum_d2_micro").cast("double") / F.col("n_vecs").cast("double")
        ).alias("mean_d2_micro"),
    )


@register("emb_ivf_incremental", _ivf_build_oracle())
def emb_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist the prior snapshot's IVF index (centroids + per-cell census
    partials), then fold a new embedding batch in by assigning ONLY the
    batch against the read-back centroids and merging the additive census
    — must equal the full-corpus rebuild (emb_ivf_build's oracle)."""
    import os

    from pyspark.sql import functions as F

    from hive_server_spark.session import session_scratch

    vec = E._vecs(_emb(spark, sf_dir)).select("vec_id", "v")
    mn, mx = vec.agg(F.min("vec_id"), F.max("vec_id")).first()
    thr = (mn + mx) // 2
    # stable per-process path + overwrite semantics (ADVICE r11): reruns
    # replace the persisted index instead of accumulating /tmp dirs
    work = session_scratch("ivf_incr")
    cent_path = os.path.join(work, "centroids")
    census_path = os.path.join(work, "census")

    # --- prior snapshot run: write the index ---------------------------
    cent = vec.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    cent.write.mode("overwrite").parquet(cent_path)
    _ivf_partial_census(vec.where(F.col("vec_id") < thr), cent).write.mode(
        "overwrite"
    ).parquet(census_path)

    # --- refresh run: batch-only assignment + k-row monoid merge -------
    cent_back = spark.read.parquet(cent_path)
    batch_census = _ivf_partial_census(
        vec.where(F.col("vec_id") >= thr), cent_back
    )
    merged = _merge_census(
        spark.read.parquet(census_path).unionByName(batch_census)
    )
    return _census_report(merged)


# ---------------------------------------------------------------------------
# Incremental PQ code maintenance. Extends the
# emb_ivf_incremental persisted-state pattern to the PQ codes table
# (VERDICT r10 item 5): the PQ index between corpus snapshots is TWO
# parquet artifacts — the codebook (cid, cv) and the per-vector codes
# table — and a refresh
#
#   1. encodes ONLY the new batch (vec_id-ordered second half) against
#      the codebook READ BACK from the index (pq_codes_from_vecs'
#      `cent` parameter) — prior vectors are never rescanned;
#   2. APPENDS the batch codes to the read-back prior codes — per-vector
#      rows are disjoint by construction, so the union IS the merge
#      (append-only, no rewrite of prior codes).
#
# Refresh ≡ rebuild holds exactly: assignment is per-(vector, subspace)
# against the same broadcast codebook with the deterministic (d2, cid)
# struct-min tie-break, and the micro-flooring happens per subspace
# BEFORE the per-vector sum — so batch-encoded rows are bit-identical to
# full-rebuild rows and the oracle IS pq_codes_oracle(). Scale: per
# refresh the cost is O(batch × m) map-side work + an append; at 100 TB
# the prior codes table is storage, not compute.
# ---------------------------------------------------------------------------
@register("emb_pq_incremental", E.pq_codes_oracle())
def emb_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist the prior snapshot's PQ index (codebook + per-vector codes),
    then fold a new embedding batch in by encoding ONLY the batch against
    the read-back codebook and appending — must equal the full-corpus
    rebuild (emb_pq_codes' oracle) row for row."""
    import os

    from pyspark.sql import functions as F

    from hive_server_spark.session import session_scratch

    vec = E._vecs(_emb(spark, sf_dir)).select("vec_id", "v")
    mn, mx = vec.agg(F.min("vec_id"), F.max("vec_id")).first()
    thr = (mn + mx) // 2
    # stable per-process path + overwrite semantics (ADVICE r11)
    work = session_scratch("pq_incr")
    cb_path = os.path.join(work, "codebook")
    codes_path = os.path.join(work, "codes")

    # --- prior snapshot run: write the index ---------------------------
    cent = vec.where(F.col("vec_id") < E.PQ_KSUB).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    cent.write.mode("overwrite").parquet(cb_path)
    # encode the prior half against the EXPLICIT full codebook — never
    # let it re-derive seeds from its own slice: if the id midpoint ever
    # fell below ksub, self-seeding would silently truncate the codebook
    # and break refresh ≡ rebuild
    E.pq_codes_from_vecs(
        vec.where(F.col("vec_id") < thr), cent=cent
    ).write.mode("overwrite").parquet(codes_path)

    # --- refresh run: batch-only encode + append -----------------------
    cent_back = spark.read.parquet(cb_path)
    batch_codes = E.pq_codes_from_vecs(
        vec.where(F.col("vec_id") >= thr), cent=cent_back
    )
    return spark.read.parquet(codes_path).unionByName(batch_codes)


# ---------------------------------------------------------------------------
# PQ codebook training. One Lloyd iteration per subspace — the
# training step that completes the PQ lifecycle: emb_kmeans_update trains
# the coarse quantizer, THIS trains the sub-quantizers, emb_pq_codes
# encodes, emb_pq_adc_topk serves, emb_pq_incremental maintains. Parity
# is already pinned by tests/test_embeddings.py on the sf corpus.
# ---------------------------------------------------------------------------
@register("emb_pq_train", E.pq_train_oracle())
def emb_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace Lloyd iteration over the embedding corpus: one row per
    (subspace, sub-centroid, dim) with exact fixed-point means (see
    functions/embeddings.py::pq_train_update)."""
    return E.pq_train_update(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# Two-stage IVF-PQ serving with exact re-rank. The standard production ANN
# recipe the single-stage read path stops short of: ADC ranks a bounded
# SHORTLIST from the probed cells, then ONLY the shortlist is re-ranked by
# exact distance — recovering exact-metric order for the price of
# `shortlist` full-vector distance computations. Pure composition of the
# existing lifecycle pieces (stage 1 IS emb_ivfpq_topk's machinery), so the
# two-stage gate cannot drift from the single-stage gate; the oracle is the
# ivfpq oracle wrapped in the same re-rank. Output carries BOTH ranks, so
# the query itself measures what re-ranking bought.
# ---------------------------------------------------------------------------
@register("emb_ivfpq_rerank_topk", E.ivfpq_rerank_oracle())
def emb_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist (20) -> exact re-rank -> top-5, with adc_rank and
    exact rank side by side (see block comment)."""
    return E.ivfpq_rerank_topk(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# IVF delete maintenance. The lifecycle step the ANN
# family still lacked: train (emb_kmeans_update / emb_pq_train) -> build
# (emb_ivf_build) -> serve (emb_ivf_topk / ivfpq) -> grow
# (emb_ivf_incremental / emb_ivf_streaming) -> and now SHRINK. A
# retention DELETE tombstones a deterministic slice of the corpus
# (vec_id % 7 = 3, explicitly guarded off the vec_id < k seed window —
# deployed indexes never tombstone their bootstrap artifact, they
# retrain); the maintenance pass computes the census partials of ONLY
# the tombstoned vectors and SUBTRACTS them group-wise from the
# persisted build census (every field is an exact integer sum, so the
# additive monoid has exact inverses), dropping cells emptied to zero.
# The result must equal the full rebuild over the surviving corpus —
# the same census oracle scoped by the same predicate.
#
# This is the ANN mirror of layout_deletion_vectors: deletes as
# metadata-sized index maintenance instead of a corpus rewrite. Scale:
# the prior census is k rows read back from storage; the only scan is
# the TOMBSTONED slice (at 100 TB a retention delete touches its
# tombstones, never the surviving 99%); the subtract itself is a k-row
# merge. Rebuild-equality is exactly the guarantee a deployed index
# needs before it can skip the rebuild.
# ---------------------------------------------------------------------------
_IVF_DELETE_PRED = f"vec_id % 7 = 3 AND vec_id >= {_IVF_K}"


@register(
    "emb_ivf_delete_maintenance",
    _ivf_build_oracle(where=f" WHERE NOT ({_IVF_DELETE_PRED})"),
)
def emb_ivf_delete_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtract the tombstoned slice's census partials from the persisted
    IVF build census; the maintained census must equal the rebuild over
    the surviving corpus (see block comment)."""
    import os

    from pyspark.sql import functions as F

    from hive_server_spark.session import session_scratch

    vec = E._vecs(_emb(spark, sf_dir)).select("vec_id", "v")
    cent = vec.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )

    # --- prior snapshot run: persist the build census (the index
    # artifact a deployed maintenance pass reads back — emb_pq_incremental's
    # prior-snapshot discipline; stable path + overwrite, ADVICE r11) ----
    work = session_scratch("ivf_delete")
    census_path = os.path.join(work, "census")
    _ivf_partial_census(vec, cent).write.mode("overwrite").parquet(census_path)

    # --- maintenance run: scan ONLY the tombstoned slice, subtract -----
    deleted = _ivf_partial_census(vec.where(F.expr(_IVF_DELETE_PRED)), cent)
    neg = deleted.select(
        "cid",
        (-F.col("n_vecs")).cast("bigint").alias("n_vecs"),
        (-F.col("posting_checksum")).cast("bigint").alias("posting_checksum"),
        (-F.col("sum_d2_micro")).cast("bigint").alias("sum_d2_micro"),
    )
    prior = spark.read.parquet(census_path)
    merged = _merge_census(prior.unionByName(neg)).where(F.col("n_vecs") > 0)
    return _census_report(merged)


# ---------------------------------------------------------------------------
# IVF rebalance plan (round-15 capability; NOT REGISTERED — the staging
# budget note in gate.py pins zero new registrations through r17, so
# this ships as an operator + oracle-parity pytest only). The MONITOR
# step after the lifecycle's grow/shrink legs: arrival-time ingest
# (emb_ivf_streaming) and retention deletes (emb_ivf_delete_maintenance)
# both mutate cell populations without re-training, so a deployed index
# periodically audits cell skew and plans splits — a hot cell dominates
# probe latency (probing it scans its whole posting list) and carries
# the worst quantization distortion (Jegou et al. 2011, "Product
# Quantization for Nearest Neighbor Search", on unbalanced inverted
# lists). The plan is pure census metadata: per cell, the fill factor
# n_vecs*k/nv against the uniform ideal, an action decided in EXACT
# integer arithmetic (split if n_vecs*k > 2*nv, underfull if
# n_vecs*k*2 < nv, else keep — no float thresholds, so both engines
# agree without tolerance), the projected sub-cell count
# ceil(n_vecs*k/nv) as an integer ceiling, and a distortion-ranked
# split priority (worst mean_d2_micro first; mean_d2_micro is a single
# division of exact integers, bit-identical cross-engine, tie-broken by
# cluster_id). EXECUTING a split is one Lloyd step over the flagged
# cell's posting list — emb_kmeans_update's machinery scoped to the hot
# cell; the plan is the metadata decision that bounds that re-training
# to the cells that need it.
# Scale: the input is the k-row census (at deployment read back from
# the index artifact; recomputed here so the query is hermetic), and
# the plan itself is one k-row projection plus one k-row window —
# nothing corpus-sized moves, the same metadata-only shape as
# layout_compaction_plan on the layout side.
# ---------------------------------------------------------------------------
def _ivf_rebalance_oracle() -> str:
    return f"""
WITH census AS ({_ivf_build_oracle()}),
tot AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS nv,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM census
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n_vecs AS BIGINT)     AS n_vecs,
       CAST(n_vecs * k AS DOUBLE) / CAST(nv AS DOUBLE) AS fill_factor,
       mean_d2_micro,
       CASE WHEN n_vecs * k > 2 * nv THEN 'split'
            WHEN n_vecs * k * 2 < nv THEN 'underfull'
            ELSE 'keep' END AS action,
       CAST(CASE WHEN n_vecs * k > 2 * nv
                 THEN (n_vecs * k + nv - 1) // nv
                 ELSE 1 END AS BIGINT) AS n_subcells,
       CASE WHEN n_vecs * k > 2 * nv THEN
         CAST(row_number() OVER (
           ORDER BY (n_vecs * k > 2 * nv) DESC, mean_d2_micro DESC,
                    cluster_id
         ) AS BIGINT)
       END AS split_priority
FROM census CROSS JOIN tot
"""


def emb_ivf_rebalance_plan(
    spark: SparkSession, sf_dir: str, census: DataFrame | None = None
) -> DataFrame:
    """Per-cell skew audit + split plan over the IVF build census:
    exact-integer fill/action decisions, projected sub-cell counts, and
    a distortion-ranked split priority (see block comment). Pass
    `census` to audit an already-materialized census — the embedding
    pipeline hands the monitor its maintained state (the streamed
    census under --incremental), which is the deployed shape: the
    monitor reads the index artifact, it never re-derives it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if census is None:
        census = emb_ivf_build(spark, sf_dir)
    tot = census.agg(
        F.sum("n_vecs").cast("bigint").alias("nv"),
        F.count("*").cast("bigint").alias("k"),
    )
    base = census.crossJoin(F.broadcast(tot)).select(
        "cluster_id",
        "n_vecs",
        "mean_d2_micro",
        "nv",
        "k",
        F.expr("n_vecs * k > 2 * nv").alias("is_split"),
    )
    # k-row window: the global sort is over the census, never the corpus
    w = Window.orderBy(
        F.col("is_split").desc(), F.col("mean_d2_micro").desc(), F.col("cluster_id")
    )
    return base.select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        (
            (F.col("n_vecs") * F.col("k")).cast("double")
            / F.col("nv").cast("double")
        ).alias("fill_factor"),
        "mean_d2_micro",
        F.when(F.col("is_split"), F.lit("split"))
        .when(F.expr("n_vecs * k * 2 < nv"), F.lit("underfull"))
        .otherwise(F.lit("keep"))
        .alias("action"),
        F.when(
            F.col("is_split"), F.expr("(n_vecs * k + nv - 1) DIV nv")
        )
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("n_subcells"),
        F.when(F.col("is_split"), F.row_number().over(w))
        .cast("bigint")
        .alias("split_priority"),
    )


# ---------------------------------------------------------------------------
# IVF split execution (round-15 capability; NOT REGISTERED — same
# staging-budget stance as the rebalance plan above). Executes the
# plan's 'split' decisions: for each flagged cell, ONE Lloyd assignment
# step over that cell's posting list against n_subcells deterministic
# sub-seeds — the parent CENTROID (taken from the centroid table, so an
# exact-duplicate vector at a lower cluster_id stealing the parent's
# self-assignment cannot drop it — ADVICE r15) plus the cell's
# lowest-id other members (the vec_id-ordered seed convention every IVF
# query here uses). The parent seed is therefore ALWAYS among the
# sub-seeds, on any corpus, which yields a provable invariant: every member's nearest-sub-seed distance is <= its
# distance to the parent seed, and floor() is monotone, so each split
# cell's summed micro-distortion NEVER increases — the acceptance check
# a deployed rebalance runs before swapping the new cells in. The
# other invariant is population conservation: the sub-cells partition
# the parent's posting list exactly (same min-(d2, id) tie-break as the
# build assignment, so both engines agree without tolerance).
# Scale: the corpus-wide assignment is the index's existing posting
# lists (recomputed here for hermeticity — the delete-maintenance
# stance); the split work proper touches ONLY flagged cells' members
# (a broadcast semi-join against the <=k-row split plan), and the
# sub-seed table is bounded by sum(n_subcells) <= ~2k, so it
# broadcasts. One map-side assignment over the hot slice, one hash
# aggregate — re-training cost is bounded by the plan, never by the
# corpus.
# ---------------------------------------------------------------------------
def _ivf_split_oracle(k: int = _IVF_K, micro: int = 1_000_000) -> str:
    return f"""
WITH vec AS (
  SELECT vec_id, {E.vec_expr('embedding', 'd')} AS v FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv FROM vec WHERE vec_id < {k}),
d AS (
  SELECT vec.vec_id, c.cid, {E.sqdist_expr('vec.v', 'c.cv', 'd')} AS d2
  FROM vec CROSS JOIN c
), a AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
cells AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM a GROUP BY cid),
tot AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS nv,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM cells
),
split AS (
  SELECT cid, CAST((n_vecs * k + nv - 1) // nv AS BIGINT) AS n_sub
  FROM cells CROSS JOIN tot WHERE n_vecs * k > 2 * nv
),
members AS (
  SELECT a.cid, a.vec_id, vec.v, s.n_sub
  FROM a JOIN split s USING (cid) JOIN vec USING (vec_id)
),
subseeds AS (
  -- the parent seed comes from the CENTROID table, not the parent's
  -- self-assignment: an exact duplicate vector at a lower cluster_id
  -- ties at d2=0 and steals the parent seed row out of `members`,
  -- which would silently drop the anchor the distortion-never-
  -- increases proof rests on (ADVICE r15). Parent first, then the
  -- cell's lowest-id OTHER members up to n_sub.
  SELECT cid, sid, sv FROM (
    SELECT s.cid, s.cid AS sid, c.cv AS sv, 1 AS rn, s.n_sub
    FROM split s JOIN c ON c.cid = s.cid
    UNION ALL
    SELECT m.cid, m.vec_id AS sid, m.v AS sv,
           row_number() OVER (PARTITION BY m.cid ORDER BY m.vec_id) + 1
             AS rn,
           m.n_sub
    FROM members m WHERE m.vec_id != m.cid
  ) WHERE rn <= n_sub
),
md AS (
  SELECT m.cid, m.vec_id, s.sid, {E.sqdist_expr('m.v', 's.sv', 'd')} AS d2
  FROM members m JOIN subseeds s ON s.cid = m.cid
),
ma AS (
  SELECT cid, vec_id, sid, d2 FROM (
    SELECT *, row_number() OVER (
      PARTITION BY cid, vec_id ORDER BY d2, sid
    ) AS rn FROM md
  ) WHERE rn = 1
)
SELECT CAST(cid AS BIGINT)  AS parent_id,
       CAST(sid AS BIGINT)  AS subseed_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(vec_id) AS BIGINT) AS posting_checksum,
       CAST(SUM(CAST(floor(d2 * {micro}.0) AS BIGINT)) AS BIGINT)
         AS sum_d2_micro
FROM ma GROUP BY cid, sid
"""


def emb_ivf_split_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment step over each plan-flagged cell's posting
    list against parent-seed-anchored sub-seeds; returns the per-sub-cell
    census (see block comment for the conservation and
    distortion-never-increases invariants)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    vec = E._vecs(_emb(spark, sf_dir)).select("vec_id", "v")
    cent = vec.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    assigned = (
        vec.crossJoin(F.broadcast(cent))
        .withColumn("d2", F.expr(E.sqdist_expr("v", "cv", "s")))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"))
    )
    cells = assigned.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_vecs")
    )
    tot = cells.agg(
        F.sum("n_vecs").cast("bigint").alias("nv"),
        F.count("*").cast("bigint").alias("k"),
    )
    split = (
        cells.crossJoin(F.broadcast(tot))
        .where(F.expr("n_vecs * k > 2 * nv"))
        .select(
            "cid",
            F.expr("(n_vecs * k + nv - 1) DIV nv").cast("bigint").alias("n_sub"),
        )
    )
    members = assigned.join(F.broadcast(split), "cid").join(vec, "vec_id")
    # Parent seed anchored on the CENTROID table (not the parent's
    # self-assignment, which an exact-duplicate vector at a lower
    # cluster_id can steal at d2=0 — ADVICE r15); then the cell's
    # lowest-id OTHER members fill the remaining n_sub - 1 slots.
    w = Window.partitionBy("cid").orderBy("vec_id")
    parent_seeds = split.join(F.broadcast(cent), "cid").select(
        "cid", F.col("cid").alias("sid"), F.col("cv").alias("sv")
    )
    member_seeds = (
        members.where(F.col("vec_id") != F.col("cid"))
        .withColumn("rn", F.row_number().over(w) + F.lit(1))
        .where(F.col("rn") <= F.col("n_sub"))
        .select("cid", F.col("vec_id").alias("sid"), F.col("v").alias("sv"))
    )
    subseeds = parent_seeds.unionByName(member_seeds)
    ma = (
        members.select("cid", "vec_id", "v")
        .join(F.broadcast(subseeds), "cid")
        .withColumn("d2", F.expr(E.sqdist_expr("v", "sv", "s")))
        .groupBy("cid", "vec_id")
        .agg(F.min(F.struct("d2", "sid")).alias("m"))
        .select(
            "cid",
            "vec_id",
            F.col("m.sid").alias("sid"),
            F.col("m.d2").alias("d2"),
        )
    )
    return ma.groupBy("cid", "sid").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum("vec_id").cast("bigint").alias("posting_checksum"),
        F.sum(F.expr("CAST(floor(d2 * 1000000.0) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_d2_micro"),
    ).select(
        F.col("cid").cast("bigint").alias("parent_id"),
        F.col("sid").cast("bigint").alias("subseed_id"),
        "n_vecs",
        "posting_checksum",
        "sum_d2_micro",
    )


# ---------------------------------------------------------------------------
# IVF merge execution (round-15 capability; NOT REGISTERED — same
# staging-budget stance as the plan/split above). Executes the plan's
# 'underfull' decisions, the COLD-cell counterpart of the split: the
# underfull cells' centroids are retired and ONLY their members are
# reassigned to the nearest surviving centroid, their census partials
# ADDED to the survivors' rows (the additive monoid again). The key
# property making this metadata-cheap is that retiring a centroid
# changes the assignment of NO other vector — a vector assigned to a
# surviving centroid still has that centroid as its nearest among the
# survivors — so the merged census EQUALS the full rebuild over the
# surviving centroid set, which is exactly what the DuckDB oracle
# computes (the delete-maintenance proof shape, applied to centroids
# instead of vectors). Degenerate input (every cell underfull) retires
# everything and yields an empty census in both engines — a real
# monitor never merges its whole index; the plan's thresholds make the
# all-underfull case impossible whenever any cell is above 1/(2k) fill.
# Scale: the only per-vector work is reassigning the UNDERFULL cells'
# members (by construction the smallest posting lists — each below
# nv/(2k) rows) against a <=k-row centroid broadcast; the survivors'
# rows are k-row metadata read from the census. Merge cost is bounded
# by the cold tail, never the corpus.
# ---------------------------------------------------------------------------
def _ivf_merge_oracle(k: int = _IVF_K, micro: int = 1_000_000) -> str:
    return f"""
WITH vec AS (
  SELECT vec_id, {E.vec_expr('embedding', 'd')} AS v FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv FROM vec WHERE vec_id < {k}),
d AS (
  SELECT vec.vec_id, c.cid, {E.sqdist_expr('vec.v', 'c.cv', 'd')} AS d2
  FROM vec CROSS JOIN c
), a AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
cells AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM a GROUP BY cid),
tot AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS nv,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM cells
),
surv AS (
  SELECT cid FROM cells CROSS JOIN tot WHERE NOT (n_vecs * k * 2 < nv)
),
c2 AS (SELECT c.cid, c.cv FROM c JOIN surv USING (cid)),
d2_ AS (
  SELECT vec.vec_id, c2.cid, {E.sqdist_expr('vec.v', 'c2.cv', 'd')} AS d2
  FROM vec CROSS JOIN c2
), a2 AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d2_
  ) WHERE rn = 1
), nv2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM a2)
SELECT CAST(cid AS BIGINT)      AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(*) AS DOUBLE) / CAST(nv AS DOUBLE) AS share,
       CAST(SUM(vec_id) AS BIGINT) AS posting_checksum,
       CAST(SUM(CAST(floor(d2 * {micro}.0) AS BIGINT)) AS BIGINT)
         AS sum_d2_micro,
       CAST(SUM(CAST(floor(d2 * {micro}.0) AS BIGINT)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_d2_micro
FROM a2 CROSS JOIN nv2
GROUP BY cid, nv
"""


def emb_ivf_merge_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retire the plan's underfull cells, reassign ONLY their members to
    the nearest surviving centroid, and fold the moved partials into the
    survivors' PERSISTED census rows (k-row metadata, read back from the
    index artifact — the delete-maintenance prior-snapshot discipline);
    must equal the rebuild over the surviving centroid set (see block
    comment)."""
    import os

    from pyspark.sql import functions as F

    from hive_server_spark.session import session_scratch

    vec = E._vecs(_emb(spark, sf_dir)).select("vec_id", "v")
    cent = vec.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )

    # --- prior snapshot run: persist the build census (recomputed here
    # for hermeticity; at deployment this is the stored index artifact) -
    work = session_scratch("ivf_merge")
    census_path = os.path.join(work, "census")
    _ivf_partial_census(vec, cent).write.mode("overwrite").parquet(census_path)
    prior = spark.read.parquet(census_path)

    # --- maintenance run: the underfull decision is k-row metadata
    # straight from the prior census ---------------------------------
    tot = prior.agg(
        F.sum("n_vecs").cast("bigint").alias("nv"),
        F.count("*").cast("bigint").alias("k"),
    )
    flagged = prior.crossJoin(F.broadcast(tot)).select(
        "cid", F.expr("n_vecs * k * 2 < nv").alias("underfull")
    )
    surv_cids = F.broadcast(flagged.where(~F.col("underfull")).select("cid"))
    surv_cent = cent.join(surv_cids, "cid")

    # only the cold tail does per-vector work: membership of the
    # underfull cells (their posting lists at deployment; the
    # assignment recomputed here for hermeticity) reassigned against
    # the surviving centroid broadcast
    assigned = (
        vec.crossJoin(F.broadcast(cent))
        .withColumn("d2", F.expr(E.sqdist_expr("v", "cv", "s")))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"))
    )
    moved = (
        assigned.join(
            F.broadcast(flagged.where(F.col("underfull")).select("cid")),
            "cid",
        )
        .select("vec_id")
        .join(vec, "vec_id")
    )
    moved_parts = _ivf_partial_census(moved, surv_cent)

    # survivors' rows are the persisted census rows, untouched: retiring
    # a centroid changes no surviving vector's assignment
    survivor_rows = prior.join(surv_cids, "cid")
    return _census_report(
        _merge_census(survivor_rows.unionByName(moved_parts))
    )
