"""Similarity search over the `embeddings` table (SURVEY §7 step 6).

Operators:
- brute-force cosine top-k (the exactness baseline; O(n) per query),
- random-hyperplane LSH bucketing (the scale path: candidate generation is
  one narrow projection + an equi-shuffle on bucket id; pair volume is
  O(n²/2^planes), tunable),
- IVF-style partition-restricted top-k (the `label` column plays the coarse
  centroid-assignment role).

Determinism: embeddings are float32 → cast to float64 (exact); every dot
product is an in-array-order left fold; cosine = dot / (sqrt(na)*sqrt(nb))
with a fixed op sequence — bit-identical in Spark and DuckDB (verified in
the parity gate). Hyperplanes are ±1-weight vectors derived from md5 in
Python and inlined as literals in BOTH dialects — no per-row hashing.

Scale posture: all per-row work is JVM-side expression evaluation (no Python
UDFs); the only shuffles are the bucket-key exchange and the final top-k,
which reduces to row_number over a bounded candidate set. For a 100 TB
corpus raise N_PLANES so the expected bucket size stays O(100) and add more
hash tables (band repetitions) for recall, same as the MinHash banding."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_server_spark.functions.clusters import cap_buckets

N_PLANES = 10  # 2^10 = 1024 buckets


def _plane_weight(plane: int, dim: int) -> int:
    """Deterministic ±1 weight from md5 — same derivation documented in the
    oracle (inlined literals, so both engines share exact values)."""
    h = hashlib.md5(f"lsh{plane}:{dim}".encode()).hexdigest()[:8]
    return 1 if int(h, 16) % 2 == 0 else -1


def plane_literals(n_dims: int) -> list[list[int]]:
    return [[_plane_weight(p, d) for d in range(n_dims)] for p in range(N_PLANES)]


# ---------------------------------------------------------------------------
# dialect-dispatched fragments
# ---------------------------------------------------------------------------
def vec_expr(col: str, dialect: str) -> str:
    if dialect == "s":
        return f"CAST({col} AS ARRAY<DOUBLE>)"
    return f"{col}::DOUBLE[]"


def dot_expr(a: str, b: str, dialect: str) -> str:
    """In-order left fold of elementwise products — bit-identical IEEE sum."""
    if dialect == "s":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i])), "
        f"(acc, v) -> acc + v)"
    )


def cosine_expr(a: str, b: str, dialect: str) -> str:
    return (
        f"({dot_expr(a, b, dialect)}) / "
        f"(sqrt({dot_expr(a, a, dialect)}) * sqrt({dot_expr(b, b, dialect)}))"
    )


def bucket_expr(a: str, n_dims: int, dialect: str, n_planes: int | None = None) -> str:
    """LSH bucket id: bit p = sign of the ±1-weighted in-order projection.
    `n_planes` (default N_PLANES) trades bucket count for occupancy — a
    coarse-recall consumer (bitext mining) uses fewer planes than a
    near-dup detector."""
    terms = []
    for p, weights in enumerate(plane_literals(n_dims)[: n_planes or N_PLANES]):
        if dialect == "s":
            lit = "array(" + ",".join(f"{w}D" for w in weights) + ")"
            proj = (
                f"aggregate(zip_with({a}, {lit}, (x, y) -> x * y), "
                f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            )
        else:
            lit = "[" + ",".join(f"{w}.0" for w in weights) + "]"
            proj = (
                f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"list_transform(range(1, len({a})+1), i -> {a}[i] * ({lit})[i])), "
                f"(acc, v) -> acc + v)"
            )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN CAST({2**p} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------
def _vecs(df: DataFrame) -> DataFrame:
    from hive_server_spark.functions.text import spread

    return spread(df).withColumn("v", F.expr(vec_expr("embedding", "s")))


def cosine_topk(
    emb: DataFrame, query_vec_id: int = 0, k: int = 10, within_label: bool = False
) -> DataFrame:
    """Brute-force cosine top-k against one stored query vector.

    The single query row is broadcast (crossJoin of a 1-row side); every
    partition scans its vectors once — embarrassingly parallel, no shuffle
    until the final k-row reduction. `within_label=True` restricts the scan
    to the query's label partition (IVF-style coarse quantization: at scale,
    partition/cluster by label and the scan prunes to one partition)."""
    v = _vecs(emb)
    q = (
        v.where(F.col("vec_id") == query_vec_id)
        .select(
            F.col("v").alias("qv"),
            F.col("label").alias("q_label"),
            F.col("vec_id").alias("q_vec_id"),
        )
    )
    cand = v.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("q_vec_id"))
    if within_label:
        cand = cand.where(F.col("label") == F.col("q_label"))
    cand = cand.withColumn("cosine", F.expr(cosine_expr("v", "qv", "s")))
    from hive_server_spark.operators.topk import global_topk

    # TakeOrderedAndProject (per-partition k-row heaps), not a global window
    # sort — the difference between O(k) and O(n) through one partition
    return global_topk(
        cand, [F.desc("cosine"), F.asc("vec_id")], k
    ).select("vec_id", "label", "cosine", "rk")


def lsh_buckets(emb: DataFrame, n_dims: int = 64) -> DataFrame:
    """Assign every vector its hyperplane-sign bucket — one projection."""
    return _vecs(emb).select(
        "vec_id",
        "label",
        F.expr(bucket_expr("v", n_dims, "s")).cast("bigint").alias("bucket"),
    )


def lsh_candidate_pairs(
    emb: DataFrame, n_dims: int = 64, max_bucket: int | None = None
) -> DataFrame:
    """Same-bucket candidate pairs with exact cosine — the discovery stage.

    Candidate volume is E[n²/2^N_PLANES] — the knob that keeps this linear-ish
    at scale. Exact cosine is computed only on candidates.

    That expectation is for spread-out vectors; a degenerate batch (all
    vectors equal — e.g. a zero-variance feature extractor upstream) puts n
    rows in ONE bucket and the self-join emits C(n,2) rows regardless of
    N_PLANES. `max_bucket` drops buckets above the cap from pair generation
    (functions/clusters.py `cap_buckets`: their members are mutual
    near-dups by construction — route them to an exact/hash dedup instead
    of pairwise scoring). None = uncapped (the parity-gate configuration)."""
    b = cap_buckets(
        lsh_buckets(emb, n_dims).join(_vecs(emb).select("vec_id", "v"), "vec_id"),
        ["bucket"],
        max_bucket,
    )
    a, c = b.alias("a"), b.alias("b")
    return a.join(
        c,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.col("a.bucket").alias("bucket"),
        F.expr(cosine_expr("a.v", "b.v", "s")).alias("cosine"),
    )


def lsh_neardup_topk(
    emb: DataFrame, k: int = 20, n_dims: int = 64, max_bucket: int | None = None
) -> DataFrame:
    """Top-k most-similar pairs among same-bucket candidates (see
    `lsh_candidate_pairs` for the discovery-stage scale posture)."""
    pairs = lsh_candidate_pairs(emb, n_dims, max_bucket)
    from hive_server_spark.operators.topk import global_topk

    return global_topk(
        pairs, [F.desc("cosine"), F.asc("vec_a"), F.asc("vec_b")], k
    ).select("vec_a", "vec_b", "bucket", "cosine", "rk")


# ---------------------------------------------------------------------------
# oracle SQL builders (DuckDB dialect) — used by plans/embedding_pack.py
# ---------------------------------------------------------------------------
def topk_oracle(query_vec_id: int, k: int, within_label: bool) -> str:
    label_pred = "AND e.label = q.label" if within_label else ""
    return f"""
WITH v AS (SELECT vec_id, label, {vec_expr('embedding', 'd')} AS v FROM embeddings),
q AS (SELECT v AS qv, label, vec_id AS q_vec_id FROM v WHERE vec_id = {query_vec_id}),
scored AS (
  SELECT e.vec_id, e.label,
         {cosine_expr('e.v', 'q.qv', 'd')} AS cosine
  FROM v e, q
  WHERE e.vec_id <> q.q_vec_id {label_pred}
)
SELECT vec_id, label, cosine, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rk FROM scored)
WHERE rk <= {k}
"""


def buckets_oracle(n_dims: int = 64) -> str:
    return f"""
WITH v AS (SELECT vec_id, label, {vec_expr('embedding', 'd')} AS v FROM embeddings)
SELECT vec_id, label, CAST({bucket_expr('v', n_dims, 'd')} AS BIGINT) AS bucket
FROM v
"""


def neardup_oracle(k: int, n_dims: int = 64) -> str:
    return f"""
WITH v AS (SELECT vec_id, label, {vec_expr('embedding', 'd')} AS v FROM embeddings),
b AS (SELECT vec_id, v, CAST({bucket_expr('v', n_dims, 'd')} AS BIGINT) AS bucket FROM v),
pairs AS (
  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b, a.bucket,
         {cosine_expr('a.v', 'b2.v', 'd')} AS cosine
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
)
SELECT vec_a, vec_b, bucket, cosine, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (ORDER BY cosine DESC, vec_a ASC, vec_b ASC) AS rk
      FROM pairs)
WHERE rk <= {k}
"""


def sqdist_expr(a: str, b: str, dialect: str) -> str:
    """In-order left fold of squared differences — the L2² twin of
    `dot_expr`, bit-identical IEEE accumulation in both engines."""
    if dialect == "s":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            f"CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
        )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a})+1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
        f"(acc, t) -> acc + t)"
    )


def pq_subcode_expr(ksub: int) -> str:
    """Sub-quantizer code m unpacked from the packed `pq_code` word —
    ONE spelling shared by every PQ read path (adc, ivfpq, batch ivfpq),
    so a change to the code packing can never drift between them."""
    bits = (ksub - 1).bit_length()
    mask = ksub - 1
    return f"CAST(shiftright(pq_code, CAST({bits} * m AS INT)) & {mask} AS BIGINT)"


def pq_lut_micro_expr(m: int, micro: int) -> str:
    """Per-(sub-quantizer m, centroid cid) ADC lookup-table entry: the
    fixed-point squared distance between the query's m-th subvector (`qv`)
    and the centroid's (`cv`) — the same floor/micro convention as every
    other fixed-point distance in this module. Shared by all PQ search
    variants for the same no-drift reason as pq_subcode_expr."""
    dsub = 64 // m
    return (
        f"CAST(floor({sqdist_expr(f'slice(qv, m * {dsub} + 1, {dsub})', f'slice(cv, m * {dsub} + 1, {dsub})', 's')}"
        f" * {micro}) AS BIGINT)"
    )


def kmeans_update(emb: DataFrame, k: int = 8, micro: int = 1_000_000) -> DataFrame:
    """One exact-checkable Lloyd iteration: assign every vector to the
    nearest of the k seed centroids (the embeddings of vec_id 0..k-1 — the
    deterministic seeding both engines can reproduce), then recompute each
    centroid coordinate as a fixed-point mean.

    Exactness discipline: distances are bit-deterministic in-order L2²
    folds, the argmin tie-breaks on centroid id via `min(struct(d2, cid))`
    (a hash aggregate with map-side partial merge — no per-vector window
    sort), and the centroid update sums `floor(x * micro)` BIGINTs so the
    only float in the output is one exact-int division per (cluster, dim).
    Scale shape: the k-row centroid table broadcasts; assignment is a
    map-only scan; the update shuffles (cluster, dim)-keyed partial sums —
    Lloyd's algorithm in its map-reduce normal form.

    Output: one row per (cluster_id, dim) — the full updated centroid in
    micro-units plus the cluster population."""
    vec = _vecs(emb).select("vec_id", "v")
    cent = vec.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    d2 = sqdist_expr("v", "cv", "s")
    assigned = (
        vec.crossJoin(F.broadcast(cent))
        .withColumn("d2", F.expr(d2))
        .groupBy("vec_id")
        .agg(
            F.min_by(F.struct("cid", "v"), F.struct("d2", "cid")).alias("m")
        )
        .select(F.col("m.cid").alias("cid"), F.col("m.v").alias("v"))
    )
    pos = assigned.select("cid", F.posexplode("v").alias("dim", "x"))
    return (
        pos.groupBy("cid", "dim")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr(f"CAST(floor(x * {micro}) AS BIGINT)")).alias("sum_micro"),
        )
        .select(
            F.col("cid").cast("bigint").alias("cluster_id"),
            F.col("dim").cast("bigint").alias("dim"),
            F.col("n").cast("bigint").alias("n_vecs"),
            F.col("sum_micro").cast("bigint").alias("sum_micro"),
            (F.col("sum_micro").cast("double") / F.col("n").cast("double")).alias(
                "centroid_micro_mean"
            ),
        )
    )


def kmeans_oracle(k: int = 8, micro: int = 1_000_000) -> str:
    return f"""
WITH vec AS (SELECT vec_id, {vec_expr('embedding', 'd')} AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM vec WHERE vec_id < {k}),
d AS (
  SELECT vec.vec_id, c.cid, vec.v,
         {sqdist_expr('vec.v', 'c.cv', 'd')} AS d2
  FROM vec CROSS JOIN c
), a AS (
  SELECT cid, v FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
), p AS (
  SELECT cid, unnest(range(1, len(v)+1)) AS i, v FROM a
), m AS (
  SELECT cid, i - 1 AS dim,
         CAST(floor(v[CAST(i AS INTEGER)] * {micro}) AS BIGINT) AS mx
  FROM p
)
SELECT CAST(cid AS BIGINT)        AS cluster_id,
       CAST(dim AS BIGINT)        AS dim,
       CAST(COUNT(*) AS BIGINT)   AS n_vecs,
       CAST(SUM(mx) AS BIGINT)    AS sum_micro,
       CAST(SUM(mx) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                                  AS centroid_micro_mean
FROM m GROUP BY cid, dim
"""


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-shaped): LSH discovery -> cosine-thresholded
# near-dup edges -> connected components -> one representative per cluster.
# The raw driver embeddings are isotropic random (max pairwise cosine ~0.51
# at every SF), so duplicates are INJECTED deterministically by vec_id with
# the same closed-form expression in both dialects — the house fixture rule
# (PII, multimodal): vectors with vec_id % 7 == 1 become 1.5x the embedding
# of vec_id-1, and % 7 == 2 become 0.5x the embedding of vec_id-2, planting
# 3-member clusters {k, k+1, k+2} at every k ≡ 0 (mod 7). Positive scaling
# preserves every hyperplane sign (so dup groups share an LSH bucket by
# construction) and cosine to within one ulp of 1.0; the 0.999 edge cut
# sits in the wide gap between that and the 0.51 background maximum, and
# both engines evaluate the same in-order IEEE folds, so the edge set —
# and therefore the clustering — is bit-identical cross-engine.
#
# Scale shape: injection is one equi-self-join (fixture-only; a real corpus
# skips it), discovery is the bucket equi-join with exact cosine only on
# candidates (E[n²/2^planes] pairs), components run on the O(dups) edge
# set via iterative label propagation, and cluster sizes are one aggregate
# on the final labels. No all-pairs stage anywhere.
# ---------------------------------------------------------------------------
SEMDEDUP_COSINE_CUT = 0.999


def _inject_case(dialect: str) -> tuple[str, str]:
    """(offset, scale) CASE fragments on `vec_id` — identical text in both
    dialects; Spark needs the D suffix dropped since 1.5 literals parse as
    DOUBLE in both."""
    off = (
        "CASE CAST(vec_id % 7 AS INTEGER) WHEN 1 THEN 1 WHEN 2 THEN 2 "
        "ELSE 0 END"
    )
    scale = (
        "CASE CAST(vec_id % 7 AS INTEGER) WHEN 1 THEN CAST(1.5 AS DOUBLE) "
        "WHEN 2 THEN CAST(0.5 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END"
    )
    return off, scale


def injected_dup_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, v) with the planted scaled-copy duplicates applied."""
    off, scale = _inject_case("s")
    base = _vecs(emb).select("vec_id", "v")
    keyed = base.select(
        "vec_id",
        (F.col("vec_id") - F.expr(off)).alias("src_id"),
        F.expr(scale).alias("scale"),
    )
    src = base.select(F.col("vec_id").alias("src_id"), F.col("v").alias("src_v"))
    return keyed.join(src, "src_id").select(
        "vec_id", F.expr("transform(src_v, x -> x * scale)").alias("v")
    )


def semantic_dedup(emb: DataFrame, n_dims: int = 64) -> DataFrame:
    """Full corpus -> (vec_id, cluster_id, is_representative, cluster_size):
    near-dup components over cosine >= SEMDEDUP_COSINE_CUT LSH candidates,
    representative = min vec_id, singletons filled in from the corpus."""
    from hive_server_spark.functions.clusters import connected_components

    inj = injected_dup_vectors(emb)
    # per-vector norm ONCE (sqrt(dot(v,v)) — the same op sequence cosine_expr
    # uses, so dot/(nrm_a*nrm_b) is bit-identical to the inline cosine while
    # cutting the per-pair fold count from 3 to 1), then materialize the
    # bucketed table so the self-join doesn't re-derive injection + buckets
    # per side (the oracle mirrors this with MATERIALIZED CTEs)
    b = inj.select(
        "vec_id", "v",
        F.expr(bucket_expr("v", n_dims, "s")).cast("bigint").alias("bucket"),
        F.expr(f"sqrt({dot_expr('v', 'v', 's')})").alias("nrm"),
    ).localCheckpoint()
    a, c = b.alias("a"), b.alias("b")
    edges = (
        a.join(
            c,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            F.expr(dot_expr("a.v", "b.v", "s")) / (F.col("a.nrm") * F.col("b.nrm"))
            >= F.lit(SEMDEDUP_COSINE_CUT)
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
    )
    comp = connected_components(edges, a="vec_a", b="vec_b")
    ids = b.select("vec_id")
    lab = (
        ids.join(comp, ids.vec_id == comp.doc_id, "left")
        .select(
            "vec_id", F.coalesce("cluster_id", F.col("vec_id")).alias("cluster_id")
        )
    )
    sz = lab.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return lab.join(sz, "cluster_id").select(
        "vec_id",
        "cluster_id",
        (F.col("vec_id") == F.col("cluster_id")).alias("is_representative"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
    )


def semantic_dedup_oracle(n_dims: int = 64) -> str:
    off, scale = _inject_case("d")
    return f"""
WITH RECURSIVE base AS (
  SELECT vec_id, {vec_expr('embedding', 'd')} AS v FROM embeddings
),
inj AS (
  SELECT b.vec_id,
         list_transform(s.v, x -> x * ({scale.replace('vec_id', 'b.vec_id')})) AS v
  FROM base b JOIN base s
    ON s.vec_id = b.vec_id - ({off.replace('vec_id', 'b.vec_id')})
),
bk AS MATERIALIZED (
  SELECT vec_id, v, CAST({bucket_expr('v', n_dims, 'd')} AS BIGINT) AS bucket,
         sqrt({dot_expr('v', 'v', 'd')}) AS nrm
  FROM inj
),
cand AS MATERIALIZED (
  SELECT a.vec_id AS va, b2.vec_id AS vb
  FROM bk a JOIN bk b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
  WHERE {dot_expr('a.v', 'b2.v', 'd')} / (a.nrm * b2.nrm)
        >= {SEMDEDUP_COSINE_CUT}
),
edges AS MATERIALIZED (
  SELECT va AS x, vb AS y FROM cand UNION SELECT vb, va FROM cand
),
reach(x, y) AS (
  SELECT x, y FROM edges
  UNION
  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
),
comp AS (
  SELECT x AS vec_id, least(min(y), x) AS cluster_id FROM reach GROUP BY x
),
lab AS (
  SELECT i.vec_id, COALESCE(c.cluster_id, i.vec_id) AS cluster_id
  FROM inj i LEFT JOIN comp c ON i.vec_id = c.vec_id
),
sz AS (SELECT cluster_id, COUNT(*) AS n FROM lab GROUP BY cluster_id)
SELECT l.vec_id, l.cluster_id,
       l.vec_id = l.cluster_id AS is_representative,
       CAST(sz.n AS BIGINT) AS cluster_size
FROM lab l JOIN sz ON l.cluster_id = sz.cluster_id
"""


# ---------------------------------------------------------------------------
# Dim-truncation recall audit: the Matryoshka-style question —
# if ANN search keeps only the first d dimensions (cheaper index, smaller
# transfer), how much of the exact full-dim top-k does it still find?
# Recall@k is exact set overlap between the full-dim top-k and each
# truncated top-k; both rankings use the same IEEE in-order cosine fold
# and the total (cosine DESC, vec_id ASC) tie-break, so the selected sets
# are deterministic and the overlap is an integer.
# ---------------------------------------------------------------------------
def truncated_recall(
    emb: DataFrame, query_vec_id: int = 0, k: int = 10,
    dims: tuple[int, ...] = (8, 16, 32),
) -> DataFrame:
    """Recall@k of truncated-dimension cosine top-k vs the full-dim exact
    top-k for one stored query vector: one row per truncation width.

    Scale shape: the cosine folds run in ONE projection pass over the
    corpus (all widths as columns of a narrow (vec_id, cosines) table,
    localCheckpoint'ed so the per-ranking top-k scans re-read ~16 bytes x
    corpus, not the vectors); each top-k is TakeOrderedAndProject; the
    final joins touch k-row sets only."""
    from hive_server_spark.operators.topk import global_topk

    v = _vecs(emb)
    q = (
        v.where(F.col("vec_id") == query_vec_id)
        .select(F.col("v").alias("qv"), F.col("vec_id").alias("q_vec_id"))
    )
    cand = v.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("q_vec_id"))
    cols = [F.expr(cosine_expr("v", "qv", "s")).alias("cos_full")]
    for d in dims:
        cols.append(
            F.expr(
                cosine_expr(f"slice(v, 1, {d})", f"slice(qv, 1, {d})", "s")
            ).alias(f"cos_{d}")
        )
    scored = cand.select("vec_id", *cols).localCheckpoint()
    full = global_topk(scored, [F.desc("cos_full"), F.asc("vec_id")], k).select(
        "vec_id"
    )
    out = None
    for d in dims:
        t = global_topk(scored, [F.desc(f"cos_{d}"), F.asc("vec_id")], k).select(
            "vec_id"
        )
        row = t.join(full, "vec_id").agg(F.count("*").alias("n0")).select(
            F.lit(d).cast("bigint").alias("trunc_dims"),
            F.lit(k).cast("bigint").alias("k"),
            F.col("n0").cast("bigint").alias("n_overlap"),
            (F.col("n0").cast("double") / F.lit(float(k))).alias("recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def truncated_recall_oracle(
    query_vec_id: int = 0, k: int = 10, dims: tuple[int, ...] = (8, 16, 32)
) -> str:
    tops = []
    for d in dims:
        tops.append(
            f"t{d} AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER "
            f"(ORDER BY cos_{d} DESC, vec_id ASC) AS rk FROM scored) WHERE rk <= {k})"
        )
    selects = []
    for d in dims:
        ov = f"(SELECT COUNT(*) FROM t{d} a JOIN full_k b USING (vec_id))"
        selects.append(
            f"SELECT CAST({d} AS BIGINT) AS trunc_dims, CAST({k} AS BIGINT) AS k,\n"
            f"       CAST({ov} AS BIGINT) AS n_overlap,\n"
            f"       CAST({ov} AS DOUBLE) / {float(k)} AS recall"
        )
    trunc_cols = ",\n         ".join(
        f"{cosine_expr(f'(e.v[1:{d}])', f'(q.qv[1:{d}])', 'd')} AS cos_{d}"
        for d in dims
    )
    return f"""
WITH v AS (SELECT vec_id, {vec_expr('embedding', 'd')} AS v FROM embeddings),
q AS (SELECT v AS qv, vec_id AS q_vec_id FROM v WHERE vec_id = {query_vec_id}),
scored AS (
  SELECT e.vec_id,
         {cosine_expr('e.v', 'q.qv', 'd')} AS cos_full,
         {trunc_cols}
  FROM v e, q WHERE e.vec_id <> q.q_vec_id
),
full_k AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER
  (ORDER BY cos_full DESC, vec_id ASC) AS rk FROM scored) WHERE rk <= {k}),
{", ".join(tops)}
{" UNION ALL ".join(selects)}
"""


# ---------------------------------------------------------------------------
# Product quantization: the memory-compression half of a
# PQ/IVF-PQ ANN index — split each vector into M contiguous subvectors,
# assign each to the nearest of K_SUB per-subspace sub-centroids, and pack
# the assignments into one integer code. Sub-centroids are the subvectors
# of the first K_SUB stored vectors (the same deterministic seeding as
# kmeans_update / ivf_build, reproducible in both engines). Distances are
# bit-deterministic in-order L2² folds over array slices, argmin
# tie-breaks on sub-centroid id, and per-subspace distortion is floored
# to integer micro-units BEFORE the per-vector sum (order-free).
# ---------------------------------------------------------------------------
PQ_M = 8       # subspaces (64 dims -> 8 dims each)
PQ_KSUB = 4    # sub-centroids per subspace -> 2 bits per subspace


def _pq_subassign(vec: DataFrame, cent: DataFrame, m: int,
                  dsub: int) -> DataFrame:
    """Per-(vector, subspace) nearest-sub-centroid assignment — the ONE
    copy of the parity-critical core shared by PQ encoding
    (pq_codes_from_vecs) and PQ codebook training (pq_train_update):
    bounded m-row explode per vector, broadcast codebook, a
    bit-deterministic in-order L2² fold over the slice, and the (d2, cid)
    struct-min tie-break. Returns (vec_id, m, cid, sv, d2)."""
    sub = (
        vec.select(
            "vec_id", "v", F.explode(F.expr(f"sequence(0, {m - 1})")).alias("m")
        )
        .withColumn("sv", F.expr(f"slice(v, m * {dsub} + 1, {dsub})"))
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "d2",
            F.expr(sqdist_expr("sv", f"slice(cv, m * {dsub} + 1, {dsub})", "s")),
        )
    )
    return (
        sub.groupBy("vec_id", "m")
        .agg(F.min_by(F.struct("cid", "sv", "d2"), F.struct("d2", "cid")).alias("b"))
        .select(
            "vec_id",
            "m",
            F.col("b.cid").alias("cid"),
            F.col("b.sv").alias("sv"),
            F.col("b.d2").alias("d2"),
        )
    )


def pq_codes(emb: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB,
             micro: int = 1_000_000) -> DataFrame:
    """Per-vector PQ code (sub-assignments packed little-endian, 2 bits
    per subspace for ksub=4) plus exact integer-micro total distortion.

    Scale shape: the ksub seed rows broadcast; the subspace fan-out is a
    bounded explode (m rows per vector); assignment is a map-side-
    combined min_by hash aggregate per (vector, subspace) and a final
    per-vector rollup — no window over the corpus, no self-join."""
    return pq_codes_from_vecs(_vecs(emb).select("vec_id", "v"), m, ksub, micro)


def pq_codes_from_vecs(vec: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB,
                       micro: int = 1_000_000,
                       cent: DataFrame | None = None) -> DataFrame:
    """pq_codes over a prepared (vec_id, v) table. ``cent`` supplies an
    external codebook (cid, cv) — the incremental-maintenance path encodes
    a NEW batch against the codebook read back from the persisted index;
    None derives the seed codebook from the input (vec_id < ksub), which
    on a full corpus is identical because the seed rows are id-ordered."""
    if cent is None:
        cent = vec.where(F.col("vec_id") < ksub).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("cv")
        )
    dsub = 64 // m
    best = _pq_subassign(vec, cent, m, dsub).select(
        "vec_id",
        "m",
        "cid",
        F.expr(f"CAST(floor(d2 * {micro}) AS BIGINT)").alias("dist_micro"),
    )
    bits = (ksub - 1).bit_length()
    return best.groupBy("vec_id").agg(
        F.sum(
            F.expr(f"CAST(shiftleft(cid, CAST({bits} * m AS INT)) AS BIGINT)")
        )
        .cast("bigint")
        .alias("pq_code"),
        F.sum("dist_micro").cast("bigint").alias("distortion_micro"),
        F.count("*").cast("bigint").alias("n_subspaces"),
    )


def pq_train_update(emb: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB,
                    micro: int = 1_000_000) -> DataFrame:
    """One exact-checkable Lloyd iteration PER SUBSPACE — the codebook
    TRAINING step of the PQ lifecycle (emb_kmeans_update trains the coarse
    quantizer; THIS trains the sub-quantizers; pq_codes encodes;
    pq_adc_topk serves; emb_pq_incremental maintains): assign every
    vector's m-th slice to the nearest seed sub-centroid (the slices of
    vec_id 0..ksub-1 — the same deterministic seeding pq_codes uses), then
    recompute each sub-centroid coordinate as a fixed-point mean.

    Exactness discipline is kmeans_update's verbatim: bit-deterministic
    in-order L2² folds over the slices, argmin tie-break on centroid id,
    floor(x*micro) BIGINT sums so the only float is one exact-int division
    per (subspace, sub-centroid, dim). Scale shape: ksub seed rows
    broadcast, the subspace fan-out is a bounded explode (m rows/vector),
    and the update shuffles (subspace, cid, dim)-keyed partial sums —
    m independent Lloyd iterations in one map-reduce pass."""
    vec = _vecs(emb).select("vec_id", "v")
    cent = vec.where(F.col("vec_id") < ksub).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    assigned = _pq_subassign(vec, cent, m, 64 // m).select("m", "cid", "sv")
    pos = assigned.select("m", "cid", F.posexplode("sv").alias("dim", "x"))
    return (
        pos.groupBy("m", "cid", "dim")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr(f"CAST(floor(x * {micro}) AS BIGINT)")).alias("sum_micro"),
        )
        .select(
            F.col("m").cast("bigint").alias("subspace"),
            F.col("cid").cast("bigint").alias("sub_cid"),
            F.col("dim").cast("bigint").alias("dim"),
            F.col("n").cast("bigint").alias("n_vecs"),
            F.col("sum_micro").cast("bigint").alias("sum_micro"),
            (F.col("sum_micro").cast("double") / F.col("n").cast("double")).alias(
                "centroid_micro_mean"
            ),
        )
    )


def pq_train_oracle(m: int = PQ_M, ksub: int = PQ_KSUB,
                    micro: int = 1_000_000) -> str:
    dsub = 64 // m
    d2 = sqdist_expr(
        f"list_slice(vec.v, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        f"list_slice(c.cv, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        "d",
    )
    return f"""
WITH vec AS (SELECT vec_id, {{ve}} AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM vec WHERE vec_id < {ksub}),
s AS (SELECT unnest(range(0, {m})) AS m),
d AS (
  SELECT vec.vec_id, s.m, c.cid,
         list_slice(vec.v, s.m * {dsub} + 1, s.m * {dsub} + {dsub}) AS sv,
         {d2} AS d2
  FROM vec CROSS JOIN s CROSS JOIN c
), a AS (
  SELECT m, cid, sv FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
), p AS (
  SELECT m, cid, unnest(range(1, len(sv)+1)) AS i, sv FROM a
), q AS (
  SELECT m, cid, i - 1 AS dim,
         CAST(floor(sv[CAST(i AS INTEGER)] * {micro}) AS BIGINT) AS mx
  FROM p
)
SELECT CAST(m AS BIGINT)          AS subspace,
       CAST(cid AS BIGINT)        AS sub_cid,
       CAST(dim AS BIGINT)        AS dim,
       CAST(COUNT(*) AS BIGINT)   AS n_vecs,
       CAST(SUM(mx) AS BIGINT)    AS sum_micro,
       CAST(SUM(mx) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                                  AS centroid_micro_mean
FROM q GROUP BY m, cid, dim
""".replace("{ve}", vec_expr("embedding", "d"))


def pq_codes_oracle(m: int = PQ_M, ksub: int = PQ_KSUB,
                    micro: int = 1_000_000) -> str:
    dsub = 64 // m
    bits = (ksub - 1).bit_length()
    d2 = sqdist_expr(
        f"list_slice(vec.v, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        f"list_slice(c.cv, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        "d",
    )
    return f"""
WITH vec AS (SELECT vec_id, {vec_expr('embedding', 'd')} AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM vec WHERE vec_id < {ksub}),
s AS (SELECT unnest(range(0, {m})) AS m),
d AS (
  SELECT vec.vec_id, s.m, c.cid, {d2} AS d2
  FROM vec CROSS JOIN s CROSS JOIN c
),
a AS (
  SELECT vec_id, m, cid, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
)
SELECT vec_id,
       CAST(SUM(cid << ({bits} * m)) AS BIGINT)              AS pq_code,
       CAST(SUM(CAST(floor(d2 * {micro}) AS BIGINT)) AS BIGINT)
         AS distortion_micro,
       CAST(COUNT(*) AS BIGINT)                              AS n_subspaces
FROM a GROUP BY vec_id
"""


def pq_adc_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    micro: int = 1_000_000,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the stored PQ codes — the
    search half of the PQ index whose build half is `pq_codes`.

    The query's per-subspace distances to every sub-centroid form a
    (m × ksub)-row lookup table (32 rows here — genuinely bounded by the
    codebook shape, so its broadcast is safe at any corpus size, unlike a
    data-dependent survivor set). Each database vector's approximate
    distance is then the sum of m LUT entries selected by *decoding its
    packed code* — the codes-only read path a real PQ index serves, no
    raw vectors touched until the final k-row exact re-rank. LUT entries
    are floored to integer micro-units per (subspace, sub-centroid)
    BEFORE the per-vector sum, so the integer total is reduction-order
    free; the exact re-rank distance is the house bit-deterministic L2²
    fold. Scale shape: corpus-sized work is one bounded explode (m rows
    per code) + broadcast-LUT join + hash agg; the global top-k is
    TakeOrderedAndProject; the re-rank joins the broadcast ≤k survivors
    back to the vectors. Reference parity: the reference's top-of-book
    scans (src/models/order-book.ts) are exact; ADC is the approximate
    analogue the LLM-pipeline extension adds for embedding retrieval."""
    vec = _vecs(emb).select("vec_id", "v")
    cent = vec.where(F.col("vec_id") < ksub).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    q = vec.where(F.col("vec_id") == query_vec_id).select(
        F.col("v").alias("qv"), F.col("vec_id").alias("q_vec_id")
    )
    lut = (
        q.select(F.explode(F.expr(f"sequence(0, {m - 1})")).alias("m"), "qv")
        .crossJoin(F.broadcast(cent))
        .select(
            "m",
            "cid",
            F.expr(pq_lut_micro_expr(m, micro)).alias("lut_micro"),
        )
    )
    decoded = (
        pq_codes(emb, m=m, ksub=ksub, micro=micro)
        .where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.explode(F.expr(f"sequence(0, {m - 1})")).alias("m"),
            "pq_code",
        )
        .withColumn(
            "cid",
            F.expr(pq_subcode_expr(ksub)),
        )
    )
    adc = (
        decoded.join(F.broadcast(lut), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("lut_micro").cast("bigint").alias("adc_micro"))
    )
    from hive_server_spark.operators.topk import global_topk

    top = global_topk(adc, [F.asc("adc_micro"), F.asc("vec_id")], k)
    exact = vec.join(F.broadcast(top.select("vec_id", "adc_micro", "rk")), "vec_id")
    return (
        exact.crossJoin(F.broadcast(q))
        .select(
            F.col("rk").alias("rank"),
            "vec_id",
            "adc_micro",
            F.expr(
                f"CAST(floor({sqdist_expr('v', 'qv', 's')} * {micro}) AS BIGINT)"
            ).alias("exact_micro"),
        )
    )


def pq_adc_topk_oracle(
    query_vec_id: int = 0,
    k: int = 10,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    micro: int = 1_000_000,
) -> str:
    dsub = 64 // m
    d2 = sqdist_expr(
        f"list_slice(vec.v, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        f"list_slice(c.cv, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        "d",
    )
    lut_d2 = sqdist_expr(
        f"list_slice(q.v, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        f"list_slice(c.cv, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        "d",
    )
    exact_d2 = sqdist_expr("vec.v", "q.v", "d")
    return f"""
WITH vec AS (SELECT vec_id, {vec_expr('embedding', 'd')} AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM vec WHERE vec_id < {ksub}),
s AS (SELECT unnest(range(0, {m})) AS m),
q AS (SELECT vec_id, v FROM vec WHERE vec_id = {query_vec_id}),
d AS (
  SELECT vec.vec_id, s.m, c.cid, {d2} AS d2
  FROM vec CROSS JOIN s CROSS JOIN c
),
a AS (
  SELECT vec_id, m, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
lut AS (
  SELECT s.m, c.cid,
         CAST(floor({lut_d2} * {micro}) AS BIGINT) AS lut_micro
  FROM s CROSS JOIN c CROSS JOIN q
),
adc AS (
  SELECT a.vec_id, CAST(SUM(lut.lut_micro) AS BIGINT) AS adc_micro
  FROM a JOIN lut ON a.m = lut.m AND a.cid = lut.cid
  WHERE a.vec_id <> {query_vec_id}
  GROUP BY a.vec_id
),
top AS (
  SELECT CAST(row_number() OVER (ORDER BY adc_micro ASC, vec_id ASC) AS BIGINT)
           AS rank, vec_id, adc_micro
  FROM adc ORDER BY adc_micro ASC, vec_id ASC LIMIT {k}
)
SELECT top.rank, top.vec_id, top.adc_micro,
       CAST(floor({exact_d2} * {micro}) AS BIGINT) AS exact_micro
FROM top JOIN vec ON top.vec_id = vec.vec_id CROSS JOIN q
"""


IVF_NLIST = 8   # coarse cells — matches the emb_ivf_build census
IVF_NPROBE = 2  # cells probed per query


def ivfpq_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    micro: int = 1_000_000,
) -> DataFrame:
    """IVF-PQ composed search — the full ANN-index read path: route the
    query to its `nprobe` nearest coarse cells, run ADC over the stored
    PQ codes of ONLY those cells, exact-re-rank the ≤k survivors.

    Scale shape: the coarse codebook (nlist rows) and the ADC LUT
    (m × ksub rows) are genuinely bounded broadcasts; cell assignment is
    one broadcast join + map-side-combined argmin; the candidate
    restriction happens BEFORE the per-code decode explode, so corpus-
    sized work shrinks by ~nprobe/nlist exactly as a real IVF index
    prunes; codes ⋈ candidates is a vec_id co-partitioned equi-join
    (both sides exit vec_id hash aggregates, so the partitioning is
    reused). In a deployed index the codes are *stored* partitioned by
    cell and the assignment join disappears entirely — this operator is
    the plan-shape contract for that layout. Completes the lifecycle:
    emb_kmeans_update trains, emb_ivf_build builds the census,
    emb_pq_codes compresses, THIS serves."""
    vec = _vecs(emb).select("vec_id", "v")
    coarse = vec.where(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("ccid"), F.col("v").alias("ccv")
    )
    q = vec.where(F.col("vec_id") == query_vec_id).select(F.col("v").alias("qv"))
    assign = (
        vec.crossJoin(F.broadcast(coarse))
        .withColumn("cd2", F.expr(sqdist_expr("v", "ccv", "s")))
        .groupBy("vec_id")
        .agg(F.min(F.struct("cd2", "ccid")).alias("b"))
        .select("vec_id", F.col("b.ccid").cast("bigint").alias("cell"))
    )
    from hive_server_spark.operators.topk import global_topk

    probe = global_topk(
        q.crossJoin(F.broadcast(coarse)).select(
            F.col("ccid").cast("bigint").alias("cell"),
            F.expr(sqdist_expr("qv", "ccv", "s")).alias("qd2"),
        ),
        [F.asc("qd2"), F.asc("cell")],
        nprobe,
    ).select("cell")
    cand = assign.join(F.broadcast(probe), "cell").where(
        F.col("vec_id") != query_vec_id
    )
    decoded = (
        pq_codes(emb, m=m, ksub=ksub, micro=micro)
        .join(cand.select("vec_id", "cell"), "vec_id")
        .select(
            "vec_id",
            "cell",
            F.explode(F.expr(f"sequence(0, {m - 1})")).alias("m"),
            "pq_code",
        )
        .withColumn(
            "cid",
            F.expr(pq_subcode_expr(ksub)),
        )
    )
    sub_cent = vec.where(F.col("vec_id") < ksub).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    lut = (
        q.select(F.explode(F.expr(f"sequence(0, {m - 1})")).alias("m"), "qv")
        .crossJoin(F.broadcast(sub_cent))
        .select(
            "m",
            "cid",
            F.expr(pq_lut_micro_expr(m, micro)).alias("lut_micro"),
        )
    )
    adc = (
        decoded.join(F.broadcast(lut), ["m", "cid"])
        .groupBy("vec_id", "cell")
        .agg(F.sum("lut_micro").cast("bigint").alias("adc_micro"))
    )
    top = global_topk(adc, [F.asc("adc_micro"), F.asc("vec_id")], k)
    return (
        vec.join(F.broadcast(top), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            F.col("rk").alias("rank"),
            "vec_id",
            "cell",
            "adc_micro",
            F.expr(
                f"CAST(floor({sqdist_expr('v', 'qv', 's')} * {micro}) AS BIGINT)"
            ).alias("exact_micro"),
        )
    )


def ivfpq_topk_oracle(
    query_vec_id: int = 0,
    k: int = 10,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    micro: int = 1_000_000,
) -> str:
    dsub = 64 // m
    cd2 = sqdist_expr("vec.v", "cc.ccv", "d")
    d2 = sqdist_expr(
        f"list_slice(vec.v, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        f"list_slice(c.cv, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        "d",
    )
    lut_d2 = sqdist_expr(
        f"list_slice(q.v, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        f"list_slice(c.cv, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        "d",
    )
    exact_d2 = sqdist_expr("vec.v", "q.v", "d")
    return f"""
WITH vec AS (SELECT vec_id, {vec_expr('embedding', 'd')} AS v FROM embeddings),
cc AS (SELECT vec_id AS ccid, v AS ccv FROM vec WHERE vec_id < {nlist}),
q AS (SELECT vec_id, v FROM vec WHERE vec_id = {query_vec_id}),
ad AS (
  SELECT vec.vec_id, cc.ccid, {cd2} AS cd2
  FROM vec CROSS JOIN cc
),
assign AS (
  SELECT vec_id, CAST(ccid AS BIGINT) AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd2, ccid) AS rn
    FROM ad
  ) WHERE rn = 1
),
probe AS (
  SELECT CAST(ccid AS BIGINT) AS cell FROM (
    SELECT ccid, row_number() OVER (ORDER BY cd2, ccid) AS rn
    FROM ad WHERE vec_id = {query_vec_id}
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT a.vec_id, a.cell FROM assign a JOIN probe p ON a.cell = p.cell
  WHERE a.vec_id <> {query_vec_id}
),
c AS (SELECT vec_id AS cid, v AS cv FROM vec WHERE vec_id < {ksub}),
s AS (SELECT unnest(range(0, {m})) AS m),
d AS (
  SELECT vec.vec_id, s.m, c.cid, {d2} AS d2
  FROM vec JOIN cand ON vec.vec_id = cand.vec_id CROSS JOIN s CROSS JOIN c
),
a AS (
  SELECT vec_id, m, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
lut AS (
  SELECT s.m, c.cid,
         CAST(floor({lut_d2} * {micro}) AS BIGINT) AS lut_micro
  FROM s CROSS JOIN c CROSS JOIN q
),
adc AS (
  SELECT a.vec_id, CAST(SUM(lut.lut_micro) AS BIGINT) AS adc_micro
  FROM a JOIN lut ON a.m = lut.m AND a.cid = lut.cid
  GROUP BY a.vec_id
),
top AS (
  SELECT CAST(row_number() OVER (ORDER BY adc_micro ASC, vec_id ASC) AS BIGINT)
           AS rank, vec_id, adc_micro
  FROM adc ORDER BY adc_micro ASC, vec_id ASC LIMIT {k}
)
SELECT top.rank, top.vec_id, cand.cell, top.adc_micro,
       CAST(floor({exact_d2} * {micro}) AS BIGINT) AS exact_micro
FROM top JOIN cand ON top.vec_id = cand.vec_id
         JOIN vec ON top.vec_id = vec.vec_id CROSS JOIN q
"""


# ---------------------------------------------------------------------------
# Batch IVF-PQ search: the read path above
# serves ONE query vector; real retrieval serves a query TABLE (a batch
# of user queries, a bitext-mining shard, a hard-negative pass). This
# generalizes emb_ivfpq_topk to a bounded query set (vec_id <
# n_queries — the hard_negatives bounded-anchor convention):
#   1. corpus → cell assignment: one scan, bounded coarse-codebook
#      broadcast, map-side-combined argmin (shared with the single-query
#      path — at scale this is the STORED layout, not a per-query job);
#   2. query routing: each query scores the nlist coarse cells and keeps
#      its nprobe nearest via grouped_topk — the routing table is
#      n_queries × nprobe rows, bounded by construction, so it
#      broadcasts and the candidate restriction is a MAP-SIDE join
#      against the assignment (no corpus shuffle to route);
#   3. PQ decode once per DISTINCT candidate vector (a vector probed by
#      many queries decodes once), ADC via a broadcast per-query LUT
#      (n_queries × m × ksub rows), per-(query, vector) SUM;
#   4. per-query top-k via the two-level grouped_topk, exact re-rank of
#      the ≤ n_queries × k survivors.
# Corpus-sized work is ~n_queries × nprobe/nlist of a full scan — the
# batch amortization a deployed index gives a query stream.
# ---------------------------------------------------------------------------
def ivfpq_batch_topk(
    emb: DataFrame,
    n_queries: int = 8,
    k: int = 3,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    micro: int = 1_000_000,
) -> DataFrame:
    from hive_server_spark.operators.topk import grouped_topk

    vec = _vecs(emb).select("vec_id", "v")
    coarse = vec.where(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("ccid"), F.col("v").alias("ccv")
    )
    q = vec.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    assign = (
        vec.crossJoin(F.broadcast(coarse))
        .withColumn("cd2", F.expr(sqdist_expr("v", "ccv", "s")))
        .groupBy("vec_id")
        .agg(F.min(F.struct("cd2", "ccid")).alias("b"))
        .select("vec_id", F.col("b.ccid").cast("bigint").alias("cell"))
    )
    probe = grouped_topk(
        q.crossJoin(F.broadcast(coarse)).select(
            "qid",
            F.expr(sqdist_expr("qv", "ccv", "s")).alias("qd2"),
            F.col("ccid").cast("bigint").alias("cell"),
        ),
        group_cols=["qid"],
        sort_cols=["qd2", "cell"],
        payload_cols=[],
        k=nprobe,
    ).select("qid", "cell")
    # routing table is ≤ n_queries × nprobe rows — bounded by
    # construction, so the candidate restriction broadcasts (the
    # hard_negatives bounded-side rule) instead of shuffling the corpus
    cand = assign.join(F.broadcast(probe), "cell").where(
        F.col("vec_id") != F.col("qid")
    )
    decoded = (
        pq_codes(emb, m=m, ksub=ksub, micro=micro)
        .join(cand.select("vec_id").distinct(), "vec_id")
        .select(
            "vec_id",
            F.explode(F.expr(f"sequence(0, {m - 1})")).alias("m"),
            "pq_code",
        )
        .withColumn(
            "cid",
            F.expr(pq_subcode_expr(ksub)),
        )
        .select("vec_id", "m", "cid")
    )
    sub_cent = vec.where(F.col("vec_id") < ksub).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    lut = (
        q.select("qid", F.explode(F.expr(f"sequence(0, {m - 1})")).alias("m"), "qv")
        .crossJoin(F.broadcast(sub_cent))
        .select(
            "qid",
            "m",
            "cid",
            F.expr(pq_lut_micro_expr(m, micro)).alias("lut_micro"),
        )
    )
    adc = (
        # a sort-merge join: both sides are vec_id-keyed corpus derivations
        # (candidates grow with the query batch), and it reuses the vec_id
        # partitioning of the assignment aggregate under `cand`
        cand.join(decoded, "vec_id")
        .join(F.broadcast(lut), ["qid", "m", "cid"])
        .groupBy("qid", "vec_id", "cell")
        .agg(F.sum("lut_micro").cast("bigint").alias("adc_micro"))
    )
    top = grouped_topk(
        adc,
        group_cols=["qid"],
        sort_cols=["adc_micro", "vec_id"],
        payload_cols=["cell"],
        k=k,
        rank_col="rank",
    )
    return (
        top.join(vec, "vec_id")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "rank",
            "vec_id",
            "cell",
            "adc_micro",
            F.expr(
                f"CAST(floor({sqdist_expr('v', 'qv', 's')} * {micro}) AS BIGINT)"
            ).alias("exact_micro"),
        )
    )


def ivfpq_rerank_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 5,
    shortlist: int = 20,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    micro: int = 1_000_000,
) -> DataFrame:
    """Two-stage IVF-PQ serving — the standard production ANN recipe: ADC
    ranks a SHORTLIST of `shortlist` candidates from the probed cells
    (cheap, quantized), then the shortlist alone is re-ranked by EXACT
    distance and the top `k` returned with both ranks, so the re-ranking
    gain is visible per row (rank vs adc_rank).

    Pure composition: stage 1 IS ivfpq_topk (same routing, same stored
    codes, same LUT) asked for `shortlist` rows — it already carries
    exact_micro for its survivors, which is precisely the re-rank key.
    Scale shape: everything corpus-sized happens inside stage 1 with its
    nprobe/nlist pruning; stage 2 touches exactly `shortlist` rows (a
    bounded single-partition sort), which is why re-ranking is ~free in
    deployed IVF-PQ serving while recovering exact-metric order. Output:
    (rank, vec_id, cell, adc_rank, adc_micro, exact_micro)."""
    from hive_server_spark.operators.topk import global_topk

    base = ivfpq_topk(
        emb,
        query_vec_id=query_vec_id,
        k=shortlist,
        nlist=nlist,
        nprobe=nprobe,
        m=m,
        ksub=ksub,
        micro=micro,
    ).select(
        F.col("rank").alias("adc_rank"),
        "vec_id",
        "cell",
        "adc_micro",
        "exact_micro",
    )
    return global_topk(base, [F.asc("exact_micro"), F.asc("vec_id")], k).select(
        F.col("rk").alias("rank"),
        "vec_id",
        "cell",
        "adc_rank",
        "adc_micro",
        "exact_micro",
    )


def ivfpq_rerank_oracle(
    query_vec_id: int = 0,
    k: int = 5,
    shortlist: int = 20,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    micro: int = 1_000_000,
) -> str:
    """The ivfpq_topk oracle asked for the shortlist, wrapped in the
    exact-distance re-rank — the same composition the Spark side runs."""
    base = ivfpq_topk_oracle(
        query_vec_id=query_vec_id,
        k=shortlist,
        nlist=nlist,
        nprobe=nprobe,
        m=m,
        ksub=ksub,
        micro=micro,
    )
    return f"""
SELECT CAST(row_number() OVER (ORDER BY b.exact_micro ASC, b.vec_id ASC)
            AS BIGINT)   AS rank,
       b.vec_id,
       b.cell,
       b.rank            AS adc_rank,
       b.adc_micro,
       b.exact_micro
FROM ({base}) b
ORDER BY b.exact_micro ASC, b.vec_id ASC
LIMIT {k}
"""


def ivfpq_batch_topk_oracle(
    n_queries: int = 8,
    k: int = 3,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    micro: int = 1_000_000,
) -> str:
    dsub = 64 // m
    cd2 = sqdist_expr("vec.v", "cc.ccv", "d")
    qd2 = sqdist_expr("q.qv", "cc.ccv", "d")
    d2 = sqdist_expr(
        f"list_slice(vec.v, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        f"list_slice(c.cv, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        "d",
    )
    lut_d2 = sqdist_expr(
        f"list_slice(q.qv, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        f"list_slice(c.cv, s.m * {dsub} + 1, s.m * {dsub} + {dsub})",
        "d",
    )
    exact_d2 = sqdist_expr("vec.v", "q.qv", "d")
    return f"""
WITH vec AS (SELECT vec_id, {vec_expr('embedding', 'd')} AS v FROM embeddings),
cc AS (SELECT vec_id AS ccid, v AS ccv FROM vec WHERE vec_id < {nlist}),
q AS (SELECT vec_id AS qid, v AS qv FROM vec WHERE vec_id < {n_queries}),
ad AS (
  SELECT vec.vec_id, cc.ccid, {cd2} AS cd2
  FROM vec CROSS JOIN cc
),
assign AS (
  SELECT vec_id, CAST(ccid AS BIGINT) AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd2, ccid) AS rn
    FROM ad
  ) WHERE rn = 1
),
probe AS (
  SELECT qid, cell FROM (
    SELECT q.qid, CAST(cc.ccid AS BIGINT) AS cell,
           row_number() OVER (PARTITION BY q.qid ORDER BY {qd2}, cc.ccid) AS rn
    FROM q CROSS JOIN cc
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.qid, a.vec_id, a.cell
  FROM assign a JOIN probe p ON a.cell = p.cell
  WHERE a.vec_id <> p.qid
),
cv AS (SELECT DISTINCT vec_id FROM cand),
c AS (SELECT vec_id AS cid, v AS cv FROM vec WHERE vec_id < {ksub}),
s AS (SELECT unnest(range(0, {m})) AS m),
d AS (
  SELECT vec.vec_id, s.m, c.cid, {d2} AS d2
  FROM vec JOIN cv ON vec.vec_id = cv.vec_id CROSS JOIN s CROSS JOIN c
),
a AS (
  SELECT vec_id, m, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
lut AS (
  SELECT q.qid, s.m, c.cid,
         CAST(floor({lut_d2} * {micro}) AS BIGINT) AS lut_micro
  FROM q CROSS JOIN s CROSS JOIN c
),
adc AS (
  SELECT cand.qid, cand.vec_id, cand.cell,
         CAST(SUM(lut.lut_micro) AS BIGINT) AS adc_micro
  FROM cand JOIN a ON cand.vec_id = a.vec_id
            JOIN lut ON cand.qid = lut.qid AND a.m = lut.m AND a.cid = lut.cid
  GROUP BY cand.qid, cand.vec_id, cand.cell
),
top AS (
  SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cell, adc_micro FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY adc_micro ASC, vec_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {k}
)
SELECT top.qid, top.rank, top.vec_id, top.cell, top.adc_micro,
       CAST(floor({exact_d2} * {micro}) AS BIGINT) AS exact_micro
FROM top JOIN vec ON top.vec_id = vec.vec_id
         JOIN q ON top.qid = q.qid
"""


# ---------------------------------------------------------------------------
# Hard-negative mining: for each anchor vector, the most
# cosine-similar vectors with a DIFFERENT label — the contrastive-training
# curation step (high-similarity cross-label neighbors are the negatives
# that carry gradient; random negatives are too easy). The anchor set is
# bounded BY CONSTRUCTION (vec_id < n_anchors, a fixed probe set — the
# survivor-set lesson: only provably bounded sides broadcast); production
# mining over a corpus-sized anchor set goes through the LSH bucket join
# (lsh_candidate_pairs) instead, filtering label equality at the pair stage.
# Scale shape: one corpus scan x n_anchors scored rows, then the two-level
# grouped_topk (per-partition k-row heads, merge ranks ≤ k x n_partitions
# rows per anchor) — no corpus-sized single-task window sort per anchor.
# ---------------------------------------------------------------------------
def hard_negatives(emb: DataFrame, n_anchors: int = 8, k: int = 3) -> DataFrame:
    from hive_server_spark.operators.topk import grouped_topk

    v = _vecs(emb)
    q = v.where(F.col("vec_id") < n_anchors).select(
        F.col("v").alias("qv"),
        F.col("label").alias("q_label"),
        F.col("vec_id").alias("q_vec_id"),
    )
    cand = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("label") != F.col("q_label"))
        .select(
            "q_vec_id",
            "q_label",
            "vec_id",
            "label",
            F.expr(cosine_expr("v", "qv", "s")).alias("cosine"),
        )
        # negate for ascending struct sort inside grouped_topk (cosine is
        # finite here: vectors are non-zero by construction)
        .withColumn("neg_cosine", -F.col("cosine"))
    )
    out = grouped_topk(
        cand,
        group_cols=["q_vec_id", "q_label"],
        sort_cols=["neg_cosine", "vec_id"],
        payload_cols=["label", "cosine"],
        k=k,
    )
    return out.select("q_vec_id", "q_label", "vec_id", "label", "cosine", "rk")


def hard_negatives_oracle(n_anchors: int = 8, k: int = 3) -> str:
    return f"""
WITH v AS (SELECT vec_id, label, {vec_expr('embedding', 'd')} AS v FROM embeddings),
q AS (SELECT v AS qv, label AS q_label, vec_id AS q_vec_id FROM v
      WHERE vec_id < {n_anchors}),
scored AS (
  SELECT q.q_vec_id, q.q_label, e.vec_id, e.label,
         {cosine_expr('e.v', 'q.qv', 'd')} AS cosine
  FROM v e, q WHERE e.label <> q.q_label
)
SELECT q_vec_id, q_label, vec_id, label, cosine, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY q_vec_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rk
      FROM scored)
WHERE rk <= {k}
"""


# ---------------------------------------------------------------------------
# IVF routing recall curve: recall@k of cell-restricted exact
# search at nprobe = 1, 2, 4 against the full-scan exact top-k — the
# recall/compute trade-off table every ANN index ships with (the IVF
# contract: scanned fraction ~ nprobe/nlist, recall climbs toward 1).
# Exact distances everywhere — this isolates COARSE-ROUTING loss, while
# emb_pq_adc_topk / emb_ivfpq_topk cover quantization loss.
# Scale shape: one corpus scan for cell assignment (bounded coarse-
# codebook broadcast + map-side argmin), one bounded global top-k for the
# ground truth, a 1-row-per-cell rank table, and conditional aggregates —
# the recall join touches only the k ground-truth rows.
# ---------------------------------------------------------------------------
IVF_RECALL_PROBES = (1, 2, 4)


def ivf_recall_curve(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    nlist: int = IVF_NLIST,
    probes: tuple[int, ...] = IVF_RECALL_PROBES,
) -> DataFrame:
    from hive_server_spark.operators.topk import global_topk

    vec = _vecs(emb).select("vec_id", "v")
    coarse = vec.where(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("ccid"), F.col("v").alias("ccv")
    )
    q = vec.where(F.col("vec_id") == query_vec_id).select(F.col("v").alias("qv"))
    assign = (
        vec.crossJoin(F.broadcast(coarse))
        .withColumn("cd2", F.expr(sqdist_expr("v", "ccv", "s")))
        .groupBy("vec_id")
        .agg(F.min(F.struct("cd2", "ccid")).alias("b"))
        .select("vec_id", F.col("b.ccid").cast("bigint").alias("cell"))
    )
    ranks = global_topk(
        q.crossJoin(F.broadcast(coarse)).select(
            F.col("ccid").cast("bigint").alias("cell"),
            F.expr(sqdist_expr("qv", "ccv", "s")).alias("qd2"),
        ),
        [F.asc("qd2"), F.asc("cell")],
        nlist,
        rank_col="cell_rank",
    ).select("cell", "cell_rank")
    exact = global_topk(
        vec.where(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.expr(sqdist_expr("v", "qv", "s")).alias("d2")),
        [F.asc("d2"), F.asc("vec_id")],
        k,
    ).select("vec_id")
    ranked = (
        assign.where(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(ranks), "cell")
    )
    cands = ranked.agg(
        *[
            F.sum(F.when(F.col("cell_rank") <= p, 1).otherwise(0))
            .cast("bigint")
            .alias(f"cand_{p}")
            for p in probes
        ]
    )
    hits = ranked.join(F.broadcast(exact), "vec_id").agg(
        *[
            F.sum(F.when(F.col("cell_rank") <= p, 1).otherwise(0))
            .cast("bigint")
            .alias(f"hits_{p}")
            for p in probes
        ]
    )
    stack = ", ".join(
        f"CAST({p} AS BIGINT), cand_{p}, hits_{p}" for p in probes
    )
    return (
        cands.crossJoin(F.broadcast(hits))
        .selectExpr(
            f"stack({len(probes)}, {stack}) AS (nprobe, n_candidates, hits)"
        )
        .selectExpr(
            "nprobe",
            "n_candidates",
            "hits",
            f"CAST(round(1000000.0 * hits / {k}) AS BIGINT) AS recall_micro",
        )
    )


def ivf_recall_oracle(
    query_vec_id: int = 0,
    k: int = 10,
    nlist: int = IVF_NLIST,
    probes: tuple[int, ...] = IVF_RECALL_PROBES,
) -> str:
    cd2 = sqdist_expr("vec.v", "cc.ccv", "d")
    exact_d2 = sqdist_expr("vec.v", "q.qv", "d")
    cand_cols = ", ".join(
        f"SUM(CASE WHEN cell_rank <= {p} THEN 1 ELSE 0 END) AS cand_{p}"
        for p in probes
    )
    hit_cols = ", ".join(
        f"SUM(CASE WHEN r.cell_rank <= {p} THEN 1 ELSE 0 END) AS hits_{p}"
        for p in probes
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({p} AS BIGINT) AS nprobe, "
        f"CAST(c.cand_{p} AS BIGINT) AS n_candidates, "
        f"CAST(h.hits_{p} AS BIGINT) AS hits, "
        f"CAST(round(1000000.0 * h.hits_{p} / {k}) AS BIGINT) AS recall_micro "
        f"FROM c CROSS JOIN h"
        for p in probes
    )
    return f"""
WITH vec AS (SELECT vec_id, {vec_expr('embedding', 'd')} AS v FROM embeddings),
cc AS (SELECT vec_id AS ccid, v AS ccv FROM vec WHERE vec_id < {nlist}),
ad AS (SELECT vec.vec_id, cc.ccid, {cd2} AS cd2 FROM vec CROSS JOIN cc),
assign AS (
  SELECT vec_id, CAST(ccid AS BIGINT) AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd2, ccid) AS rn
    FROM ad) WHERE rn = 1
),
ranks AS (
  SELECT CAST(ccid AS BIGINT) AS cell,
         row_number() OVER (ORDER BY cd2, ccid) AS cell_rank
  FROM ad WHERE vec_id = {query_vec_id}
),
q AS (SELECT v AS qv FROM vec WHERE vec_id = {query_vec_id}),
exact AS (
  SELECT vec_id FROM (
    SELECT vec.vec_id,
           row_number() OVER (ORDER BY {exact_d2}, vec.vec_id) AS rn
    FROM vec CROSS JOIN q WHERE vec.vec_id <> {query_vec_id})
  WHERE rn <= {k}
),
ranked AS (
  SELECT a.vec_id, r.cell_rank FROM assign a JOIN ranks r USING (cell)
  WHERE a.vec_id <> {query_vec_id}
),
c AS (SELECT {cand_cols} FROM ranked),
h AS (SELECT {hit_cols} FROM ranked r JOIN exact e USING (vec_id))
{unions}
"""


# ---------------------------------------------------------------------------
# Bitext mining: CCMatrix/LASER-style parallel-corpus discovery —
# for every source-language document, the most cosine-similar
# target-language document among LSH co-bucket candidates, using the
# multilingual embedding as the alignment space (Schwenk et al. 2021,
# public). Fewer hyperplanes than the near-dup detector (4 -> 16 buckets):
# mining wants RECALL of moderately-similar cross-lingual pairs, not
# precision on near-identical ones, so buckets are kept coarse/occupied.
# Scale shape: docs ⋈ embeddings is a co-keyed equi-join (doc_id = vec_id;
# at scale the embedding column lives in the same table and the join
# disappears); candidate generation is a bucket equi-shuffle with expected
# pair volume n_src*n_tgt/2^planes; exact cosine only on candidates; the
# per-source top-1 window sorts one bucket's target members (bounded by
# occupancy — a degenerate hot bucket is capped the same way
# lsh_candidate_pairs.max_bucket does).
# ---------------------------------------------------------------------------
BITEXT_PLANES = 4


def bitext_mining(
    docs: DataFrame,
    emb: DataFrame,
    src_lang: str = "zh",
    tgt_lang: str = "en",
    n_planes: int = BITEXT_PLANES,
) -> DataFrame:
    langs = docs.select("doc_id", "lang")
    v = _vecs(emb).select(
        F.col("vec_id").alias("doc_id"),
        "v",
        F.expr(bucket_expr("v", 64, "s", n_planes)).cast("bigint").alias("bucket"),
    ).join(langs, "doc_id")
    src = v.where(F.col("lang") == src_lang).select(
        F.col("doc_id").alias("src_doc_id"),
        F.col("v").alias("sv"),
        "bucket",
    )
    tgt = v.where(F.col("lang") == tgt_lang).select(
        F.col("doc_id").alias("tgt_doc_id"),
        F.col("v").alias("tv"),
        "bucket",
    )
    pairs = src.join(tgt, "bucket").select(
        "src_doc_id",
        "tgt_doc_id",
        "bucket",
        F.expr(cosine_expr("sv", "tv", "s")).alias("cosine"),
    )
    w = Window.partitionBy("src_doc_id")
    wr = w.orderBy(F.desc("cosine"), F.asc("tgt_doc_id"))
    return (
        pairs.withColumn("n_candidates", F.count("*").over(w).cast("bigint"))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("src_doc_id", "tgt_doc_id", "bucket", "n_candidates", "cosine")
    )


def bitext_oracle(
    src_lang: str = "zh", tgt_lang: str = "en", n_planes: int = BITEXT_PLANES
) -> str:
    return f"""
WITH v AS (
  SELECT e.vec_id AS doc_id, d.lang,
         {vec_expr('e.embedding', 'd')} AS v
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
b AS (
  SELECT doc_id, lang, v,
         CAST({bucket_expr('v', 64, 'd', n_planes)} AS BIGINT) AS bucket
  FROM v
),
pairs AS (
  SELECT s.doc_id AS src_doc_id, t.doc_id AS tgt_doc_id, s.bucket,
         {cosine_expr('s.v', 't.v', 'd')} AS cosine
  FROM b s JOIN b t ON s.bucket = t.bucket
  WHERE s.lang = '{src_lang}' AND t.lang = '{tgt_lang}'
)
SELECT src_doc_id, tgt_doc_id, bucket, n_candidates, cosine
FROM (
  SELECT *,
         CAST(COUNT(*) OVER (PARTITION BY src_doc_id) AS BIGINT)
           AS n_candidates,
         row_number() OVER (PARTITION BY src_doc_id
                            ORDER BY cosine DESC, tgt_doc_id ASC) AS rn
  FROM pairs
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# MMR diverse re-ranking: Maximal Marginal Relevance (Carbonell &
# Goldstein 1998, public) — re-rank a relevance top-N pool down to k items
# that are relevant AND mutually dissimilar: each step picks
# argmax λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s). The de-duplicated
# retrieval step of a RAG stack (rag_hybrid_rrf fuses arms; this
# diversifies the final context window).
# Exactness: rel and sim are the house cosine folds; each step's score is
# ONE micro-rounding of the full λ-expression (BIGINT compare, vec_id
# tie-break), so both engines select identical items at every step.
# Scale shape: the iterative part never touches the corpus — the pool is
# a bounded top-N (TakeOrderedAndProject), pairwise sims are pool×pool
# (N² ≤ 625 rows, broadcast), and each of the k−1 selection steps is an
# agg + 1-row argmax over ≤N rows. k and N are constants, so the chained
# plan is bounded regardless of corpus size.
# ---------------------------------------------------------------------------
MMR_POOL = 25
MMR_K = 5
MMR_LAMBDA_PCT = 70  # λ = 0.70, spelled in integer percent to keep the
#                      expression text identical in both dialects


def _mmr_score(rel: str, max_sim: str) -> str:
    lam = MMR_LAMBDA_PCT
    return (
        f"CAST(round(1000000.0 * (({lam}.0 / 100.0) * {rel} "
        f"- ({100 - lam}.0 / 100.0) * {max_sim})) AS BIGINT)"
    )


def mmr_diverse_topk(
    emb: DataFrame, query_vec_id: int = 0, pool_n: int = MMR_POOL, k: int = MMR_K
) -> DataFrame:
    # materialize the bounded pool once (localCheckpoint truncates lineage —
    # the k−1 selection steps below must NOT each replay the corpus scan,
    # which is exactly what lazily chaining them onto cosine_topk would do)
    pool = (
        cosine_topk(emb, query_vec_id, k=pool_n)
        .select("vec_id", "label", F.col("cosine").alias("rel"))
        .localCheckpoint()
    )
    vecs = _vecs(emb).select("vec_id", "v")
    pv = pool.join(
        F.broadcast(vecs.join(F.broadcast(pool.select("vec_id")), "vec_id")),
        "vec_id",
    )
    a, b = pv.alias("a"), pv.alias("b")
    sims = (
        a.join(F.broadcast(b), F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("other"),
            F.expr(cosine_expr("a.v", "b.v", "s")).alias("sim"),
        )
        .localCheckpoint()
    )
    picks: list[DataFrame] = []
    selected = None
    for step in range(1, k + 1):
        if step == 1:
            scored = pool.select(
                "vec_id",
                "label",
                "rel",
                F.expr(_mmr_score("rel", "0.0")).alias("mmr_micro"),
            )
        else:
            msim = (
                sims.join(F.broadcast(selected.select(F.col("vec_id").alias("other"))), "other")
                .groupBy("vec_id")
                .agg(F.max("sim").alias("max_sim"))
            )
            scored = (
                pool.join(F.broadcast(selected.select("vec_id")), "vec_id", "left_anti")
                .join(F.broadcast(msim), "vec_id")
                .select(
                    "vec_id",
                    "label",
                    "rel",
                    F.expr(_mmr_score("rel", "max_sim")).alias("mmr_micro"),
                )
            )
        # checkpoint each 1-row pick: later steps reference ALL earlier
        # picks, so a lazy pick makes the chained plan grow combinatorially
        # (2^k sub-plans) — eager truncation keeps every step's plan flat
        pick = (
            scored.orderBy(F.desc("mmr_micro"), F.asc("vec_id"))
            .limit(1)
            .withColumn("step", F.lit(step).cast("bigint"))
            .localCheckpoint()
        )
        picks.append(pick)
        sel_new = pick.select("vec_id")
        selected = sel_new if selected is None else selected.unionByName(sel_new)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select("step", "vec_id", "label", "rel", "mmr_micro")


def mmr_oracle(
    query_vec_id: int = 0, pool_n: int = MMR_POOL, k: int = MMR_K
) -> str:
    """k−1 chained selection CTEs — the oracle spells the iteration out
    longhand so DuckDB recomputes MMR with zero shared code."""
    steps = []
    prev_sel = None
    for step in range(1, k + 1):
        if step == 1:
            steps.append(
                f"sel1 AS (SELECT 1 AS step, vec_id, label, rel, "
                f"{_mmr_score('rel', '0.0')} AS mmr_micro "
                f"FROM pool ORDER BY {_mmr_score('rel', '0.0')} DESC, vec_id ASC "
                f"LIMIT 1)"
            )
            prev_sel = "sel1"
        else:
            union_prev = " UNION ALL ".join(
                f"SELECT vec_id FROM sel{i}" for i in range(1, step)
            )
            steps.append(
                f"sel{step} AS (\n"
                f"  SELECT {step} AS step, p.vec_id, p.label, p.rel,\n"
                f"         {_mmr_score('p.rel', 'm.max_sim')} AS mmr_micro\n"
                f"  FROM pool p\n"
                f"  JOIN (SELECT s.vec_id, MAX(s.sim) AS max_sim FROM sims s\n"
                f"        WHERE s.other IN ({union_prev})\n"
                f"        GROUP BY s.vec_id) m ON p.vec_id = m.vec_id\n"
                f"  WHERE p.vec_id NOT IN ({union_prev})\n"
                f"  ORDER BY {_mmr_score('p.rel', 'm.max_sim')} DESC, p.vec_id ASC\n"
                f"  LIMIT 1)"
            )
    all_steps = ",\n".join(steps)
    union_all = "\nUNION ALL\n".join(f"SELECT * FROM sel{i}" for i in range(1, k + 1))
    return f"""
WITH v AS (SELECT vec_id, label, {vec_expr('embedding', 'd')} AS v FROM embeddings),
q AS (SELECT v AS qv, vec_id AS q_vec_id FROM v WHERE vec_id = {query_vec_id}),
pool AS (
  SELECT vec_id, label, rel, v FROM (
    SELECT e.vec_id, e.label, e.v,
           {cosine_expr('e.v', 'q.qv', 'd')} AS rel,
           row_number() OVER (ORDER BY {cosine_expr('e.v', 'q.qv', 'd')} DESC,
                              e.vec_id ASC) AS rn
    FROM v e, q WHERE e.vec_id <> q.q_vec_id)
  WHERE rn <= {pool_n}
),
sims AS (
  SELECT a.vec_id, b.vec_id AS other, {cosine_expr('a.v', 'b.v', 'd')} AS sim
  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
),
{all_steps}
SELECT CAST(step AS BIGINT) AS step, vec_id, label, rel, mmr_micro
FROM ({union_all})
"""


# ---------------------------------------------------------------------------
# Semantic decontamination: the embedding-space twin of
# text_decontaminate — flag corpus vectors whose cosine against ANY
# held-out benchmark vector (vec_id % 101 = 0, the same holdout convention
# as the n-gram sweep) reaches the near-dup threshold. Paraphrased eval
# leakage survives n-gram sweeps; this is the sweep that catches it
# (SemDeDup-style, Abbas et al. 2023, public). Candidates come from coarse
# LSH co-buckets (4 planes — recall over precision, the bitext stance);
# every corpus vector is returned with its candidate count and max
# benchmark cosine (NULL when its bucket holds no benchmark vector), so
# the output is never empty and the non-candidate majority is visible.
# The synthetic corpus's own near-dup structure never crosses the % 101
# holdout (no >= 0.999 pair does, at any SF), so the sweep's POSITIVE path
# is exercised the way the text packs exercise theirs — by injection: an
# exact clone of every even-id benchmark vector is planted into the corpus
# side under vec_id + 1_000_000 (cosine exactly 1.0 against its source),
# so `contaminated` fires deterministically at every scale factor.
# Scale shape: the benchmark side is a FIXED eval suite — bounded by
# construction, broadcast like the n-gram sweep's shingle set; the corpus
# streams through one bucket projection + broadcast left join + per-vec
# max (order-free) — no corpus shuffle at all.
# ---------------------------------------------------------------------------
SEMDECON_THRESHOLD = "0.98"
_SEMDECON_CLONE_SHIFT = 1_000_000


def semantic_decontaminate(
    emb: DataFrame, n_planes: int = BITEXT_PLANES
) -> DataFrame:
    v = _vecs(emb).select(
        "vec_id",
        "v",
        F.expr(bucket_expr("v", 64, "s", n_planes)).cast("bigint").alias("bucket"),
    )
    bench = v.where(F.col("vec_id") % 101 == 0).select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("v").alias("bv"),
        "bucket",
    )
    clones = bench.where(F.col("b_vec_id") % 2 == 0).select(
        (F.col("b_vec_id") + _SEMDECON_CLONE_SHIFT).alias("vec_id"),
        F.col("bv").alias("v"),
        "bucket",
    )
    corpus = v.where(F.col("vec_id") % 101 != 0).unionByName(clones)
    joined = corpus.join(F.broadcast(bench), "bucket", "left").select(
        "vec_id",
        "bucket",
        "b_vec_id",
        F.when(
            F.col("b_vec_id").isNotNull(),
            F.expr(cosine_expr("v", "bv", "s")),
        ).alias("cos"),
    )
    return joined.groupBy("vec_id", "bucket").agg(
        F.count("b_vec_id").cast("bigint").alias("n_bench_candidates"),
        F.max("cos").alias("max_bench_cos"),
        (F.max("cos") >= F.expr(f"CAST({SEMDECON_THRESHOLD} AS DOUBLE)"))
        .alias("contaminated"),
    )


def semantic_decontaminate_oracle(n_planes: int = BITEXT_PLANES) -> str:
    return f"""
WITH v AS (
  SELECT vec_id, {vec_expr('embedding', 'd')} AS v FROM embeddings
),
b AS (
  SELECT vec_id, v,
         CAST({bucket_expr('v', 64, 'd', n_planes)} AS BIGINT) AS bucket
  FROM v
),
bench AS (SELECT vec_id AS b_vec_id, v AS bv, bucket FROM b
          WHERE vec_id % 101 = 0),
corpus AS (
  SELECT vec_id, v, bucket FROM b WHERE vec_id % 101 <> 0
  UNION ALL
  SELECT b_vec_id + {_SEMDECON_CLONE_SHIFT} AS vec_id, bv AS v, bucket
  FROM bench WHERE b_vec_id % 2 = 0
),
joined AS (
  SELECT c.vec_id, c.bucket, be.b_vec_id,
         CASE WHEN be.b_vec_id IS NOT NULL
              THEN {cosine_expr('c.v', 'be.bv', 'd')} END AS cos
  FROM corpus c LEFT JOIN bench be ON c.bucket = be.bucket
)
SELECT vec_id, bucket,
       CAST(COUNT(b_vec_id) AS BIGINT) AS n_bench_candidates,
       MAX(cos) AS max_bench_cos,
       MAX(cos) >= CAST({SEMDECON_THRESHOLD} AS DOUBLE) AS contaminated
FROM joined GROUP BY vec_id, bucket
"""
