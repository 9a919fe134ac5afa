"""Text-analysis & deduplication primitives over `documents` (SURVEY §7 step 6).

The reference has no text surface; these are the training-data-pipeline
operators the north star demands: tokenization, token-count estimation,
language ID, quality scoring, document fingerprinting, exact dedup,
n-gram-Jaccard near-dup, MinHash-LSH, and SimHash.

Design: every primitive is a *pure columnar expression* built from Spark
built-ins (split / transform / aggregate / array_min — all JVM-side,
whole-stage-codegen; zero Python UDFs), so the same structure can be emitted
for the DuckDB oracle. The two dialects share one template per primitive
(`_D` dispatch below); the only divergence is function spelling
(conv-from-hex vs '0x'-cast, element_at vs 1-based [], sequence vs range).

Determinism: all hashes derive from md5 (identical bytes cross-engine, seeded
per hash-function index); all ratios are a single IEEE double division; all
folds are in-array-order left folds. Bit-identical in both engines.

Scale posture (100 TB): everything here is per-row narrow work (no shuffle)
except the dedup joins, which shuffle on shingle / band-key / fingerprint —
all fine-grained keys. Hot-key risk lives in `ngram_jaccard_pairs` (a shingle
shared by k docs makes k² join rows); `DF_CUT` drops shingles whose document
frequency exceeds a cap, the standard df-cut that bounds the blowup, and
MinHash-LSH is the preferred path at scale (band buckets are O(dups), not
O(pairs))."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hive_server_spark.functions.clusters import bucket_pairs, cap_buckets

N_MINHASH = 8  # minhash functions
N_BANDS = 4  # LSH bands (2 rows per band)
SIMHASH_BITS = 32
DF_CUT = 1000  # drop shingles present in more docs than this (df-cut)
ROLL_MOD = 1_000_000_007
ROLL_MULT = 31


# ---------------------------------------------------------------------------
# dialect-dispatched expression fragments ('s' = Spark SQL, 'd' = DuckDB)
# ---------------------------------------------------------------------------
def hash_expr(x: str, seed: int | str, dialect: str) -> str:
    """32-bit integer hash of expression `x` under hash-function `seed`:
    first 8 hex chars of md5('{seed}:' || x) as a BIGINT. Identical bytes →
    identical value in both engines."""
    inner = f"concat('{seed}:', {x})"
    if dialect == "s":
        return f"CAST(conv(substring(md5({inner}),1,8),16,10) AS BIGINT)"
    return f"('0x'||substr(md5({inner}),1,8))::BIGINT"


def tokens_expr(text: str, dialect: str) -> str:
    if dialect == "s":
        return f"split({text}, ' ')"
    return f"string_split({text}, ' ')"


# GPT-2-style pretokenizer (contractions, letter runs, digit runs,
# punctuation runs, whitespace runs), written WITHOUT backslash classes:
# Spark SQL string literals process backslash escapes and DuckDB's don't,
# so an explicit [ \t\n\r] class is the only spelling that reaches both
# regex engines (Java util.regex / RE2) byte-identical.
_BPE_WS = " \t\n\r"
BPE_PATTERN = (
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+"
    f"| ?[^{_BPE_WS}A-Za-z0-9]+|[{_BPE_WS}]+"
)


def bpe_tokens_expr(text: str, dialect: str) -> str:
    """Token list under the BPE-ish pretokenizer regex — the unit LLM
    tokenizers split on before merges, so `len()` of this is the standard
    pre-merge token-count estimate (vs the whitespace count)."""
    if dialect == "s":
        pat = BPE_PATTERN.replace("'", "\\'")
        return f"regexp_extract_all({text}, '{pat}', 0)"
    pat = BPE_PATTERN.replace("'", "''")
    return f"regexp_extract_all({text}, '{pat}')"


def shingles_expr(toks: str, dialect: str) -> str:
    """Distinct 3-token shingles (word 3-grams); degenerate docs (<3 tokens)
    fall back to the whole token list joined — still one deterministic
    shingle.

    Spark form deliberately avoids element_at-in-a-lambda: Catalyst's
    CollapseProject inlines the tokenizer into every column reference, and an
    element_at(toks, i) inside transform() would then re-split the text per
    element (O(tokens²) per doc). zip_with over three slices evaluates each
    argument once per ROW, so inlining costs a constant number of splits."""
    if dialect == "s":
        n = f"size({toks})-2"
        s1, s2, s3 = (f"slice({toks}, {i}, {n})" for i in (1, 2, 3))
        one = (
            f"zip_with(zip_with({s1}, {s2}, (a, b) -> concat(a, ' ', b)), {s3}, "
            f"(ab, c) -> concat(ab, ' ', c))"
        )
        return (
            f"CASE WHEN size({toks}) >= 3 THEN array_distinct({one}) "
            f"ELSE array(array_join({toks},' ')) END"
        )
    seq = f"range(1, len({toks})-1)"
    one = f"list_transform({seq}, i -> {toks}[i]||' '||{toks}[i+1]||' '||{toks}[i+2])"
    return (
        f"CASE WHEN len({toks}) >= 3 THEN list_distinct({one}) "
        f"ELSE [array_to_string({toks},' ')] END"
    )


def ngram_list_expr(toks: str, k: int, dialect: str) -> str:
    """Ordered, NON-distinct word k-grams joined by single spaces; empty list
    when the doc has fewer than k tokens. The distinct-shingle variant above
    feeds dedup; this one feeds repetition analysis, where multiplicity IS
    the signal. Same CollapseProject-safe shape as shingles_expr: zip_with
    over k slices, each argument evaluated once per row."""
    if dialect == "s":
        n = f"size({toks})-{k - 1}"
        acc = f"slice({toks}, 1, {n})"
        for i in range(1, k):
            acc = f"zip_with({acc}, slice({toks}, {i + 1}, {n}), (a, b) -> concat(a, ' ', b))"
        return f"CASE WHEN size({toks}) >= {k} THEN {acc} ELSE array() END"
    # i ranges over 1 .. len-k+1 (duckdb range() excludes the stop value)
    seq = f"range(1, len({toks})-{k - 2})"
    parts = "||' '||".join(f"{toks}[i+{j}]" if j else f"{toks}[i]" for j in range(k))
    return (
        f"CASE WHEN len({toks}) >= {k} THEN list_transform({seq}, i -> {parts}) "
        f"ELSE [] END"
    )


def minhash_expr(shingles: str, seed: int, dialect: str) -> str:
    """min over shingles of the seeded hash — one minhash signature value."""
    h = hash_expr("s", seed, dialect)
    if dialect == "s":
        return f"array_min(transform({shingles}, s -> {h}))"
    return f"list_min(list_transform({shingles}, s -> {h}))"


def rolling_fp_expr(toks: str, dialect: str) -> str:
    """Order-sensitive polynomial rolling hash over the token stream:
    acc = (acc*31 + h(tok)) % (1e9+7). Exact BIGINT arithmetic; an in-order
    left fold in both engines, so content AND order fingerprint."""
    h = hash_expr("t", "roll", dialect)
    step = f"(acc * {ROLL_MULT} + {h}) % {ROLL_MOD}"
    if dialect == "s":
        return (
            f"aggregate({toks}, CAST(0 AS BIGINT), (acc, t) -> {step})"
        )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({toks}, t -> {h})), (acc, t) -> (acc * {ROLL_MULT} + t) % {ROLL_MOD})"
    )


def token_hashes_expr(toks: str, dialect: str) -> str:
    """Array of seeded 32-bit hashes, one per token (multiplicity kept)."""
    h = hash_expr("t", "sim", dialect)
    if dialect == "s":
        return f"transform({toks}, t -> {h})"
    return f"list_transform({toks}, t -> {h})"


def simhash_expr(th: str, dialect: str) -> str:
    """SimHash fingerprint over a precomputed token-hash array `th`: for each
    of SIMHASH_BITS bits, sum ±1 votes (bit set → +1) across tokens;
    fingerprint sets bit i iff the sum is >= 0. Repeated tokens vote
    repeatedly. `th` must be materialized once (token_hashes_expr) so md5
    runs once per token, not once per (token, bit)."""
    bit_terms = []
    for i in range(SIMHASH_BITS):
        vote = f"(((h >> {i}) & 1) * 2 - 1)"
        if dialect == "s":
            s = f"aggregate({th}, CAST(0 AS BIGINT), (acc, h) -> acc + {vote})"
        else:
            s = (
                f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
                f"list_transform({th}, h -> {vote})), (acc, v) -> acc + v)"
            )
        bit_terms.append(f"(CASE WHEN {s} >= 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(bit_terms) + ")"


STOPWORD_SETS: dict[str, tuple[str, ...]] = {
    # tiny function-word lists per candidate language (n-gram-heuristic
    # language ID: score = matching-token count; CJK scored by codepoint class)
    "en": ("the", "a", "of", "and", "is", "in", "to"),
    "es": ("el", "la", "de", "y", "es", "en", "los"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu"),
    "fr": ("le", "la", "de", "et", "est", "un", "les"),
}
CJK_RE = "[\\x{4e00}-\\x{9fff}]"


def stop_count_expr(toks: str, lang: str, dialect: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORD_SETS[lang])
    if dialect == "s":
        return f"size(filter({toks}, t -> t IN ({words})))"
    return f"len(list_filter({toks}, t -> t IN ({words})))"


def subtoken_count_expr(toks: str, dialect: str) -> str:
    """BPE-ish token-count estimate: ceil(len/4) subword units per word,
    integer arithmetic ((len+3) div 4)."""
    if dialect == "s":
        return f"aggregate({toks}, CAST(0 AS BIGINT), (acc, t) -> acc + CAST((length(t)+3) DIV 4 AS BIGINT))"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({toks}, t -> CAST((length(t)+3) // 4 AS BIGINT))), (a, b) -> a + b)"
    )


# ---------------------------------------------------------------------------
# DataFrame-level operators (Spark side)
# ---------------------------------------------------------------------------
def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster parallelism when the input arrives
    in fewer splits (e.g., one small parquet file). The per-row work after
    it (md5 hashing, array folds, Python codecs) is CPU-bound, so a single
    input split would serialize it on one core; at 100 TB the source has
    plenty of natural splits and this is a no-op.

    This is THE fan-out rule: each entry that starts per-row work (the
    tokenizer, the vector parse, every media synthesizer) spreads its own
    input, so spreading an already-spread frame must be free. The split
    count is therefore read from the planned physical output partitioning
    (pre-AQE: `RoundRobinPartitioning(n)` for a spread frame and anything
    narrow over it), which plans but never executes. `df.rdd` is not
    asked first: on a plan that holds an exchange, AQE materializes that
    shuffle stage (a Spark job) just to count its partitions. The
    `df.rdd` split count is read only when the plan does not know its
    partitioning (0): on a file scan, a local relation or a micro-batch it
    lists splits without running a job; on a persisted frame whose cache
    is not built yet it builds that cache a step early."""
    target = df.sparkSession.sparkContext.defaultParallelism
    planned = df._jdf.queryExecution().sparkPlan().outputPartitioning().numPartitions()
    if (planned or df.rdd.getNumPartitions()) < target:
        return df.repartition(target)
    return df


def with_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return spread(docs).withColumn("toks", F.expr(tokens_expr(text_col, "s")))


def with_shingles(docs: DataFrame, text_col: str = "text") -> DataFrame:
    # tokens materialize as a column FIRST: inlining split() into the shingle
    # lambda would re-split the text on every element_at access (O(tokens²))
    return with_tokens(docs, text_col).withColumn(
        "shingles", F.expr(shingles_expr("toks", "s"))
    )


def doc_profile(docs: DataFrame) -> DataFrame:
    """Per-document text-analysis profile: token counts, type-token ratio,
    BPE-ish subtoken estimate, stopword ratios, language ID, quality score,
    and two fingerprints (md5 exact; order-sensitive rolling hash).

    All per-row expressions — no shuffle, scales embarrassingly."""
    d = with_tokens(docs)
    toks = "toks"
    n_tokens = F.size(F.col(toks)).cast("bigint")
    n_distinct = F.size(F.array_distinct(F.col(toks))).cast("bigint")
    scores = {
        lang: F.expr(stop_count_expr(toks, lang, "s")).cast("bigint")
        for lang in STOPWORD_SETS
    }
    zh = F.when(F.col("text").rlike(CJK_RE), F.lit(1)).otherwise(F.lit(0)).cast("bigint")
    best = F.greatest(*scores.values(), zh)
    predicted = (
        F.when(zh == best, F.lit("zh"))  # CJK wins ties (charset evidence)
        .when(scores["en"] == best, F.lit("en"))
        .when(scores["es"] == best, F.lit("es"))
        .when(scores["de"] == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    ttr = n_distinct.cast("double") / n_tokens
    stop_total = sum(scores.values())
    stop_ratio = stop_total.cast("double") / n_tokens
    len_term = F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
    quality = (F.lit(0.5) * ttr + F.lit(0.3) * (F.lit(1.0) - stop_ratio)) + F.lit(0.2) * len_term
    return d.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.expr(subtoken_count_expr(toks, "s")).cast("bigint").alias("n_subtokens"),
        ttr.alias("ttr"),
        stop_ratio.alias("stop_ratio"),
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("lang_match"),
        quality.alias("quality_score"),
        F.md5("text").alias("fingerprint_md5"),
        F.expr(rolling_fp_expr(toks, "s")).cast("bigint").alias("fingerprint_roll"),
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup via content-hash group-by: canonical doc = min doc_id per
    md5(text) group. One shuffle on the 128-bit fingerprint — the exact-dup
    analogue of a distinct, with group provenance kept."""
    return (
        docs.select("doc_id", F.md5("text").alias("fingerprint_md5"))
        .groupBy("fingerprint_md5")
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
            F.count("*").cast("bigint").alias("group_size"),
        )
    )


def _shingle_edges(docs: DataFrame) -> DataFrame:
    """doc_id → exploded distinct shingles, with the df-cut applied."""
    sh = with_shingles(docs).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    df_ok = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") <= DF_CUT)
        .select("shingle")
    )
    return sh.join(df_ok, "shingle", "left_semi")


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs: explode distinct 3-gram shingles,
    self-join on shingle (equi-shuffle), count common shingles per pair, then
    jaccard = common / (|A| + |B| - common).

    Quadratic in per-shingle document frequency — bounded by DF_CUT; at 100 TB
    prefer minhash_candidates (band buckets) and use this as the verifier on
    the candidate set only."""
    sh = _shingle_edges(docs).cache()
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    na = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.col("common").cast("bigint").alias("common"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            "jaccard",
        )
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Per-doc MinHash signature (N_MINHASH seeded md5-hash minima over the
    shingle set) + N_BANDS LSH band keys (2 signature values concatenated).
    Pure per-row expressions — no shuffle, no UDF."""
    d = with_shingles(docs)
    sig = [
        F.expr(minhash_expr("shingles", j, "s")).cast("bigint").alias(f"mh_{j}")
        for j in range(N_MINHASH)
    ]
    out = d.select("doc_id", *sig)
    for band in range(N_BANDS):
        out = out.withColumn(
            f"band_{band}",
            F.concat_ws("_", F.col(f"mh_{2*band}"), F.col(f"mh_{2*band+1}")),
        )
    return out


def band_keys(sigs: DataFrame) -> DataFrame:
    """Explode a minhash_signatures frame to (doc_id, band_key) — one row
    per band, band_key = '<band idx>#<sig>_<sig>'. The ONE Spark spelling
    of the LSH bucket key (shared by the batch candidate join and the
    streaming near-dup index; the oracle twin is text_pack's
    _band_union_d)."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws("#", F.lit(b), F.col(f"band_{b}"))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band_key"),
    )


def doc_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band_key) MinHash LSH band rows of a documents frame — the
    rows every text near-dup form (batch candidates, the persisted-index
    refresh, the streaming index, the fused bundle verdict) bands."""
    return band_keys(minhash_signatures(docs))


def minhash_candidates(docs: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """LSH candidate pairs (doc_a, doc_b): docs sharing at least one band
    bucket (functions/clusters.py `bucket_pairs`). Shuffle is on band keys
    (fine-grained); output is O(near-dups), never O(n²) — the scale path
    for dedup. Pairs are distinct across bands.

    `max_bucket` is the adversarial-input guard (`cap_buckets`): docs of a
    dropped bucket are (near-)identical by construction and belong to
    `exact_dedup`'s hash-group path instead, which handles them in O(b).
    None = uncapped (the parity-gate configuration)."""
    bands = cap_buckets(doc_bands(docs), ["band_key"], max_bucket)
    return bucket_pairs(bands, ["band_key"], "doc_id").select(
        F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b")
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """Per-doc 32-bit SimHash + two 16-bit halves as LSH bucket keys (pairs
    within hamming distance 16 of each other share at least one half; for the
    usual ≤3-bit near-dup radius the halves are a safe candidate filter)."""
    d = with_tokens(docs).withColumn("th", F.expr(token_hashes_expr("toks", "s")))
    return (
        d.select("doc_id", F.expr(simhash_expr("th", "s")).cast("bigint").alias("simhash"))
        .select(
            "doc_id",
            "simhash",
            (F.col("simhash") % 65536).cast("bigint").alias("band_lo"),
            F.expr("simhash DIV 65536").cast("bigint").alias("band_hi"),
        )
    )
