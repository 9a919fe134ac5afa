"""Python-UDF surface (SURVEY §2.10), value-gated.

The reference's per-event handlers are arbitrary JS functions
(src/services/hive-listener.ts:228-335); the Spark equivalents are Arrow-
vectorized pandas UDFs (scalar) and grouped-map applyInPandas (whole-group
transforms). UDFs are the engine's slow path — everything else in this repo
stays JVM-side — so the two gate entries here pin the contract that makes
them safe to use at all: byte-identical results to the declarative oracle.

Exactness recipe:
- integer outputs from the UDF (counts) are trivially exact;
- float means are computed on a 2^-20 fixed-point grid: floor(value * 2^20)
  is exact in binary FP (power-of-two scaling never rounds), the integer
  sum is exact in both engines, and the divisions back happen in one fixed
  IEEE order — no float *summation* exists anywhere, so there is no
  dependence on any engine's compensated-summation implementation
  (math.fsum is Shewchuk-exact but DuckDB's fsum() is Kahan — not
  guaranteed correctly rounded, a one-ulp divergence class this removes);
- a - b on doubles is a single IEEE op, identical everywhere.

Scale posture: scalar pandas UDFs pipeline Arrow batches (no shuffle);
grouped-map shuffles once on the group key and streams each group through a
worker — group size, not table size, bounds worker memory.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hive_server_spark.catalog import load_table
from hive_server_spark.registry import register


# ---------------------------------------------------------------------------
# Scalar (vectorized) pandas UDF: per-row text measurement.
# Built lazily — decorating at module import would require an active
# SparkContext, and this module must be importable before any session exists
# (the driver imports __spark_entry__ first).
# ---------------------------------------------------------------------------
def _alpha_count_udf():
    @pandas_udf("long")
    def _alpha_count(texts: pd.Series) -> pd.Series:
        return texts.str.count(r"[a-zA-Z]").astype("int64")

    return _alpha_count


@register(
    "udf_alpha_quality",
    """
SELECT doc_id,
       CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
            AS BIGINT) AS n_alpha,
       CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
            AS DOUBLE) / n_chars AS alpha_ratio
FROM documents
WHERE doc_id % 3 = 0
""",
)
def udf_alpha_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Letter-density quality score via an Arrow-batched scalar pandas UDF.
    The UDF returns an exact integer; the one float division happens after,
    so the Python path is hash-identical to the oracle's regexp counting."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    return d.select(
        "doc_id", _alpha_count_udf()("text").alias("n_alpha"), "n_chars"
    ).select(
        "doc_id",
        "n_alpha",
        (F.col("n_alpha").cast("double") / F.col("n_chars")).alias("alpha_ratio"),
    )


# ---------------------------------------------------------------------------
# Grouped-map applyInPandas: per-user value centering
# ---------------------------------------------------------------------------
_Q = 1048576.0  # 2^20 — power-of-two scale, value*_Q never rounds


def _center(pdf: pd.DataFrame) -> pd.DataFrame:
    # exact integer sum of the 2^-20-quantized values (Python ints, no
    # precision cap), then double conversion + division in the same order
    # the SQL oracle uses: double(sum) / double(n) / 2^20
    q_sum = sum(math.floor(v) for v in (pdf["value"].to_numpy() * _Q))
    mean = float(q_sum) / float(len(pdf)) / _Q
    out = pdf[["event_id", "user_id", "value"]].copy()
    out["user_mean"] = mean
    out["centered"] = pdf["value"] - mean
    return out


@register(
    "udf_user_centered_values",
    """
WITH base AS (
  SELECT event_id, user_id, value FROM events WHERE user_id % 5 = 0
), stats AS (
  SELECT user_id,
         CAST(SUM(CAST(floor(value * 1048576.0) AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) / 1048576.0 AS user_mean
  FROM base GROUP BY user_id
)
SELECT b.event_id, b.user_id, b.value,
       s.user_mean,
       b.value - s.user_mean AS centered
FROM base b JOIN stats s USING (user_id)
""",
)
def udf_user_centered_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-group Python transform: each user's events stream through one
    worker as an Arrow batch and come back centered on the user mean. The
    mean is the 2^-20 fixed-point quantized mean (see module docstring):
    exact integer arithmetic end-to-end, so the Python path and the DuckDB
    oracle are bit-identical with no compensated-summation assumptions."""
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 5 == 0)
        .select("event_id", "user_id", "value")
    )
    return e.groupBy("user_id").applyInPandas(
        _center,
        schema="event_id long, user_id long, value double, user_mean double, centered double",
    )


# ---------------------------------------------------------------------------
# Python UDTF: the table-function third of the UDF/UDAF/UDTF
# surface (Spark 4 `@udtf`, Arrow-transported) — a per-row generator that
# EMITS rows, joined laterally, which neither a scalar UDF (1→1) nor a
# grouped map (group→group) expresses. Showcase: character-trigram
# emission over the doc_id % 50 == 0 slice, aggregated to the corpus-head
# census. The oracle recomputes the same rows declaratively (substring
# over an unnested position range), so the Python generator's emission
# contract — positions, boundaries, short-string behavior — is value-
# gated, same as every other query.
# Scale posture: a UDTF is per-row Python (the slow path, like every UDF
# here) — the gate restricts it to a corpus slice and the docstring's
# contract is the API shape, not throughput; the declarative twin IS the
# production plan for this particular job.
# ---------------------------------------------------------------------------
_UDTF_N = 3
_UDTF_TOP = 20


def _char_ngrams_udtf():
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: bigint, gram: string")
    class CharNgrams:
        def eval(self, text, n):
            if text is None:
                return
            for i in range(len(text) - n + 1):
                yield i + 1, text[i : i + n]

    return CharNgrams


@register(
    "udtf_char_ngram_census",
    f"""
WITH sliced AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
),
grams AS (
  SELECT doc_id, unnest(range(1, length(text) - {_UDTF_N} + 2)) AS pos,
         substring(text, CAST(unnest(range(1, length(text) - {_UDTF_N} + 2))
                           AS INTEGER), {_UDTF_N}) AS gram
  FROM sliced WHERE length(text) >= {_UDTF_N}
),
census AS (
  SELECT gram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
  FROM grams GROUP BY gram
)
SELECT gram, CAST(n AS BIGINT) AS n, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (ORDER BY n DESC, gram ASC) AS rk
      FROM census)
WHERE rk <= {_UDTF_TOP}
""",
)
def udtf_char_ngram_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram head census over the doc slice, emitted by a Python
    UDTF through a LATERAL join (see block comment for the API-surface
    contract)."""
    from hive_server_spark.operators.topk import global_topk

    spark.udtf.register("hss_char_ngrams", _char_ngrams_udtf())
    load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 50 == 0
    ).createOrReplaceTempView("_hss_udtf_docs")
    grams = spark.sql(
        f"SELECT d.doc_id, t.pos, t.gram "
        f"FROM _hss_udtf_docs d, LATERAL hss_char_ngrams(d.text, {_UDTF_N}) t"
    )
    census = grams.groupBy("gram").agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
    )
    return global_topk(census, [F.desc("n"), F.asc("gram")], _UDTF_TOP)
