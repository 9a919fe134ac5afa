"""Event-stream analytics pack over the driver `events` table.

The reference's stream is an ordered blockchain event log folded into state
(SURVEY §2.9); this pack covers the *general* event-analytics surface a user
of the engine needs on top of that: time-bucketed aggregation, gap-based
sessionization, JSON property extraction, funnel conversion, and top-k users.
Batch forms here (gate-checkable vs DuckDB); the streaming module
(hive_server_spark/streaming/) maintains the same results incrementally.

Cross-engine determinism notes:
- durations use integer microseconds (`unix_micros` ≡ DuckDB `epoch_us`);
- event `value` (2-decimal double) is cast to DECIMAL(18,2) before any sum;
- every window order includes `event_id` as a total tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_server_spark.catalog import load_table
from hive_server_spark.operators.heldout import capped_heldout, held_cte_d
from hive_server_spark.registry import register

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in microseconds


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# Tumbling time windows
# ---------------------------------------------------------------------------
@register(
    "evt_hourly_rollup",
    """
SELECT date_trunc('hour', ts) AS bucket, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def evt_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per event type — the batch twin of the
    streaming `groupBy(window(ts, '1 hour'), event_type)` aggregation. One
    hash aggregate; bucket+type cardinality is bounded, so partial agg
    collapses nearly everything map-side at any scale."""
    e = _events(spark, sf_dir)
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization (lag → new-session flag → prefix sum → group)
# ---------------------------------------------------------------------------
@register(
    "evt_sessions",
    """
WITH seq AS (
  SELECT user_id, event_id, ts, value,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
), flagged AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM seq
), numbered AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS duration_us,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM numbered
GROUP BY user_id, session_no
""",
)
def evt_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap: lag → new-session flag
    → running sum (the classic island-numbering idiom). All three windows
    share one (user_id) partitioning, so Spark plans a single sort+exchange
    reused across them; the final group-by is co-partitioned — no extra
    shuffle. Streaming twin: `session_window(ts, '30 minutes')`."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    sessions = (
        e.select("user_id", "event_id", "ts", "value")
        .withColumn("gap_us", us - F.lag(us).over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("gap_us").isNull() | (F.col("gap_us") > _SESSION_GAP_US), 1
            ).otherwise(0),
        )
        .withColumn(
            "session_no",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return sessions.groupBy(
        "user_id", F.col("session_no").cast("bigint").alias("session_no")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        (F.max(us) - F.min(us)).cast("bigint").alias("duration_us"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
    )


# ---------------------------------------------------------------------------
# Semi-structured props: JSON extraction
# ---------------------------------------------------------------------------
@register(
    "evt_props_stats",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(k) AS BIGINT)   AS sum_k,
       CAST(MIN(k) AS BIGINT)   AS min_k,
       CAST(MAX(k) AS BIGINT)   AS max_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
""",
)
def evt_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction at the edge (`get_json_object`), integer
    aggregation after — mirrors the reference's JSON-blob values parsed only
    when read (reference src/models/order-book.ts:61,71,77)."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# Funnel: signup → later purchase, by signup-day cohort
# ---------------------------------------------------------------------------
@register(
    "evt_funnel_cohorts",
    """
WITH first_signup AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), converted AS (
  SELECT DISTINCT f.user_id
  FROM first_signup f JOIN events e
    ON e.user_id = f.user_id AND e.event_type = 'purchase' AND e.ts > f.signup_ts
)
SELECT CAST(date_trunc('day', f.signup_ts) AS DATE) AS cohort_day,
       CAST(COUNT(*) AS BIGINT) AS n_signups,
       CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_converted
FROM first_signup f LEFT JOIN converted c ON f.user_id = c.user_id
GROUP BY date_trunc('day', f.signup_ts)
""",
)
def evt_funnel_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: first signup per user, then a semi-join-shaped probe
    for a later purchase, aggregated into daily cohorts. Both joins key on
    user_id — with the fact pre-filtered by event_type at the scan, the heavy
    table is touched twice but each pass is column-pruned to 3 columns."""
    e = _events(spark, sf_dir)
    first_signup = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select("user_id", "ts")
    converted = (
        first_signup.join(
            purchases,
            (first_signup.user_id == purchases.user_id)
            & (purchases.ts > first_signup.signup_ts),
            "left_semi",
        )
        .select("user_id")
        .withColumn("_conv", F.lit(1))
    )
    return (
        first_signup.join(converted, "user_id", "left_outer")
        .groupBy(F.date_trunc("day", "signup_ts").cast("date").alias("cohort_day"))
        .agg(
            F.count("*").cast("bigint").alias("n_signups"),
            F.sum(F.coalesce(F.col("_conv"), F.lit(0))).cast("bigint").alias("n_converted"),
        )
    )


# ---------------------------------------------------------------------------
# Top-k users by total value
# ---------------------------------------------------------------------------
@register(
    "evt_top_users",
    """
WITH per_user AS (
  SELECT user_id,
         SUM(CAST(value AS DECIMAL(18,2))) AS total_value,
         COUNT(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(total_value AS DOUBLE) AS total_value,
       CAST(n_events AS BIGINT) AS n_events, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (ORDER BY total_value DESC, user_id ASC) AS rk
      FROM per_user)
WHERE rk <= 20
""",
)
def evt_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-rank top-k: the global row_number runs over the already
    reduced per-user rows (|users| ≪ |events|), with a total tiebreak order.
    Exact-decimal totals make rank boundaries deterministic cross-engine."""
    e = _events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        F.count("*").alias("n_events"),
    )
    from hive_server_spark.operators.topk import global_topk

    return global_topk(
        per_user, [F.desc("total_value"), F.asc("user_id")], 20
    ).select(
        "user_id",
        F.col("total_value").cast("double").alias("total_value"),
        F.col("n_events").cast("bigint").alias("n_events"),
        "rk",
    )


# ---------------------------------------------------------------------------
# Range-frame moving aggregate (event-time trailing window)
# ---------------------------------------------------------------------------
@register(
    "evt_trailing_hour_value",
    """
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS trailing_hour_value,
       CAST(COUNT(*) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS trailing_hour_events
FROM events WHERE user_id % 3 = 0
""",
)
def evt_trailing_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time (trailing 1 hour in integer microseconds —
    the value-based frame spec, distinct from every ROWS frame elsewhere).
    Exact decimal sums; frame bounds are integers so both engines agree on
    inclusion at the boundary."""
    e = _events(spark, sf_dir).where(F.col("user_id") % 3 == 0)
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_hour_value"),
        F.count("*").over(w).cast("bigint").alias("trailing_hour_events"),
    )


# ---------------------------------------------------------------------------
# Pivot-style conditional aggregation (portable pivot)
# ---------------------------------------------------------------------------
@register(
    "evt_type_pivot",
    """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(SUM(CASE WHEN event_type = 'purchase'
                     THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value
FROM events GROUP BY user_id
""",
)
def evt_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user activity matrix via groupBy().pivot() — Spark plans the
    pivot as exactly the conditional aggregation the oracle spells out; one
    shuffle on user_id."""
    e = _events(spark, sf_dir)
    piv = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
        )
    )
    return piv.select(
        "user_id",
        F.coalesce("click_n", F.lit(0)).cast("bigint").alias("n_click"),
        F.coalesce("view_n", F.lit(0)).cast("bigint").alias("n_view"),
        F.coalesce("purchase_n", F.lit(0)).cast("bigint").alias("n_purchase"),
        F.coalesce("signup_n", F.lit(0)).cast("bigint").alias("n_signup"),
        F.coalesce("error_n", F.lit(0)).cast("bigint").alias("n_error"),
        F.col("purchase_v").cast("double").alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix
# ---------------------------------------------------------------------------
@register(
    "evt_retention_matrix",
    """
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort_day
  FROM events GROUP BY user_id
)
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day, CAST(date_trunc('day', e.ts) AS DATE))
            AS BIGINT) AS day_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM events e JOIN first_seen f ON e.user_id = f.user_id
GROUP BY f.cohort_day,
         date_diff('day', f.cohort_day, CAST(date_trunc('day', e.ts) AS DATE))
""",
)
def evt_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention: users bucketed by first-seen day, activity counted
    per day offset. Two passes over events, both pruned to (user_id, ts);
    the first-seen side reduces to one row per user before the join."""
    e = _events(spark, sf_dir)
    first_seen = (
        e.groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).cast("date").alias("cohort_day"))
    )
    return (
        e.select("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).cast("bigint").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# MAD-based anomaly report (thresholds bounded): the
# robust outlier detector a feature pipeline runs where winsorization
# (evt_winsor_stats) would clip — flag values beyond median ± 3·MAD per
# event type. Median and MAD are estimated on the shared capped held-out
# slice (operators/heldout.py — an exact percentile over every event of a
# type buffers the whole group, unbounded at 100 TB; SCALE.md "Exact
# percentiles"): median over the ≤cap-per-type slice, MAD as the median
# of |value − med| over the SAME slice, event types absent from the
# slice falling back to the global held-out (med, mad) pair. The fence
# compare and |value − med| are single IEEE ops on estimates both
# engines compute identically, so the flag counts stay hash-stable.
# Scale: one map-side slice + two ≤cap-per-group percentile aggregates
# (|types| rows, broadcast back) over one full scan.
# ---------------------------------------------------------------------------
_MAD_HELDOUT_MOD = 3
_MAD_HELDOUT_CAP = 256


@register(
    "evt_mad_outliers",
    f"""
WITH {held_cte_d('events', 'event_type', 'value', 'madevt42',
                 _MAD_HELDOUT_MOD, _MAD_HELDOUT_CAP, key='event_id')},
med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM held GROUP BY event_type
),
gmed AS (SELECT quantile_cont(value, 0.5) AS gmed FROM held),
hdev AS (
  SELECT h.event_type, abs(h.value - m.med) AS dev
  FROM held h JOIN med m USING (event_type)
),
mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM hdev GROUP BY event_type),
gmad AS (SELECT quantile_cont(dev, 0.5) AS gmad FROM hdev)
SELECT e.event_type,
       any_value(COALESCE(m.med, g.gmed)) AS median_value,
       any_value(COALESCE(d.mad, gm.gmad)) AS mad,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN abs(e.value - COALESCE(m.med, g.gmed))
                          > 3 * COALESCE(d.mad, gm.gmad)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       MAX(CASE WHEN abs(e.value - COALESCE(m.med, g.gmed))
                     > 3 * COALESCE(d.mad, gm.gmad)
                THEN abs(e.value - COALESCE(m.med, g.gmed)) END)
         AS max_outlier_dev
FROM events e
LEFT JOIN med m USING (event_type)
LEFT JOIN mad d USING (event_type)
CROSS JOIN gmed g CROSS JOIN gmad gm
GROUP BY e.event_type
""",
)
def evt_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: held-out-estimated median/MAD (bounded slice, see
    block comment), total and outlier counts beyond the 3-MAD fence, and
    the largest outlying deviation."""
    e = _events(spark, sf_dir)
    held = capped_heldout(
        e, "event_type", "value", "madevt42",
        _MAD_HELDOUT_MOD, _MAD_HELDOUT_CAP, key="event_id",
    )
    med = held.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    gmed = held.agg(F.percentile("value", 0.5).alias("gmed"))
    hdev = held.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("hdev")
    )
    mad = hdev.groupBy("event_type").agg(F.percentile("hdev", 0.5).alias("mad"))
    gmad = hdev.agg(F.percentile("hdev", 0.5).alias("gmad"))
    eff_med = F.coalesce("med", "gmed")
    eff_mad = F.coalesce("mad", "gmad")
    out = F.col("dev") > 3 * F.col("eff_mad")
    return (
        e.join(F.broadcast(med), "event_type", "left")
        .join(F.broadcast(mad), "event_type", "left")
        .crossJoin(F.broadcast(gmed))
        .crossJoin(F.broadcast(gmad))
        .withColumn("eff_med", eff_med)
        .withColumn("eff_mad", eff_mad)
        .withColumn("dev", F.abs(F.col("value") - F.col("eff_med")))
        .groupBy("event_type")
        .agg(
            F.any_value("eff_med").alias("median_value"),
            F.any_value("eff_mad").alias("mad"),
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.when(out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
            F.max(F.when(out, F.col("dev"))).alias("max_outlier_dev"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters: the mergeable-sketch answer to
# "top users" when exact per-key counts don't fit — a d×w cell grid
# (d=4 hash rows, w=64 buckets) where cell(r,b) sums the counts of every
# key hashing to b under row-hash r; a key's estimate is the MIN over its
# d cells (Cormode & Muthukrishnan 2005), an overestimate by construction.
# The gate value-checks the sketch against the exact counts on the exact
# top-10: estimate ≥ exact always, equality when no collision. Scale
# shape: the corpus collapses to per-user counts in ONE map-side-combined
# agg; the sketch build fans those out ×d and collapses to 256 bounded
# cells (broadcastable forever — the grid size is a parameter, not data);
# the probe joins the top-10 keys' (r, bucket) pairs against the
# broadcast cells. Hashes are the shared md5-prefix construction,
# identical in both engines.
# ---------------------------------------------------------------------------
_CMS_D = 4
_CMS_W = 64


def _cms_hash(r: str, key: str, dialect: str) -> str:
    from hive_server_spark.functions.text import hash_expr

    inner = f"concat(CAST({r} AS {'STRING' if dialect == 's' else 'VARCHAR'}), ':', CAST({key} AS {'STRING' if dialect == 's' else 'VARCHAR'}))"
    return f"({hash_expr(inner, 'cms', dialect)} % {_CMS_W})"


_CMS_ORACLE = f"""
WITH u AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
r AS (SELECT unnest(range(0, {_CMS_D})) AS r),
h AS (
  SELECT u.user_id, u.cnt, r.r,
         {_cms_hash('r.r', 'u.user_id', 'd')} AS bucket
  FROM u CROSS JOIN r
),
cells AS (SELECT r, bucket, SUM(cnt) AS cell FROM h GROUP BY r, bucket),
top AS (
  SELECT user_id, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, user_id ASC) AS BIGINT)
           AS rank
  FROM u ORDER BY cnt DESC, user_id ASC LIMIT 10
),
est AS (
  SELECT h.user_id, CAST(MIN(c.cell) AS BIGINT) AS cms_estimate
  FROM h JOIN top t ON h.user_id = t.user_id
  JOIN cells c ON c.r = h.r AND c.bucket = h.bucket
  GROUP BY h.user_id
)
SELECT t.rank, t.user_id, CAST(t.cnt AS BIGINT) AS exact_count,
       e.cms_estimate,
       CAST(e.cms_estimate - t.cnt AS BIGINT) AS overestimate
FROM top t JOIN est e ON t.user_id = e.user_id
"""


def cms_heavy_hitters(events: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k event counts per user side-by-side with their count-min
    sketch estimates. See the block comment above for the plan shape."""
    from hive_server_spark.operators.topk import global_topk

    # per-user exact counts feed the sketch grid, the top-k and the
    # estimate probe. Not persisted: re-deriving this user-cardinality
    # aggregate costs less task time than materializing it.
    u = events.groupBy("user_id").agg(F.count("*").alias("cnt"))
    h = u.select(
        "user_id",
        "cnt",
        F.explode(F.expr(f"sequence(0, {_CMS_D - 1})")).alias("r"),
    ).withColumn("bucket", F.expr(_cms_hash("r", "user_id", "s")))
    cells = h.groupBy("r", "bucket").agg(F.sum("cnt").alias("cell"))
    top = global_topk(
        u, [F.desc("cnt"), F.asc("user_id")], k, rank_col="rank"
    )
    est = (
        h.join(F.broadcast(top.select("user_id")), "user_id")
        .join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cell").cast("bigint").alias("cms_estimate"))
    )
    return top.join(est, "user_id").select(
        "rank",
        "user_id",
        F.col("cnt").cast("bigint").alias("exact_count"),
        "cms_estimate",
        (F.col("cms_estimate") - F.col("cnt")).cast("bigint").alias("overestimate"),
    )


@register("evt_cms_heavy_hitters", _CMS_ORACLE)
def evt_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cms_heavy_hitters(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# HyperLogLog cardinality sketch: the distinct-count twin of the
# count-min sketch above — m=64 registers (p=6), register = max over keys
# of (leading zeros of the 26-bit hash suffix + 1), estimate =
# alpha_m * m^2 / Σ 2^-reg, with the standard small-range linear-counting
# branch m*ln(m/V) when zero registers remain (Flajolet et al. 2007).
# Float discipline: Σ 2^-reg is computed as the EXACT integer
# Σ 2^(32-reg) (each term a single bit, reg ≤ 27, 64 terms < 2^39 —
# order-free BIGINT math); the one transcendental (ln) and the one
# division happen per GROUP, not per row, and the estimate is rounded to
# integer micro-units in the same expression shape in both engines (the
# text_source_kl micro-nat treatment). Scale shape: corpus → per-key
# dedup agg → 64-cell register grid per group (bounded, mergeable —
# registers combine by MAX, which is how a 1000-executor HLL merges);
# the empty-register grid completion is a bounded static fan-out.
# ---------------------------------------------------------------------------
_HLL_M = 64          # registers (p = 6 bucket bits)
_HLL_WBITS = 26      # 32-bit hash minus 6 bucket bits
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)


def _hll_rank(w: str, dialect: str) -> str:
    # leading zeros of the WBITS-bit suffix + 1; bin() drops leading
    # zeros in both engines, so bitlen = length(bin(w)) and
    # rank = WBITS - bitlen + 1; the all-zero suffix ranks WBITS + 1
    return (
        f"CASE WHEN {w} = 0 THEN {_HLL_WBITS + 1} "
        f"ELSE {_HLL_WBITS} - length(bin({w})) + 1 END"
    )


_HLL_ORACLE = f"""
WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         {{hash}} AS hv
  FROM u
),
ranks AS (
  SELECT event_type, hv % {_HLL_M} AS bucket,
         {_hll_rank(f'hv // {_HLL_M}', 'd')} AS rank
  FROM h
),
grid AS (
  SELECT t.event_type, g.bucket FROM
  (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(range(0, {_HLL_M})) AS bucket) g
),
regs AS (
  SELECT grid.event_type, grid.bucket,
         COALESCE(MAX(ranks.rank), 0) AS reg
  FROM grid LEFT JOIN ranks
    ON grid.event_type = ranks.event_type AND grid.bucket = ranks.bucket
  GROUP BY grid.event_type, grid.bucket
),
s AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << (32 - reg)) AS BIGINT) AS scaled_sum,
         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
  FROM regs GROUP BY event_type
),
est AS (
  SELECT event_type, n_zero,
         CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}.0 * 4294967296.0
           / CAST(scaled_sum AS DOUBLE) AS raw_est
  FROM s
),
fin AS (
  SELECT event_type, n_zero,
         raw_est <= {2.5 * _HLL_M} AND n_zero > 0 AS linear_counting,
         CASE WHEN raw_est <= {2.5 * _HLL_M} AND n_zero > 0
              THEN {_HLL_M}.0 * ln({_HLL_M}.0 / CAST(n_zero AS DOUBLE))
              ELSE raw_est END AS hll_est
  FROM est
),
ex AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM u
       GROUP BY event_type)
SELECT fin.event_type, ex.exact_distinct,
       CAST(ROUND(fin.hll_est * 1000000.0) AS BIGINT) AS hll_estimate_micro,
       fin.n_zero AS n_zero_registers, fin.linear_counting
FROM fin JOIN ex ON fin.event_type = ex.event_type
""".format(hash="{hash}")


def hll_cardinality(events: DataFrame) -> DataFrame:
    """Per-event-type HLL estimate beside the exact distinct user count.
    See the block comment above for the plan shape and float discipline."""
    from hive_server_spark.functions.text import hash_expr

    u = events.select("event_type", "user_id").distinct()
    h = u.select(
        "event_type",
        F.expr(hash_expr("CAST(user_id AS STRING)", "hll", "s")).alias("hv"),
    )
    ranks = h.select(
        "event_type",
        (F.col("hv") % _HLL_M).alias("bucket"),
        F.expr(_hll_rank(f"(hv DIV {_HLL_M})", "s")).alias("rank"),
    )
    grid = (
        events.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.expr(f"sequence(0, {_HLL_M - 1})")).alias("bucket"),
        )
    )
    regs = (
        grid.join(ranks, ["event_type", "bucket"], "left")
        .groupBy("event_type", "bucket")
        .agg(F.coalesce(F.max("rank"), F.lit(0)).alias("reg"))
    )
    s = regs.groupBy("event_type").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - reg AS INT))"))
        .cast("bigint")
        .alias("scaled_sum"),
        F.sum(F.expr("CASE WHEN reg = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_zero"),
    )
    est = s.withColumn(
        "raw_est",
        F.expr(
            f"CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}.0 * 4294967296.0"
            f" / CAST(scaled_sum AS DOUBLE)"
        ),
    )
    fin = est.select(
        "event_type",
        "n_zero",
        F.expr(f"raw_est <= {2.5 * _HLL_M} AND n_zero > 0").alias(
            "linear_counting"
        ),
        F.expr(
            f"CASE WHEN raw_est <= {2.5 * _HLL_M} AND n_zero > 0"
            f" THEN {_HLL_M}.0 * ln({_HLL_M}.0 / CAST(n_zero AS DOUBLE))"
            f" ELSE raw_est END"
        ).alias("hll_est"),
    )
    ex = u.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("exact_distinct")
    )
    return fin.join(ex, "event_type").select(
        "event_type",
        "exact_distinct",
        F.expr("CAST(ROUND(hll_est * 1000000.0) AS BIGINT)").alias(
            "hll_estimate_micro"
        ),
        F.col("n_zero").alias("n_zero_registers"),
        "linear_counting",
    )


@register(
    "evt_hll_cardinality",
    _HLL_ORACLE.format(
        hash="('0x'||substr(md5(concat('hll:', CAST(user_id AS VARCHAR))),1,8))::BIGINT"
    ),
)
def evt_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hll_cardinality(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Bloom-filter semi-join reduction: the runtime-filter pattern
# every warehouse engine applies to big-probe/small-build joins — build a
# Bloom filter from the build-side keys, prune the probe side BEFORE the
# shuffle, then verify exactly. Build side: users whose purchase total
# exceeds a threshold (a derived, data-dependent key set — NOT broadcast;
# it stays a user_id-co-partitioned equi-join for the exact pass). What
# IS broadcast is the bit set: ≤ m = 128 distinct positions BY
# CONSTRUCTION (the modulus caps it), so the broadcast is safe at any
# scale — the same bounded-vs-data-dependent distinction the survivor-set
# de-broadcast enforced. The probe side chains k = 3
# bounded semi-joins (each a broadcast build of ≤ m rows) — rows failing
# any hash never reach the exact join, exactly how Spark's own
# spark.sql.optimizer.runtimeFilter Bloom pruning behaves. The audit
# reports, per event type: total rows, Bloom survivors, true members,
# false positives (survivors − members, the price of m = 128), and the
# exact DECIMAL value sum over true members. Bloom membership is
# deterministic md5 arithmetic, so even the false-positive counts are
# value-gated cross-engine.
# ---------------------------------------------------------------------------
_BLOOM_M = 128   # bits
_BLOOM_K = 3     # hash functions
_BLOOM_THR = 900  # purchase-total threshold defining the build-side keys


def _bloom_pos(key: str, i: int, dialect: str) -> str:
    from hive_server_spark.functions.text import hash_expr

    return f"({hash_expr(key, f'bl{i}', dialect)} % {_BLOOM_M})"


def _bloom_oracle() -> str:
    key_d = "CAST(user_id AS VARCHAR)"
    pos = [_bloom_pos(key_d, i, "d") for i in range(_BLOOM_K)]
    bits_union = " UNION ".join(f"SELECT {p} AS bit FROM k" for p in pos)
    member = " AND ".join(f"{p} IN (SELECT bit FROM bits)" for p in pos)
    return f"""
WITH k AS (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  GROUP BY user_id HAVING SUM(CAST(value AS DECIMAL(18,2))) > {_BLOOM_THR}
),
bits AS ({bits_union}),
p AS (SELECT event_type, user_id, value FROM events WHERE {member}),
t AS (
  SELECT event_type, user_id, value FROM events
  WHERE user_id IN (SELECT user_id FROM k)
),
tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS rows_total
        FROM events GROUP BY event_type),
pa AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS rows_bloom_pass
       FROM p GROUP BY event_type),
ta AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS rows_true,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS true_value
       FROM t GROUP BY event_type)
SELECT tot.event_type, tot.rows_total,
       COALESCE(pa.rows_bloom_pass, 0) AS rows_bloom_pass,
       COALESCE(ta.rows_true, 0) AS rows_true,
       COALESCE(pa.rows_bloom_pass, 0) - COALESCE(ta.rows_true, 0)
         AS false_positive_rows,
       COALESCE(ta.true_value, 0.0) AS true_value
FROM tot LEFT JOIN pa ON tot.event_type = pa.event_type
         LEFT JOIN ta ON tot.event_type = ta.event_type
"""


def bloom_prune_join(events: DataFrame) -> DataFrame:
    """Bloom-filter semi-join reduction audit — see block comment above."""
    key_s = "CAST(user_id AS STRING)"
    # persisted: the key set feeds the bit table AND the ground-truth leg —
    # uncached each re-ran the purchase aggregate from a fresh events scan
    # (CacheManager dedups re-invocations). Bounded by the selectivity the
    # bloom filter exists to exploit.
    keys = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("tot"))
        .where(F.col("tot") > _BLOOM_THR)
        .select("user_id")
        .persist()
    )
    bits = (
        keys.select(
            F.explode(
                F.array(
                    *[
                        F.expr(_bloom_pos(key_s, i, "s"))
                        for i in range(_BLOOM_K)
                    ]
                )
            ).alias("bit")
        )
        .distinct()
    )
    pruned = events.select("event_type", "user_id", "value")
    for i in range(_BLOOM_K):
        probe = pruned.withColumn("bit", F.expr(_bloom_pos(key_s, i, "s")))
        pruned = probe.join(F.broadcast(bits), "bit", "left_semi")
    pa = pruned.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("rows_bloom_pass")
    )
    # total and ground-truth measures fold into ONE events pass: mark each
    # row's key membership with a left join (keys is user-unique — no row
    # multiplication) and split the aggregate conditionally, instead of a
    # separate full-scan count plus a semi-joined second scan (the
    # pruned leg keeps its own pass — the bloom probe chain is the thing
    # being audited)
    marked = events.select("event_type", "user_id", "value").join(
        keys.withColumn("_k", F.lit(1)), "user_id", "left"
    )
    tot = marked.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("rows_total"),
        F.sum(F.when(F.col("_k").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("rows_true"),
        F.sum(
            F.when(
                F.col("_k").isNotNull(), F.col("value").cast("decimal(18,2)")
            )
        )
        .cast("double")
        .alias("true_value"),
    )
    return (
        tot.join(pa, "event_type", "left")
        .select(
            "event_type",
            "rows_total",
            F.coalesce("rows_bloom_pass", F.lit(0)).cast("bigint").alias("rows_bloom_pass"),
            F.coalesce("rows_true", F.lit(0)).cast("bigint").alias("rows_true"),
            (
                F.coalesce("rows_bloom_pass", F.lit(0))
                - F.coalesce("rows_true", F.lit(0))
            ).cast("bigint").alias("false_positive_rows"),
            F.coalesce("true_value", F.lit(0.0)).cast("double").alias("true_value"),
        )
    )


@register("evt_bloom_prune_join", _bloom_oracle())
def evt_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bloom_prune_join(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# First-order Markov transition matrix: per-user event-type
# transition counts and row-normalized probabilities — the sequence-level
# behavioral model product analytics builds next to funnels (funnel =
# fixed path, this = the full 5x5 transition structure), and the
# next-event-prediction baseline. Order is (ts, event_id) per user — the
# same total tiebreak the session/funnel queries use.
# Exactness: probabilities are round(1e6 * n / row_total) BIGINTs, one
# division per output row off exact integer counts.
# Scale shape: one per-user window (lag — parallel across users, bounded
# per user), a map-side-combined pair count, and the row normalization is
# a window sum over the TYPE-PAIR table (≤ |types|² rows, trivially
# bounded) — nothing corpus-sized after the first aggregate.
# ---------------------------------------------------------------------------
@register(
    "evt_markov_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type AS to_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events
),
pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       CAST(round(1000000.0 * CAST(n AS DOUBLE)
                  / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE))
            AS BIGINT) AS p_micro
FROM pairs
""",
)
def evt_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user first-order event-type transition matrix with micro-exact
    row-normalized probabilities (see block comment)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _events(spark, sf_dir).select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    )
    pairs = (
        seq.where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    row = Window.partitionBy("from_type")
    return (
        pairs.withColumn("row_total", F.sum("n").over(row))
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n"),
            F.expr(
                "CAST(round(1000000.0 * CAST(n AS DOUBLE) "
                "/ CAST(row_total AS DOUBLE)) AS BIGINT)"
            ).alias("p_micro"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection: the sequential change-point monitor
# (Page 1954, public) a pipeline-health system runs over per-type hourly
# event rates — two-sided cumulative sums S_up = max(0, S + (x - mean)),
# S_dn = max(0, S + (mean - x)), whose maxima localize sustained rate
# drifts that point-anomaly tests (evt_mad_outliers) miss by design.
# The recursion is inherently sequential, so it runs the house way (the
# EWMA pattern): rank-restrict to the last 512 hourly buckets per type
# FIRST (bounded by construction — the hourly table is time-bounded, not
# volume-bounded), collect in bucket order, and fold with a 4-element
# array state carrying (S_up, max_up, S_dn, max_dn) — identical in-order
# IEEE ops in both engines.
# ---------------------------------------------------------------------------
_CUSUM_HOURS = 512


def _cusum_fold(d: str) -> str:
    """In-order two-sided CUSUM fold over the per-type rate array; `mean`
    is the window mean column in scope. 's' = Spark, 'd' = DuckDB — only
    the element-access spelling differs (element_at vs [i], both
    1-based)."""
    if d == "s":
        at = lambda a, i: "element_at({}, {})".format(a, i)  # noqa: E731
    else:
        at = lambda a, i: "{}[{}]".format(a, i)  # noqa: E731

    def arms(x):
        up = "greatest(0.0, {} + ({} - mean))".format(at("acc", 1), x)
        dn = "greatest(0.0, {} + (mean - {}))".format(at("acc", 3), x)
        return up, dn

    if d == "s":
        up, dn = arms("x")
        return (
            "aggregate(rates, array(0.0D, 0.0D, 0.0D, 0.0D), (acc, x) -> "
            "array({up}, greatest({m2}, {up}), {dn}, greatest({m4}, {dn})))"
        ).format(up=up, dn=dn, m2=at("acc", 2), m4=at("acc", 4))
    up, dn = arms(at("e", 1))
    return (
        "list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0], "
        "list_transform(rates, x -> [x, 0.0, 0.0, 0.0])), "
        "(acc, e) -> [{up}, greatest({m2}, {up}), {dn}, greatest({m4}, {dn})])"
    ).format(up=up, dn=dn, m2=at("acc", 2), m4=at("acc", 4))


_CUSUM_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
recent AS (
  SELECT event_type, bucket, cnt FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type
                                 ORDER BY bucket DESC) AS rn_desc
    FROM hourly) WHERE rn_desc <= {_CUSUM_HOURS}
),
arrs AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         SUM(cnt) / COUNT(*) AS mean,
         list(cnt ORDER BY bucket) AS rates
  FROM recent GROUP BY event_type
),
folded AS (
  SELECT event_type, n_hours, mean,
         {_cusum_fold('d')} AS st
  FROM arrs
)
SELECT event_type, n_hours, mean AS mean_rate,
       st[2] AS max_cusum_up, st[4] AS max_cusum_dn
FROM folded
"""


def cusum_from_hourly(hourly: DataFrame) -> DataFrame:
    """The read-side CUSUM statistic over an hourly (event_type, bucket,
    cnt) rate table — shared by the batch query below and the streaming
    twin (plans/streaming_pack.py::evt_cusum_streaming), which maintains
    the hourly table incrementally and must land on the same fold."""
    w = Window.partitionBy("event_type").orderBy(F.desc("bucket"))
    recent = hourly.withColumn("rn_desc", F.row_number().over(w)).where(
        F.col("rn_desc") <= _CUSUM_HOURS
    )
    arrs = recent.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        (F.sum("cnt") / F.count("*")).alias("mean"),
        F.expr(
            "transform(sort_array(collect_list(struct(bucket, cnt))),"
            " s -> s.cnt)"
        ).alias("rates"),
    )
    return arrs.select(
        "event_type",
        "n_hours",
        F.col("mean").alias("mean_rate"),
        F.expr(f"element_at({_cusum_fold('s')}, 2)").alias("max_cusum_up"),
        F.expr(f"element_at({_cusum_fold('s')}, 4)").alias("max_cusum_dn"),
    )


@register("evt_cusum_drift", _CUSUM_ORACLE)
def evt_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift maxima over the last 512 hourly rate buckets
    per event type (see block comment; bounded in-order fold)."""
    hourly = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count("*").cast("double").alias("cnt"))
    )
    return cusum_from_hourly(hourly)


# ---------------------------------------------------------------------------
# HLL set algebra: the property that makes HLL registers the
# exchange format of distributed analytics — registers of DIFFERENT sets
# compose. Union is exact on sketches (cell-wise MAX is the semilattice
# join, same merge the streaming twin uses across micro-batches);
# intersection has no register form, so engines estimate it by
# inclusion-exclusion over three estimates: |A∩B| ≈ est(A) + est(B) −
# est(A∪B) — the audience-overlap op every analytics store ships
# (Druid/ClickHouse/DataSketches). Per unordered event-type pair, the
# audit reports exact union/intersection beside the micro-rounded
# estimates. Scale shape: register tables are BOUNDED (types × m cells)
# — the pair join touches ≤ C(|types|,2) × m rows regardless of corpus
# size; the exact check is one distinct pass + a user_id co-partitioned
# self-join (linear, and only needed because this is an audit). The
# estimate arithmetic (one ln() per estimate, micro-rounded once at the
# end) follows the evt_hll_cardinality float discipline.
# ---------------------------------------------------------------------------
def _hll_est_sql(scaled: str, nzero: str) -> str:
    """Register-sum → HLL estimate (alpha-corrected with the small-range
    linear-counting branch) — identical arithmetic in both dialects."""
    raw = (
        f"CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}.0 * "
        f"4294967296.0 / CAST({scaled} AS DOUBLE)"
    )
    return (
        f"CASE WHEN {raw} <= {2.5 * _HLL_M} AND {nzero} > 0 "
        f"THEN {_HLL_M}.0 * ln({_HLL_M}.0 / CAST({nzero} AS DOUBLE)) "
        f"ELSE {raw} END"
    )


_HLL_SET_ORACLE = f"""
WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         ('0x'||substr(md5(concat('hll:', CAST(user_id AS VARCHAR))),1,8))::BIGINT AS hv
  FROM u
),
ranks AS (
  SELECT event_type, hv % {_HLL_M} AS bucket,
         {_hll_rank(f'hv // {_HLL_M}', 'd')} AS rank
  FROM h
),
grid AS (
  SELECT t.event_type, g.bucket FROM
  (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(range(0, {_HLL_M})) AS bucket) g
),
regs AS (
  SELECT grid.event_type, grid.bucket,
         COALESCE(MAX(ranks.rank), 0) AS reg
  FROM grid LEFT JOIN ranks
    ON grid.event_type = ranks.event_type AND grid.bucket = ranks.bucket
  GROUP BY grid.event_type, grid.bucket
),
cells AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.reg AS reg_a, b.reg AS reg_b,
         greatest(a.reg, b.reg) AS reg_u
  FROM regs a JOIN regs b
    ON a.bucket = b.bucket AND a.event_type < b.event_type
),
sums AS (
  SELECT type_a, type_b,
         CAST(SUM(CAST(1 AS BIGINT) << (32 - reg_a)) AS BIGINT) AS sc_a,
         CAST(SUM(CASE WHEN reg_a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz_a,
         CAST(SUM(CAST(1 AS BIGINT) << (32 - reg_b)) AS BIGINT) AS sc_b,
         CAST(SUM(CASE WHEN reg_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz_b,
         CAST(SUM(CAST(1 AS BIGINT) << (32 - reg_u)) AS BIGINT) AS sc_u,
         CAST(SUM(CASE WHEN reg_u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz_u
  FROM cells GROUP BY type_a, type_b
),
ests AS (
  SELECT type_a, type_b,
         {_hll_est_sql('sc_a', 'nz_a')} AS est_a,
         {_hll_est_sql('sc_b', 'nz_b')} AS est_b,
         {_hll_est_sql('sc_u', 'nz_u')} AS est_u
  FROM sums
),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS exact_intersection
  FROM u a JOIN u b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
),
ex AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY event_type)
SELECT e.type_a, e.type_b,
       xa.n + xb.n - i.exact_intersection AS exact_union,
       i.exact_intersection,
       CAST(ROUND(e.est_u * 1000000.0) AS BIGINT) AS union_est_micro,
       CAST(ROUND((e.est_a + e.est_b - e.est_u) * 1000000.0) AS BIGINT)
         AS intersection_est_micro
FROM ests e
JOIN inter i ON e.type_a = i.type_a AND e.type_b = i.type_b
JOIN ex xa ON e.type_a = xa.event_type
JOIN ex xb ON e.type_b = xb.event_type
"""


def hll_set_algebra(events: DataFrame) -> DataFrame:
    """Per event-type pair: exact union/intersection of user sets beside
    the sketch-composed estimates — MAX-merged union registers,
    inclusion-exclusion intersection (see block comment)."""
    from hive_server_spark.functions.text import hash_expr

    # the distinct (type, user) set feeds the register build, the exact
    # intersection self-join (twice) and the per-type totals. Not
    # persisted: re-running the distinct costs less task time than
    # materializing the user-cardinality set.
    u = events.select("event_type", "user_id").distinct()
    ranks = u.select(
        "event_type",
        F.expr(hash_expr("CAST(user_id AS STRING)", "hll", "s")).alias("hv"),
    ).select(
        "event_type",
        (F.col("hv") % _HLL_M).alias("bucket"),
        F.expr(_hll_rank(f"(hv DIV {_HLL_M})", "s")).alias("rank"),
    )
    # the type set is identical through u (distinct over the same rows) —
    # deriving the grid from the distinct set spares another events scan
    grid = (
        u.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.expr(f"sequence(0, {_HLL_M - 1})")).alias("bucket"),
        )
    )
    regs = (
        grid.join(ranks, ["event_type", "bucket"], "left")
        .groupBy("event_type", "bucket")
        .agg(F.coalesce(F.max("rank"), F.lit(0)).alias("reg"))
    )
    a = regs.select(
        F.col("event_type").alias("type_a"),
        "bucket",
        F.col("reg").alias("reg_a"),
    )
    b = regs.select(
        F.col("event_type").alias("type_b"),
        "bucket",
        F.col("reg").alias("reg_b"),
    )
    cells = a.join(b, "bucket").where(F.col("type_a") < F.col("type_b"))
    scaled = lambda r: F.sum(  # noqa: E731
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(32 - {r} AS INT))")
    ).cast("bigint")
    nzero = lambda r: F.sum(  # noqa: E731
        F.expr(f"CASE WHEN {r} = 0 THEN 1 ELSE 0 END")
    ).cast("bigint")
    sums = cells.withColumn(
        "reg_u", F.greatest("reg_a", "reg_b")
    ).groupBy("type_a", "type_b").agg(
        scaled("reg_a").alias("sc_a"),
        nzero("reg_a").alias("nz_a"),
        scaled("reg_b").alias("sc_b"),
        nzero("reg_b").alias("nz_b"),
        scaled("reg_u").alias("sc_u"),
        nzero("reg_u").alias("nz_u"),
    )
    ests = sums.select(
        "type_a",
        "type_b",
        F.expr(_hll_est_sql("sc_a", "nz_a")).alias("est_a"),
        F.expr(_hll_est_sql("sc_b", "nz_b")).alias("est_b"),
        F.expr(_hll_est_sql("sc_u", "nz_u")).alias("est_u"),
    )
    ua = u.select(F.col("event_type").alias("type_a"), "user_id")
    ub = u.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        ua.join(ub, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("exact_intersection"))
    )
    ex = u.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    return (
        ests.join(inter, ["type_a", "type_b"])
        .join(ex.select(F.col("event_type").alias("type_a"), F.col("n").alias("na")), "type_a")
        .join(ex.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb")), "type_b")
        .select(
            "type_a",
            "type_b",
            (F.col("na") + F.col("nb") - F.col("exact_intersection")).alias(
                "exact_union"
            ),
            "exact_intersection",
            F.expr("CAST(ROUND(est_u * 1000000.0) AS BIGINT)").alias(
                "union_est_micro"
            ),
            F.expr(
                "CAST(ROUND((est_a + est_b - est_u) * 1000000.0) AS BIGINT)"
            ).alias("intersection_est_micro"),
        )
    )


@register("evt_hll_set_algebra", _HLL_SET_ORACLE)
def evt_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hll_set_algebra(_events(spark, sf_dir))
