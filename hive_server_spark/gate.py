"""Correctness-gate registry: named queries (Spark, library-backed) and their
DuckDB-oracle SQL equivalents.

Conventions that make cross-engine value-hashing reliable:
- every money column is exact DECIMAL up to the final projection, which casts
  to DOUBLE (exact decimal → double conversion is deterministic and identical
  in both engines);
- counts cast to BIGINT (DuckDB sum(int) is HUGEINT otherwise);
- timestamps surface as DATE;
- every computed column is aliased identically on both sides;
- rank/row_number columns cast to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_server_spark.registry import (  # noqa: F401  (re-exported API)
    QueryFn,
    oracle_sql,
    register,
    spark_queries,
)
from hive_server_spark.operators.amount_out import amount_out, amount_out_ctes
from hive_server_spark.operators.fold import (
    ORDER_UPDATES_CTE,
    ORDERS_STATE_CTE,
    fold_order_events,
)
from hive_server_spark.operators.orderbook import price_levels, top_levels
from hive_server_spark.operators.serving import POOLS_CTE, pools_dim
from hive_server_spark.operators.trades import (
    latest_price,
    market_orders,
    pools_summary,
    trader_order_counts,
    user_orders,
)
from hive_server_spark.sources.synthetic import ORDER_EVENTS_CTE, order_events

_FOLD_CTES = f"WITH {ORDER_EVENTS_CTE}, {ORDER_UPDATES_CTE}, {ORDERS_STATE_CTE}"

_DBL = lambda c: F.col(c).cast("double").alias(c)  # noqa: E731


# The folded orders state is this engine's "current state" table — the
# reference holds it in Redis and every read query starts from it
# (src/models/order-book.ts:31-53). Persisting it once per (session, sf_dir)
# mirrors that architecture and spares every order-book query a re-fold;
# at cluster scale this is the MERGE'd state table the streaming layer
# maintains (streaming/incremental.py), not a per-query recompute.
from hive_server_spark.session_cache import shared  # noqa: E402


def _orders_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        spark,
        ("gate:orders_state", sf_dir),
        lambda: fold_order_events(order_events(spark, sf_dir)),
    )


# ---------------------------------------------------------------------------
# A1 — the keyed upsert fold (SURVEY §2.4)
# ---------------------------------------------------------------------------
@register(
    "orders_state",
    _FOLD_CTES
    + """
SELECT pool_address, order_id, trader,
       CAST(price AS DOUBLE)            AS price,
       CAST(amount AS DOUBLE)           AS amount,
       CAST(filled AS DOUBLE)           AS filled,
       CAST(remaining_amount AS DOUBLE) AS remaining_amount,
       order_type, active,
       CAST(created_ts AS DATE)         AS created_date,
       created_seq
FROM orders_state
""",
)
def q_orders_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _orders_state(spark, sf_dir).select(
        "pool_address",
        "order_id",
        "trader",
        _DBL("price"),
        _DBL("amount"),
        _DBL("filled"),
        _DBL("remaining_amount"),
        "order_type",
        "active",
        F.col("created_ts").cast("date").alias("created_date"),
        "created_seq",
    )


# ---------------------------------------------------------------------------
# A2/T1/T2 — price levels + per-side top-k (SURVEY §2.4, §2.6)
# ---------------------------------------------------------------------------
@register(
    "order_book_levels",
    _FOLD_CTES
    + """
, levels AS (
  SELECT pool_address, order_type, price,
         SUM(amount - filled) AS total_volume,
         COUNT(*) AS order_count
  FROM orders_state
  WHERE active AND price IS NOT NULL
  GROUP BY pool_address, order_type, price
), ranked AS (
  SELECT *,
    CASE WHEN order_type = 'BUY'
         THEN row_number() OVER (PARTITION BY pool_address, order_type ORDER BY price DESC)
         ELSE row_number() OVER (PARTITION BY pool_address, order_type ORDER BY price ASC)
    END AS level_rank
  FROM levels
)
SELECT pool_address, order_type,
       CAST(price AS DOUBLE)        AS price,
       CAST(total_volume AS DOUBLE) AS total_volume,
       CAST(order_count AS BIGINT)  AS order_count,
       CAST(level_rank AS BIGINT)   AS level_rank
FROM ranked WHERE level_rank <= 20
""",
)
def q_order_book_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    lv = top_levels(price_levels(_orders_state(spark, sf_dir)), depth=20)
    return lv.select(
        "pool_address",
        "order_type",
        _DBL("price"),
        _DBL("total_volume"),
        F.col("order_count").cast("bigint").alias("order_count"),
        F.col("level_rank").cast("bigint").alias("level_rank"),
    )


# ---------------------------------------------------------------------------
# Order-book analytics on top of the levels: depth-weighted
# VWAP per side over the top-20 levels, the best-bid/ask mid, and the
# depth imbalance — the standard book-quality summary a market-data
# consumer derives from exactly this snapshot. Every aggregate is an
# exact DECIMAL sum; divisions happen once, in DOUBLE, identically on
# both sides (the house float rule). One extra hash aggregate over the
# already-tiny level table — no new shuffle of order data.
# ---------------------------------------------------------------------------
@register(
    "order_book_vwap",
    _FOLD_CTES
    + """
, levels AS (
  SELECT pool_address, order_type, price,
         SUM(amount - filled) AS total_volume,
         COUNT(*) AS order_count
  FROM orders_state
  WHERE active AND price IS NOT NULL
  GROUP BY pool_address, order_type, price
), ranked AS (
  SELECT *,
    CASE WHEN order_type = 'BUY'
         THEN row_number() OVER (PARTITION BY pool_address, order_type ORDER BY price DESC)
         ELSE row_number() OVER (PARTITION BY pool_address, order_type ORDER BY price ASC)
    END AS level_rank
  FROM levels
), top AS (SELECT * FROM ranked WHERE level_rank <= 20)
SELECT pool_address,
       CAST(SUM(CASE WHEN order_type = 'BUY'  THEN price * total_volume END) AS DOUBLE)
         / CAST(SUM(CASE WHEN order_type = 'BUY'  THEN total_volume END) AS DOUBLE)
         AS bid_vwap,
       CAST(SUM(CASE WHEN order_type = 'SELL' THEN price * total_volume END) AS DOUBLE)
         / CAST(SUM(CASE WHEN order_type = 'SELL' THEN total_volume END) AS DOUBLE)
         AS ask_vwap,
       CAST(MAX(CASE WHEN order_type = 'BUY'  AND level_rank = 1 THEN price END) AS DOUBLE)
         AS best_bid,
       CAST(MAX(CASE WHEN order_type = 'SELL' AND level_rank = 1 THEN price END) AS DOUBLE)
         AS best_ask,
       (CAST(MAX(CASE WHEN order_type = 'BUY'  AND level_rank = 1 THEN price END) AS DOUBLE)
        + CAST(MAX(CASE WHEN order_type = 'SELL' AND level_rank = 1 THEN price END) AS DOUBLE))
         / 2.0 AS mid_price,
       (CAST(SUM(CASE WHEN order_type = 'BUY'  THEN total_volume END) AS DOUBLE)
        - CAST(SUM(CASE WHEN order_type = 'SELL' THEN total_volume END) AS DOUBLE))
       / (CAST(SUM(CASE WHEN order_type = 'BUY'  THEN total_volume END) AS DOUBLE)
          + CAST(SUM(CASE WHEN order_type = 'SELL' THEN total_volume END) AS DOUBLE))
         AS depth_imbalance
FROM top GROUP BY pool_address
""",
)
def q_order_book_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    lv = top_levels(price_levels(_orders_state(spark, sf_dir)), depth=20)
    bid = F.col("order_type") == "BUY"
    ask = F.col("order_type") == "SELL"
    pv = F.col("price") * F.col("total_volume")
    bid_vol = F.sum(F.when(bid, F.col("total_volume"))).cast("double")
    ask_vol = F.sum(F.when(ask, F.col("total_volume"))).cast("double")
    best_bid = F.max(
        F.when(bid & (F.col("level_rank") == 1), F.col("price"))
    ).cast("double")
    best_ask = F.max(
        F.when(ask & (F.col("level_rank") == 1), F.col("price"))
    ).cast("double")
    return lv.groupBy("pool_address").agg(
        (F.sum(F.when(bid, pv)).cast("double") / bid_vol).alias("bid_vwap"),
        (F.sum(F.when(ask, pv)).cast("double") / ask_vol).alias("ask_vwap"),
        best_bid.alias("best_bid"),
        best_ask.alias("best_ask"),
        ((best_bid + best_ask) / F.lit(2.0)).alias("mid_price"),
        ((bid_vol - ask_vol) / (bid_vol + ask_vol)).alias("depth_imbalance"),
    )


# ---------------------------------------------------------------------------
# SCD-2 order version history: the warehouse-style complement of
# the state fold — every order-touching event becomes a version row with a
# [valid_from_seq, valid_to_seq) validity interval, carried-forward
# attributes (the same last-ignorenulls semantics the fold aggregates),
# and an is_current flag. The fold answers "state now"; this answers
# "state at any seq" as a joinable dimension — SCD type 2 exactly.
# Scale shape: one shuffle on the order key, per-key ROWS windows (carry,
# row_number, lead) in a single sort — linear, no self-join.
# ---------------------------------------------------------------------------
@register(
    "orders_scd2_versions",
    f"WITH {ORDER_EVENTS_CTE}, {ORDER_UPDATES_CTE}\n"
    + """
, versions AS (
  SELECT pool_address, order_id, seq,
         row_number() OVER wn AS version_no,
         lead(seq)    OVER wn AS next_seq,
         last_value(u_trader IGNORE NULLS)     OVER wc AS trader,
         last_value(u_price IGNORE NULLS)      OVER wc AS price,
         last_value(u_amount IGNORE NULLS)     OVER wc AS amount,
         last_value(u_filled IGNORE NULLS)     OVER wc AS filled,
         last_value(u_remaining IGNORE NULLS)  OVER wc AS remaining_amount,
         last_value(u_active IGNORE NULLS)     OVER wc AS active
  FROM order_updates
  WINDOW wn AS (PARTITION BY pool_address, order_id ORDER BY seq),
         wc AS (PARTITION BY pool_address, order_id ORDER BY seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT pool_address, order_id,
       CAST(version_no AS BIGINT)       AS version_no,
       CAST(seq AS BIGINT)              AS valid_from_seq,
       CAST(next_seq AS BIGINT)         AS valid_to_seq,
       next_seq IS NULL                 AS is_current,
       trader,
       CAST(price AS DOUBLE)            AS price,
       CAST(amount AS DOUBLE)           AS amount,
       CAST(filled AS DOUBLE)           AS filled,
       CAST(remaining_amount AS DOUBLE) AS remaining_amount,
       active
FROM versions
""",
)
def q_orders_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_server_spark.operators.fold import project_updates

    u = project_updates(order_events(spark, sf_dir))
    wn = Window.partitionBy("pool_address", "order_id").orderBy("seq")
    wc = wn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carried = u.select(
        "pool_address",
        "order_id",
        "seq",
        F.row_number().over(wn).cast("bigint").alias("version_no"),
        F.lead("seq").over(wn).cast("bigint").alias("next_seq"),
        F.last("u_trader", ignorenulls=True).over(wc).alias("trader"),
        F.last("u_price", ignorenulls=True).over(wc).alias("price"),
        F.last("u_amount", ignorenulls=True).over(wc).alias("amount"),
        F.last("u_filled", ignorenulls=True).over(wc).alias("filled"),
        F.last("u_remaining", ignorenulls=True).over(wc).alias("remaining_amount"),
        F.last("u_active", ignorenulls=True).over(wc).alias("active"),
    )
    return carried.select(
        "pool_address",
        "order_id",
        "version_no",
        F.col("seq").cast("bigint").alias("valid_from_seq"),
        F.col("next_seq").alias("valid_to_seq"),
        F.col("next_seq").isNull().alias("is_current"),
        "trader",
        _DBL("price"),
        _DBL("amount"),
        _DBL("filled"),
        _DBL("remaining_amount"),
        "active",
    )


# ---------------------------------------------------------------------------
# A7/W2 — amount-out walk, both directions (SURVEY §2.4, §3.3)
# ---------------------------------------------------------------------------
def _amount_out_gate(order_type: str) -> QueryFn:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        r = amount_out(_orders_state(spark, sf_dir), order_type, 500)
        return r.select(
            "pool_address", _DBL("output_amount"), _DBL("consumed"), "is_error"
        )

    return fn


for _side in ("BUY", "SELL"):
    register(
        f"amount_out_{_side.lower()}",
        _FOLD_CTES
        + amount_out_ctes(_side)
        + "\nSELECT pool_address, output_amount, consumed, is_error FROM amount_out_result",
    )(_amount_out_gate(_side))


# ---------------------------------------------------------------------------
# A4 — latest trade price per pool (SURVEY §2.4)
# ---------------------------------------------------------------------------
@register(
    "latest_price",
    f"WITH {ORDER_EVENTS_CTE}\n"
    + """
SELECT pool_address, CAST(max_by(price, seq) AS DOUBLE) AS latest_price
FROM order_events WHERE event_type = 'LatestPrice'
GROUP BY pool_address
""",
)
def q_latest_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return latest_price(order_events(spark, sf_dir)).select(
        "pool_address", _DBL("latest_price")
    )


# ---------------------------------------------------------------------------
# A5 — market-order history for one trader (SURVEY §2.4)
# ---------------------------------------------------------------------------
@register(
    "market_orders_t2",
    f"WITH {ORDER_EVENTS_CTE}\n"
    + """
SELECT pool_address, seq, trader, order_type,
       CAST(price AS DOUBLE)         AS price,
       CAST(filled_amount AS DOUBLE) AS filled_amount,
       CAST(event_time AS DATE)      AS event_date
FROM order_events
WHERE event_type = 'MarketOrderExecuted' AND trader = 'T2'
""",
)
def q_market_orders_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return market_orders(order_events(spark, sf_dir), trader="T2").select(
        "pool_address",
        "seq",
        "trader",
        "order_type",
        _DBL("price"),
        _DBL("filled_amount"),
        F.col("event_time").cast("date").alias("event_date"),
    )


# ---------------------------------------------------------------------------
# J1 — per-trader orders incl. tombstones (SURVEY §2.3, Q7)
# ---------------------------------------------------------------------------
@register(
    "user_orders_t1",
    _FOLD_CTES
    + """
SELECT pool_address, order_id, trader,
       CAST(price AS DOUBLE)  AS price,
       CAST(amount AS DOUBLE) AS amount,
       order_type, active
FROM orders_state WHERE trader = 'T1'
""",
)
def q_user_orders_t1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_orders(_orders_state(spark, sf_dir), "T1").select(
        "pool_address", "order_id", "trader", _DBL("price"), _DBL("amount"),
        "order_type", "active",
    )


# ---------------------------------------------------------------------------
# per-trader aggregate stats (generalized getUserOrders)
# ---------------------------------------------------------------------------
@register(
    "trader_order_counts",
    _FOLD_CTES
    + """
SELECT trader,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
       CAST(SUM(amount) AS DOUBLE) AS total_amount,
       CAST(SUM(filled) AS DOUBLE) AS total_filled
FROM orders_state GROUP BY trader
""",
)
def q_trader_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return trader_order_counts(_orders_state(spark, sf_dir)).select(
        "trader",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("n_active").cast("bigint").alias("n_active"),
        _DBL("total_amount"),
        _DBL("total_filled"),
    )


# ---------------------------------------------------------------------------
# S8/P6 — pool inventory summary (SURVEY §2.1, §2.2)
# ---------------------------------------------------------------------------
@register(
    "pools_summary",
    f"WITH {ORDER_EVENTS_CTE}\n"
    + """
SELECT pool_address,
       CAST(COUNT(*) AS BIGINT)                 AS n_events,
       CAST(COUNT(DISTINCT order_id) AS BIGINT) AS n_orders_touched,
       CAST(COUNT(DISTINCT trader) AS BIGINT)   AS n_traders,
       CAST(max_by(price, CASE WHEN event_type = 'LatestPrice' THEN seq END) AS DOUBLE)
         AS latest_price
FROM order_events GROUP BY pool_address
""",
)
def q_pools_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = pools_summary(order_events(spark, sf_dir))
    return ps.select(
        "pool_address",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_orders_touched").cast("bigint").alias("n_orders_touched"),
        F.col("n_traders").cast("bigint").alias("n_traders"),
        _DBL("latest_price"),
    )


# ---------------------------------------------------------------------------
# A3/T3 — FIFO queues per level and the assembled book snapshot (SURVEY §3.2)
# ---------------------------------------------------------------------------
@register(
    "order_book_fifo_queues",
    _FOLD_CTES
    + """
, levels AS (
  SELECT pool_address, order_type, price,
         SUM(amount - filled) AS total_volume,
         COUNT(*) AS order_count,
         array_to_string(list(order_id ORDER BY created_seq), ',') AS order_ids
  FROM orders_state
  WHERE active AND price IS NOT NULL
  GROUP BY pool_address, order_type, price
), ranked AS (
  SELECT *,
    CASE WHEN order_type = 'BUY'
         THEN row_number() OVER (PARTITION BY pool_address, order_type ORDER BY price DESC)
         ELSE row_number() OVER (PARTITION BY pool_address, order_type ORDER BY price ASC)
    END AS level_rank
  FROM levels
)
SELECT pool_address, order_type,
       CAST(price AS DOUBLE)        AS price,
       CAST(total_volume AS DOUBLE) AS total_volume,
       order_ids,
       CAST(level_rank AS BIGINT)   AS level_rank
FROM ranked WHERE level_rank <= 20
""",
)
def q_order_book_fifo_queues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-time priority made visible: each top level carries its FIFO
    order queue (sorted by creation seq, never arrival order — A3), CSV-
    serialized so the driver's pandas row-sort canonicalization works."""
    lv = top_levels(price_levels(_orders_state(spark, sf_dir)), depth=20)
    return lv.select(
        "pool_address",
        "order_type",
        _DBL("price"),
        _DBL("total_volume"),
        F.array_join(
            F.transform("order_ids", lambda x: x.cast("string")), ","
        ).alias("order_ids"),
        F.col("level_rank").cast("bigint").alias("level_rank"),
    )


@register(
    "order_book_snapshot",
    _FOLD_CTES
    + """
, levels AS (
  SELECT pool_address, order_type, price,
         SUM(amount - filled) AS total_volume
  FROM orders_state
  WHERE active AND price IS NOT NULL
  GROUP BY pool_address, order_type, price
), ranked AS (
  SELECT *,
    CASE WHEN order_type = 'BUY'
         THEN row_number() OVER (PARTITION BY pool_address, order_type ORDER BY price DESC)
         ELSE row_number() OVER (PARTITION BY pool_address, order_type ORDER BY price ASC)
    END AS level_rank
  FROM levels
), topk AS (SELECT * FROM ranked WHERE level_rank <= 20),
lp AS (
  SELECT pool_address, CAST(max_by(price, seq) AS DOUBLE) AS latest_price
  FROM order_events WHERE event_type = 'LatestPrice' GROUP BY pool_address
)
SELECT t.pool_address,
       COALESCE(array_to_string(list(CAST(price AS VARCHAR) ORDER BY level_rank)
         FILTER (WHERE order_type='BUY'), ','), '')  AS bid_prices,
       COALESCE(array_to_string(list(CAST(total_volume AS VARCHAR) ORDER BY level_rank)
         FILTER (WHERE order_type='BUY'), ','), '')  AS bid_volumes,
       COALESCE(array_to_string(list(CAST(price AS VARCHAR) ORDER BY level_rank)
         FILTER (WHERE order_type='SELL'), ','), '') AS ask_prices,
       COALESCE(array_to_string(list(CAST(total_volume AS VARCHAR) ORDER BY level_rank)
         FILTER (WHERE order_type='SELL'), ','), '') AS ask_volumes,
       any_value(lp.latest_price) AS latest_price
FROM topk t LEFT JOIN lp ON t.pool_address = lp.pool_address
GROUP BY t.pool_address
""",
)
def q_order_book_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled per-pool book (T3): depth-20 bid/ask price & volume
    lists in book order plus the latest trade price (A4, J3-style join).
    One aggregation pass; lists ordered by level rank, not arrival, and
    CSV-serialized from the exact DECIMAL values (driver-sortable scalars;
    decimal→string renders identically in Spark and DuckDB)."""
    lv = top_levels(price_levels(_orders_state(spark, sf_dir)), depth=20)
    lp = latest_price(order_events(spark, sf_dir))

    def side_arr(side: str, value: Column) -> Column:
        pair = F.when(
            F.col("order_type") == side,
            F.struct(F.col("level_rank"), value.cast("string").alias("v")),
        )
        return F.array_join(
            F.transform(F.sort_array(F.collect_list(pair)), lambda s: s["v"]), ","
        )

    book = lv.groupBy("pool_address").agg(
        side_arr("BUY", F.col("price")).alias("bid_prices"),
        side_arr("BUY", F.col("total_volume")).alias("bid_volumes"),
        side_arr("SELL", F.col("price")).alias("ask_prices"),
        side_arr("SELL", F.col("total_volume")).alias("ask_volumes"),
    )
    return book.join(F.broadcast(lp), "pool_address", "left").select(
        "pool_address",
        "bid_prices",
        "bid_volumes",
        "ask_prices",
        "ask_volumes",
        _DBL("latest_price"),
    )


@register(
    "amount_out_prices",
    _FOLD_CTES
    + amount_out_ctes("BUY")
    + "\nSELECT pool_address, hit_prices, n_levels FROM amount_out_result",
)
def q_amount_out_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The touched-price list of the amount-out walk (AmountOutResult.prices,
    reference src/models/types.ts:53) in walk order, serialized to a CSV
    string — the correctness driver canonicalizes rows with a pandas sort,
    which cannot order array cells, so gate outputs stay scalar."""
    r = amount_out(_orders_state(spark, sf_dir), "BUY", 500)
    return r.select(
        "pool_address",
        F.array_join(
            F.transform("hit_prices", lambda p: p.cast("string")), ","
        ).alias("hit_prices"),
        F.size("hit_prices").cast("bigint").alias("n_levels"),
    )


# ---------------------------------------------------------------------------
# S5/J3/J4/P2 — pools dimension + decimal-rescale join (SURVEY §2.1-§2.3)
# ---------------------------------------------------------------------------
# The reference enriches every response with token metadata fetched once per
# pool over RPC (reference src/services/hive-listener.ts:54-111) and rescales
# uint256 amounts by 10^decimals (P2, :239-241). The pools dim is the serving
# edge's `pools_dim` (md5-seeded decimals / symbols, broadcast-joined); the
# rescale is a single double division.
@register(
    "pool_info_enriched",
    f"WITH {ORDER_EVENTS_CTE}, {POOLS_CTE}"
    + """
SELECT p.pool_address, p.base_decimals, p.base_symbol, p.quote_symbol,
       CAST(lp.latest_price AS DOUBLE) AS latest_price,
       CAST(lp.latest_price AS DOUBLE) / power(10.0, CAST(p.base_decimals AS DOUBLE))
         AS latest_price_scaled
FROM pools p LEFT JOIN lp ON p.pool_address = lp.pool_address
""",
)
def q_pool_info_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pools_dim(order_events(spark, sf_dir)).select(
        "pool_address",
        "base_decimals",
        "base_symbol",
        "quote_symbol",
        _DBL("latest_price"),
        (
            F.col("latest_price").cast("double")
            / F.pow(F.lit(10.0), F.col("base_decimals").cast("double"))
        ).alias("latest_price_scaled"),
    )


# ---------------------------------------------------------------------------
# Q6 — level-capped amount-out (bug-compatible depth cap, SURVEY §2.11)
# ---------------------------------------------------------------------------
@register(
    "amount_out_capped",
    _FOLD_CTES
    + amount_out_ctes("BUY", level_cap=2)
    + "\nSELECT pool_address, consumed, is_error FROM amount_out_result",
)
def q_amount_out_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-compatible depth cap (Q6): the walk sees only the top-k
    levels, so 'insufficient liquidity' can be reported while deeper
    liquidity exists — bug-compatible mode, cap=2 to make the divergence
    visible at test scale (reference default is 100)."""
    r = amount_out(_orders_state(spark, sf_dir), "BUY", 500, level_cap=2)
    return r.select("pool_address", _DBL("consumed"), "is_error")


# ---------------------------------------------------------------------------
# As-of + range joins (operators/asof.py) — trade→quote enrichment
# ---------------------------------------------------------------------------
@register(
    "asof_trade_price",
    f"WITH {ORDER_EVENTS_CTE}\n"
    + """
, mo AS (SELECT pool_address, seq, trader, filled_amount FROM order_events
         WHERE event_type = 'MarketOrderExecuted'),
lp AS (SELECT pool_address, seq, price FROM order_events
       WHERE event_type = 'LatestPrice')
SELECT mo.pool_address, mo.seq, mo.trader,
       CAST(mo.filled_amount AS DOUBLE) AS filled_amount,
       CAST(lp.price AS DOUBLE)         AS asof_price,
       CAST(mo.seq - lp.seq AS BIGINT)  AS staleness
FROM mo ASOF LEFT JOIN lp
  ON mo.pool_address = lp.pool_address AND mo.seq >= lp.seq
""",
)
def q_asof_trade_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each executed market order enriched with the latest price known at
    its sequence point — the canonical trade→quote as-of join. Spark side is
    the scalable union-and-carry window (operators/asof.py); the oracle uses
    DuckDB's native ASOF JOIN, so two independent formulations must agree."""
    from hive_server_spark.operators.asof import asof_join_last

    ev = order_events(spark, sf_dir)
    mo = ev.where(et_eq("MarketOrderExecuted")).select(
        "pool_address", "seq", "trader", "filled_amount"
    )
    lp = ev.where(et_eq("LatestPrice")).select("pool_address", "seq", "price")
    j = asof_join_last(mo, lp, key="pool_address", order="seq", value_cols=["price"])
    return j.select(
        "pool_address",
        "seq",
        "trader",
        _DBL("filled_amount"),
        F.col("asof_price").cast("double").alias("asof_price"),
        (F.col("seq") - F.col("asof_order")).cast("bigint").alias("staleness"),
    )


@register(
    "asof_nearest_price",
    f"WITH {ORDER_EVENTS_CTE}\n"
    + """
, mo AS (SELECT pool_address, seq, trader, filled_amount FROM order_events
         WHERE event_type = 'MarketOrderExecuted'),
lp AS (SELECT pool_address, seq, price FROM order_events
       WHERE event_type = 'LatestPrice'),
nb AS (
  SELECT mo.pool_address, mo.seq, mo.trader, mo.filled_amount,
         b.price AS prev_price, b.seq AS prev_seq,
         f.price AS next_price, f.seq AS next_seq
  FROM mo
  ASOF LEFT JOIN lp b
    ON mo.pool_address = b.pool_address AND mo.seq >= b.seq
  ASOF LEFT JOIN lp f
    ON mo.pool_address = f.pool_address AND mo.seq <= f.seq
)
SELECT pool_address, seq, trader,
       CAST(filled_amount AS DOUBLE) AS filled_amount,
       CAST(CASE WHEN next_seq IS NULL
                   OR (prev_seq IS NOT NULL
                       AND seq - prev_seq <= next_seq - seq)
                 THEN prev_price ELSE next_price END AS DOUBLE)
         AS asof_price,
       CAST((CASE WHEN next_seq IS NULL
                    OR (prev_seq IS NOT NULL
                        AND seq - prev_seq <= next_seq - seq)
                  THEN prev_seq ELSE next_seq END) - seq AS BIGINT)
         AS signed_lag
FROM nb
""",
)
def q_asof_nearest_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each executed market order enriched with the NEAREST price update in
    either direction (pandas merge_asof direction='nearest'; ties go to
    the earlier row). Spark side is the two-direction union-and-carry
    window (one shuffle, two sorts — operators/asof.py); the oracle is a
    pair of chained native DuckDB ASOF joins plus the same tie CASE, so
    two independent formulations must agree. signed_lag < 0 means the
    match is a stale prior quote, > 0 a future one."""
    from hive_server_spark.operators.asof import asof_join_nearest

    ev = order_events(spark, sf_dir)
    mo = ev.where(et_eq("MarketOrderExecuted")).select(
        "pool_address", "seq", "trader", "filled_amount"
    )
    lp = ev.where(et_eq("LatestPrice")).select("pool_address", "seq", "price")
    j = asof_join_nearest(mo, lp, key="pool_address", order="seq", value_cols=["price"])
    return j.select(
        "pool_address",
        "seq",
        "trader",
        _DBL("filled_amount"),
        F.col("asof_price").cast("double").alias("asof_price"),
        (F.col("asof_order") - F.col("seq")).cast("bigint").alias("signed_lag"),
    )


@register(
    "range_price_activity",
    f"WITH {ORDER_EVENTS_CTE}\n"
    + """
, mo AS (SELECT pool_address, seq FROM order_events
         WHERE event_type = 'MarketOrderExecuted'),
lp AS (SELECT pool_address, seq AS lseq FROM order_events
       WHERE event_type = 'LatestPrice')
SELECT mo.pool_address, mo.seq,
       CAST(COUNT(lp.lseq) AS BIGINT) AS n_in_band
FROM mo LEFT JOIN lp
  ON mo.pool_address = lp.pool_address AND abs(mo.seq - lp.lseq) <= 50
GROUP BY mo.pool_address, mo.seq
""",
)
def q_range_price_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-update activity within ±50 sequence units of each market order.
    Spark side is the bucket-explode band join (equi-shuffle + residual
    filter — O(matches)); the oracle is the naive theta join, so the
    optimization is verified against the unoptimized semantics."""
    from hive_server_spark.operators.asof import seq_band_join_count

    ev = order_events(spark, sf_dir)
    mo = ev.where(et_eq("MarketOrderExecuted")).select("pool_address", "seq")
    lp = ev.where(et_eq("LatestPrice")).select("pool_address", "seq")
    return seq_band_join_count(mo, lp, key="pool_address", order="seq", band=50)


# ---------------------------------------------------------------------------
# Tick-rule trade classification + order-flow imbalance: the
# Lee-Ready tick test (Lee & Ready 1991, public) over executed market
# orders — an up-tick vs the previous trade print in the same pool marks
# the trade buyer-initiated (+1), a down-tick seller-initiated (-1), and a
# zero-tick carries the last non-zero direction. Per-pool rollup: signed
# counts and the filled-amount order-flow imbalance (the net aggressor
# volume a market-surveillance / microstructure pipeline tracks).
# Scale: one shuffle on pool_address, two per-pool windows (lag + the
# carried last non-zero sign, both ROWS-framed and parallel across pools),
# then a map-side-combined rollup; signed DECIMAL sums stay exact and cast
# DOUBLE only at the output edge. The Spark side uses F.last(ignorenulls)
# and the oracle DuckDB's last_value(... IGNORE NULLS) — two engines'
# independent carry implementations must agree.
# ---------------------------------------------------------------------------
_TICK_ORACLE = f"""WITH {ORDER_EVENTS_CTE}
, mo AS (SELECT pool_address, seq, price, filled_amount FROM order_events
         WHERE event_type = 'MarketOrderExecuted'),
ticked AS (
  SELECT pool_address, seq, filled_amount,
         CASE WHEN prev IS NULL THEN NULL
              WHEN price > prev THEN 1
              WHEN price < prev THEN -1
              ELSE 0 END AS tick
  FROM (SELECT *, lag(price) OVER (PARTITION BY pool_address ORDER BY seq)
               AS prev FROM mo)
),
signed AS (
  SELECT pool_address, seq, filled_amount, tick,
         last_value(CASE WHEN tick <> 0 THEN tick END IGNORE NULLS)
           OVER (PARTITION BY pool_address ORDER BY seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sign
  FROM ticked
)
SELECT pool_address,
       CAST(COUNT(*) AS BIGINT)                                   AS n_trades,
       CAST(SUM(CASE WHEN sign = 1  THEN 1 ELSE 0 END) AS BIGINT) AS n_buys,
       CAST(SUM(CASE WHEN sign = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sells,
       CAST(SUM(CASE WHEN sign IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                                  AS n_unsigned,
       CAST(SUM(CASE WHEN tick = 1  THEN 1 ELSE 0 END) AS BIGINT) AS n_upticks,
       CAST(SUM(CASE WHEN tick = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_downticks,
       CAST(SUM(sign * filled_amount) AS DOUBLE)                  AS ofi_filled,
       CAST(SUM(CASE WHEN sign = 1 THEN filled_amount END) AS DOUBLE)
                                                                  AS buy_filled,
       CAST(SUM(CASE WHEN sign = -1 THEN filled_amount END) AS DOUBLE)
                                                                  AS sell_filled
FROM signed
GROUP BY pool_address
"""


@register("trade_tick_flow", _TICK_ORACLE)
def q_trade_tick_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-Ready tick-rule aggressor classification and per-pool order-flow
    imbalance (see block comment above for semantics and scale shape)."""
    mo = (
        order_events(spark, sf_dir)
        .where(et_eq("MarketOrderExecuted"))
        .select("pool_address", "seq", "price", "filled_amount")
    )
    w = Window.partitionBy("pool_address").orderBy("seq")
    prev = F.lag("price").over(w)
    ticked = mo.withColumn(
        "tick",
        F.when(prev.isNull(), F.lit(None).cast("int"))
        .when(F.col("price") > prev, F.lit(1))
        .when(F.col("price") < prev, F.lit(-1))
        .otherwise(F.lit(0)),
    )
    carry = Window.partitionBy("pool_address").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    signed = ticked.withColumn(
        "sign",
        F.last(F.when(F.col("tick") != 0, F.col("tick")), ignorenulls=True)
        .over(carry),
    )
    return signed.groupBy("pool_address").agg(
        F.count("*").cast("bigint").alias("n_trades"),
        F.sum(F.when(F.col("sign") == 1, 1).otherwise(0)).cast("bigint")
        .alias("n_buys"),
        F.sum(F.when(F.col("sign") == -1, 1).otherwise(0)).cast("bigint")
        .alias("n_sells"),
        F.sum(F.when(F.col("sign").isNull(), 1).otherwise(0)).cast("bigint")
        .alias("n_unsigned"),
        F.sum(F.when(F.col("tick") == 1, 1).otherwise(0)).cast("bigint")
        .alias("n_upticks"),
        F.sum(F.when(F.col("tick") == -1, 1).otherwise(0)).cast("bigint")
        .alias("n_downticks"),
        F.sum(F.col("sign") * F.col("filled_amount")).cast("double")
        .alias("ofi_filled"),
        F.sum(F.when(F.col("sign") == 1, F.col("filled_amount")))
        .cast("double").alias("buy_filled"),
        F.sum(F.when(F.col("sign") == -1, F.col("filled_amount")))
        .cast("double").alias("sell_filled"),
    )


# ---------------------------------------------------------------------------
# Trailing EWMA of the price stream: the exponentially-weighted
# moving average every ticker/analytics panel smooths with (alpha = 0.2),
# over the LAST 100 price updates per pool. The recursion
# ewma_i = a*p_i + (1-a)*ewma_{i-1} is inherently sequential — the house
# answer is the bounded in-order array fold (the same left-fold discipline
# as the cosine dot products): rank-restrict to <=100 rows per pool FIRST
# (a per-pool window, parallel across pools), collect the bounded window
# in seq order, and fold it with identical lambda text in both engines —
# bit-identical IEEE sequence, no window-function recursion emulation.
# Scale: nothing unbounded is ever collected; the only corpus-sized ops
# are the filter scan and one pool-keyed shuffle.
# ---------------------------------------------------------------------------
_EWMA_ALPHA = "0.2"  # spelled once; used verbatim in both dialects
_EWMA_N = 100

_EWMA_ORACLE = f"""WITH {ORDER_EVENTS_CTE}
, lp AS (
  SELECT pool_address, seq, CAST(price AS DOUBLE) AS p,
         row_number() OVER (PARTITION BY pool_address ORDER BY seq DESC)
           AS rn_desc
  FROM order_events WHERE event_type = 'LatestPrice'
),
arrs AS (
  SELECT pool_address,
         CAST(MAX(rn_desc) AS BIGINT) AS n_used,
         list(p ORDER BY seq) AS win
  FROM lp WHERE rn_desc <= {_EWMA_N}
  GROUP BY pool_address
)
SELECT pool_address, n_used,
       win[len(win)] AS last_price,
       list_reduce(list_prepend(win[1], win[2:len(win)]),
                   (acc, x) -> {_EWMA_ALPHA} * x
                               + (1.0 - {_EWMA_ALPHA}) * acc) AS ewma
FROM arrs
"""


@register("trade_price_ewma", _EWMA_ORACLE)
def q_trade_price_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-100 EWMA (alpha 0.2) of each pool's price stream via the
    bounded in-order fold (see block comment)."""
    lp = (
        order_events(spark, sf_dir)
        .where(et_eq("LatestPrice"))
        .select("pool_address", "seq", F.col("price").cast("double").alias("p"))
    )
    w = Window.partitionBy("pool_address").orderBy(F.desc("seq"))
    recent = lp.withColumn("rn_desc", F.row_number().over(w)).where(
        F.col("rn_desc") <= _EWMA_N
    )
    arrs = recent.groupBy("pool_address").agg(
        F.max("rn_desc").cast("bigint").alias("n_used"),
        F.expr(
            "transform(sort_array(collect_list(struct(seq, p))), s -> s.p)"
        ).alias("win"),
    )
    fold = (
        f"aggregate(slice(win, 2, size(win) - 1), element_at(win, 1), "
        f"(acc, x) -> {_EWMA_ALPHA} * x + (1.0 - {_EWMA_ALPHA}) * acc)"
    )
    return arrs.select(
        "pool_address",
        "n_used",
        F.expr("element_at(win, size(win))").alias("last_price"),
        F.expr(fold).alias("ewma"),
    )


def et_eq(name: str) -> Column:
    return F.col("event_type") == name


# ---------------------------------------------------------------------------
# Hypertable-style gap fill: dense hourly price series per pool with
# last-observation-carried-forward (the time-series read shape the
# reference's latest-price KV can't serve — SURVEY §2.4 A4 generalized).
# ---------------------------------------------------------------------------
@register(
    "price_hourly_gapfill",
    f"WITH {ORDER_EVENTS_CTE}\n"
    + """
, lp AS (
  SELECT pool_address, seq, date_trunc('hour', event_time) AS bucket, price
  FROM order_events WHERE event_type = 'LatestPrice'
), hourly AS (
  SELECT pool_address, bucket, max_by(price, seq) AS px
  FROM lp GROUP BY pool_address, bucket
), bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM lp),
grid AS (
  SELECT p.pool_address,
         unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS bucket
  FROM (SELECT DISTINCT pool_address FROM lp) p, bounds b
), j AS (
  SELECT g.pool_address, g.bucket, h.px
  FROM grid g LEFT JOIN hourly h USING (pool_address, bucket)
)
SELECT pool_address, bucket,
       CAST(last_value(px IGNORE NULLS) OVER (
         PARTITION BY pool_address ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS price_filled,
       px IS NULL AS is_gap
FROM j
""",
)
def q_price_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid (sequence + explode — generated, never scanned)
    left-joined with the per-hour last trade price, gaps filled by a
    last-non-null window. One shuffle on pool for the window; the grid is
    rows = pools × hours, so output size is schedule-bounded, not
    event-bounded — the property that makes gap fill safe on a 100 TB log."""
    ev = order_events(spark, sf_dir).where(et_eq("LatestPrice"))
    lp = ev.select(
        "pool_address", "seq", F.date_trunc("hour", "event_time").alias("bucket"), "price"
    )
    hourly = lp.groupBy("pool_address", "bucket").agg(
        F.max_by("price", "seq").alias("px")
    )
    bounds = lp.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    grid = (
        lp.select("pool_address")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "pool_address",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    j = grid.join(hourly, ["pool_address", "bucket"], "left")
    w = (
        Window.partitionBy("pool_address")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "pool_address",
        "bucket",
        F.last("px", ignorenulls=True).over(w).cast("double").alias("price_filled"),
        F.col("px").isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Query packs (self-register into hive_server_spark.registry on import)
# ---------------------------------------------------------------------------
# Import order = queries() registration order = the order any sequential
# driver visits them. Cheap scan/agg packs first; the real-stream pack last,
# so a time-budgeted run starves the most expensive entries, not coverage.
from hive_server_spark.plans import (  # noqa: E402,F401
    relational,
    events_pack,
    embedding_pack,
    text_pack,
    sources_pack,
    udf_pack,
    multimodal_pack,
    streaming_pack,
    serving_pack,
)
