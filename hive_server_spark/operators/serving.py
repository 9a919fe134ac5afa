"""Serving edge: JSON response shapes (SURVEY S9/S10).

The reference serves each endpoint as JSON over Express
(reference src/api/controllers/*.ts, src/api/routes.ts:11-17). The engine's
serving edge is `to_json` over the assembled struct — rendering happens
JVM-side per row; the caller collects only the (tiny) response rows, never
intermediate state. Decimal money renders as strings at the edge, matching
the reference's string-typed amounts (SURVEY §1.2) without float drift.

This module is the only place the read side's formats are spelled: the REST
routes (operators/api_server.py), the oracle-checked serving gate queries
(plans/serving_pack.py) and the CDC push transports all render through it,
so the bytes the oracles pin are the bytes the daemon serves."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hive_server_spark.operators.orderbook import price_levels, top_levels
from hive_server_spark.operators.trades import latest_price

# The DuckDB oracles' pools dimension (`pools` + `lp`, over ORDER_EVENTS_CTE):
# the SQL twin of `pools_dim`, shared by every oracle that joins it.
POOLS_CTE = """pools AS (
  SELECT pool_address,
         CAST(14 + ('0x'||substr(md5(pool_address),1,2))::BIGINT % 5 AS BIGINT)
           AS base_decimals,
         concat('TK', upper(substr(pool_address, 6, 1)))  AS base_symbol,
         'USDQ'                                           AS quote_symbol
  FROM (SELECT DISTINCT pool_address FROM order_events)
), lp AS (
  SELECT pool_address, max_by(price, seq) AS latest_price
  FROM order_events WHERE event_type = 'LatestPrice' GROUP BY pool_address
)"""


def pools_dim(events: DataFrame) -> DataFrame:
    """The pools dimension (S5/J3): one row per pool with its token metadata
    and latest price. The reference fetches token metadata once per pool
    over RPC (reference src/services/hive-listener.ts:54-111); here it is
    derived deterministically from the address (md5-seeded decimals, symbol
    from the address), quoted in USDQ, with `trades.latest_price`
    broadcast-joined."""
    pools = events.select("pool_address").distinct().select(
        "pool_address",
        (
            F.lit(14)
            + F.expr("CAST(conv(substring(md5(pool_address),1,2),16,10) AS BIGINT)") % 5
        )
        .cast("bigint")
        .alias("base_decimals"),
        F.concat(F.lit("TK"), F.upper(F.substring("pool_address", 6, 1))).alias(
            "base_symbol"
        ),
        F.lit("USDQ").alias("quote_symbol"),
    )
    return F.broadcast(pools).join(latest_price(events), "pool_address", "left")


def _dec_str(c: str) -> F.Column:
    return F.col(c).cast("string").alias(c)


def _pool_fields() -> list[Column]:
    return [
        F.col("pool_address").alias("address"),
        F.struct(
            F.col("base_symbol").alias("symbol"),
            F.col("base_decimals").alias("decimals"),
        ).alias("baseToken"),
        F.struct(
            F.col("quote_symbol").alias("symbol"),
            F.lit(6).alias("decimals"),
        ).alias("quoteToken"),
    ]


def order_book_rows(orders: DataFrame, depth: int = 20) -> DataFrame:
    """Every pool's book as one JSON document (pool_address, json) with
    bids[]/asks[] (price desc / asc, FIFO order ids per level) — the shape
    of GET /api/pools/:address/orderbook (reference
    src/models/order-book.ts:202-349).

    Documented divergence from the reference shape: its PriceLevel is
    {price, orders: Order[], totalVolume} inside an OrderBook that also
    carries baseToken/quoteToken/latestPrice (src/models/types.ts). This
    route renders {price, totalVolume, orders: id[]} with no wrapper: the id
    list pins the same FIFO price-time priority without re-serializing every
    order field the user-orders route already serves.

    The levels aggregate is one map-side-combined shuffle of active orders,
    the per-side top-`depth` a rank-over-window on the tiny level table;
    sort_array on the rank-headed level structs fixes the array order, and
    collect_list drops the other side's NULLs, so each side assembles in one
    aggregate without a self-join."""
    lv = top_levels(price_levels(orders), depth)
    level = F.struct(
        F.col("level_rank").cast("int").alias("rk"),
        F.col("price").cast("string").alias("price"),
        F.col("total_volume").cast("string").alias("totalVolume"),
        F.col("order_ids").alias("orders"),
    )

    def side(order_type: str) -> Column:
        ranked = F.sort_array(
            F.collect_list(F.when(F.col("order_type") == order_type, level))
        )
        return F.transform(
            ranked,
            lambda s: F.struct(
                s["price"].alias("price"),
                s["totalVolume"].alias("totalVolume"),
                s["orders"].alias("orders"),
            ),
        )

    sides = lv.groupBy("pool_address").agg(
        side("BUY").alias("bids"), side("SELL").alias("asks")
    )
    return sides.select(
        "pool_address",
        F.to_json(
            F.struct(F.col("pool_address").alias("pool"), "bids", "asks")
        ).alias("json"),
    )


def order_book_json(orders: DataFrame, pool_address: str, depth: int = 20) -> DataFrame:
    """GET /api/pools/:address/orderbook — `order_book_rows` over the pool's
    orders (the filter lands on the scan): one row, or none for a pool with
    no active levels."""
    return order_book_rows(orders.where(F.col("pool_address") == pool_address), depth)


def order_json(orders: DataFrame, pool_address: str, order_id: int) -> DataFrame:
    """GET /api/pools/:address/orders/:id — point lookup, tombstones
    included (Q7: cancelled orders stay readable)."""
    row = orders.where(
        (F.col("pool_address") == pool_address) & (F.col("order_id") == order_id)
    )
    return row.select(
        F.to_json(
            F.struct(
                F.col("order_id").alias("id"),
                F.col("trader"),
                _dec_str("price"),
                _dec_str("amount"),
                _dec_str("filled"),
                F.col("remaining_amount").cast("string").alias("remainingAmount"),
                F.col("order_type").alias("type"),
                F.col("active"),
            )
        ).alias("json")
    )


def user_orders_json(orders: DataFrame, trader: str) -> DataFrame:
    """GET /api/pools/:address/:trader/orders — the trader's orders in every
    pool of `orders` (pool_address, order_id, json), active AND tombstoned
    (Q7). Every field of a created order is non-null, so no key is ever
    omitted."""
    return orders.where(F.col("trader") == trader).select(
        "pool_address",
        "order_id",
        F.to_json(
            F.struct(
                F.col("pool_address").alias("pool"),
                F.col("order_id").alias("id"),
                _dec_str("price"),
                _dec_str("amount"),
                F.col("order_type").alias("type"),
                F.col("active"),
            )
        ).alias("json"),
    )


def pools_json(pools: DataFrame) -> DataFrame:
    """GET /api/pools — every pool with its token metadata; the reference
    drops rows missing address/baseToken (validity filter P6,
    reference src/api/controllers/pool-controller.ts:10)."""
    valid = pools.where(
        F.col("pool_address").isNotNull() & F.col("base_symbol").isNotNull()
    )
    return valid.select(F.to_json(F.struct(*_pool_fields())).alias("json"))


def pool_info_rows(pools: DataFrame) -> DataFrame:
    """Every pool's PoolInfo JSON (pool_address, json) — the shape of GET
    /api/pools/:address (reference src/models/types.ts:35-40): token
    metadata + latest price as a string. to_json omits a null latestPrice
    key, which the oracle mirrors with a CASE."""
    return pools.select(
        "pool_address",
        F.to_json(
            F.struct(
                *_pool_fields(),
                F.col("latest_price").cast("string").alias("latestPrice"),
            )
        ).alias("json"),
    )


def pool_info_json(pools: DataFrame, pool_address: str) -> DataFrame:
    """GET /api/pools/:address — `pool_info_rows` of the one pool."""
    return pool_info_rows(pools.where(F.col("pool_address") == pool_address))


def market_orders_json(events: DataFrame, pool_address: str, trader: str) -> DataFrame:
    """GET /api/pools/:address/:trader/market-orders — the append-only
    execution history (reference src/models/order-book.ts:184-200)."""
    mo = events.where(
        (F.col("event_type") == "MarketOrderExecuted")
        & (F.col("pool_address") == pool_address)
        & (F.col("trader") == trader)
    )
    return mo.select(
        F.to_json(
            F.struct(
                F.col("seq").alias("sequence"),
                F.col("order_type").alias("type"),
                F.col("price").cast("string").alias("price"),
                F.col("filled_amount").cast("string").alias("filledAmount"),
                F.col("event_time").cast("string").alias("timestamp"),
            )
        ).alias("json")
    )


def amount_out_json(result: DataFrame, pool_address: str) -> DataFrame:
    """GET /api/pools/:address/get-amount-out — AmountOutResult shape
    (reference src/models/types.ts:49-54): string amounts, touched prices,
    optional errorMessage."""
    row = result.where(F.col("pool_address") == pool_address)
    return row.select(
        F.to_json(
            F.struct(
                F.col("is_error").alias("isError"),
                F.col("error_message").alias("errorMessage"),
                F.col("output_amount").cast("string").alias("outputAmount"),
                F.transform(
                    F.col("hit_prices"), lambda p: p.cast("string")
                ).alias("prices"),
            )
        ).alias("json")
    )


def cdc_levels_json(snapshot: DataFrame, version: int) -> DataFrame:
    """One CDC version's pushed book levels (streaming/cdc.py), per pool:
    (pool_address, levels) with `levels` the JSON of every level row
    {version, side, price, totalVolume, orderCount, levelRank}, ordered by
    side then rank — the payload the CDC pull tail and both push
    transports serve (reference src/api/server.ts:43-51)."""
    level = F.struct(
        # sort keys first: array_sort orders structs field by field, so the
        # payload order is deterministic
        F.col("order_type"),
        F.col("level_rank").cast("long").alias("level_rank"),
        F.to_json(
            F.struct(
                F.lit(version).cast("long").alias("version"),
                F.col("order_type").alias("side"),
                F.col("price").cast("string").alias("price"),
                F.col("total_volume").cast("string").alias("totalVolume"),
                F.col("order_count").cast("long").alias("orderCount"),
                F.col("level_rank").cast("long").alias("levelRank"),
            )
        ).alias("json"),
    )
    return snapshot.groupBy("pool_address").agg(
        F.transform(F.array_sort(F.collect_list(level)), lambda s: s["json"]).alias(
            "levels"
        )
    )
