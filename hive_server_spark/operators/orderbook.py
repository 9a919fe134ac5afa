"""Order-book read side: price levels and top-k bids/asks.

Mirrors reference src/models/order-book.ts:202-349 (getBuyLevels /
getSellLevels / getOrderBook): per (pool, side, price) level with
`total_volume = Σ(amount − filled)` over ACTIVE orders (A2), per-level order
lists in seq order — price-time priority (A3) — bids sorted desc / asks asc,
top `depth` levels per side (T1/T2). The book document itself is assembled
from these by `serving.order_book_rows`.

Spark-first: the reference's Redis index fan-out (N+1 point gets per level,
src/models/order-book.ts:209-213) collapses into one hash aggregate, with
partial aggregation before the single shuffle on (pool, side, price); the
per-side sort+slice becomes a rank-over-window, so one job covers every
pool.

FIFO within a level (A3) is enforced by sorting collected structs by seq —
never by arrival order (collect_list is otherwise non-deterministic under
parallel execution; SURVEY §7 hard-part e).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@functools.cache
def _level_columns() -> tuple[Column, tuple[Column, ...], tuple[Column, ...]]:
    """`price_levels`' filter, level key and aggregates. Columns are
    unresolved expressions with no session state, so they are built once
    per process and every call (CDC micro-batch, REST render) only binds
    them."""
    return (
        F.col("active") & F.col("price").isNotNull(),
        (F.col("pool_address"), F.col("order_type"), F.col("price")),
        (
            F.sum(F.col("amount") - F.col("filled")).alias("total_volume"),
            F.count(F.lit(1)).alias("order_count"),
            # A3: price-time priority — FIFO by creation seq, never by the
            # (non-deterministic) collect order
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("created_seq"), F.col("order_id")))
                ),
                lambda s: s["order_id"],
            ).alias("order_ids"),
        ),
    )


def price_levels(orders: DataFrame) -> DataFrame:
    """Aggregate active orders into price levels (A2): one row per
    (pool_address, order_type, price) with total volume and FIFO order ids.

    Single shuffle on the level key; map-side partial aggregation applies to
    sum/count. At 100 TB the level cardinality is tiny relative to orders, so
    this reduces data massively before any downstream sort.
    """
    active, keys, aggs = _level_columns()
    return orders.where(active).groupBy(*keys).agg(*aggs)


@functools.cache
def _rank_column() -> Column:
    """`top_levels`' per-side level rank, built once per process."""
    # one window each way; price is unique within (pool, side) so ranking is
    # deterministic without a tiebreaker
    w_bid = Window.partitionBy("pool_address", "order_type").orderBy(F.desc("price"))
    w_ask = Window.partitionBy("pool_address", "order_type").orderBy(F.asc("price"))
    return F.when(F.col("order_type") == "BUY", F.row_number().over(w_bid)).otherwise(
        F.row_number().over(w_ask)
    )


def top_levels(levels: DataFrame, depth: int = 20) -> DataFrame:
    """Top-`depth` levels per (pool, side): bids (BUY) by price desc, asks
    (SELL) by price asc — reference sorts at src/models/order-book.ts:207,237.

    Rank-over-window so one job covers every pool; depth default 20 matches
    the reference model default (REST default is 10 — SURVEY Q4; depth is an
    explicit parameter here). The depth predicate is the one per-call
    expression (callers vary it, e.g. amount_out's `level_cap`), given as
    SQL text so no Column is built per call.
    """
    return levels.withColumn("level_rank", _rank_column()).where(
        f"level_rank <= {int(depth)}"
    )
