"""A1 — the keyed upsert fold: order_events log → current `orders` state.

This is the reference's core "engine": per (pool, order_id) it applies
  OrderCreated   → insert            (reference src/models/order-book.ts:80-102)
  OrderFilled    → set {filled, remaining_amount, active}   (:146-168)
  OrderCancelled → set active=false (tombstone, never delete — SURVEY Q7) (:170-182)
  OrderUpdated   → set amount ONLY (remaining/filled stay stale — SURVEY Q5) (:104-117)
dispatched from src/services/hive-listener.ts:178-206,228-335.

Spark-first design: each event row is projected to per-field *update columns*
(null where the event doesn't touch the field); the current state is then the
last non-null update per field in `seq` order. We compute that with ONE hash
aggregate — `max(struct(seq, value))` per field (`partial_fold`) — which gets
map-side partial aggregation and no sort. The same aggregate is a mergeable
partial state, so the batch fold, the micro-batch stream and the CDC fold all
run it and differ only in how partials are combined. At 100 TB this is a
single shuffle on the state key, with combiner-style reduction on the map
side; a window/sort formulation would shuffle the same data but add a
per-partition sort and lose partial agg.

Every Column these functions use is built once per process by a cached
builder beside the function (`_update_columns`, `_fold_columns`,
`_materialize_columns`): a Column is an unresolved expression with no
session state, and each one built costs py4j round trips, so a CDC
micro-batch only binds the prebuilt lists to its input DataFrames.

Quirk stances (SURVEY §2.11): Q3 — we read the ABI-named `filled` field (the
reference destructures a misnamed `filledAmount` and stores NaN; we implement
the intent). Q5/Q7 encoded as above.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_json_string


@functools.cache
def _update_columns(amount_json: str) -> tuple[Column, tuple[Column, ...]]:
    """`project_updates`' row filter and select list for an `amount` of
    the type whose JSON is `amount_json` (`zero` casts to it), built once
    per amount type."""
    et = F.col("event_type")
    is_created = et == "OrderCreated"
    is_filled = et == "OrderFilled"
    is_cancelled = et == "OrderCancelled"
    is_updated = et == "OrderUpdated"
    zero = F.lit(0).cast(_parse_datatype_json_string(amount_json))

    return F.col("order_id").isNotNull(), (
        F.col("pool_address"),
        F.col("order_id"),
        F.col("seq"),
        F.when(is_created, F.col("trader")).alias("u_trader"),
        F.when(is_created, F.col("price")).alias("u_price"),
        # Q5: OrderUpdated rewrites `amount` only
        F.when(is_created, F.col("amount"))
        .when(is_updated, F.col("new_amount"))
        .alias("u_amount"),
        F.when(is_created, zero).when(is_filled, F.col("filled")).alias("u_filled"),
        F.when(is_created, F.col("amount"))
        .when(is_filled, F.col("remaining"))
        .alias("u_remaining"),
        F.when(is_created, F.col("order_type")).alias("u_order_type"),
        # Q7: cancelled → tombstone, still readable
        F.when(is_created, F.lit(True))
        .when(is_filled, F.col("remaining") > 0)
        .when(is_cancelled, F.lit(False))
        .alias("u_active"),
        F.when(is_created, F.col("event_time")).alias("u_created_ts"),
        is_created.cast("int").alias("is_created"),
    )


def project_updates(events: DataFrame) -> DataFrame:
    """Project each event row to per-field *update columns* (null where the
    event doesn't touch the field) — the front half of `partial_fold`."""
    has_id, cols = _update_columns(events.schema["amount"].dataType.json())
    return events.where(has_id).select(*cols)


# order field -> its update column from project_updates
_UPD_OF = {
    "trader": "u_trader",
    "price": "u_price",
    "amount": "u_amount",
    "filled": "u_filled",
    "remaining_amount": "u_remaining",
    "order_type": "u_order_type",
    "active": "u_active",
}
_FIELDS = tuple(_UPD_OF)


@functools.cache
def _fold_columns() -> tuple[tuple[Column, ...], tuple[Column, ...]]:
    """`partial_fold`'s group keys and aggregates, built once per process."""
    seq = F.col("seq")

    def last_pair(field: str) -> Column:
        u = F.col(_UPD_OF[field])
        return F.max(F.when(u.isNotNull(), F.struct(seq.alias("seq"), u.alias("v")))).alias(
            f"p_{field}"
        )

    return (F.col("pool_address"), F.col("order_id")), (
        *[last_pair(f) for f in _FIELDS],
        F.min("u_created_ts").alias("created_ts"),
        # seq of the (latest) OrderCreated — FIFO key for price-time
        # priority within a level (A3)
        F.max(F.when(F.col("is_created") == 1, seq)).alias("created_seq"),
        F.max("is_created").alias("has_created"),
    )


def partial_fold(events: DataFrame) -> DataFrame:
    """Fold a batch of events into a mergeable partial state: per field a
    struct(seq, v) carrying the latest non-null update. Null updates give
    a null struct, which max() skips — mirrored by DuckDB's
    `max_by(v, CASE WHEN v IS NOT NULL THEN seq END)` in the oracle. One
    hash aggregate with map-side combine; the batch fold, the native
    stream and the foreachBatch CDC fold all run it."""
    keys, aggs = _fold_columns()
    return project_updates(events).groupBy(*keys).agg(*aggs)


@functools.cache
def _materialize_columns() -> tuple[Column, tuple[Column, ...]]:
    """`materialize_orders`' row filter and select list, built once per
    process."""
    return F.col("has_created") == 1, (
        F.col("pool_address"),
        F.col("order_id"),
        *[F.col(f"p_{f}.v").alias(f) for f in _FIELDS],
        F.col("created_ts"),
        F.col("created_seq"),
    )


def materialize_orders(partial: DataFrame) -> DataFrame:
    """Partial state → the user-facing `orders` table (ORDERS_SCHEMA-shaped):
    unwrap the (seq, v) pairs and keep only created orders (events for
    unknown ids are dropped, matching the reference's undefined-lookup
    behavior, reference src/models/order-book.ts:211-213)."""
    created, cols = _materialize_columns()
    return partial.where(created).select(*cols)


def fold_order_events(events: DataFrame) -> DataFrame:
    """Fold an order_events log (ORDER_EVENTS_SCHEMA-shaped) into the current
    `orders` state table: the fold of one batch holding the whole log.

    Pure batch recompute: deterministic given the log, independent of
    micro-batch boundaries (the streaming layer maintains the same result
    incrementally — see hive_server_spark.streaming).
    """
    return materialize_orders(partial_fold(events))


# ---------------------------------------------------------------------------
# DuckDB-oracle SQL fragments (compose after sources.synthetic.ORDER_EVENTS_CTE)
# ---------------------------------------------------------------------------

ORDER_UPDATES_CTE = """
order_updates AS (
  SELECT
    pool_address, order_id, seq,
    CASE WHEN event_type = 'OrderCreated' THEN trader END       AS u_trader,
    CASE WHEN event_type = 'OrderCreated' THEN price END        AS u_price,
    CASE WHEN event_type = 'OrderCreated' THEN amount
         WHEN event_type = 'OrderUpdated' THEN new_amount END   AS u_amount,
    CASE WHEN event_type = 'OrderCreated' THEN CAST(0 AS DECIMAL(18,3))
         WHEN event_type = 'OrderFilled'  THEN filled END       AS u_filled,
    CASE WHEN event_type = 'OrderCreated' THEN amount
         WHEN event_type = 'OrderFilled'  THEN remaining END    AS u_remaining,
    CASE WHEN event_type = 'OrderCreated' THEN order_type END   AS u_order_type,
    CASE WHEN event_type = 'OrderCreated' THEN TRUE
         WHEN event_type = 'OrderFilled'  THEN remaining > 0
         WHEN event_type = 'OrderCancelled' THEN FALSE END      AS u_active,
    CASE WHEN event_type = 'OrderCreated' THEN event_time END   AS u_created_ts,
    CASE WHEN event_type = 'OrderCreated' THEN 1 ELSE 0 END     AS is_created
  FROM order_events
  WHERE order_id IS NOT NULL
)
"""

ORDERS_STATE_CTE = """
orders_state AS (
  SELECT
    pool_address, order_id,
    max_by(u_trader,     CASE WHEN u_trader     IS NOT NULL THEN seq END) AS trader,
    max_by(u_price,      CASE WHEN u_price      IS NOT NULL THEN seq END) AS price,
    max_by(u_amount,     CASE WHEN u_amount     IS NOT NULL THEN seq END) AS amount,
    max_by(u_filled,     CASE WHEN u_filled     IS NOT NULL THEN seq END) AS filled,
    max_by(u_remaining,  CASE WHEN u_remaining  IS NOT NULL THEN seq END) AS remaining_amount,
    max_by(u_order_type, CASE WHEN u_order_type IS NOT NULL THEN seq END) AS order_type,
    max_by(u_active,     CASE WHEN u_active     IS NOT NULL THEN seq END) AS active,
    min(u_created_ts) AS created_ts,
    max(CASE WHEN is_created = 1 THEN seq END) AS created_seq
  FROM order_updates
  GROUP BY pool_address, order_id
  HAVING max(is_created) = 1
)
"""
