"""Oracle-backed gate queries for the serving and CDC edges (SURVEY S9/S10).

This pack gives the JSON serving shapes (operators/serving.py, reference
src/api/routes.ts:11-17) and the CDC snapshot push (streaming/cdc.py,
reference src/services/hive-listener.ts:212-221) a rows+schema+value-hash
oracle each:

* serving JSON — each gate query calls the all-pools render of its route in
  operators/serving.py, the same render the API server serves (`to_json`,
  JVM-side, per row); the DuckDB oracle builds the byte-identical JSON
  string by explicit concatenation. Any drift in field order, decimal
  rendering, boolean casing, or null-key omission breaks the hash.
* CDC — the streaming fold runs over the same deterministic 3-slice landing
  as `orders_state_time_travel`, so each micro-batch has an exact seq-range
  definition; the oracle recomputes every version's depth-k book for the
  pools touched in that batch, entirely in SQL. This checks the versioned
  *evolution* of the pushed snapshots, not just the final state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_server_spark.operators import serving
from hive_server_spark.operators.fold import ORDER_UPDATES_CTE, ORDERS_STATE_CTE
from hive_server_spark.registry import register
from hive_server_spark.sources.synthetic import ORDER_EVENTS_CTE, order_events


def _orders_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    # late import: gate.py imports this pack at the end of its module body,
    # so a module-level `from hive_server_spark.gate import ...` would be
    # circular; by the time queries run, gate is fully initialized and we
    # reuse its per-session persisted state fold.
    from hive_server_spark.gate import _orders_state as state

    return state(spark, sf_dir)


# ---------------------------------------------------------------------------
# S10 — GET /api/pools/:address (PoolInfo JSON), all pools
# (reference src/api/controllers/pool-controller.ts, src/models/types.ts:35-40)
# ---------------------------------------------------------------------------
_POOL_INFO_JSON_ORACLE = (
    f"WITH {ORDER_EVENTS_CTE}, {serving.POOLS_CTE}"
    + """
SELECT p.pool_address,
       '{"address":"' || p.pool_address ||
       '","baseToken":{"symbol":"' || p.base_symbol ||
       '","decimals":' || CAST(p.base_decimals AS VARCHAR) ||
       '},"quoteToken":{"symbol":"USDQ","decimals":6}' ||
       CASE WHEN lp.latest_price IS NULL THEN '}'
            ELSE ',"latestPrice":"' || CAST(lp.latest_price AS VARCHAR) || '"}'
       END AS json
FROM pools p LEFT JOIN lp ON p.pool_address = lp.pool_address
"""
)


@register("serving_pool_info_json", _POOL_INFO_JSON_ORACLE)
def q_serving_pool_info_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PoolInfo JSON for every pool — the GET /api/pools/:address render
    (`serving.pool_info_rows`) over the pools dim. Spark's to_json omits
    null keys, which the oracle mirrors with a CASE; the whole string is
    hash-compared, so decimal rendering ("112.000"), field order, and
    null-key omission are all pinned."""
    return serving.pool_info_rows(serving.pools_dim(order_events(spark, sf_dir)))


# ---------------------------------------------------------------------------
# S10 — GET /api/pools/:address/T1/orders (per-order JSON rows), all pools
# (reference src/api/controllers/order-controller.ts; Q7 tombstones included)
# ---------------------------------------------------------------------------
_USER_ORDERS_JSON_ORACLE = (
    f"WITH {ORDER_EVENTS_CTE}, {ORDER_UPDATES_CTE}, {ORDERS_STATE_CTE}"
    + """
SELECT pool_address, order_id,
       '{"pool":"' || pool_address ||
       '","id":' || CAST(order_id AS VARCHAR) ||
       ',"price":"' || CAST(price AS VARCHAR) ||
       '","amount":"' || CAST(amount AS VARCHAR) ||
       '","type":"' || order_type ||
       '","active":' || CASE WHEN active THEN 'true' ELSE 'false' END || '}'
         AS json
FROM orders_state WHERE trader = 'T1'
"""
)


@register("serving_user_orders_json", _USER_ORDERS_JSON_ORACLE)
def q_serving_user_orders_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trader T1's orders in every pool as serving JSON rows (active AND
    tombstoned — Q7): the GET /api/pools/:address/:trader/orders render
    (`serving.user_orders_json`) over the folded state; decimals render to
    full scale identically in both engines."""
    return serving.user_orders_json(_orders_state(spark, sf_dir), "T1")


# ---------------------------------------------------------------------------
# S9/ST5 — CDC re-emit: versioned depth-k book snapshots per touched pool
# ---------------------------------------------------------------------------
def _versioned_fold_ctes() -> str:
    """The CTE prefix both versioned oracles share: order_events replicated
    per CDC version (cumulative seq cutoffs at ⌊max/3⌋ / 2·⌊max/3⌋ / all —
    the same slice definition as the time-travel landing), then folded per
    (cdc_version, pool, order) into `orders_state`.

    The updates/state CTEs are the canonical fold fragments from
    operators/fold.py with the version key string-spliced into the
    SELECT/GROUP BY — single-sourced fold logic, asserted below."""
    v_updates = ORDER_UPDATES_CTE.replace(
        "SELECT\n    pool_address, order_id, seq,",
        "SELECT\n    cdc_version, pool_address, order_id, seq,",
    ).replace("FROM order_events", "FROM ve")
    v_state = ORDERS_STATE_CTE.replace(
        "SELECT\n    pool_address, order_id,",
        "SELECT\n    cdc_version, pool_address, order_id,",
    ).replace(
        "GROUP BY pool_address, order_id",
        "GROUP BY cdc_version, pool_address, order_id",
    )
    assert "cdc_version" in v_updates and "FROM ve" in v_updates, (
        "fold CTE splice failed for updates: operators/fold.py text changed; "
        "update the replace() targets in plans/serving_pack._versioned_fold_ctes"
    )
    assert v_state.count("cdc_version") == 2, (
        "fold CTE splice failed for state: operators/fold.py text changed; "
        "update the replace() targets in plans/serving_pack._versioned_fold_ctes"
    )
    return (
        f"WITH {ORDER_EVENTS_CTE},\n"
        + """
cut AS (
  SELECT (SELECT max(event_id) FROM events)//3     AS c1,
         2*((SELECT max(event_id) FROM events)//3) AS c2
),
vers AS (SELECT 0 AS cdc_version UNION ALL SELECT 1 UNION ALL SELECT 2),
ve AS (
  SELECT v.cdc_version, e.*
  FROM order_events e JOIN vers v
    ON e.seq <= CASE v.cdc_version
                  WHEN 0 THEN (SELECT c1 FROM cut)
                  WHEN 1 THEN (SELECT c2 FROM cut)
                  ELSE e.seq END
),
"""
        + v_updates
        + ",\n"
        + v_state
    )


def _cdc_oracle() -> str:
    """Version-aware fold oracle: the versioned fold, then the ranked book
    levels of each version's *touched* pools."""
    return (
        _versioned_fold_ctes()
        + """
, touched AS (
  SELECT DISTINCT
         CASE WHEN seq <= (SELECT c1 FROM cut) THEN 0
              WHEN seq <= (SELECT c2 FROM cut) THEN 1
              ELSE 2 END AS cdc_version,
         pool_address
  FROM order_events
), levels AS (
  SELECT s.cdc_version, s.pool_address, s.order_type, s.price,
         SUM(s.amount - s.filled) AS total_volume,
         COUNT(*) AS order_count
  FROM orders_state s
  JOIN touched t
    ON s.cdc_version = t.cdc_version AND s.pool_address = t.pool_address
  WHERE s.active AND s.price IS NOT NULL
  GROUP BY s.cdc_version, s.pool_address, s.order_type, s.price
), ranked AS (
  SELECT *,
    CASE WHEN order_type = 'BUY'
         THEN row_number() OVER (PARTITION BY cdc_version, pool_address, order_type ORDER BY price DESC)
         ELSE row_number() OVER (PARTITION BY cdc_version, pool_address, order_type ORDER BY price ASC)
    END AS level_rank
  FROM levels
)
SELECT CAST(cdc_version AS BIGINT) AS cdc_version,
       pool_address, order_type,
       CAST(price AS DOUBLE)        AS price,
       CAST(total_volume AS DOUBLE) AS total_volume,
       CAST(order_count AS BIGINT)  AS order_count,
       CAST(level_rank AS BIGINT)   AS level_rank
FROM ranked WHERE level_rank <= 20
"""
    )


@register("cdc_book_snapshots", _cdc_oracle())
def q_cdc_book_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the incremental fold WITH CDC over the deterministic 3-slice
    landing (one micro-batch per seq slice, shared with
    orders_state_time_travel) and return every pushed snapshot row across
    all three CDC versions. The oracle recomputes each version's book from
    the events visible at that version's cutoff — so batch sequencing,
    touched-pool selection, idempotent partition overwrite, and the book
    recompute are all value-checked. The fold is the session-shared run
    (streaming_pack.fold_seq_slices): one 3-micro-batch fold+CDC serves this
    query, orders_state_changelog, and orders_state_time_travel."""
    from hive_server_spark.plans.streaming_pack import fold_seq_slices

    _store, cdc_dir = fold_seq_slices(spark, sf_dir)
    snaps = spark.read.parquet(cdc_dir)
    return snaps.select(
        F.col("cdc_version").cast("bigint").alias("cdc_version"),
        "pool_address",
        "order_type",
        F.col("price").cast("double").alias("price"),
        F.col("total_volume").cast("double").alias("total_volume"),
        F.col("order_count").cast("bigint").alias("order_count"),
        F.col("level_rank").cast("bigint").alias("level_rank"),
    )


# ---------------------------------------------------------------------------
# ST5/S6 — changelog (CDF) read of the versioned state store: which order
# rows changed at each committed version, and how. Deltas are computed
# between consecutive store snapshots with a null-safe full-row compare —
# the "change data feed" a downstream consumer would read instead of
# re-diffing snapshots itself. Tombstoning means deletes never occur
# (SURVEY Q7): every change is an insert or an update.
# ---------------------------------------------------------------------------
def _changelog_oracle() -> str:
    """The versioned fold self-joined at consecutive versions; a row appears
    iff it has no predecessor (insert) or any field differs null-safely
    (update)."""
    same = " AND ".join(
        f"v.{c} IS NOT DISTINCT FROM p.{c}"
        for c in (
            "trader", "price", "amount", "filled", "remaining_amount",
            "order_type", "active", "created_seq",
        )
    )
    return (
        _versioned_fold_ctes()
        + f"""
SELECT v.cdc_version AS version, v.pool_address, v.order_id,
       CASE WHEN p.order_id IS NULL THEN 'insert' ELSE 'update' END AS change_type,
       v.active,
       CAST(v.remaining_amount AS DOUBLE) AS remaining_amount
FROM orders_state v
LEFT JOIN orders_state p
  ON p.cdc_version = v.cdc_version - 1
 AND p.pool_address = v.pool_address AND p.order_id = v.order_id
WHERE p.order_id IS NULL OR NOT ({same})
"""
    )


@register("orders_state_changelog", _changelog_oracle())
def q_orders_state_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-version change feed of the streaming state store: run the
    incremental fold over the 3-slice landing, then for each committed
    version diff its snapshot against the previous one (null-safe struct
    compare). Checks that every commit's delta — not just the final state —
    matches the batch-fold semantics at that version's seq cutoff. Reads
    the session-shared fold (streaming_pack.fold_seq_slices) instead of
    re-running its own."""
    from hive_server_spark.plans.streaming_pack import fold_seq_slices
    from hive_server_spark.operators.fold import materialize_orders

    store, _cdc_dir = fold_seq_slices(spark, sf_dir)

    fields = [
        "trader", "price", "amount", "filled", "remaining_amount",
        "order_type", "active", "created_seq",
    ]
    deltas = []
    prev = None
    for version in (0, 1, 2):
        cur = materialize_orders(store.at_version(spark, version))
        if prev is None:
            d = cur.withColumn("change_type", F.lit("insert"))
        else:
            p = prev.select(
                "pool_address",
                "order_id",
                F.struct(*fields).alias("_prev"),
            )
            d = (
                cur.join(p, ["pool_address", "order_id"], "left")
                .withColumn(
                    "change_type",
                    F.when(F.col("_prev").isNull(), "insert").otherwise("update"),
                )
                .where(
                    F.col("_prev").isNull()
                    | ~F.struct(*fields).eqNullSafe(F.col("_prev"))
                )
            )
        deltas.append(
            d.select(
                F.lit(version).cast("int").alias("version"),
                "pool_address",
                "order_id",
                "change_type",
                "active",
                F.col("remaining_amount").cast("double").alias("remaining_amount"),
            )
        )
        prev = cur
    out = deltas[0]
    for d in deltas[1:]:
        out = out.unionByName(d)
    return out


# ---------------------------------------------------------------------------
# S10 — GET /api/pools/:address/orderbook (depth-20 book JSON), all pools
# (reference src/api/controllers/order-book-controller.ts,
# src/models/order-book.ts:202-349): one JSON document per pool with bids[]
# (price desc) and asks[] (price asc), each level carrying the decimal
# price/volume strings and the FIFO order-id list — so the hash pins field
# order, decimal rendering, array ordering, price-time priority, AND
# empty-side rendering ("bids":[]) in one string. The oracle builds the
# byte-identical string by explicit concatenation over the canonical fold
# CTEs. The shape's divergence from the reference's PriceLevel is
# documented on `serving.order_book_rows`.
# ---------------------------------------------------------------------------
_ORDER_BOOK_JSON_ORACLE = (
    f"WITH {ORDER_EVENTS_CTE}, {ORDER_UPDATES_CTE}, {ORDERS_STATE_CTE}"
    + """
, levels AS (
  SELECT pool_address, order_type, price,
         SUM(amount - filled) AS total_volume,
         '[' || string_agg(CAST(order_id AS VARCHAR), ',' ORDER BY created_seq)
             || ']' AS orders_json
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
), lv AS (
  SELECT pool_address, order_type, level_rank,
         '{"price":"' || CAST(price AS VARCHAR) ||
         '","totalVolume":"' || CAST(total_volume AS VARCHAR) ||
         '","orders":' || orders_json || '}' AS lj
  FROM ranked WHERE level_rank <= 20
), sides AS (
  SELECT pool_address,
         COALESCE(string_agg(lj, ',' ORDER BY level_rank)
                  FILTER (WHERE order_type = 'BUY'), '')  AS bids,
         COALESCE(string_agg(lj, ',' ORDER BY level_rank)
                  FILTER (WHERE order_type = 'SELL'), '') AS asks
  FROM lv GROUP BY pool_address
)
SELECT pool_address,
       '{"pool":"' || pool_address || '","bids":[' || bids ||
       '],"asks":[' || asks || ']}' AS json
FROM sides
"""
)


@register("serving_order_book_json", _ORDER_BOOK_JSON_ORACLE)
def q_serving_order_book_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-20 order-book JSON for every pool — the GET
    /api/pools/:address/orderbook render (`serving.order_book_rows`) over
    the folded state."""
    return serving.order_book_rows(_orders_state(spark, sf_dir), depth=20)
