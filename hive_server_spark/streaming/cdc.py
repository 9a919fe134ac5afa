"""CDC push of per-pool book snapshots (SURVEY S9/ST5).

The reference re-emits the whole order book of every pool touched by a
micro-batch over Socket.io (reference src/services/hive-listener.ts:212-221,
src/api/server.ts:43-51). Spark-first equivalent: inside the same
foreachBatch that maintains the orders state, recompute the book for
exactly the pools touched in this batch and append the snapshots (with the
batch id as the CDC version) to an output table — any push transport can
tail that table; the engine's job ends at the versioned snapshot stream.

Scale posture: a batch is O(state), not O(touched pools). Its merge scans
the full orders state and rewrites it whole (see `ParquetStateStore`), and
the book recompute scans the new version once more. Only what follows the
broadcast semi-join on the touched pools — the level aggregate, the top-k
rank and the snapshot write — is O(orders of touched pools).

Driver posture: every Column a batch uses is built once per process
(`operators/fold.py`, `operators/orderbook.py`, `merge_partials`), and the
state store reads each version with the schema it inferred on its first
read, so a batch only binds its input DataFrames."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_server_spark.operators.fold import materialize_orders, partial_fold
from hive_server_spark.operators.orderbook import price_levels, top_levels
from hive_server_spark.streaming.incremental import (
    ParquetStateStore,
    merge_partials,
    run_stream,
)


def book_snapshots(orders: DataFrame, pools: DataFrame, depth: int = 20) -> DataFrame:
    """Depth-k book rows for the given pools (one row per level, tagged for
    downstream assembly)."""
    touched = orders.join(F.broadcast(pools), "pool_address", "left_semi")
    return top_levels(price_levels(touched), depth=depth).select(
        "pool_address",
        "order_type",
        "price",
        "total_volume",
        "order_count",
        "level_rank",
    )


def run_incremental_fold_with_cdc(
    spark: SparkSession,
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    cdc_dir: str,
    depth: int = 20,
) -> tuple[ParquetStateStore, str]:
    """Incremental fold + CDC: each micro-batch merges the orders state and
    appends depth-k snapshots for the touched pools, versioned by batch id.
    Returns (state store, cdc output path)."""
    store = ParquetStateStore(state_dir, checkpoint_dir)
    os.makedirs(cdc_dir, exist_ok=True)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the snapshot write below still runs on a replayed batch: the
        # crash may have happened before it landed
        store.apply(batch_id, partial_fold(batch_df), merge_partials)
        touched = batch_df.select("pool_address").distinct()
        snaps = book_snapshots(
            materialize_orders(store.latest(batch_df.sparkSession)), touched, depth
        )
        # exactly-once under foreachBatch retries: a plain append would
        # duplicate this batch's snapshots if the job dies between the write
        # and the checkpoint commit. Overwriting a hive-partition subdirectory
        # (cdc_version=<batch_id>) is idempotent — a retry clobbers the
        # partial output — and scanning cdc_dir still yields one table with
        # cdc_version as a (prunable) partition column.
        snaps.write.mode("overwrite").parquet(
            os.path.join(cdc_dir, f"cdc_version={batch_id}")
        )

    run_stream(events_stream, checkpoint_dir, on_batch)
    return store, cdc_dir
