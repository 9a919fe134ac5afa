"""Gate query for the streaming layer: the incremental fold, driven to
completion with an availableNow trigger, must equal the batch fold — so it
shares the batch `orders_state` DuckDB oracle verbatim. This is the
strongest available check for a streaming operator: full value parity
against a SQL oracle, not a rows-only smoke."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_server_spark.catalog import load_table
from hive_server_spark.operators.fold import (
    ORDER_UPDATES_CTE,
    ORDERS_STATE_CTE,
    materialize_orders,
    partial_fold,
)
from hive_server_spark.registry import register
from hive_server_spark.session import session_scratch
from hive_server_spark.sources.synthetic import (
    ORDER_EVENTS_CTE,
    ORDER_EVENTS_SQL,
    order_events,
)
from hive_server_spark.streaming.cdc import run_incremental_fold_with_cdc
from hive_server_spark.streaming.incremental import (
    ParquetStateStore,
    _await_bounded,
    commit_seed_state,
    file_stream,
    run_stream,
)
from hive_server_spark.streaming.windows import hourly_rollup_stream, session_stream

_ORACLE = (
    f"WITH {ORDER_EVENTS_CTE}, {ORDER_UPDATES_CTE}, {ORDERS_STATE_CTE}"
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
"""
)


def _land_order_events(spark: SparkSession, sf_dir: str, chunks: int) -> str:
    """Land order_events as `chunks` parquet files once per (session, sf_dir,
    chunks) — the landing is deterministic input, so every streaming gate
    query over it (incremental fold, stateful fold) shares one write; only
    checkpoints/state are per-run."""

    def land() -> str:
        ev_dir = os.path.join(tempfile.mkdtemp(dir=session_scratch("oe_land")), "events")
        order_events(spark, sf_dir).repartition(chunks).write.parquet(ev_dir)
        return ev_dir

    return shared(
        spark, ("land:order_events", sf_dir, chunks), land, release=_rm_landing
    )


def streamed_orders_partial(spark: SparkSession, src_dir: str, work: str) -> DataFrame:
    """Stream the order_events parquet files landed in `src_dir` (one
    micro-batch per file) through `partial_fold` as a native complete-mode
    aggregation checkpointed under `work`; returns the partial state as of
    this run (materialize with `materialize_orders`). A rerun on the same
    `work` folds only files landed since the last run into the
    checkpointed state."""
    return _run_sink_stream(
        spark, partial_fold(file_stream(spark, src_dir)), work, "complete"
    )


def streamed_orders_state(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> DataFrame:
    """Derive order_events, land them as `chunks` parquet files, stream
    them through the partial fold (one micro-batch per file) and return
    the materialized orders state. chunks=2 keeps the gate query
    genuinely multi-batch while halving its fixed cost; chunk-count
    invariance itself is pinned by tests/test_streaming.py at 1 and 3
    chunks."""
    return materialize_orders(
        streamed_orders_partial(
            spark,
            _land_order_events(spark, sf_dir, chunks),
            tempfile.mkdtemp(dir=session_scratch("stream")),
        )
    )


# ---------------------------------------------------------------------------
# Watermarked tumbling-window aggregation, driven as a real append-mode
# stream (SURVEY ST2). The oracle encodes the watermark contract itself:
# a window is emitted iff its end <= final watermark (= max event time −
# delay), so the HAVING clause below IS the late-data policy, cross-checked.
# ---------------------------------------------------------------------------
# The state-store partition count is fixed from this conf when a stream
# starts; at gate scale large counts are pure overhead. Results are
# partition-count invariant (pinned by tests/test_streaming.py chunk
# invariance) — a latency knob only.
from hive_server_spark.session import scoped_shuffle_partitions as _scoped_shuffle_partitions


_HOURLY_STREAM_ORACLE = """
SELECT date_trunc('hour', ts) AS bucket, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
HAVING epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR)
       <= (SELECT epoch_us(max(ts)) - 1000000 FROM events)
"""


# landed input files, shared across the streaming gate queries — each run
# still gets its own checkpoint/sink dirs, but the (identical) landing
# write happens once per (session, sf_dir); evicted landings have their
# temp dirs deleted so long-lived processes don't leak disk
from hive_server_spark.session_cache import shared


def _rm_landing(d: str) -> None:
    shutil.rmtree(os.path.dirname(d), ignore_errors=True)


def _stamp_ascending_mtimes(paths: list[str]) -> None:
    """Ascending mtimes over `paths`, the ONE ordering contract every
    landing shares: the file stream source replays files in
    modification-time order, and files written by one job share an mtime,
    making delivery order arbitrary without the stamp (ts-ordered event
    streams, the seq-slice version numbering, doc_id-ordered ingest)."""
    base = time.time() - 1_000
    for i, p in enumerate(paths):
        os.utime(p, (base + 10 * i, base + 10 * i))


def _land_events_ts_ordered(spark: SparkSession, sf_dir: str, chunks: int) -> str:
    def land() -> str:
        ev_dir = os.path.join(tempfile.mkdtemp(dir=session_scratch("land")), "events")
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        ev.repartitionByRange(chunks, "ts").write.parquet(ev_dir)
        _stamp_ascending_mtimes(sorted(glob.glob(os.path.join(ev_dir, "part-*.parquet"))))
        return ev_dir

    return shared(
        spark, ("land:events_ts", sf_dir, chunks), land, release=_rm_landing
    )


def _events_stream_in_ts_order(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> tuple[DataFrame, str]:
    """Stream over events landed range-partitioned by ts into `chunks`
    files with ascending mtimes, so the file source replays them in
    event-time order (range k+1 never regresses behind the watermark raised
    by range k — zero late drops by construction). Returns (stream, a fresh
    per-run workdir for checkpoints).

    Zero-late ordering is load-bearing for oracle soundness: Spark's
    watermark guarantee is one-directional — data within the delay is
    guaranteed to aggregate, but *too-late* data "may or may not" be dropped
    (empirically on 4.1.2, a below-watermark row whose window has no live
    state still creates state and emits — verified with a newest-half-first
    landing). A drop-policy oracle is therefore unspecifiable; only in-order
    landings give the streaming gates a deterministic answer."""
    stream = file_stream(spark, _land_events_ts_ordered(spark, sf_dir, chunks))
    return stream, tempfile.mkdtemp(dir=session_scratch("stream"))


def _start_sink_stream(spark: SparkSession, out: DataFrame, work: str, mode: str):
    """Start (without awaiting) `out` into a memory sink in output `mode`
    with its checkpoint under `work`; returns (StreamingQuery, sink name).
    Callers await and then read the sink with `_read_sink`.

    - ``"append"`` serves the watermarked streams: the final no-data
      micro-batch advances the watermark past every closed window and
      flushes the remaining state.
    - ``"complete"`` serves the keyed aggregates: Spark's state store
      merges each batch into the running aggregate and checkpoints it, and
      every batch replaces the sink with the whole result. The sink holds
      only what this run emitted, so a run on an already-drained
      checkpoint returns 0 rows: callers pass a fresh checkpoint, or land
      new files before resuming one.
    - ``"update"`` serves the custom stateful operator
      (`stateful_orders_state`): each batch emits a row per touched key,
      and the caller keeps the newest row per key."""
    sink = f"stream_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode(mode)
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    return q, sink


def _run_sink_stream(
    spark: SparkSession, out: DataFrame, work: str, mode: str
) -> DataFrame:
    """Drive a streaming DataFrame to completion (availableNow) into a
    memory sink in output `mode` (see `_start_sink_stream`)."""
    with _scoped_shuffle_partitions(spark):
        q, sink = _start_sink_stream(spark, out, work, mode)
        # bounded await (not bare awaitTermination): memory-sink streams
        # don't cross the py4j callback channel, but the stall window still
        # turns any silent wedge into a loud StreamStalled instead of an
        # unbounded block (no retry wrapper here — these availableNow
        # drivers are deterministic re-runs, so failing fast is correct)
        _await_bounded(q)
    return _read_sink(spark, sink)


def _read_sink(spark: SparkSession, sink: str) -> DataFrame:
    """The memory sink `sink` as a DataFrame, with its session temp view
    dropped: the DataFrame holds the sink itself, so the view name is only
    a leak once bound."""
    df = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return df


def _out_hourly_rollup(
    spark: SparkSession, sf_dir: str, chunks: int = 2, watermark: str = "1 second"
) -> tuple[DataFrame, str, str]:
    stream, work = _events_stream_in_ts_order(spark, sf_dir, chunks)
    return hourly_rollup_stream(stream, watermark=watermark), work, "append"


def streamed_hourly_rollup(
    spark: SparkSession, sf_dir: str, chunks: int = 2, watermark: str = "1 second"
) -> DataFrame:
    """The watermarked hourly rollup as an actual append-mode stream."""
    return _run_sink_stream(
        spark, *_out_hourly_rollup(spark, sf_dir, chunks, watermark)
    )


@register("evt_hourly_rollup_streaming", _HOURLY_STREAM_ORACLE)
def q_evt_hourly_rollup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _evt_streaming_results(spark, sf_dir)["evt_hourly_rollup_streaming"]


# ---------------------------------------------------------------------------
# Native session windows (session_window(ts, gap)) as an append-mode stream.
# The oracle is the BATCH island-numbering sessionization (lag → flag →
# prefix sum — an entirely different algorithm) plus the watermark contract:
# a session is emitted iff its end (= last event + gap) <= final watermark.
# Session merging across micro-batch boundaries is exercised for real: a
# session spanning two chunks exists as partial state until the gap closes.
# Boundary semantics: session_window treats [start, last+gap) as half-open —
# an event at exactly gap distance starts a NEW session — so the oracle
# flags a new island on gap_us >= gap, not >.
# ---------------------------------------------------------------------------
_SESSIONS_STREAM_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, ts, value,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
), flagged AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM seq
), numbered AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id,
       MIN(ts)                       AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE  AS session_end,
       CAST(COUNT(*) AS BIGINT)      AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM numbered
GROUP BY user_id, session_no
HAVING epoch_us(MAX(ts)) + 1800000000
       <= (SELECT epoch_us(max(ts)) - 1000000 FROM events)
"""


def _out_sessions(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> tuple[DataFrame, str, str]:
    stream, work = _events_stream_in_ts_order(spark, sf_dir, chunks)
    out = session_stream(stream, gap="30 minutes", watermark="1 second")
    return out, work, "append"


def streamed_sessions(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> DataFrame:
    return _run_sink_stream(spark, *_out_sessions(spark, sf_dir, chunks))


@register("evt_sessions_streaming", _SESSIONS_STREAM_ORACLE)
def q_evt_sessions_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _evt_streaming_results(spark, sf_dir)["evt_sessions_streaming"]


# ---------------------------------------------------------------------------
# Watermarked stream-stream band join (SURVEY ST2/ST3 composition): two
# event streams co-join on user within ±10 minutes of event time. Both
# sides carry watermarks and the time-range predicate bounds join state —
# rows age out of state once the partner watermark passes ts + band, which
# is the ONLY way an unbounded stream-stream join survives at scale. The
# ts-ordered replay keeps both sides time-aligned, so no match is lost to
# eviction, and the emitted set equals the batch band join exactly.
# ---------------------------------------------------------------------------
_SSJOIN_ORACLE = """
SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
 AND b.ts BETWEEN a.ts - INTERVAL 10 MINUTE AND a.ts + INTERVAL 10 MINUTE
"""


def _out_band_join(
    spark: SparkSession, sf_dir: str, chunks: int = 2, band: str = "10 MINUTES"
) -> tuple[DataFrame, str, str]:
    stream_a, work = _events_stream_in_ts_order(spark, sf_dir, chunks)
    # second reader over the same landed files: both sides replay the same
    # micro-batch sequence, so their watermarks advance in lockstep
    stream_b = file_stream(spark, _land_events_ts_ordered(spark, sf_dir, chunks))
    a = (
        stream_a.where(F.col("event_id") % 2 == 0)
        .select(
            F.col("event_id").alias("a_id"),
            "user_id",
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", "1 second")
    )
    b = (
        stream_b.where(F.col("event_id") % 2 == 1)
        .select(
            F.col("event_id").alias("b_id"),
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", "1 second")
    )
    j = a.join(
        b,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts") - F.expr(f"INTERVAL {band}"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {band}")),
        "inner",
    ).select(
        "user_id",
        "a_id",
        "b_id",
        (F.unix_micros("b_ts") - F.unix_micros("a_ts")).alias("gap_us"),
    )
    return j, work, "append"


@register("evt_stream_stream_join", _SSJOIN_ORACLE)
def q_evt_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _evt_streaming_results(spark, sf_dir)["evt_stream_stream_join"]


# ---------------------------------------------------------------------------
# Chained stateful streaming: at-ingest dedup → windowed rollup in ONE
# stream (Spark's multi-stateful-operator support). The landed input
# contains every event 2-3×; dropDuplicatesWithinWatermark collapses the
# copies (state bounded by the watermark horizon, the property that makes
# ingest dedup viable on an unbounded stream), and the downstream tumbling
# aggregate sees each event once — so the oracle is the rollup over
# DISTINCT events plus the usual emission contract.
# ---------------------------------------------------------------------------
_DEDUP_ROLLUP_ORACLE = """
SELECT date_trunc('hour', ts) AS bucket, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE user_id % 2 = 0
GROUP BY 1, 2
HAVING epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR)
       <= (SELECT epoch_us(max(ts)) - 1000000
           FROM events WHERE user_id % 2 = 0)
"""


def _land_duplicated_events(spark: SparkSession, sf_dir: str, chunks: int) -> str:
    def land() -> str:
        ev_dir = os.path.join(tempfile.mkdtemp(dir=session_scratch("dedup_land")), "events")
        # half the user universe: the dedup semantics are unaffected and the
        # duplicated landing (2-3 copies per event) stays write-bound, not huge
        ev = (
            load_table(spark, sf_dir, "events")
            .where(F.col("user_id") % 2 == 0)
            .select("event_id", "ts", "user_id", "event_type", "value")
        )
        # land every event 2×, a third copy for every third event — duplicate
        # copies share a ts, so range partitioning keeps them in one micro-batch
        dup = ev.unionAll(ev).unionAll(ev.where(F.col("event_id") % 3 == 0))
        dup.repartitionByRange(chunks, "ts").write.parquet(ev_dir)
        _stamp_ascending_mtimes(sorted(glob.glob(os.path.join(ev_dir, "part-*.parquet"))))
        return ev_dir

    return shared(
        spark, ("land:events_dup", sf_dir, chunks), land, release=_rm_landing
    )


def _out_dedup_rollup(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> tuple[DataFrame, str, str]:
    work = tempfile.mkdtemp(dir=session_scratch("dedup"))
    stream = file_stream(spark, _land_duplicated_events(spark, sf_dir, chunks))
    out = (
        stream.withWatermark("ts", "1 second")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("bucket"), "event_type", "n_events", "total_value"
        )
    )
    return out, work, "append"


@register("evt_dedup_rollup_streaming", _DEDUP_ROLLUP_ORACLE)
def q_evt_dedup_rollup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _evt_streaming_results(spark, sf_dir)["evt_dedup_rollup_streaming"]


# ---------------------------------------------------------------------------
# Stream-static join: the streaming side enriches from a static dimension
# (re-resolved per micro-batch — the Spark pattern for slowly-changing
# dims), then aggregates per cohort. Oracle: the batch join + rollup.
# ---------------------------------------------------------------------------
_STREAM_STATIC_ORACLE = """
WITH dim AS (
  SELECT DISTINCT user_id, concat('U', CAST(user_id % 7 AS VARCHAR)) AS cohort
  FROM events
)
SELECT date_trunc('hour', e.ts) AS bucket, d.cohort,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN dim d USING (user_id)
GROUP BY 1, 2
HAVING epoch_us(date_trunc('hour', e.ts) + INTERVAL 1 HOUR)
       <= (SELECT epoch_us(max(ts)) - 1000000 FROM events)
"""


def _out_static_enrich_rollup(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> tuple[DataFrame, str, str]:
    stream, work = _events_stream_in_ts_order(spark, sf_dir, chunks)
    dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn(
            "cohort", F.concat(F.lit("U"), (F.col("user_id") % 7).cast("string"))
        )
    )
    out = (
        stream.withWatermark("ts", "1 second")
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("win"), "cohort")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("bucket"), "cohort", "n_events", "total_value")
    )
    return out, work, "append"


@register("evt_stream_static_enrich", _STREAM_STATIC_ORACLE)
def q_evt_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _evt_streaming_results(spark, sf_dir)["evt_stream_static_enrich"]


# ---------------------------------------------------------------------------
# Time travel on the versioned state store: the orders state AS OF
# micro-batch 1 of 3. The landing splits the log at deterministic seq
# cutoffs (⌊max/3⌋, 2·⌊max/3⌋), so "state at v1" has an exact batch
# definition — the fold over seq <= 2·⌊max/3⌋ — which is what the oracle
# computes. This gates both the snapshot-read mechanism (every commit's
# v{n} stays readable) and the incremental fold's mid-stream correctness,
# not just its final convergence.
# ---------------------------------------------------------------------------
_TIME_TRAVEL_ORACLE = (
    "WITH order_events AS (\n  SELECT * FROM (\n"
    + ORDER_EVENTS_SQL
    + "\n) _oe WHERE seq <= 2*((SELECT max(event_id) FROM events)//3)\n), "
    + ORDER_UPDATES_CTE
    + ", "
    + ORDERS_STATE_CTE
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
"""
)


def _land_seq_slices(spark: SparkSession, sf_dir: str) -> str:
    def land() -> str:
        # one derivation, one write: seq IS event_id (sources/synthetic.py),
        # so the cutoff probe is a max() over the raw events parquet
        # (footer-stats cheap) rather than a materialization of the full
        # order_events derivation; all three slices then land in a single
        # partitionBy job (repartition(3, slice) puts every row of a slice
        # in one task, so each slice=i directory holds exactly one part
        # file; partitionBy drops the helper column from the files). The
        # oracle side pins the same identity: its cutoffs are
        # (SELECT max(event_id) FROM events)//3.
        max_seq = (
            load_table(spark, sf_dir, "events")
            .agg(F.max("event_id"))
            .collect()[0][0]
        )
        c1, c2 = max_seq // 3, 2 * (max_seq // 3)
        land_root = tempfile.mkdtemp(dir=session_scratch("tt_land"))
        tmp = os.path.join(land_root, "sliced")
        (
            order_events(spark, sf_dir)
            .withColumn(
                "slice",
                F.when(F.col("seq") <= c1, 0)
                .when(F.col("seq") <= c2, 1)
                .otherwise(2),
            )
            .repartition(3, "slice")
            .write.partitionBy("slice")
            .parquet(tmp)
        )
        ev_dir = os.path.join(land_root, "events")
        os.makedirs(ev_dir)
        dsts = []
        for i in range(3):
            parts = glob.glob(os.path.join(tmp, f"slice={i}", "part-*.parquet"))
            # the three-file mtime layout (batch ids 0/1/2) is what the
            # time-travel oracle's version numbering is defined against — an
            # empty or multi-file slice would silently break it, so fail loud
            assert len(parts) == 1, (
                f"seq slice {i} of events({sf_dir}) wrote {len(parts)} part files "
                f"(expected exactly 1); the version-numbering contract of "
                f"orders_state_at_version requires one file per slice"
            )
            dst = os.path.join(ev_dir, f"{i:02d}.parquet")
            os.replace(parts[0], dst)
            dsts.append(dst)
        _stamp_ascending_mtimes(dsts)
        return ev_dir

    return shared(
        spark, ("land:order_events_slices", sf_dir), land, release=_rm_landing
    )


# one incremental fold over the 3-slice landing, shared by the whole
# CDC-family (orders_state_time_travel, cdc_book_snapshots,
# orders_state_changelog) — unshared, each of the three gate queries
# re-runs the same 3-micro-batch streaming fold (~9 s + 4 s + 4 s
# locally); shared, one fold-with-CDC run serves all three. Its
# versioned state is the partial_fold of each slice merged per batch, so
# at_version() readers are unaffected by sharing.
def fold_seq_slices(spark: SparkSession, sf_dir: str):
    """Run (once per session × sf_dir) the incremental fold + CDC over the
    deterministic 3-slice landing; returns (ParquetStateStore, cdc_dir)."""

    def build():
        work = tempfile.mkdtemp(dir=session_scratch("ttfold"))
        with _scoped_shuffle_partitions(spark):
            store, cdc_dir = run_incremental_fold_with_cdc(
                spark,
                file_stream(spark, _land_seq_slices(spark, sf_dir)),
                state_dir=os.path.join(work, "state"),
                checkpoint_dir=os.path.join(work, "ckpt"),
                cdc_dir=os.path.join(work, "cdc"),
                depth=20,
            )
        return store, cdc_dir

    return shared(
        spark,
        ("stream:seq_slice_fold", sf_dir),
        build,
        release=lambda sc: shutil.rmtree(os.path.dirname(sc[1]), ignore_errors=True),
    )


def orders_state_at_version(
    spark: SparkSession, sf_dir: str, version: int = 1
) -> DataFrame:
    store, _cdc_dir = fold_seq_slices(spark, sf_dir)
    return materialize_orders(store.at_version(spark, version))


# ---------------------------------------------------------------------------
# The CUSTOM stateful operator form (SURVEY ST3/§2.10): the same keyed fold
# as applyInPandasWithState — per-(pool, order) Python state over Arrow
# batches, vectorized masks inside the group (never per-row loops). Update
# output mode emits a row per touched key per batch; the final state is the
# max-version row per key. Money is double here (exact for integer-valued
# amounts), so it shares the batch fold's oracle minus created_date.
# ---------------------------------------------------------------------------
_STATEFUL_ORACLE = (
    f"WITH {ORDER_EVENTS_CTE}, {ORDER_UPDATES_CTE}, {ORDERS_STATE_CTE}"
    + """
SELECT pool_address, order_id, trader,
       CAST(price AS DOUBLE)            AS price,
       CAST(amount AS DOUBLE)           AS amount,
       CAST(filled AS DOUBLE)           AS filled,
       CAST(remaining_amount AS DOUBLE) AS remaining_amount,
       order_type, active, created_seq
FROM orders_state
"""
)


def stateful_orders_state(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> DataFrame:
    from pyspark.sql import Window

    from hive_server_spark.streaming.stateful import stateful_orders_stream

    work = tempfile.mkdtemp(dir=session_scratch("stateful"))
    stream = file_stream(spark, _land_order_events(spark, sf_dir, chunks))
    tbl = _run_sink_stream(spark, stateful_orders_stream(stream), work, "update")
    w = Window.partitionBy("pool_address", "order_id").orderBy(F.desc("version"))
    return (
        tbl.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "version")
    )


@register("orders_state_stateful", _STATEFUL_ORACLE)
def q_orders_state_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stateful_orders_state(spark, sf_dir).select(
        "pool_address", "order_id", "trader", "price", "amount", "filled",
        "remaining_amount", "order_type", "active", "created_seq",
    )


@register("orders_state_time_travel", _TIME_TRAVEL_ORACLE)
def q_orders_state_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = orders_state_at_version(spark, sf_dir, version=1)
    dbl = lambda c: F.col(c).cast("double").alias(c)  # noqa: E731
    return st.select(
        "pool_address",
        "order_id",
        "trader",
        dbl("price"),
        dbl("amount"),
        dbl("filled"),
        dbl("remaining_amount"),
        "order_type",
        "active",
        F.col("created_ts").cast("date").alias("created_date"),
        "created_seq",
    )


@register("orders_state_streaming", _ORACLE)
def q_orders_state_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = streamed_orders_state(spark, sf_dir)
    dbl = lambda c: F.col(c).cast("double").alias(c)  # noqa: E731
    return st.select(
        "pool_address",
        "order_id",
        "trader",
        dbl("price"),
        dbl("amount"),
        dbl("filled"),
        dbl("remaining_amount"),
        "order_type",
        "active",
        F.col("created_ts").cast("date").alias("created_date"),
        "created_seq",
    )


# ---------------------------------------------------------------------------
# Sliding (overlapping) windows as an append-mode stream: each event belongs
# to exactly size/slide = 4 windows. The oracle replicates Spark's epoch-
# aligned window assignment arithmetically — bucket_k = time_bucket(15min,
# ts) − k·15min for k in 0..3 — plus the same watermark finalization HAVING
# as the tumbling oracle, so assignment, overlap fan-out, and late-data
# policy are all value-checked.
# ---------------------------------------------------------------------------
_SLIDING_STREAM_ORACLE = """
WITH fanned AS (
  SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k.k * INTERVAL 15 MINUTE AS bucket,
         event_type, value
  FROM events, unnest(generate_series(0, 3)) AS k(k)
)
SELECT bucket, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM fanned
GROUP BY bucket, event_type
HAVING epoch_us(bucket + INTERVAL 1 HOUR)
       <= (SELECT epoch_us(max(ts)) - 1000000 FROM events)
"""


from hive_server_spark.streaming.windows import sliding_rollup_stream  # noqa: E402


def _out_sliding_rollup(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> tuple[DataFrame, str, str]:
    stream, work = _events_stream_in_ts_order(spark, sf_dir, chunks)
    return sliding_rollup_stream(stream, watermark="1 second"), work, "append"


@register("evt_sliding_rollup_streaming", _SLIDING_STREAM_ORACLE)
def q_evt_sliding_rollup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _evt_streaming_results(spark, sf_dir)["evt_sliding_rollup_streaming"]


# ---------------------------------------------------------------------------
# Streaming corpus ingest: the LLM-pipeline × streaming
# intersection — a continuously-crawled corpus arrives in batches, and the
# exact-dedup index (per content fingerprint: canonical doc, group size,
# token mass) is maintained INCREMENTALLY, not recomputed. The index is one
# fingerprint-keyed aggregate (min, count, sum) run as a native
# complete-mode streaming aggregation: Spark's state store merges each
# micro-batch into the running (min, sum, sum) monoid and checkpoints it,
# which makes the fold exactly-once across restarts, and micro-batch
# boundaries can never change the answer (same invariance argument as the
# orders fold). The oracle is the plain batch GROUP BY — the streaming
# machinery must land exactly where one batch pass would. State scales
# with DISTINCT corpus content (the dedup index a 100 TB crawl maintains
# anyway), shuffles are fingerprint-keyed with map-side combine.
# ---------------------------------------------------------------------------
_DOCS_INGEST_ORACLE = """
SELECT md5(text) AS fingerprint_md5,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT)    AS group_size,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM documents GROUP BY md5(text)
"""


def _land_documents(spark: SparkSession, sf_dir: str, chunks: int) -> str:
    """Documents range-partitioned by doc_id into `chunks` files with
    ascending mtimes (the _land_events_ts_ordered trick), so the file
    source replays them in doc_id order. The exact-dedup ingest index is
    a monoid and doesn't care; the near-dup index's per-batch flagging
    DOES (see docs_neardup_streaming block comment) — the file source
    orders by modification time, and same-write mtimes make the delivery
    order arbitrary."""

    def land() -> str:
        d = os.path.join(tempfile.mkdtemp(dir=session_scratch("docs_land")), "docs")
        load_table(spark, sf_dir, "documents").repartitionByRange(
            chunks, "doc_id"
        ).write.parquet(d)
        _stamp_ascending_mtimes(sorted(glob.glob(os.path.join(d, "part-*.parquet"))))
        return d

    return shared(
        spark, ("land:documents", sf_dir, chunks), land, release=_rm_landing
    )


def streamed_docs_index(spark: SparkSession, src_dir: str, work: str) -> DataFrame:
    """Stream the parquet files landed in `src_dir` (one micro-batch per
    file) through the exact-dedup index aggregate, checkpointed under
    `work`; returns the index as of this run. A rerun on the same `work`
    folds only files landed since the last run into the checkpointed
    state."""
    docs = file_stream(spark, src_dir)
    index = docs.groupBy(F.md5("text").alias("fingerprint_md5")).agg(
        F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
        F.count("*").cast("bigint").alias("group_size"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_tokens"),
    )
    return _run_sink_stream(spark, index, work, "complete")


@register("docs_ingest_streaming", _DOCS_INGEST_ORACLE)
def docs_ingest_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the corpus in doc_id-ordered chunks and maintain the
    exact-dedup index incrementally; return the final index, which must
    equal the batch GROUP BY."""
    return streamed_docs_index(
        spark,
        _land_documents(spark, sf_dir, chunks=2),
        tempfile.mkdtemp(dir=session_scratch("docs_stream")),
    )


# ---------------------------------------------------------------------------
# Streaming NEAR-dup index: the operator a
# continuous crawl pipeline runs next to the exact-dedup ingest index —
# maintain the MinHash LSH band buckets incrementally and flag each newly
# ingested document that lands in a band already occupied by an earlier
# document. Two state pieces, both in the versioned ParquetStateStore:
#
#   band state  — band_key → MIN(doc_id). A MIN semilattice (idempotent,
#     commutative, associative — like the HLL registers), so re-merging a
#     replayed batch could never change it; the flags table is
#     append-shaped, NOT idempotent, so its exactly-once rests on the
#     replay guard of ParquetStateStore.apply.
#   flags       — per flagged doc: how many of its bands were occupied
#     and the smallest earlier doc sharing a band (its canonical
#     near-dup partner). Appended per batch AFTER the batch's own bands
#     are merged in, so two near-dup docs arriving in ONE batch flag the
#     later one identically to their arriving in different batches —
#     micro-batch boundaries can never change the answer, PROVIDED
#     ingestion is doc_id-ordered (the landed chunks are
#     repartitionByRange(doc_id), the same ordered-arrival contract the
#     evt_* streams have on ts): a band's min can then never drop below
#     an already-flagged doc after its batch.
#
# Under that contract the final flags table equals the batch LSH rule
# "doc d is a near-dup iff some band of d has min(doc_id) < d over the
# WHOLE corpus" — which is the oracle below, sharing every signature
# fragment with dedup_minhash_sigs/candidates. Scale: band state is the
# O(distinct bands) dedup index a 100 TB crawl maintains anyway (RocksDB/
# Delta MERGE in production — ParquetStateStore docstring); the per-batch
# work is one band-keyed map-side-combined agg + one band-keyed join of
# the batch against the index; flags are O(near-dups). Nothing all-pairs.
# ---------------------------------------------------------------------------
from hive_server_spark.plans.text_pack import (  # noqa: E402
    _SHINGLES_CTE_D,
    _TOKS_CTE_D,
    _band_cols_d,
    _band_union_d,
    _mh_cols_d,
)
from hive_server_spark.functions import text as _T  # noqa: E402
from hive_server_spark.functions.clusters import (  # noqa: E402
    band_index,
    occupied_flags,
    split_refresh,
)

_DOCS_NEARDUP_ORACLE = f"""
WITH {_TOKS_CTE_D},
{_SHINGLES_CTE_D},
sigs AS (
  SELECT doc_id,
       {_mh_cols_d}
  FROM shingled
),
sigs_b AS (
  SELECT doc_id, {_band_cols_d}
  FROM sigs
),
bands AS ({_band_union_d}),
bmin AS (SELECT band_key, MIN(doc_id) AS min_id FROM bands GROUP BY band_key),
j AS (
  SELECT b.doc_id, m.min_id
  FROM bands b JOIN bmin m ON b.band_key = m.band_key
  WHERE m.min_id < b.doc_id
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_occupied_bands,
       CAST(MIN(min_id) AS BIGINT) AS partner_doc_id
FROM j GROUP BY doc_id
"""


def _neardup_batch(
    bands_store: ParquetStateStore,
    flags_store: ParquetStateStore,
    batch_id: int,
    bands: DataFrame,
    keys: list[str],
    id: str,
) -> None:
    """One micro-batch of a banded near-dup ingest (docs and media):
    MIN-merge the batch's band index into `bands_store`, then append to
    `flags_store` the batch's items flagged against the POST-merge index —
    an item is a near-dup iff some band's committed min is a smaller id
    (functions/clusters.py)."""
    bands_store.apply(
        batch_id,
        band_index(bands, keys, id),
        lambda cur, part: band_index(cur.unionByName(part), keys, id),
    )
    flagged = occupied_flags(bands, bands_store.latest(bands.sparkSession), keys, id)
    flags_store.apply(batch_id, flagged, DataFrame.unionByName)


def streamed_docs_neardup(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> DataFrame:
    """Run the incremental near-dup index over the corpus landed in
    `chunks` doc_id-ordered micro-batches; returns the final flags table
    (doc_id, n_occupied_bands, partner_doc_id). Chunk count must not
    change the answer (tests/test_streaming.py)."""
    work = tempfile.mkdtemp(dir=session_scratch("neardup_stream"))
    stream = file_stream(spark, _land_documents(spark, sf_dir, chunks))
    ckpt = os.path.join(work, "ckpt")
    bands_store = ParquetStateStore(os.path.join(work, "bands"), ckpt)
    flags_store = ParquetStateStore(os.path.join(work, "flags"), ckpt)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        _neardup_batch(
            bands_store, flags_store, batch_id,
            _T.doc_bands(batch_df), ["band_key"], "doc_id",
        )

    with _scoped_shuffle_partitions(spark):
        run_stream(stream, ckpt, on_batch)
    return flags_store.latest(spark)


@register("docs_neardup_streaming", _DOCS_NEARDUP_ORACLE)
def docs_neardup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the corpus in doc_id-ordered chunks and maintain the MinHash
    band near-dup index incrementally; return the flagged-docs table,
    which must equal the batch LSH occupied-band rule (see block
    comment)."""
    return streamed_docs_neardup(spark, sf_dir, chunks=2)


# ---------------------------------------------------------------------------
# Cross-snapshot incremental dedup: the BATCH
# twin of docs_neardup_streaming — the nightly-pipeline shape, where the
# band index is a first-class PERSISTED TABLE between corpus snapshots, not
# in-flight stream state. A new document batch is deduped against the index
# a prior snapshot wrote to parquet:
#
#   1. the prior snapshot's band_key → MIN(doc_id) index is written to and
#      read back from parquet (here built from the id-ordered first half of
#      the corpus; in production it's the index the previous run left);
#   2. the NEW batch's band partials merge in (MIN semilattice — the same
#      replay-absorbing algebra the streaming twin commits per micro-batch;
#      production would MERGE/upsert instead of rewriting);
#   3. the batch's bands join the post-merge index: a doc is flagged iff
#      some band's min is a smaller doc_id — catching dups against the
#      prior corpus AND within the batch itself with ONE rule.
#
# The split and the three steps are functions/clusters.py split_refresh,
# the same refresh the image, audio and video indexes run
# (plans/multimodal_pack.py).
#
# Because the snapshot split is doc_id-ordered, the post-merge index equals
# the full-corpus band index, so the flags are EXACTLY the batch LSH
# occupied-band rule restricted to the new batch — the oracle below (the
# docs_neardup_streaming oracle + the threshold filter). Scale: per
# snapshot the prior corpus is NEVER rescanned — cost is O(batch bands) +
# one band-keyed merge against the index (both sides already partitioned
# by band_key from their aggs, so the merge and the flag join reuse the
# same partitioning); flags are O(near-dups). Nothing all-pairs.
# ---------------------------------------------------------------------------
_DOCS_NEARDUP_INCR_ORACLE = f"""
WITH {_TOKS_CTE_D},
{_SHINGLES_CTE_D},
sigs AS (
  SELECT doc_id,
       {_mh_cols_d}
  FROM shingled
),
sigs_b AS (
  SELECT doc_id, {_band_cols_d}
  FROM sigs
),
bands AS ({_band_union_d}),
bmin AS (SELECT band_key, MIN(doc_id) AS min_id FROM bands GROUP BY band_key),
j AS (
  SELECT b.doc_id, m.min_id
  FROM bands b JOIN bmin m ON b.band_key = m.band_key
  WHERE m.min_id < b.doc_id
),
thr AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS t FROM documents)
SELECT j.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_occupied_bands,
       CAST(MIN(j.min_id) AS BIGINT) AS partner_doc_id
FROM j CROSS JOIN thr WHERE j.doc_id >= thr.t
GROUP BY j.doc_id
"""


@register("docs_neardup_incremental", _DOCS_NEARDUP_INCR_ORACLE)
def docs_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the prior snapshot's band index to parquet (id-ordered first
    half of the corpus), then dedup the second half as a new batch against
    the persisted index — must equal the full-corpus batch LSH
    occupied-band rule restricted to the batch (see block comment)."""
    from hive_server_spark.plans.text_pack import _docs as _text_docs

    work = tempfile.mkdtemp(dir=session_scratch("neardup_incr"))
    return split_refresh(
        _text_docs(spark, sf_dir), "doc_id", _T.doc_bands,
        ["band_key"], os.path.join(work, "band_index"),
    )


# ---------------------------------------------------------------------------
# Streaming count-min sketch: the sketch-monoid × streaming
# intersection — the evt_cms_heavy_hitters grid, maintained INCREMENTALLY
# over the event stream. The grid is one aggregate: every event fans out
# ×d to its (r, bucket) cells and each cell counts its rows. Run as a
# native complete-mode streaming aggregation, Spark's state store adds
# each micro-batch's cell counts into the running grid — the count-min
# sketch is exactly a monoid, so micro-batch boundaries can never change
# the final grid, the state is BOUNDED (≤ d·w rows regardless of stream
# length — the whole point of sketching a 100 TB stream), the checkpoint
# makes the sums exactly-once across restarts, and the oracle is the plain
# batch sketch.
# ---------------------------------------------------------------------------
from hive_server_spark.plans.events_pack import _cms_hash, _CMS_D  # noqa: E402

_CMS_STREAM_ORACLE = f"""
WITH u AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
r AS (SELECT unnest(range(0, {_CMS_D})) AS r),
h AS (
  SELECT u.cnt, r.r, {_cms_hash('r.r', 'u.user_id', 'd')} AS bucket
  FROM u CROSS JOIN r
)
SELECT r, bucket, CAST(SUM(cnt) AS BIGINT) AS cell
FROM h GROUP BY r, bucket
"""


def _cms_cells(events: DataFrame) -> DataFrame:
    """The count-min grid (r, bucket, cell) of a batch or streaming
    events DataFrame."""
    return (
        events.select(
            "user_id", F.explode(F.expr(f"sequence(0, {_CMS_D - 1})")).alias("r")
        )
        .groupBy(
            F.col("r").cast("bigint").alias("r"),
            F.expr(_cms_hash("r", "user_id", "s")).cast("bigint").alias("bucket"),
        )
        .agg(F.count("*").cast("bigint").alias("cell"))
    )


def _out_cms(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> tuple[DataFrame, str, str]:
    stream, work = _events_stream_in_ts_order(spark, sf_dir, chunks)
    return _cms_cells(stream), work, "complete"


def streamed_cms(spark: SparkSession, sf_dir: str, chunks: int = 2) -> DataFrame:
    """Run the incremental CMS stream over the ts-ordered events landing
    (shared with the rest of the evt_* family); returns the final grid
    (r, bucket, cell)."""
    return _run_sink_stream(spark, *_out_cms(spark, sf_dir, chunks))


@register("evt_cms_streaming", _CMS_STREAM_ORACLE)
def evt_cms_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain the count-min grid incrementally over the landed event
    stream (one micro-batch per file); the final cells must equal the
    one-pass batch sketch — monoid merge, bounded state, exactly-once
    under replay. Runs concurrently with the rest of the evt_* family."""
    return _evt_streaming_results(spark, sf_dir)["evt_cms_streaming"]


# ---------------------------------------------------------------------------
# Streaming HyperLogLog registers: the MAX-merge twin of the
# SUM-merge CMS grid above. The register table is one aggregate — per
# (event_type, bucket) the maximum rank over the user hashes — run as a
# native complete-mode streaming aggregation. Registers are a bounded
# join-semilattice (≤ types × m rows regardless of stream length), so
# micro-batch boundaries can never change the final register table, and
# repeated elements are absorbed (MAX is idempotent — the reason real
# pipelines ship HLL registers, not distinct sets, between workers; it is
# also why the aggregate needs no DISTINCT over (event_type, user)). The
# oracle is the plain batch register table; evt_hll_cardinality gates the
# estimate arithmetic on the same registers.
# ---------------------------------------------------------------------------
from hive_server_spark.functions.text import hash_expr  # noqa: E402
from hive_server_spark.plans.events_pack import _hll_rank, _HLL_M  # noqa: E402

_HLL_STREAM_ORACLE = f"""
WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         {hash_expr("CAST(user_id AS VARCHAR)", "hll", "d")} AS hv
  FROM u
)
SELECT event_type, CAST(hv % {_HLL_M} AS BIGINT) AS bucket,
       CAST(MAX({_hll_rank(f"(hv // {_HLL_M})", "d")}) AS BIGINT) AS reg
FROM h GROUP BY event_type, hv % {_HLL_M}
"""


def _hll_registers(events: DataFrame) -> DataFrame:
    """The HLL register table (event_type, bucket, reg) of a batch or
    streaming events DataFrame."""
    h = events.select(
        "event_type",
        F.expr(hash_expr("CAST(user_id AS STRING)", "hll", "s")).alias("hv"),
    )
    return h.groupBy(
        "event_type", (F.col("hv") % _HLL_M).cast("bigint").alias("bucket")
    ).agg(
        F.max(F.expr(_hll_rank(f"(hv DIV {_HLL_M})", "s"))).cast("bigint").alias("reg")
    )


def _out_hll(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> tuple[DataFrame, str, str]:
    stream, work = _events_stream_in_ts_order(spark, sf_dir, chunks)
    return _hll_registers(stream), work, "complete"


def streamed_hll(spark: SparkSession, sf_dir: str, chunks: int = 2) -> DataFrame:
    """Run the incremental HLL-register stream over the ts-ordered events
    landing; returns the final register table (event_type, bucket, reg)."""
    return _run_sink_stream(spark, *_out_hll(spark, sf_dir, chunks))


@register("evt_hll_streaming", _HLL_STREAM_ORACLE)
def evt_hll_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain the HLL register table incrementally over the landed event
    stream; the final registers must equal the one-pass batch fold —
    MAX-semilattice merge, bounded state, idempotent under replay. Runs
    concurrently with the rest of the evt_* family."""
    return _evt_streaming_results(spark, sf_dir)["evt_hll_streaming"]


# ---------------------------------------------------------------------------
# Streaming CUSUM drift monitor: the
# operational twin of the batch evt_cusum_drift — drift detection is a
# continuously-running job in practice, not a nightly batch. Split of
# labor: the UNBOUNDED part (per-(type, hour) event counts) is maintained
# incrementally as a native complete-mode streaming aggregation (a SUM
# monoid: micro-batch boundaries can never change the hourly table, and
# the checkpointed state store keeps the counts exactly-once). The BOUNDED
# part (the two-sided CUSUM fold over the last 512 hourly rates per type)
# runs at read time on the final state via the SAME cusum_from_hourly the
# batch query uses — so the oracle is the batch oracle, verbatim. State is
# time-bounded (types × hours), never event-bounded; at 100 TB/day the
# store holds ~24 new cells per type per day.
# ---------------------------------------------------------------------------
from hive_server_spark.plans.events_pack import (  # noqa: E402
    _CUSUM_ORACLE,
    cusum_from_hourly,
)


def _out_cusum_hourly(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> tuple[DataFrame, str, str]:
    """The hourly rate table (event_type, bucket, cnt) behind the CUSUM
    monitor, as a stream over the ts-ordered events landing."""
    stream, work = _events_stream_in_ts_order(spark, sf_dir, chunks)
    hourly = stream.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count("*").cast("double").alias("cnt"))
    return hourly, work, "complete"


def streamed_cusum(spark: SparkSession, sf_dir: str, chunks: int = 2) -> DataFrame:
    """Run the incremental hourly-rate stream behind the CUSUM monitor
    over the ts-ordered events landing; returns the drift maxima folded
    from the final hourly table."""
    return cusum_from_hourly(
        _run_sink_stream(spark, *_out_cusum_hourly(spark, sf_dir, chunks))
    )


@register("evt_cusum_streaming", _CUSUM_ORACLE)
def evt_cusum_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain the hourly rate table incrementally over the landed event
    stream and compute the two-sided CUSUM drift maxima from the final
    state — must equal the batch evt_cusum_drift exactly (see block
    comment; SUM-monoid state, bounded read-side fold, exactly-once under
    replay). Runs in the evt_* family wave."""
    return cusum_from_hourly(
        _evt_streaming_results(spark, sf_dir)["evt_cusum_streaming"]
    )


# ---------------------------------------------------------------------------
# Concurrent family execution.
# The nine evt_* streaming gates are nine DIFFERENT stateful computations,
# so they cannot share one streaming query — but they CAN share wall clock:
# Spark runs any number of streaming queries concurrently on one session,
# so the first gate call starts ALL nine (availableNow) and awaits them
# together; per-session results are cached the way the CDC family caches
# its fold (fold_seq_slices above). Family wall time drops from sum(9
# harness spin-ups) to ~max(...), with zero semantic change — each query
# keeps its own checkpoint dir, memory sink, and oracle, and none calls
# back into Python per micro-batch. The landed input is shared per session.
# A caller that wants ONE stream in isolation (chunk-invariance tests, a
# user embedding a single operator) uses the streamed_* functions, which
# still run serially standalone.
# ---------------------------------------------------------------------------
_EVT_STREAM_BUILDERS = {
    "evt_hourly_rollup_streaming": _out_hourly_rollup,
    "evt_sessions_streaming": _out_sessions,
    "evt_stream_stream_join": _out_band_join,
    "evt_dedup_rollup_streaming": _out_dedup_rollup,
    "evt_stream_static_enrich": _out_static_enrich_rollup,
    "evt_sliding_rollup_streaming": _out_sliding_rollup,
    "evt_cms_streaming": _out_cms,
    "evt_hll_streaming": _out_hll,
    "evt_cusum_streaming": _out_cusum_hourly,
}


def _evt_streaming_results(spark: SparkSession, sf_dir: str) -> dict:
    """Run the whole evt_* streaming family concurrently once per
    (session, sf_dir); returns {query name: memory-sink DataFrame} (the
    CUSUM entry is the hourly table its gate folds)."""

    def build() -> dict:
        with _scoped_shuffle_partitions(spark):
            running = {}
            for name, builder in _EVT_STREAM_BUILDERS.items():
                running[name] = _start_sink_stream(spark, *builder(spark, sf_dir))
            for q, _sink in running.values():
                _await_bounded(q)  # stall-windowed (see _run_sink_stream)
        return {name: _read_sink(spark, sink) for name, (_q, sink) in running.items()}

    return shared(spark, ("stream:evt_streaming_family", sf_dir), build)


# ---------------------------------------------------------------------------
# Streaming media near-dup ingest. The MEDIA twin
# of docs_neardup_streaming, completing the ingest matrix: text has
# batch-incremental (docs_neardup_incremental) + streaming
# (docs_neardup_streaming) near-dup; media had only the batch-incremental
# members (multimodal_phash_incremental and the fused audio/video
# refresh). This is the arrival-time shape: media lands
# in micro-batches, each batch is decoded ONCE (the expensive leg — the
# T.81 decode runs only on arriving payloads, never on the corpus), its
# dHash band partials MIN-merge into the versioned parquet band index,
# and the batch is flagged against the POST-merge index — catching dups
# against everything already ingested AND within the batch with one rule.
#
# Exactness argument (same as the docs twin): chunks are media_id-ordered,
# so when a batch flags, every smaller media_id's bands are already in
# the index — the as-of-batch flags equal the full-corpus occupied-band
# rule, which is the oracle below (_PHASH_BANDS_CTES + the bmin/j chain,
# unrestricted). Chunk count must not change the answer (pinned by
# tests/test_streaming.py). Crash/replay: the band merge is an idempotent
# semilattice; the flags append is exactly-once through
# ParquetStateStore.apply.
#
# Scale: state is (band_idx, band_val, media_id) — bytes per image,
# not pixels; payloads never shuffle (partition-preserving mapInPandas
# decode inside the batch); the merge and flag joins are band-keyed like
# the batch incremental path. At 100 TB the stream ingests at decode
# speed and the index grows with DISTINCT band values only.
# ---------------------------------------------------------------------------
from hive_server_spark.functions import multimodal as _M  # noqa: E402
from hive_server_spark.plans.multimodal_pack import _phash_bands_ctes  # noqa: E402

# The streaming ingest runs over the doc_id % 3 == 0 slice of documents —
# the docs carrying a thumbnail attachment in this synthetic layout. Two
# reasons: (a) a media stream is naturally sparser than the text corpus it
# rides with (not every document has media), and (b) it bounds the
# decode-dominated bench cost of the ONLY query that cold-decodes the
# whole corpus per run (28.7 s at sf0.1 unsliced — the batch near-dup
# queries amortize one shared decode across the family, the arrival-time
# ingest by design cannot). The slice predicate
# appears identically in the Spark batch filter and the oracle `src`, so
# the gate still hash-checks every derived value end-to-end.
_MEDIA_STREAM_MOD = 3

_MEDIA_NEARDUP_STREAM_ORACLE = f"""
WITH {_phash_bands_ctes(
    f"(SELECT * FROM documents WHERE doc_id % {_MEDIA_STREAM_MOD} = 0)"
)},
bmin AS (
  SELECT band_idx, band_val, MIN(doc_id) AS min_id
  FROM bands GROUP BY band_idx, band_val
),
j AS (
  SELECT b.doc_id, m.min_id
  FROM bands b
  JOIN bmin m ON b.band_idx = m.band_idx AND b.band_val = m.band_val
  WHERE m.min_id < b.doc_id
)
SELECT CAST(j.doc_id AS BIGINT)      AS media_id,
       CAST(COUNT(*) AS BIGINT)      AS n_occupied_bands,
       CAST(MIN(j.min_id) AS BIGINT) AS partner_media_id
FROM j GROUP BY j.doc_id
"""


def streamed_media_neardup(
    spark: SparkSession, sf_dir: str, chunks: int = 2,
    media_mod: int = _MEDIA_STREAM_MOD,
) -> DataFrame:
    """Run the incremental dHash band near-dup index over the media corpus
    landed in `chunks` media_id-ordered micro-batches; each batch decodes
    ONLY its own payloads. Returns the final flags table (media_id,
    n_occupied_bands, partner_media_id); chunk count must not change the
    answer (tests/test_streaming.py). `media_mod` selects the
    media-bearing corpus slice (doc_id % media_mod == 0): the gate query
    uses the default (see the corpus contract above), the media pipeline's
    --incremental proof passes 1 so the streaming ingest covers the same
    full corpus as the batch rule it must equal."""
    # checkpoint + state dirs must be FRESH per run (reusing a checkpoint
    # would replay the finished stream into a no-op), so mkdtemp — but
    # anchored under the per-process scratch root so interpreter exit
    # reaps them
    work = tempfile.mkdtemp(dir=session_scratch("media_neardup_stream"))
    stream = file_stream(spark, _land_documents(spark, sf_dir, chunks))
    ckpt = os.path.join(work, "ckpt")
    bands_store = ParquetStateStore(os.path.join(work, "bands"), ckpt)
    flags_store = ParquetStateStore(os.path.join(work, "flags"), ckpt)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # decode THIS batch only — and only the media-bearing slice (the
        # doc_id % _MEDIA_STREAM_MOD corpus contract above, mirrored in
        # the oracle src): synthesize -> T.81 decode -> dHash; the
        # synthesizer spreads the landed chunk (one file = one partition)
        # to full parallelism. persist(): the merge commit and the flags
        # commit are two Spark actions — without the cache each would
        # re-run the mapInPandas decode, doubling the expensive leg
        wide = _M.dhash_bands(
            _M.synthesize_dhash_jpeg_media(
                batch_df.where(F.col("doc_id") % media_mod == 0)
            )
        )
        bands = _M.band_long(wide).persist()
        try:
            _neardup_batch(
                bands_store, flags_store, batch_id, bands, _M.BAND_KEYS, "media_id"
            )
        finally:
            bands.unpersist()

    with _scoped_shuffle_partitions(spark):
        run_stream(stream, ckpt, on_batch)
    return flags_store.latest(spark)


@register("media_neardup_streaming", _MEDIA_NEARDUP_STREAM_ORACLE)
def media_neardup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the media corpus in media_id-ordered chunks, decode each
    micro-batch once, and maintain the dHash band near-dup index
    incrementally; return the flagged-media table, which must equal the
    batch LSH occupied-band rule (see block comment)."""
    return streamed_media_neardup(spark, sf_dir, chunks=2)


# ---------------------------------------------------------------------------
# Streaming IVF census ingest. Completes the incremental/streaming symmetry
# across the three corpus families: text has docs_neardup_incremental +
# docs_neardup_streaming, media has multimodal_phash_incremental (+ the
# fused refresh) + media_neardup_streaming, and embeddings had only the
# batch-incremental member (emb_ivf_incremental). This is the arrival-time
# shape for an ANN index: embeddings land in vec_id-ordered micro-batches;
# batch 0 freezes the coarse quantizer (the vec_id < k seed convention every
# IVF query here uses — in a deployed index the trained centroids are a
# bootstrap artifact exactly like this); every batch assigns ONLY its own
# vectors against the read-back centroids and folds its additive census
# partials (n_vecs, posting_checksum, sum_d2_micro — a commutative monoid)
# into the versioned parquet state store. The final census must equal the
# full-corpus rebuild (emb_ivf_build's oracle), and chunk count must not
# change the answer (tests/test_streaming.py). Replay: partial-census sums
# are NOT idempotent; ParquetStateStore.apply keeps them exactly-once.
#
# Scale: per micro-batch the work is one broadcast-assign scan of the
# BATCH (map-side argmin) + a k-row monoid merge; the state is k rows,
# not the corpus; vectors are never rescanned after their batch. This is
# the emb_ivf_incremental claim (0.9x at 100x — fixed-cost domination)
# driven by a stream instead of a nightly refresh.
# ---------------------------------------------------------------------------
def _land_embeddings(spark: SparkSession, sf_dir: str, chunks: int) -> str:
    """Embeddings range-partitioned by vec_id into `chunks` files with
    ascending mtimes — the _land_documents protocol for the embedding
    corpus (vec_id-ordered delivery; batch 0 carries the seed ids)."""

    def land() -> str:
        d = os.path.join(tempfile.mkdtemp(dir=session_scratch("emb_land")), "emb")
        load_table(spark, sf_dir, "embeddings").repartitionByRange(
            chunks, "vec_id"
        ).write.parquet(d)
        _stamp_ascending_mtimes(sorted(glob.glob(os.path.join(d, "part-*.parquet"))))
        return d

    return shared(
        spark, ("land:embeddings", sf_dir, chunks), land, release=_rm_landing
    )


def streamed_ivf_census(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> DataFrame:
    """Run the IVF census over the embedding corpus landed in `chunks`
    vec_id-ordered micro-batches; returns the final build census
    (cluster_id, n_vecs, share, posting_checksum, sum_d2_micro,
    mean_d2_micro), which must equal the full-corpus rebuild."""
    from hive_server_spark.functions import embeddings as _E
    from hive_server_spark.plans.embedding_pack import (
        _IVF_K,
        _census_report,
        _ivf_partial_census,
        _merge_census,
    )

    work = tempfile.mkdtemp(dir=session_scratch("ivf_stream"))
    stream = file_stream(spark, _land_embeddings(spark, sf_dir, chunks))
    ckpt = os.path.join(work, "ckpt")
    cent_store = ParquetStateStore(os.path.join(work, "centroids"), ckpt)
    census_store = ParquetStateStore(os.path.join(work, "census"), ckpt)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        vec = _E._vecs(batch_df).select("vec_id", "v")
        # batch 0 freezes the coarse quantizer (vec_id-ordered landing
        # guarantees the seed ids arrive first); later batches read it
        # back — never re-derive seeds from their own slice. The freeze
        # assumes ALL k seed ids landed in batch 0; the helper counts the
        # seed rows BEFORE committing, so an incomplete quantizer is never
        # persisted and every replay re-hits the completeness check.
        if cent_store.latest(ss) is None:
            commit_seed_state(
                cent_store,
                batch_id,
                vec.where(F.col("vec_id") < _IVF_K).select(
                    F.col("vec_id").alias("cid"), F.col("v").alias("cv")
                ),
                _IVF_K,
                f"IVF (vec_id < {_IVF_K})",
            )
        census_store.apply(
            batch_id,
            _ivf_partial_census(vec, cent_store.latest(ss)),
            lambda prev, part: _merge_census(prev.unionByName(part)),
        )

    with _scoped_shuffle_partitions(spark):
        run_stream(stream, ckpt, on_batch)
    return _census_report(census_store.latest(spark))


from hive_server_spark.plans.embedding_pack import _ivf_build_oracle  # noqa: E402


@register("emb_ivf_streaming", _ivf_build_oracle())
def emb_ivf_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the embedding corpus in vec_id-ordered chunks, freeze the
    coarse quantizer at batch 0, and fold each batch's additive census
    partials into the versioned state store; return the final build
    census, which must equal the full-corpus rebuild (see block
    comment)."""
    return streamed_ivf_census(spark, sf_dir, chunks=2)


# ---------------------------------------------------------------------------
# Streaming PQ-codes ingest. Completes the
# streaming leg of the PQ lifecycle the same way emb_ivf_streaming
# completed it for the coarse index: train (emb_pq_train) -> encode
# (emb_pq_codes) -> serve (emb_pq_adc_topk / ivfpq) -> maintain
# batch-incrementally (emb_pq_incremental) -> and now maintain under
# ARRIVAL-TIME ingest. Embeddings land in vec_id-ordered micro-batches;
# batch 0 freezes the sub-quantizer codebook (the vec_id < ksub seed
# convention every PQ query here uses, guarded to fail loudly if the
# seed batch is short — the emb_ivf_streaming contract);
# every batch encodes ONLY its own vectors against the read-back
# codebook and APPENDS its codes to the versioned parquet state store.
#
# Exactness argument: assignment is a pure per-(vector, subspace)
# function of (v, codebook) with the deterministic (d2, cid) struct-min
# tie-break and per-subspace micro-flooring BEFORE the per-vector sum —
# exactly pq_codes_from_vecs — so batch-encoded rows are bit-identical
# to full-rebuild rows, and the union of disjoint per-vector row sets
# IS the merge. Final codes table ≡ the full-corpus rebuild, which is
# emb_pq_codes' DuckDB oracle. Replay: the append is NOT idempotent;
# ParquetStateStore.apply keeps it exactly-once (same as the docs/media
# ingest twins' flags append); the codebook freeze runs only while the
# codebook store is empty.
#
# Scale: per micro-batch the work is a broadcast of the ksub×m
# sub-codebook + one map-side-combined hash aggregate over the BATCH
# (bounded m-row explode per vector, no corpus rescan, no self-join);
# state grows by exactly the batch's row count — codes are storage, not
# compute. At 100 TB the stream encodes at arrival speed; the prior
# codes are never RE-ENCODED, though ParquetStateStore.apply does
# physically rewrite the state file per batch — O(state), with the
# production fixes (Delta/Iceberg MERGE; bucket-partial overwrite)
# noted in the ParquetStateStore docstring (streaming/incremental.py).
# ---------------------------------------------------------------------------
from hive_server_spark.functions.embeddings import pq_codes_oracle


@register("emb_pq_streaming", pq_codes_oracle())
def emb_pq_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the embedding corpus in vec_id-ordered chunks, freeze the
    PQ sub-quantizer codebook at batch 0, encode each batch against the
    read-back codebook, and append to the versioned codes store; return
    the final codes table, which must equal the full-corpus rebuild
    (see block comment)."""
    return streamed_pq_codes(spark, sf_dir, chunks=2)


def streamed_pq_codes(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> DataFrame:
    """Run the PQ encode over the embedding corpus landed in `chunks`
    vec_id-ordered micro-batches; returns the final codes table
    (vec_id, pq_code, distortion_micro, n_subspaces), which must equal
    the full-corpus rebuild."""
    from hive_server_spark.functions import embeddings as _E

    work = tempfile.mkdtemp(dir=session_scratch("pq_stream"))
    stream = file_stream(spark, _land_embeddings(spark, sf_dir, chunks))
    ckpt = os.path.join(work, "ckpt")
    cb_store = ParquetStateStore(os.path.join(work, "codebook"), ckpt)
    codes_store = ParquetStateStore(os.path.join(work, "codes"), ckpt)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        vec = _E._vecs(batch_df).select("vec_id", "v")
        # batch 0 freezes the sub-quantizer codebook (vec_id-ordered
        # landing guarantees the seed ids arrive first); later batches
        # read it back — never re-derive seeds from their own slice. A
        # short seed batch would freeze an incomplete codebook and
        # silently diverge from the rebuild; the helper counts the seed
        # rows BEFORE committing, so every replay re-hits the check.
        if cb_store.latest(ss) is None:
            commit_seed_state(
                cb_store,
                batch_id,
                vec.where(F.col("vec_id") < _E.PQ_KSUB).select(
                    F.col("vec_id").alias("cid"), F.col("v").alias("cv")
                ),
                _E.PQ_KSUB,
                f"PQ (vec_id < {_E.PQ_KSUB})",
            )
        # encode THIS batch only and append: per-vector rows are
        # disjoint across batches, so the union IS the merge
        codes_store.apply(
            batch_id,
            _E.pq_codes_from_vecs(vec, cent=cb_store.latest(ss)),
            DataFrame.unionByName,
        )

    with _scoped_shuffle_partitions(spark):
        run_stream(stream, ckpt, on_batch)
    out = codes_store.latest(spark)
    return out.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("pq_code").cast("bigint").alias("pq_code"),
        F.col("distortion_micro").cast("bigint").alias("distortion_micro"),
        F.col("n_subspaces").cast("bigint").alias("n_subspaces"),
    )


# ---------------------------------------------------------------------------
# Streaming DELETE ingest into positional deletion vectors. Completes the
# lakehouse-layout family's streaming leg the way the ingest twins completed
# text/media/embeddings: layout_zorder clusters, layout_compaction compacts,
# layout_zonemap prunes, layout_deletion_vectors mutates ONE-SHOT,
# layout_snapshot_expiry expires — and THIS maintains the deletion vectors
# under arrival-time ingest, the shape a CDC-fed lakehouse table actually
# runs (a stream of row-level DELETEs folding into per-file position bitmaps
# without rewriting data files).
#
# Events land in event_id-ordered micro-batches. A row's deleted
# POSITION is its rank within its 512-row file across the WHOLE table,
# so a file whose rows straddle a batch boundary needs cross-batch
# state: the counts store carries per-file (n_rows, n_deleted,
# pos_checksum) as a SUM monoid, and each batch offsets its local
# row_number by the prior n_rows for that file — id-ordered landing
# guarantees a file's rows arrive in rank order, so offset + local rank
# IS the global position. Deleted positions append to the delpos store
# (disjoint across batches by construction); the final report groups
# them into the ordered-position md5 and joins the counts — and must
# equal layout_deletion_vectors' one-shot DELETE row for row, which is
# why it shares that query's DuckDB oracle.
#
# Commit order: the delpos append commits FIRST — it is computed from
# the PRE-merge offsets, so a crash between the two commits replays into
# delpos-skip + counts-recompute against the still-unmerged counts state
# (same offsets, same result). Committing counts first would poison a
# replay: the recomputed offsets would include the batch's own rows.
#
# Scale: per batch the work is one local row_number window (partitioned
# by file_id WITHIN the batch — bounded by batch size, never the
# corpus), one broadcast-sized offsets join (touched files only), one
# map-side-combined counts aggregate, and an append of the batch's own
# deleted positions; state is per-file counters + per-delete rows
# (positions, not payloads). Prior batches are never rescanned. At
# 100 TB this ingests at CDC arrival speed; the one-shot DELETE's scan
# cost is amortized across triggers.
# ---------------------------------------------------------------------------
from hive_server_spark.plans.sources_pack import (  # noqa: E402
    _DV_PRED,
    _ZM_FILE_ROWS,
)


def _land_events_by_id(spark: SparkSession, sf_dir: str, chunks: int) -> str:
    """Events range-partitioned by event_id into `chunks` files with
    ascending mtimes — the _land_documents protocol for the raw events
    table (event_id-ordered delivery, so per-file ranks arrive in
    order)."""

    def land() -> str:
        d = os.path.join(tempfile.mkdtemp(dir=session_scratch("dv_land")), "ev")
        load_table(spark, sf_dir, "events").repartitionByRange(
            chunks, "event_id"
        ).write.parquet(d)
        _stamp_ascending_mtimes(sorted(glob.glob(os.path.join(d, "part-*.parquet"))))
        return d

    return shared(
        spark, ("land:events_by_id", sf_dir, chunks), land, release=_rm_landing
    )


def streamed_deletion_vectors(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> DataFrame:
    """Run the predicate DELETE over the events table landed in `chunks`
    event_id-ordered micro-batches, maintaining per-file deletion-vector
    state incrementally; returns the final per-touched-file report
    (file_id, n_rows, n_deleted, n_live, pos_checksum, dv_md5), which
    must equal the one-shot layout_deletion_vectors."""
    from pyspark.sql import Window

    work = tempfile.mkdtemp(dir=session_scratch("dv_stream"))
    stream = file_stream(spark, _land_events_by_id(spark, sf_dir, chunks))
    ckpt = os.path.join(work, "ckpt")
    counts_store = ParquetStateStore(os.path.join(work, "counts"), ckpt)
    delpos_store = ParquetStateStore(os.path.join(work, "delpos"), ckpt)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        ev = batch_df.select(
            F.expr(f"event_id DIV {_ZM_FILE_ROWS}").alias("file_id"),
            "event_id",
            F.expr(f"({_DV_PRED})").alias("deleted"),
        )
        w = Window.partitionBy("file_id").orderBy("event_id")
        loc = ev.withColumn("rn", F.row_number().over(w))
        prior = counts_store.latest(batch_df.sparkSession)
        if prior is None:
            pos = loc.withColumn("pos", F.col("rn").cast("bigint"))
        else:
            pos = loc.join(
                prior.select("file_id", F.col("n_rows").alias("off")),
                "file_id",
                "left",
            ).withColumn(
                "pos",
                (F.col("rn") + F.coalesce(F.col("off"), F.lit(0))).cast(
                    "bigint"
                ),
            )
        # persist(): the delpos append and the counts merge are two Spark
        # actions over the same positioned batch — without the cache each
        # would re-run the window + offsets join
        pos = pos.persist()
        try:
            # 1. append this batch's deleted positions (PRE-merge offsets;
            #    see the commit-order block comment — this MUST commit
            #    before the counts merge)
            delpos_store.apply(
                batch_id,
                pos.where("deleted").select("file_id", "pos"),
                DataFrame.unionByName,
            )
            # 2. fold the batch's per-file counters into the SUM monoid
            part = pos.groupBy("file_id").agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col("deleted"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_deleted"),
                F.coalesce(
                    F.sum(F.when(F.col("deleted"), F.col("pos"))),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("pos_checksum"),
            )
            counts_store.apply(
                batch_id,
                part,
                lambda cur, part: cur.unionByName(part)
                .groupBy("file_id")
                .agg(
                    F.sum("n_rows").cast("bigint").alias("n_rows"),
                    F.sum("n_deleted").cast("bigint").alias("n_deleted"),
                    F.sum("pos_checksum").cast("bigint").alias("pos_checksum"),
                ),
            )
        finally:
            pos.unpersist()

    with _scoped_shuffle_partitions(spark):
        run_stream(stream, ckpt, on_batch)

    counts = counts_store.latest(spark)
    delpos = delpos_store.latest(spark)
    dv = delpos.groupBy("file_id").agg(
        F.md5(
            F.array_join(F.sort_array(F.collect_list("pos")), ",")
        ).alias("dv_md5")
    )
    return (
        counts.where(F.col("n_deleted") > 0)
        .join(dv, "file_id")
        .select(
            F.col("file_id").cast("bigint").alias("file_id"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_deleted").cast("bigint").alias("n_deleted"),
            (F.col("n_rows") - F.col("n_deleted"))
            .cast("bigint")
            .alias("n_live"),
            F.col("pos_checksum").cast("bigint").alias("pos_checksum"),
            "dv_md5",
        )
    )


from hive_server_spark.plans.sources_pack import _DV_ORACLE


@register("layout_dv_streaming", _DV_ORACLE)
def layout_dv_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table in event_id-ordered chunks, folding each
    micro-batch's predicate DELETEs into per-file deletion-vector state;
    return the final per-touched-file report, which must equal the
    one-shot layout_deletion_vectors (see block comment)."""
    return streamed_deletion_vectors(spark, sf_dir, chunks=2)


# ---------------------------------------------------------------------------
# Streaming zone-map maintenance. The WRITE-side
# twin of layout_zonemap_skipping: that query computes the per-file
# min/max statistics one-shot and then measures what they prune; THIS
# maintains the same statistics under arrival-time ingest — the shape
# every lakehouse write path actually runs (Delta/Iceberg collect file
# stats at commit time; parquet writes row-group stats as pages land).
# Events land in event_id-ordered micro-batches, and the per-file
# statistics (COUNT + MIN/MAX of ts, value, event_type) are one file_id-
# keyed aggregate run as a native complete-mode streaming aggregation. A
# 512-row file whose rows straddle a batch boundary is exactly the
# interesting case: Spark's state store merges its partials as a MIN/MAX
# semilattice + COUNT sum keyed on file_id, so the final map is
# batch-boundary invariant (tests pin 1 vs 3 chunks), and the result must
# equal the batch derivation — the `files` CTE of
# layout_zonemap_skipping's oracle, verbatim.
#
# Replay: MIN/MAX legs are idempotent, but n_rows is a SUM — exactly-once
# rests on the checkpointed state store.
# Timestamps cross the engine boundary as integer microseconds
# (unix_micros ≡ DuckDB epoch_us — the events_pack convention).
#
# Scale: per micro-batch the work is ONE map-side-combined aggregate of
# the batch keyed by file_id (no join, no corpus rescan); state is
# file-count-sized metadata, not data. At 100 TB stats maintenance rides
# the ingest scan for free — which is precisely why deployed formats do
# it at write time instead of re-deriving zone maps by scan.
# ---------------------------------------------------------------------------
_ZM_STREAM_ORACLE = f"""
SELECT CAST(event_id // {_ZM_FILE_ROWS} AS BIGINT) AS file_id,
       CAST(COUNT(*) AS BIGINT)                    AS n_rows,
       CAST(MIN(epoch_us(ts)) AS BIGINT)           AS min_ts_us,
       CAST(MAX(epoch_us(ts)) AS BIGINT)           AS max_ts_us,
       CAST(MIN(value) AS DOUBLE)                  AS min_value,
       CAST(MAX(value) AS DOUBLE)                  AS max_value,
       MIN(event_type)                             AS min_type,
       MAX(event_type)                             AS max_type
FROM events GROUP BY event_id // {_ZM_FILE_ROWS}
"""


def _zonemap_stats(events: DataFrame) -> DataFrame:
    """The per-file statistics table (file_id, n_rows, min/max ts-micros,
    value, type) of a batch or streaming events DataFrame."""
    return events.groupBy(
        F.expr(f"event_id DIV {_ZM_FILE_ROWS}").cast("bigint").alias("file_id")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min(F.unix_micros("ts")).cast("bigint").alias("min_ts_us"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("max_ts_us"),
        F.min("value").cast("double").alias("min_value"),
        F.max("value").cast("double").alias("max_value"),
        F.min("event_type").alias("min_type"),
        F.max("event_type").alias("max_type"),
    )


def streamed_zonemaps(
    spark: SparkSession, sf_dir: str, chunks: int = 2
) -> DataFrame:
    """Run the zone-map maintenance over the events table landed in
    `chunks` event_id-ordered micro-batches; returns the final per-file
    statistics table, which must equal the one-shot batch derivation."""
    work = tempfile.mkdtemp(dir=session_scratch("zm_stream"))
    events = file_stream(spark, _land_events_by_id(spark, sf_dir, chunks))
    return _run_sink_stream(spark, _zonemap_stats(events), work, "complete")


@register("layout_zonemap_streaming", _ZM_STREAM_ORACLE)
def layout_zonemap_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table in event_id-ordered chunks, folding each
    micro-batch's rows into the per-file COUNT/MIN/MAX statistics; return
    the final per-file statistics table, which must equal the one-shot
    batch derivation (see block comment)."""
    return streamed_zonemaps(spark, sf_dir, chunks=2)

