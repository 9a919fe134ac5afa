"""ingest: the write path, then a read phase. A seeded order_events log,
landed as one parquet file per micro-batch, is folded by
`streaming.cdc.run_incremental_fold_with_cdc` into the versioned orders
state, with a CDC book snapshot per batch.

The log's first file is a bootstrap: the orders that exist when the stream
starts. The stream's first batch folds it, with the query's start-up and a
cold JVM; WARM_BATCHES small batches follow while the JIT settles (their
latency falls by half over them). Both count as set-up. The BATCHES small
batches after them are measured; each one's keys are a small share of the
state it commits. A micro-batch's latency is the gap between consecutive
`cdc_version=N/_SUCCESS` markers: the moment a reader can see it.

Traced runs add a read phase after the checks: `operators.api_server.
HiveApiServer` over a seeded `events.parquet`, each of its seven routes
requested once over HTTP after one warm-up request, each reply checked
against the direct render. It feeds the per-layer `serve.*` metrics only,
so untraced runs, which report the write path end to end, skip it; the
`serve` workload loads the read path end to end.
"""

from __future__ import annotations

import datetime
import os
import random
import threading
import time
from statistics import median

import pyarrow.parquet as pq
from pyspark.sql.streaming import DataStreamWriter, StreamingQueryListener

import inputs
import workload_serve as serve
from probes import dir_bytes

BOOTSTRAP_ORDERS = 4000
WARM_BATCHES = 4
BATCHES = 10
ORDERS_PER_BATCH = 250
FILES = 1 + WARM_BATCHES + BATCHES
SETUP_REPS = 3
DEPTH = 20
READ_EVENTS = 20_000


class Progress(StreamingQueryListener):
    """Spark's own per-batch progress, for traced runs; also samples the bytes
    written under the state dir at each batch, with no assumption about its
    layout. Each progress event reaches Python as dozens of py4j calls, made
    while the next batch runs, so untraced runs register no listener."""

    def __init__(self, state_dir: str) -> None:
        self.lock = threading.Lock()
        self.batches: list[dict] = []
        self.state_dir = state_dir
        self._seen: dict[str, int] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        now = dir_bytes(self.state_dir)
        written = sum(v for k, v in now.items() if self._seen.get(k) != v)
        self._seen = now
        with self.lock:
            self.batches.append({
                "batch": p.batchId,
                "trigger_start": datetime.datetime.fromisoformat(p.timestamp).timestamp(),
                "trigger_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                "add_batch_s": p.durationMs.get("addBatch", 0) / 1000.0,
                "state_written": written,
            })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def _stream(run, land_dir: str) -> dict:
    """The stream over `land_dir`, built and wrapped the way
    `plans.streaming_pack.fold_seq_slices` does it. Query starts are counted
    at `DataStreamWriter.start`: `await_stream_with_retry` restarts a failed
    or stalled query from its checkpoint, so every start after the first is
    a retry. Traced runs also collect Spark's progress events."""
    from hive_server_spark.schemas import ORDER_EVENTS_SCHEMA
    from hive_server_spark.session import scoped_shuffle_partitions
    from hive_server_spark.streaming.cdc import run_incremental_fold_with_cdc

    spark = run.spark
    base = os.path.join(run.work, "stream")
    state_dir = os.path.join(base, "state")
    cdc_dir = os.path.join(base, "cdc")
    listener = Progress(state_dir) if run.trace else None
    if listener is not None:
        spark.streams.addListener(listener)
    starts = []
    start = DataStreamWriter.start

    def counted_start(writer, *args, **kwargs):
        starts.append(time.time())
        return start(writer, *args, **kwargs)

    DataStreamWriter.start = counted_start
    wall0 = time.time()
    try:
        with run.tracer.span("streaming.cdc:run_incremental_fold_with_cdc") as sp:
            stream = (
                spark.readStream.schema(ORDER_EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(land_dir)
            )
            with scoped_shuffle_partitions(spark):
                store, _ = run_incremental_fold_with_cdc(
                    spark,
                    stream,
                    state_dir=state_dir,
                    checkpoint_dir=os.path.join(base, "ckpt"),
                    cdc_dir=cdc_dir,
                    depth=DEPTH,
                )
    finally:
        DataStreamWriter.start = start
    landed = []
    for v in range(FILES):
        marker = os.path.join(cdc_dir, f"cdc_version={v}", "_SUCCESS")
        landed.append(os.path.getmtime(marker) if os.path.exists(marker) else None)
    progress = []
    if listener is not None:
        # progress events reach the listener asynchronously
        deadline = time.monotonic() + 15
        while len(listener.batches) < FILES and time.monotonic() < deadline:
            time.sleep(0.05)
        spark.streams.removeListener(listener)
        with listener.lock:
            progress = sorted(listener.batches, key=lambda b: b["batch"])
    if sp is not None:
        # per-batch spans from the listener, on the tracer's clock
        shift = time.perf_counter() - time.time()
        for b in progress:
            t0 = b["trigger_start"] + shift
            run.tracer.add("streaming.incremental:batch", t0, t0 + b["trigger_s"], sp["id"])
    return {
        "store": store, "wall0": wall0, "landed": landed,
        "progress": progress, "retries": max(len(starts) - 1, 0),
    }


def _read_phase(run) -> None:
    """Requests over HTTP against `HiveApiServer`, each checked against the
    direct render of the same request."""
    rng = random.Random(run.seed)
    paths = inputs.write_events(os.path.join(run.work, "events"), run.seed, READ_EVENTS)
    srv, init_s = serve.start_server(run, os.path.dirname(paths[0]))
    keys = serve.keys_for(srv, rng, 1)
    serve.warm(srv, keys)
    with run.tracer.span("operators.api_server:requests"):
        replies = serve.sequential(srv.port, keys, [(r, 0) for r in serve.MIX])
    direct = serve.check_replies(run, srv, keys, replies)
    srv.stop()
    serve.route_layers(run, replies, direct, init_s)


def run(run) -> dict:
    spark, tracer = run.spark, run.tracer

    # -- setup: generate the log SETUP_REPS times (same bytes each time)
    reps, hashes = [], []
    with tracer.span("inputs:order_events"):
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            paths, keys = inputs.write_order_events(
                os.path.join(run.work, f"land{i}"), run.seed,
                [BOOTSTRAP_ORDERS] + [ORDERS_PER_BATCH] * (FILES - 1),
            )
            reps.append(time.perf_counter() - t0)
            hashes.append(inputs.content_hash(paths))
    run.check(len(set(hashes)) == 1, "same seed gave different order_events files")
    land_dir = os.path.dirname(paths[0])
    file_events = [pq.ParquetFile(p).metadata.num_rows for p in paths]

    # -- measured: one stream
    run.begin_measure()
    s = _stream(run, land_dir)
    run.end_measure()

    landed = s["landed"]
    ok = all(t is not None for t in landed)
    run.check(ok, f"stream landed {sum(t is not None for t in landed)}/{FILES} CDC versions")
    if ok:
        warm = landed[WARM_BATCHES:]
        warm_s = warm[0] - s["wall0"]
        batch_s = [b - a for a, b in zip(warm, warm[1:])]
        rate = sum(file_events[WARM_BATCHES + 1:]) / (warm[-1] - warm[0])
    else:
        warm_s = batch_s = rate = float("nan")
    run.attempted += FILES
    run.failed += s["retries"]
    if s["retries"]:
        run.failures.append(f"{s['retries']} stream retries")

    # -- checks: final state equals the batch fold of the whole log
    from hive_server_spark.operators.fold import fold_order_events
    from hive_server_spark.schemas import ORDER_EVENTS_SCHEMA
    from hive_server_spark.streaming.incremental import materialize_orders

    log = spark.read.schema(ORDER_EVENTS_SCHEMA).parquet(land_dir)
    t0 = time.perf_counter()
    with tracer.span("operators.fold:fold_order_events"):
        ref = fold_order_events(log).persist()
        n_ref = ref.count()
    batch_fold_s = time.perf_counter() - t0
    with tracer.span("checks:state"):
        got = materialize_orders(s["store"].latest(spark)).persist()
        n_got = got.count()
        # equal row counts and nothing extra: then nothing is missing either
        extra = got.exceptAll(ref).count()
    run.check(n_got > 0 and n_got == n_ref and extra == 0,
              f"streamed state differs from the batch fold: {n_got} rows, "
              f"{n_ref} expected, {extra} not in the fold")
    state_to_batch = n_got / median(keys[1:])
    run.check(state_to_batch >= 10, f"final state only {state_to_batch:.1f}x a micro-batch")
    got.unpersist()
    ref.unpersist()

    p50_s = median(batch_s) if ok else float("nan")
    run.named.update({
        "ingest.events_per_s": (rate, "1/s"),
        "ingest.batch_p50_s": (p50_s, "s"),
        "ingest.failed_frac": (run.failed / max(run.attempted, 1), "ratio"),
    })
    run.record.update({
        "events": sum(file_events), "batches": FILES, "warm_s": warm_s,
        "gaps_s": [b - a for a, b in zip(landed, landed[1:])] if ok else [],
        "state_rows": n_got, "batch_keys": keys,
    })
    if run.trace:
        _read_phase(run)
        progress = s["progress"]
        add = [b["add_batch_s"] for b in progress if b["batch"] > WARM_BATCHES]
        cdc = [
            landed[b["batch"]] - b["trigger_start"]
            for b in progress
            if b["batch"] < FILES and landed[b["batch"]] is not None
        ]
        quarter = max(len(add) // 4, 1)
        first, lastq = add[:quarter], add[-quarter:]
        run.layer.update({
            "ingest.add_batch_s.p50": median(add) if add else 0.0,
            "ingest.add_batch_growth": (sum(lastq) / len(lastq)) / (sum(first) / len(first))
            if first and sum(first) > 0 else 0.0,
            "ingest.state_write_mb": sum(b["state_written"] for b in progress) / 2**20,
            "ingest.cdc_s.p50": median(cdc) if cdc else 0.0,
            "ingest.retries": s["retries"],
            "ingest.batch_fold_s": batch_fold_s,
            "ingest.state_to_batch": state_to_batch,
        })
    return {
        "setup_s": run.session_s + median(reps) + warm_s,
        "latency_ms": p50_s * 1000,
        "throughput_per_s": rate,
    }
