"""CDC snapshot stream (ST5): every touched pool gets a fresh book per
micro-batch; the final version equals the batch-computed book."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hive_server_spark.operators.fold import fold_order_events
from hive_server_spark.operators.orderbook import price_levels, top_levels
from hive_server_spark.sources.synthetic import order_events
from hive_server_spark.streaming.cdc import run_incremental_fold_with_cdc
from hive_server_spark.streaming.incremental import file_stream
from tests.conftest import SF_SMALL


def test_cdc_final_snapshot_matches_batch_book(spark, tmp_path):
    ev = order_events(spark, SF_SMALL)
    work = str(tmp_path)
    ev_dir = os.path.join(work, "events")
    ev.repartition(3).write.parquet(ev_dir)
    _, cdc_dir = run_incremental_fold_with_cdc(
        spark,
        file_stream(spark, ev_dir),
        state_dir=os.path.join(work, "state"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        cdc_dir=os.path.join(work, "cdc"),
    )
    cdc = spark.read.parquet(cdc_dir)
    versions = [r.cdc_version for r in cdc.select("cdc_version").distinct().collect()]
    assert len(versions) == 3  # one snapshot set per micro-batch

    last = cdc.where(F.col("cdc_version") == max(versions)).drop("cdc_version")
    batch_book = top_levels(price_levels(fold_order_events(ev)), depth=20).select(
        *last.columns
    )

    def rows(df):
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    assert rows(last) == rows(batch_book)

    # every batch's snapshot covers exactly the pools touched in that batch
    n_pools = ev.select("pool_address").distinct().count()
    per_version = (
        cdc.groupBy("cdc_version")
        .agg(F.countDistinct("pool_address").alias("n"))
        .collect()
    )
    assert all(1 <= r.n <= n_pools for r in per_version)


def test_cdc_fold_refuses_committed_state_of_another_checkpoint(spark, tmp_path):
    """A fresh checkpoint restarts batch ids at 0. Re-running the CDC fold
    on a committed state_dir under a new checkpoint must fail loudly —
    not read every batch as a replay, keep the old state and write CDC
    snapshots from it."""
    work = str(tmp_path)
    ev_dir = os.path.join(work, "events")
    order_events(spark, SF_SMALL).repartition(2).write.parquet(ev_dir)

    def run(ckpt):
        return run_incremental_fold_with_cdc(
            spark,
            file_stream(spark, ev_dir),
            state_dir=os.path.join(work, "state"),
            checkpoint_dir=os.path.join(work, ckpt),
            cdc_dir=os.path.join(work, "cdc"),
        )

    run("ckpt_a")
    with pytest.raises(RuntimeError, match="different streaming checkpoint"):
        run("ckpt_b")


def test_warm_cdc_fold_builds_no_column(spark, monkeypatch, tmp_path):
    """Every Column a CDC micro-batch uses is built once per process, so
    a batch only binds its input DataFrames: once a fold has run, a second
    fold over fresh dirs in the same process constructs no Python Column
    (each one costs py4j round trips on the driver)."""
    from pyspark.sql.classic.column import Column

    work = str(tmp_path)
    ev_dir = os.path.join(work, "events")
    order_events(spark, SF_SMALL).repartition(3).write.parquet(ev_dir)

    def run(tag):
        return run_incremental_fold_with_cdc(
            spark,
            file_stream(spark, ev_dir),
            state_dir=os.path.join(work, tag, "state"),
            checkpoint_dir=os.path.join(work, tag, "ckpt"),
            cdc_dir=os.path.join(work, tag, "cdc"),
        )

    run("warm")
    built = []
    init = Column.__init__

    def counting_init(self, *args, **kwargs):
        built.append(type(self).__name__)
        init(self, *args, **kwargs)

    monkeypatch.setattr(Column, "__init__", counting_init)
    store, cdc_dir = run("measured")
    monkeypatch.undo()

    assert store.versions() == [0, 1, 2]  # three micro-batches ran
    assert sorted(os.listdir(cdc_dir)) == [f"cdc_version={v}" for v in range(3)]
    assert built == []
