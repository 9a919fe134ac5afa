"""Batch ≡ streaming equivalence (SURVEY §5.5, ST1): the incremental fold
must converge to the batch fold under ANY micro-batch partitioning of the
event log — the partial-fold merge is a commutative monoid, so chunk count
and arrival order cannot matter."""

from __future__ import annotations

import pytest

from hive_server_spark.operators.fold import (
    fold_order_events,
    materialize_orders,
    partial_fold,
)
from hive_server_spark.sources.synthetic import order_events
from hive_server_spark.streaming.incremental import merge_partials
from hive_server_spark.plans.streaming_pack import streamed_orders_state
from tests.conftest import SF_SMALL, next_job_id


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("chunks", [1, 3])
def test_streaming_equals_batch(spark, chunks):
    batch = fold_order_events(order_events(spark, SF_SMALL))
    streamed = streamed_orders_state(spark, SF_SMALL, chunks=chunks)
    assert _rows(streamed) == _rows(batch)


def test_sink_streams_leave_no_temp_views(spark):
    """A memory-sink stream's result is bound to the returned DataFrame and
    the sink's session temp view is dropped, so stream runs do not pile up
    `stream_*` / `stateful_*` views in the session catalog; the returned
    DataFrames still read their rows."""
    from hive_server_spark.plans.streaming_pack import (
        stateful_orders_state,
        streamed_zonemaps,
    )

    def sink_views():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.isTemporary and t.name.startswith(("stream_", "stateful_"))
        }

    before = sink_views()
    outs = [
        streamed_zonemaps(spark, SF_SMALL, chunks=1),
        streamed_orders_state(spark, SF_SMALL, chunks=1),
        stateful_orders_state(spark, SF_SMALL, chunks=1),
    ]
    assert sink_views() == before
    assert all(df.count() > 0 for df in outs)


def test_merge_is_order_insensitive(spark, make_events):
    from tests.conftest import ev

    events = [
        ev(seq=1, event_type="OrderCreated", order_id=1, trader="T1", price=100,
           amount=50, order_type="BUY"),
        ev(seq=2, event_type="OrderFilled", order_id=1, filled=20, remaining=30),
        ev(seq=3, event_type="OrderUpdated", order_id=1, new_amount=80),
        ev(seq=4, event_type="OrderCancelled", order_id=1),
        ev(seq=5, event_type="OrderCreated", order_id=2, trader="T2", price=99,
           amount=10, order_type="SELL"),
    ]
    df = make_events(events)
    whole = materialize_orders(partial_fold(df))

    # split 2+3 and 4+1, merged in both orders
    for split in (2, 4):
        left = partial_fold(make_events(events[:split]))
        right = partial_fold(make_events(events[split:]))
        assert _rows(materialize_orders(merge_partials(left, right))) == _rows(whole)
        assert _rows(materialize_orders(merge_partials(right, left))) == _rows(whole)


def test_fill_before_create_across_batches(spark, make_events):
    """A fill that lands in an earlier micro-batch than its create (possible
    under file-order nondeterminism) must still fold correctly once the
    create arrives."""
    from tests.conftest import ev

    create = [ev(seq=1, event_type="OrderCreated", order_id=7, trader="T1",
                 price=101, amount=40, order_type="BUY")]
    fill = [ev(seq=2, event_type="OrderFilled", order_id=7, filled=40, remaining=0)]

    fill_first = merge_partials(
        partial_fold(make_events(fill)), partial_fold(make_events(create))
    )
    rows = materialize_orders(fill_first).collect()
    assert len(rows) == 1
    r = rows[0]
    assert float(r.filled) == 40.0 and float(r.remaining_amount) == 0.0
    assert r.active is False  # remaining 0 → inactive

    # fill-only state materializes to nothing (order never created)
    assert materialize_orders(partial_fold(make_events(fill))).count() == 0


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """ST6: stop the stream, add more data, restart with the SAME checkpoint
    and state dir — every event folds exactly once (no loss on restart, no
    double-apply of already-processed files). The reference loses its
    in-memory cursor on crash; Spark's checkpoint is the fix."""
    import os

    from pyspark.sql import functions as F

    from hive_server_spark.plans.streaming_pack import streamed_orders_partial

    ev = order_events(spark, SF_SMALL).cache()
    half_a = ev.where(F.col("seq") % 2 == 0)
    half_b = ev.where(F.col("seq") % 2 == 1)

    work = str(tmp_path)
    ev_dir = os.path.join(work, "events")

    def run():
        return streamed_orders_partial(spark, ev_dir, work)

    # session 1: only the first half exists
    half_a.coalesce(1).write.mode("overwrite").parquet(ev_dir)
    run()
    # "restart": second half lands, same checkpoint
    half_b.coalesce(1).write.mode("append").parquet(ev_dir)
    got = materialize_orders(run())
    want = fold_order_events(ev)
    assert _rows(got) == _rows(want)


def test_windowed_streams_chunk_invariant(spark):
    """The append-mode windowed streams emit exactly the final-watermark
    result regardless of micro-batch count: re-chunking the same ts-ordered
    landing from 2 files to 1 must not change a single row (the watermark
    contract the DuckDB oracles encode is batch-boundary-free)."""
    from hive_server_spark.plans.streaming_pack import (
        streamed_hourly_rollup,
        streamed_sessions,
    )

    for fn in (streamed_hourly_rollup, streamed_sessions):
        one = {tuple(r) for r in fn(spark, SF_SMALL, chunks=1).collect()}
        two = {tuple(r) for r in fn(spark, SF_SMALL, chunks=2).collect()}
        assert one == two, f"{fn.__name__}: chunking changed the emitted set"


def test_state_store_vacuum_retention(spark, tmp_path):
    """Every commit keeps its `v{n}` snapshot for time travel; a version
    that is not on disk must fail loudly on at_version() — a ValueError
    listing the committed versions, not a deep Spark path error."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from hive_server_spark.streaming.incremental import ParquetStateStore

    ev = order_events(spark, SF_SMALL)
    store = ParquetStateStore(str(tmp_path), "/ckpt/versions")
    for batch_id in range(2):
        store.commit(partial_fold(ev.where(F.col("seq") % 2 == batch_id)), batch_id)
    assert store.versions() == [0, 1]
    assert store.at_version(spark, 0).count() > 0

    with _pt.raises(ValueError, match=r"not readable; committed versions: \[0, 1\]"):
        store.at_version(spark, 7)


def test_state_store_reads_with_remembered_schema(spark, tmp_path):
    """A handle infers the state schema on its first read and passes it to
    every later read: latest() and at_version() then submit no Spark job,
    and return the schema and rows an inferring spark.read.parquet does.
    A fresh handle on an existing store infers exactly once; a commit with
    other columns makes the next read infer again."""
    import os
    from collections import Counter

    from pyspark.sql import functions as F

    from hive_server_spark.streaming.incremental import ParquetStateStore

    ev = order_events(spark, SF_SMALL)
    root = str(tmp_path)
    store = ParquetStateStore(root, "/ckpt/schema-memo")
    for batch_id in range(2):
        part = partial_fold(ev.where(F.col("seq") % 2 == batch_id))
        store.apply(batch_id, part, merge_partials)  # batch 1 reads v0

    for version, read in (
        (1, lambda: store.latest(spark)),
        (0, lambda: store.at_version(spark, 0)),
        (1, lambda: store.at_version(spark, 1)),
    ):
        first = next_job_id(spark)
        got = read()
        assert next_job_id(spark) == first, f"v{version}: the read submitted a job"
        inferred = spark.read.parquet(os.path.join(root, f"v{version}"))
        assert got.schema == inferred.schema
        assert Counter(got.collect()) == Counter(inferred.collect())

    fresh = ParquetStateStore(root, "/ckpt/schema-memo")
    first = next_job_id(spark)
    fresh.latest(spark)
    fresh.at_version(spark, 0)
    fresh.latest(spark)
    assert next_job_id(spark) - first == 1  # one inference, on the first read

    store.commit(spark.range(3), 2)
    first = next_job_id(spark)
    assert store.latest(spark).columns == ["id"]
    assert next_job_id(spark) - first == 1


def _docs_ingest(spark, src_dir, work):
    """Run the production docs-ingest stream over the landed `src_dir`
    with its checkpoint under `work`; returns the index as of this run."""
    from hive_server_spark.plans import streaming_pack as sp

    return sp.streamed_docs_index(spark, src_dir, work)


def test_docs_ingest_chunk_invariance(spark, tmp_path):
    """The incremental dedup index is a monoid fold: 1-chunk and 3-chunk
    ingests must produce identical index contents."""
    from hive_server_spark.plans import streaming_pack as sp

    def run(chunks):
        work = tmp_path / f"chunks{chunks}"
        work.mkdir()
        index = _docs_ingest(
            spark, sp._land_documents(spark, SF_SMALL, chunks), str(work)
        )
        return {
            (r.fingerprint_md5, r.canonical_doc_id, r.group_size, r.total_tokens)
            for r in index.collect()
        }

    one = run(1)
    three = run(3)
    assert one == three and one


def test_docs_ingest_resumes_from_checkpoint(spark, tmp_path):
    """Restart semantics of the incremental dedup index: after the first
    availableNow run drains the landed files, new files appended to the
    source are picked up by a SECOND run on the SAME checkpoint — already-
    processed files are not re-folded (counts would double), and the final
    index equals the batch GROUP BY over the union."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from hive_server_spark.catalog import load_table

    work = str(tmp_path)
    src_dir = os.path.join(work, "docs")
    docs = load_table(spark, SF_SMALL, "documents")
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    half_a.coalesce(1).write.parquet(src_dir)

    index = _docs_ingest(spark, src_dir, work)
    n_after_first = index.agg(F.sum("group_size")).collect()[0][0]
    assert n_after_first == half_a.count()

    # append the second half as new files, same source dir + checkpoint
    tmp_b = os.path.join(work, "docs_b")
    half_b.coalesce(1).write.parquet(tmp_b)
    for f in os.listdir(tmp_b):
        if f.startswith("part-"):
            shutil.copy(os.path.join(tmp_b, f), os.path.join(src_dir, f))
    index = _docs_ingest(spark, src_dir, work)

    final = {
        (r.fingerprint_md5, r.canonical_doc_id, r.group_size, r.total_tokens)
        for r in index.collect()
    }
    expect = {
        (r.fingerprint_md5, r.canonical_doc_id, r.group_size, r.total_tokens)
        for r in docs.groupBy(F.md5("text").alias("fingerprint_md5"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("group_size"),
            F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        )
        .collect()
    }
    assert final == expect


def test_replay_guard_batch_is_exactly_once(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after store.commit() but
    before the streaming checkpoint commit re-delivers the same batch_id
    on restart. Re-applying the batch must be a no-op — store.apply skips
    it — otherwise the merge double-counts. A torn commit (v{n} directory
    written, pointer NOT flipped) must NOT be treated as applied: the
    replay re-merges off the old pointer."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from hive_server_spark.streaming.incremental import ParquetStateStore

    ev = order_events(spark, SF_SMALL)
    b0 = ev.where(F.col("seq") % 2 == 0)
    b1 = ev.where(F.col("seq") % 2 == 1)

    store = ParquetStateStore(str(tmp_path), "/ckpt/replay")

    def on_batch(df, batch_id):
        store.apply(batch_id, partial_fold(df), merge_partials)

    assert not store.already_applied(0)  # empty store: nothing applied
    on_batch(b0, 0)
    assert store.already_applied(0)
    assert not store.already_applied(1)
    after_b0 = _rows(materialize_orders(store.latest(spark)))

    on_batch(b0, 0)  # replay of a fully committed batch: must be a no-op
    assert _rows(materialize_orders(store.latest(spark))) == after_b0
    assert store.versions() == [0]

    on_batch(b1, 1)
    final = _rows(materialize_orders(store.latest(spark)))
    assert final == _rows(fold_order_events(ev))  # still equals the batch fold

    on_batch(b1, 1)  # replay of the newest batch: also a no-op
    assert _rows(materialize_orders(store.latest(spark))) == final

    # torn commit: v2 directory exists but the pointer still names v1 —
    # the batch is NOT applied and the replay must redo the merge
    torn = os.path.join(store.root, "v2")
    os.makedirs(torn, exist_ok=True)
    assert not store.already_applied(2)
    shutil.rmtree(torn)


@pytest.mark.parametrize("chunks", [1, 3])
def test_cms_stream_equals_batch_sketch(spark, chunks):
    """The incremental CMS grid must equal the one-pass batch sketch under
    any micro-batch chunking — cell-wise SUM is a monoid."""
    from pyspark.sql import functions as F

    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.streaming_pack import _cms_cells, streamed_cms

    streamed = streamed_cms(spark, SF_SMALL, chunks=chunks)
    batch = _cms_cells(load_table(spark, SF_SMALL, "events")).select(
        F.col("r").cast("bigint"),
        F.col("bucket").cast("bigint"),
        F.col("cell").cast("bigint"),
    )
    assert _rows(streamed) == _rows(batch)


@pytest.mark.parametrize("chunks", [1, 3])
def test_hll_stream_equals_batch_registers(spark, chunks):
    """The incremental HLL register table must equal the one-pass batch
    fold under any micro-batch chunking — cell-wise MAX is an idempotent
    semilattice merge."""
    from pyspark.sql import functions as F

    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.streaming_pack import _hll_registers, streamed_hll

    streamed = streamed_hll(spark, SF_SMALL, chunks=chunks)
    batch = _hll_registers(load_table(spark, SF_SMALL, "events")).select(
        "event_type",
        F.col("bucket").cast("bigint"),
        F.col("reg").cast("bigint"),
    )
    assert _rows(streamed) == _rows(batch)


@pytest.mark.parametrize("chunks", [1, 3])
def test_cusum_stream_equals_batch_drift(spark, chunks):
    """The streaming CUSUM monitor must equal the batch evt_cusum_drift
    under any micro-batch chunking — the maintained hourly table is a
    SUM monoid, and the read-side fold is the shared cusum_from_hourly."""
    from hive_server_spark.plans.events_pack import evt_cusum_drift
    from hive_server_spark.plans.streaming_pack import streamed_cusum

    streamed = streamed_cusum(spark, SF_SMALL, chunks=chunks)
    batch = evt_cusum_drift(spark, SF_SMALL)
    assert _rows(streamed) == _rows(batch)


def test_state_store_run_id_guard(spark, tmp_path):
    """Batch ids are monotonic only within ONE checkpoint lineage. A
    COMMITTED store must refuse a handle of a different lineage: when it
    is opened, and on every touch of a handle opened before the foreign
    commit — on ids behind the pointer (silent skip) AND on ids ahead of
    it (commit would silently merge foreign partials onto the state). A
    torn FIRST commit (RUN_ID written, pointer never flipped) leaves the
    store logically empty and reclaimable."""
    import os

    from hive_server_spark.streaming.incremental import ParquetStateStore

    root = str(tmp_path / "lineage")
    df = spark.range(3)

    s1 = ParquetStateStore(root, run_id="/ckpt/run-A")
    # a DIFFERENT checkpoint's handle, opened while nothing is committed
    s2 = ParquetStateStore(root, run_id="/ckpt/run-B")
    assert not s1.already_applied(0)
    s1.commit(df, 0)
    assert s1.already_applied(0)  # same lineage: normal replay detection
    assert not s1.already_applied(1)

    # resume of the SAME checkpoint via a new handle: still fine
    s1b = ParquetStateStore(root, run_id="/ckpt/run-A")
    assert s1b.already_applied(0)

    # same state dir under a DIFFERENT checkpoint: opening it raises, and
    # every touch of the earlier handle raises — behind the pointer (skip
    # hazard) and ahead of it (merge hazard)
    with pytest.raises(RuntimeError, match="different streaming checkpoint"):
        ParquetStateStore(root, run_id="/ckpt/run-B")
    with pytest.raises(RuntimeError, match="different streaming checkpoint"):
        s2.already_applied(0)
    with pytest.raises(RuntimeError, match="different streaming checkpoint"):
        s2.already_applied(5)
    with pytest.raises(RuntimeError, match="different streaming checkpoint"):
        s2.commit(df, 5)

    # torn FIRST commit: RUN_ID recorded but LATEST never flipped — the
    # store is logically empty, so a new lineage may claim it (and its
    # own restart then replays normally instead of false-raising)
    root2 = str(tmp_path / "torn")
    t1 = ParquetStateStore(root2, run_id="/ckpt/run-A")
    with open(t1._run_file, "w") as fh:  # simulate the torn claim
        fh.write("/ckpt/run-A")
    assert t1.committed_version() is None
    t2 = ParquetStateStore(root2, run_id="/ckpt/run-B")
    assert not t2.already_applied(0)  # no raise: nothing committed
    t2.commit(df, 0)
    assert t2._recorded_run_id() == "/ckpt/run-B"  # re-claimed
    t2b = ParquetStateStore(root2, run_id="/ckpt/run-B")
    assert t2b.already_applied(0)
    assert os.path.exists(t2._ptr)


def test_docs_neardup_chunk_invariance_and_oracle(spark):
    """The streaming near-dup band index must be micro-batch-boundary
    invariant (1 vs 3 doc_id-ordered chunks) and equal the batch LSH
    occupied-band rule computed directly on the corpus."""
    from pyspark.sql import functions as F

    from hive_server_spark.catalog import load_table
    from hive_server_spark.functions.text import doc_bands
    from hive_server_spark.plans.streaming_pack import streamed_docs_neardup
    from tests.conftest import SF_SMALL

    one = sorted(
        tuple(r) for r in streamed_docs_neardup(spark, SF_SMALL, chunks=1).collect()
    )
    three = sorted(
        tuple(r) for r in streamed_docs_neardup(spark, SF_SMALL, chunks=3).collect()
    )
    assert one == three and len(one) > 0

    # batch recompute of the occupied-band rule from the same band keys
    bands = doc_bands(load_table(spark, SF_SMALL, "documents"))
    bmin = bands.groupBy("band_key").agg(F.min("doc_id").alias("min_id"))
    want = sorted(
        tuple(r)
        for r in bands.join(bmin, "band_key")
        .where(F.col("min_id") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_occupied_bands"),
            F.min("min_id").cast("bigint").alias("partner_doc_id"),
        )
        .collect()
    )
    assert one == want


def test_incremental_neardup_cross_snapshot_and_intra_batch(spark, tmp_path):
    """docs_neardup_incremental must flag (a) a batch doc near-dupping a
    PRIOR-snapshot doc through the persisted parquet index, and (b) a
    batch doc near-dupping another doc of the SAME batch (the post-merge
    index rule) — and must equal the full-corpus batch LSH occupied-band
    rule restricted to the batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hive_server_spark import gate
    from hive_server_spark.functions.text import doc_bands

    dup_a = "the quick brown fox jumps over the lazy dog again and again " * 4
    dup_b = "pack my box with five dozen liquor jugs every single day now " * 4
    uniq = [
        "completely unrelated document number %d with its own words %s"
        % (i, "x" * i)
        for i in range(6)
    ]
    # ids 0..5 = prior snapshot (thr = (0+11)//2 = 5 -> prior < 5... use
    # explicit ids so the id-ordered split is unambiguous:
    # thr = (0 + 11) // 2 = 5: prior = {0..4}, batch = {5..11}
    rows = [
        (0, dup_a),      # prior copy of dup_a
        (1, uniq[0]),
        (2, uniq[1]),
        (3, uniq[2]),
        (4, uniq[3]),
        (5, uniq[4]),    # batch
        (7, dup_a),      # batch: cross-snapshot dup of doc 0
        (9, dup_b),      # batch: intra-batch dup pair (9, 11)
        (10, uniq[5]),
        (11, dup_b),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["t"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    flags = {
        r.doc_id: r
        for r in gate.spark_queries()["docs_neardup_incremental"](
            spark, str(tmp_path)
        ).collect()
    }
    assert 7 in flags and flags[7].partner_doc_id == 0   # vs persisted index
    assert 11 in flags and flags[11].partner_doc_id == 9  # intra-batch
    assert 9 not in flags  # the batch pair's EARLIER doc is the canonical
    # equivalence: full-corpus batch LSH rule restricted to the batch
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    bands = doc_bands(docs)
    bmin = bands.groupBy("band_key").agg(F.min("doc_id").alias("min_id"))
    full = (
        bands.join(bmin, "band_key")
        .where(F.col("min_id") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_occupied_bands"),
            F.min("min_id").cast("bigint").alias("partner_doc_id"),
        )
        .where(F.col("doc_id") >= 5)
    )
    expect = {r.doc_id: r for r in full.collect()}
    assert set(flags) == set(expect)
    for d in flags:
        assert (flags[d].n_occupied_bands, flags[d].partner_doc_id) == (
            expect[d].n_occupied_bands,
            expect[d].partner_doc_id,
        )


def test_media_neardup_streaming_chunk_invariance_and_oracle(spark, tmp_path):
    """The streaming MEDIA near-dup ingest: micro-batch
    boundary invariance (1 vs 3 media_id-ordered chunks), equality with
    the batch occupied-band rule recomputed from the full-corpus band
    table, planted cross-chunk dups, and DuckDB oracle parity on the
    crafted corpus AND sf0.001 (non-vacuous)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hive_server_spark.functions import multimodal as M
    from hive_server_spark.plans.streaming_pack import (
        _MEDIA_NEARDUP_STREAM_ORACLE,
        media_neardup_streaming,
        streamed_media_neardup,
    )
    from hive_server_spark.plans.multimodal_pack import _docs_wide
    from tests.conftest import SF_SMALL
    from tests.test_gate_parity import _rowset

    hdr = "shared image header streamed across chunks"
    # media-bearing docs are the doc_id % 3 == 0 slice (the corpus
    # contract in streaming_pack); 10 plants a non-media doc sharing the
    # header — it must be invisible to the ingest
    rows = [
        (9, hdr),                                 # chunk 1 (odd parity)
        (10, hdr),                                # chunk 1: NOT media-bearing
        (12, "a chunk-1-only header, distinct.."),
        (30, hdr),                                # later chunk: parity near-dup
        (33, hdr),                                # later chunk: exact dup of 9
        (45, "fresh tail header, stays unflagged"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["t"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = {
        r.media_id: (r.n_occupied_bands, r.partner_media_id)
        for r in media_neardup_streaming(spark, str(tmp_path)).collect()
    }
    assert got[33] == (4, 9)       # byte-identical image vs an earlier chunk
    assert got[30] == (3, 9)       # parity flips one band; partner holds
    assert 12 not in got and 45 not in got
    assert 10 not in got           # non-media doc: filtered before decode

    one = sorted(
        tuple(r) for r in streamed_media_neardup(spark, SF_SMALL, chunks=1).collect()
    )
    three = sorted(
        tuple(r) for r in streamed_media_neardup(spark, SF_SMALL, chunks=3).collect()
    )
    assert one == three and len(one) > 0

    # batch recompute of the occupied-band rule from the same band table,
    # over the same media-bearing slice
    from hive_server_spark.plans.streaming_pack import _MEDIA_STREAM_MOD

    bands = M.band_long(
        M.dhash_bands(
            M.synthesize_dhash_jpeg_media(
                _docs_wide(spark, SF_SMALL).where(
                    F.col("doc_id") % _MEDIA_STREAM_MOD == 0
                )
            )
        )
    )
    bmin = bands.groupBy("band_idx", "band_val").agg(
        F.min("media_id").alias("min_id")
    )
    want = sorted(
        tuple(r)
        for r in bands.join(bmin, ["band_idx", "band_val"])
        .where(F.col("min_id") < F.col("media_id"))
        .groupBy("media_id")
        .agg(
            F.count("*").cast("bigint").alias("n_occupied_bands"),
            F.min("min_id").cast("bigint").alias("partner_media_id"),
        )
        .select(
            F.col("media_id").cast("bigint").alias("media_id"),
            "n_occupied_bands",
            "partner_media_id",
        )
        .collect()
    )
    assert one == want

    # full DuckDB oracle parity (crafted + sf corpora)
    for sf_dir in (str(tmp_path), SF_SMALL):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        oracle = con.execute(_MEDIA_NEARDUP_STREAM_ORACLE)
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = media_neardup_streaming(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows) > 0, sf_dir
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), sf_dir


def test_emb_ivf_streaming_chunk_invariance_and_rebuild_equality(spark):
    """The streaming IVF census ingest: the final
    census must be micro-batch-boundary invariant (1 vs 3 vec_id-ordered
    chunks), equal emb_ivf_build's full-corpus rebuild row-for-row, and
    match the DuckDB full-rebuild oracle."""
    import duckdb

    from hive_server_spark.plans.embedding_pack import (
        _ivf_build_oracle,
        emb_ivf_build,
    )
    from hive_server_spark.plans.streaming_pack import streamed_ivf_census
    from tests.conftest import SF_SMALL

    one = {
        r.cluster_id: tuple(r)
        for r in streamed_ivf_census(spark, SF_SMALL, chunks=1).collect()
    }
    three = {
        r.cluster_id: tuple(r)
        for r in streamed_ivf_census(spark, SF_SMALL, chunks=3).collect()
    }
    assert one == three and len(one) > 0

    full = {
        r.cluster_id: tuple(r) for r in emb_ivf_build(spark, SF_SMALL).collect()
    }
    assert one == full

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    orc = {r[0]: tuple(r) for r in con.execute(_ivf_build_oracle()).fetchall()}
    assert set(orc) == set(one)
    for cid, row in one.items():
        for a, b in zip(row, orc[cid]):
            assert a == b or abs(a - b) < 1e-12, (cid, row, orc[cid])


def test_emb_pq_streaming_chunk_invariance_and_rebuild_equality(spark):
    """The streaming PQ-codes ingest: the final codes
    table must be micro-batch-boundary invariant (1 vs 3 vec_id-ordered
    chunks), equal emb_pq_codes' full-corpus rebuild row-for-row, and
    match the DuckDB full-rebuild oracle."""
    import duckdb

    from hive_server_spark.functions.embeddings import pq_codes_oracle
    from hive_server_spark.plans.embedding_pack import emb_pq_codes
    from hive_server_spark.plans.streaming_pack import streamed_pq_codes
    from tests.conftest import SF_SMALL

    one = {
        r.vec_id: tuple(r)
        for r in streamed_pq_codes(spark, SF_SMALL, chunks=1).collect()
    }
    three = {
        r.vec_id: tuple(r)
        for r in streamed_pq_codes(spark, SF_SMALL, chunks=3).collect()
    }
    assert one == three and len(one) > 0

    full = {
        r.vec_id: tuple(r) for r in emb_pq_codes(spark, SF_SMALL).collect()
    }
    assert one == full

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    orc = {r[0]: tuple(r) for r in con.execute(pq_codes_oracle()).fetchall()}
    assert orc == one


def test_layout_dv_streaming_chunk_invariance_and_oneshot_equality(spark):
    """The streaming DELETE ingest: the final
    deletion-vector report must be micro-batch-boundary invariant (1 vs
    3 event_id-ordered chunks — 3 forces files to straddle batch
    boundaries, exercising the cross-batch position offsets), equal the
    one-shot layout_deletion_vectors row-for-row, and match the DuckDB
    oracle."""
    import duckdb

    from hive_server_spark.plans.sources_pack import (
        _DV_ORACLE,
        layout_deletion_vectors,
    )
    from hive_server_spark.plans.streaming_pack import streamed_deletion_vectors
    from tests.conftest import SF_SMALL

    one = {
        r.file_id: tuple(r)
        for r in streamed_deletion_vectors(spark, SF_SMALL, chunks=1).collect()
    }
    three = {
        r.file_id: tuple(r)
        for r in streamed_deletion_vectors(spark, SF_SMALL, chunks=3).collect()
    }
    assert one == three and len(one) > 0

    oneshot = {
        r.file_id: tuple(r)
        for r in layout_deletion_vectors(spark, SF_SMALL).collect()
    }
    assert one == oneshot

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMALL}/events.parquet'"
    )
    orc = {r[0]: tuple(r) for r in con.execute(_DV_ORACLE).fetchall()}
    assert orc == one


def test_commit_seed_state_raises_before_commit(spark, tmp_path):
    """The shared batch-0 freeze helper: an incomplete seed
    set must raise WITHOUT persisting anything — latest() stays None, so
    a replayed batch 0 re-derives the seeds and re-hits the check instead
    of silently proceeding on a committed partial codebook — and a
    complete seed set commits normally."""
    import pytest

    from hive_server_spark.streaming.incremental import (
        ParquetStateStore,
        commit_seed_state,
    )

    store = ParquetStateStore(str(tmp_path / "seed"), str(tmp_path / "ckpt"))
    seeds = spark.range(3).selectExpr("id AS cid", "CAST(id AS DOUBLE) AS cv")

    with pytest.raises(ValueError, match="seed batch incomplete"):
        commit_seed_state(store, 0, seeds, 5, "unit")
    # nothing persisted: the replay contract depends on this
    assert store.latest(spark) is None
    assert store.committed_version() is None
    assert not store.already_applied(0)

    commit_seed_state(store, 0, seeds, 3, "unit")
    assert store.committed_version() == 0
    assert store.latest(spark).count() == 3


def test_every_ingest_commits_through_apply_or_seed_helper():
    """Structural audit of the streaming ingests: the package has one
    foreachBatch (streaming/incremental.py::run_stream) and one commit
    path. streaming_pack.py never commits or replay-guards a store by
    hand; a batch-0 freeze — a store written inside a
    `latest(...) is None` bootstrap branch — goes through
    commit_seed_state (which counts the seed rows BEFORE committing),
    never through apply/commit. At least 10 ingests exactly-once their
    state: at least 5 foreachBatch stores through run_stream, and at least
    5 keyed aggregates as complete-mode streams, checkpointed by Spark's
    own state store."""
    import pathlib
    import re

    import hive_server_spark
    from hive_server_spark.plans import streaming_pack

    pkg = pathlib.Path(hive_server_spark.__file__).parent
    home = pkg / "streaming" / "incremental.py"
    for path in sorted(pkg.rglob("*.py")):
        if path == home:
            continue
        text = path.read_text()
        for call in ("foreachBatch(", "already_applied(", ".commit("):
            assert call not in text, (
                f"{path.relative_to(pkg)}: `{call}` outside "
                "streaming/incremental.py — fold state through "
                "ParquetStateStore.apply / commit_seed_state and run_stream"
            )

    src = pathlib.Path(streaming_pack.__file__).read_text()
    # the seed count runs BEFORE the commit (commit_seed_state), never on
    # a store readback after it
    assert not re.search(r"latest\([^)]*\)\.count\(\)", src)
    lines = src.splitlines()
    for i, line in enumerate(lines):
        if not re.search(r"latest\([^)]*\)\s+is\s+None", line):
            continue
        # the branch body: every following line indented deeper than `if`
        indent = len(line) - len(line.lstrip())
        for nxt in lines[i + 1:]:
            if nxt.strip() and (len(nxt) - len(nxt.lstrip())) <= indent:
                break
            assert ".apply(" not in nxt and ".commit(" not in nxt, (
                f"streaming_pack.py:{i + 1}: a store is written inside a "
                "`latest(...) is None` bootstrap branch — that is a batch-0 "
                "freeze; route it through commit_seed_state"
            )

    n_runs = sum(bool(re.search(r"\brun_stream\(", ln)) for ln in lines)
    assert n_runs >= 5, f"foreachBatch ingests went missing: {n_runs} run_stream calls"
    n_aggs = sum(bool(re.search(r'\bwork, "complete"', ln)) for ln in lines)
    assert n_aggs >= 5, f"aggregate ingests went missing: {n_aggs} complete-mode streams"
    assert n_runs + n_aggs >= 10, f"ingests went missing: {n_runs} + {n_aggs}"


def test_layout_zonemap_streaming_chunk_invariance_and_batch_equality(spark):
    """The streaming zone-map maintenance: the final
    per-file statistics must be micro-batch-boundary invariant (1 vs 3
    event_id-ordered chunks — 3 forces 512-row files to straddle batch
    boundaries, exercising the cross-batch MIN/MAX/COUNT merge), and
    match the one-shot DuckDB batch derivation."""
    import duckdb

    from hive_server_spark.plans.streaming_pack import (
        _ZM_STREAM_ORACLE,
        layout_zonemap_streaming,
        streamed_zonemaps,
    )
    from tests.conftest import SF_SMALL

    one = {
        r.file_id: tuple(r)
        for r in streamed_zonemaps(spark, SF_SMALL, chunks=1).collect()
    }
    three = {
        r.file_id: tuple(r)
        for r in streamed_zonemaps(spark, SF_SMALL, chunks=3).collect()
    }
    assert one == three and len(one) > 1

    # n_rows must sum to the corpus (no file lost or double-counted on
    # the straddle merge) and every file but the last carries 512 rows
    total = sum(v[1] for v in one.values())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMALL}/events.parquet'"
    )
    assert total == con.execute("SELECT COUNT(*) FROM events").fetchone()[0]

    orc = {r[0]: tuple(r) for r in con.execute(_ZM_STREAM_ORACLE).fetchall()}
    assert orc == one

    # registered-shape smoke: the gate callable returns the same table
    got = {
        r.file_id: tuple(r)
        for r in layout_zonemap_streaming(spark, SF_SMALL).collect()
    }
    assert got == one
