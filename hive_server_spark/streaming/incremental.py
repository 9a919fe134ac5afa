"""Streaming incremental view maintenance of the `orders` state (SURVEY §2.9).

The reference maintains order state by mutating Redis per event inside a
block-triggered micro-batch loop with an in-memory cursor (reference
src/services/block-event-manager.ts:39-92, src/services/hive-listener.ts:
144-221); a crash loses the cursor (SURVEY ST6). Spark-first replacement:

    readStream(order_events) → partial_fold (operators/fold.py)
    → Spark's own state store (a native complete-mode aggregation), or a
      foreachBatch MERGE into a versioned parquet state table when a batch
      must read post-merge state (the CDC fold, streaming/cdc.py)

The state value per (pool_address, order_id) keeps, for every order field,
the pair (seq-of-last-set, value) — `max(struct(seq, value))` over non-null
updates. That makes the per-batch partial fold a *commutative, associative
monoid*: merging batch states in ANY batch partitioning yields the same
final state as the batch recompute (operators/fold.py). This is the formal
version of the reference's "skipped blocks are caught up as a range"
semantics (ST1) — and the property the equivalence tests pin down.

Checkpointing replaces the reference's in-memory `lastProcessedBlock`
cursor, strictly improving ST6 (no event loss on crash).

Scale posture (the foreachBatch form): each micro-batch does one
hash-aggregate of the batch (small) plus an outer-join merge against current
state partitioned on the state key; with state bucketed by (pool_address)
the merge is a co-partitioned join. State never leaves executors; the
driver only tracks the version pointer.
"""

from __future__ import annotations

import functools
import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# materialize_orders is re-exported: perfbench/workload_ingest.py imports
# it from here
from hive_server_spark.operators.fold import _FIELDS, materialize_orders  # noqa: F401


@functools.cache
def _merge_columns() -> tuple[Column, ...]:
    """`merge_partials`' select list over the `s`/`b` aliased join, built
    once per process: a micro-batch only binds it."""
    return (
        F.col("pool_address"),
        F.col("order_id"),
        *[
            F.greatest(F.col(f"s.p_{f}"), F.col(f"b.p_{f}")).alias(f"p_{f}")
            for f in _FIELDS
        ],
        F.least(F.col("s.created_ts"), F.col("b.created_ts")).alias("created_ts"),
        F.greatest(F.col("s.created_seq"), F.col("b.created_seq")).alias("created_seq"),
        F.greatest(F.col("s.has_created"), F.col("b.has_created")).alias("has_created"),
    )


def merge_partials(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Monoid merge of two partial states: full-outer join on the state key;
    per field keep the (seq, v) pair with the larger seq (greatest() skips
    nulls). Commutative and associative — batch boundaries cannot change the
    result."""
    s, b = state.alias("s"), batch.alias("b")
    joined = s.join(b, ["pool_address", "order_id"], "full_outer")
    return joined.select(*_merge_columns())


class ParquetStateStore:
    """Versioned parquet state table: each batch writes the full state as
    `v{n}`, and the pointer file flips last — never read and overwrite the
    same files in one job. Batch ids are monotonic within one checkpoint
    lineage, and ``apply`` makes re-delivered batches exactly-once.

    It holds the state of the foreachBatch folds that read post-merge
    state or a frozen seed inside a batch: the orders fold with CDC
    (streaming/cdc.py), the docs and media near-dup indexes, the IVF
    census and PQ codes, and the deletion vectors
    (plans/streaming_pack.py). A pure keyed aggregate — the orders fold
    without CDC included — needs none of that and runs as a native
    complete-mode streaming aggregation on Spark's own state store
    instead.

    Every commit keeps its ``v{n}`` directory: the versions are the time
    travel history ``at_version`` reads. Nothing prunes them; a store
    lives as long as its stream's scratch directory.

    Every version of a store has the same columns, so a handle infers the
    schema once, on its first read (a Spark job over the parquet footers),
    and passes it to every later ``latest`` / ``at_version`` read, which
    then submits no job. A commit whose columns differ drops the memo.

    Scale note: each commit rewrites the full state — correct and atomic,
    but O(state). The production-scale variants, in order of preference:
    (a) a Delta/Iceberg MERGE target (transactional, row-level);
    (b) state partitioned by pool bucket (`pmod(hash(pool_address), B)`)
        with dynamic partition overwrite, rewriting only buckets touched by
        the batch — O(touched state), at the cost of non-atomic
        multi-bucket commits.
    Plain versioned parquet keeps this repo dependency-free."""

    def __init__(self, root: str, run_id: str):
        """`run_id` binds this store handle to one streaming checkpoint's
        identity (callers pass the checkpoint dir). Batch ids are only
        monotonic WITHIN one checkpoint lineage — a fresh checkpoint
        restarts them at 0, so replaying a fresh stream onto an
        already-committed store would silently skip every batch (the
        `already_applied` guard would read them all as replays). The first
        commit records the identity; a handle bound to another lineage is
        refused here, before its stream starts, and again on every touch."""
        self.root = root
        self.run_id = run_id
        self._schema: StructType | None = None
        os.makedirs(root, exist_ok=True)
        self._check_lineage("open")

    @property
    def _ptr(self) -> str:
        return os.path.join(self.root, "LATEST")

    @property
    def _run_file(self) -> str:
        return os.path.join(self.root, "RUN_ID")

    def _recorded_run_id(self) -> str | None:
        if not os.path.exists(self._run_file):
            return None
        with open(self._run_file) as fh:
            return fh.read().strip()

    def _read(self, spark: SparkSession, version: int) -> DataFrame:
        path = os.path.join(self.root, f"v{version}")
        if self._schema is not None:
            return spark.read.schema(self._schema).parquet(path)
        df = spark.read.parquet(path)
        self._schema = df.schema
        return df

    def latest(self, spark: SparkSession) -> DataFrame | None:
        b = self.committed_version()
        if b is None:
            return None
        return self._read(spark, b)

    def at_version(self, spark: SparkSession, batch_id: int) -> DataFrame:
        """Time travel: the state as of micro-batch `batch_id`. Every
        commit keeps its `v{n}` directory, so any historical version stays
        readable — the plain-parquet form of Delta/Iceberg snapshot reads.
        A version not on disk fails loudly here, not with a deep Spark
        path error."""
        if not os.path.isdir(os.path.join(self.root, f"v{batch_id}")):
            raise ValueError(
                f"state version {batch_id} is not readable; committed "
                f"versions: {self.versions()}"
            )
        return self._read(spark, batch_id)

    def versions(self) -> list[int]:
        """Committed version numbers still on disk, ascending."""
        out = []
        for name in os.listdir(self.root):
            m = re.fullmatch(r"v(\d+)", name)
            if m is not None:
                out.append(int(m.group(1)))
        return sorted(out)

    def _check_lineage(self, action: str) -> None:
        """Raise if this handle and a COMMITTED store disagree on
        lineage. Only the pointer makes a store owned: a torn first
        commit (v0 + RUN_ID written, LATEST never flipped) is logically
        empty and a new lineage may take it over."""
        recorded = self._recorded_run_id()
        if (
            recorded is not None
            and recorded != self.run_id
            and self.committed_version() is not None
        ):
            raise RuntimeError(
                f"state store {self.root} was committed under a different "
                f"streaming checkpoint ({recorded!r} != {self.run_id!r}); "
                f"refusing to {action} across lineages — batch ids are "
                "only monotonic within one checkpoint. Use a new state_dir "
                "or resume the original checkpoint."
            )

    def commit(self, df: DataFrame, batch_id: int) -> None:
        """Commit `df` as the full state at `batch_id`: write `v{n}`
        (overwrite, so a replayed torn commit is idempotent), then flip
        the pointer."""
        # a handle never merges onto a foreign lineage's committed
        # state — without this, a mis-pointed stream whose batch ids run
        # AHEAD of the pointer would silently corrupt the store (the
        # already_applied guard alone only catches ids at-or-behind it)
        self._check_lineage("commit")
        if self._schema is not None and (
            df.schema.simpleString() != self._schema.simpleString()
        ):
            self._schema = None  # other columns: the next read infers again
        version = f"v{batch_id}"
        df.write.mode("overwrite").parquet(os.path.join(self.root, version))
        if self._recorded_run_id() is None or self.committed_version() is None:
            # claim (or re-claim after a torn first commit) the store
            rtmp = self._run_file + ".tmp"
            with open(rtmp, "w") as fh:
                fh.write(self.run_id)
            os.replace(rtmp, self._run_file)
        tmp = self._ptr + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(version)
        os.replace(tmp, self._ptr)

    def committed_version(self) -> int | None:
        """The batch id the LATEST pointer currently names, or None before
        the first commit. Only the pointer counts: a `v{n}` directory
        without a flipped pointer is a torn commit and must be redone."""
        if not os.path.exists(self._ptr):
            return None
        with open(self._ptr) as fh:
            return int(fh.read().strip().lstrip("v"))

    def already_applied(self, batch_id: int) -> bool:
        """Replay guard: True iff the committed state already reflects
        `batch_id`. Batch ids are monotonic, so pointer >= batch_id means
        this batch (and everything before it) is in. A torn commit —
        `v{batch_id}` written, pointer not flipped — returns False so the
        replay re-merges off the old pointer and rewrites the directory
        (write mode is overwrite).

        The pointer-vs-batch-id comparison is only sound within ONE
        checkpoint lineage, so a handle whose run id disagrees with a
        COMMITTED store's raises instead — whether the incoming batch id
        is behind the pointer (would silently skip) or ahead of it (commit
        would silently merge across lineages; the commit path re-checks
        too)."""
        self._check_lineage("touch")
        last = self.committed_version()
        return last is not None and last >= batch_id

    def apply(self, batch_id: int, part: DataFrame, merge) -> None:
        """Fold micro-batch `batch_id`'s partial state `part` into the
        store — the one exactly-once step of every foreachBatch state
        store: commit `part` on the first batch and ``merge(prev, part)``
        after that. An append store passes ``DataFrame.unionByName``.

        Replay discipline: foreachBatch is at-least-once. A job that dies
        AFTER the commit but BEFORE the streaming checkpoint commits gets
        the same batch re-delivered on restart with the same batch_id (the
        Structured Streaming replay contract); merging it again would
        double-count sums and duplicate appends, so a batch the pointer
        already covers is skipped. A batch feeding two stores applies
        each in turn: a crash between the two commits replays into a skip
        of the first and a fresh commit of the second, from the same
        inputs."""
        if self.already_applied(batch_id):
            return
        prev = self.latest(part.sparkSession)
        self.commit(part if prev is None else merge(prev, part), batch_id)


# py4j's CALLBACK channel (the JVM→Python path every foreachBatch batch
# rides) occasionally dies with a reset/garbled socket under local[32]
# load — observed as "Error while sending a command" / "Received empty
# command" / "Connection reset" wrapped in FOREACH_BATCH_USER_FUNCTION_
# ERROR. It is an infrastructure flake, not a data error, and every
# foreachBatch in this repo is built to survive a restart anyway: the
# checkpoint resumes the stream and `ParquetStateStore.apply` (replay
# guard, torn-commit re-merge) makes re-delivered batches exactly-once.
# So the house policy is: retry the stream, never the data.
_TRANSIENT_PY4J = (
    "Error while sending a command",
    "Received empty command",
    "Connection reset",
    "Py4JNetworkException",
)


def is_transient_py4j(exc: BaseException) -> bool:
    msg = str(exc)
    return any(t in msg for t in _TRANSIENT_PY4J)


# Raised by start_query() when a stalled predecessor's stop() failed or
# exceeded its stopTimeout and the JVM-side query is still winding down:
# starting on the same checkpoint reports the query as already active.
# Retryable by construction — the stall path above already waited
# (bounded) for isActive to clear, so by the next attempt the handle has
# normally been released.
_RETRYABLE_START = (
    "already active",
    "CONCURRENT_QUERY",
)


def is_retryable_start(exc: BaseException) -> bool:
    msg = str(exc)
    return any(t in msg for t in _RETRYABLE_START)


class StreamStalled(RuntimeError):
    """An active stream made no progress for the stall window — the
    silent twin of the transient py4j flake: the callback channel can
    also WEDGE (no exception, the JVM-side batch blocks on a Python
    invocation that never answers), which a bare awaitTermination() waits
    on forever. Raised after q.stop() so the checkpoint-resuming retry
    path treats it exactly like the noisy flake."""


# Generous: the whole sketch family runs in <30 s, so 300 s is a 10x
# margin — sized against the false-positive cost, because lastProgress
# only advances at BATCH completion: a healthy batch that simply runs
# long looks identical to a wedge, and stopping it re-does its work from
# the checkpoint on every retry. The wedge case stays bounded at
# attempts x window instead of infinite.
_STALL_WINDOW_S = 300.0


def _await_bounded(
    q, stall_s: float = _STALL_WINDOW_S, settle_s: float = 30.0
) -> None:
    """awaitTermination with liveness: poll in 5 s slices and track the
    last committed batchId via lastProgress. An ACTIVE query whose
    progress is frozen for `stall_s` is stopped and reported as
    StreamStalled (the retry resumes its checkpoint). A query exception
    still surfaces through awaitTermination's own raise."""
    import time as _time

    last_mark = None  # (batchId, runId) of the newest progress seen
    last_change = _time.monotonic()
    while True:
        if q.awaitTermination(5):
            return
        prog = q.lastProgress
        mark = (prog.get("batchId"), prog.get("runId")) if prog else None
        if mark != last_mark:
            last_mark = mark
            last_change = _time.monotonic()
        elif _time.monotonic() - last_change > stall_s:
            try:
                q.stop()
            except Exception:
                pass  # the retry's fresh start supersedes a wedged stop
            # A failed or timed-out stop() can leave the query ACTIVE, and
            # the retry's start on the same checkpoint would then fail with
            # the non-transient CONCURRENT_QUERY error instead of resuming.
            # Wait (bounded by settle_s) for the handle to clear before
            # handing control to the retry; if it never clears, the retry's
            # start-side 'already active' match keeps the remaining attempts.
            deadline = _time.monotonic() + settle_s
            while _time.monotonic() < deadline:
                try:
                    if not q.isActive:
                        break
                except Exception:
                    break  # dead handle == not active
                _time.sleep(min(1.0, settle_s / 4))
            raise StreamStalled(
                f"stream made no progress for {stall_s:.0f}s "
                f"(last batch mark {last_mark}); stopped for retry"
            )


def await_stream_with_retry(start_query, attempts: int = 3, backoff_s: float = 2.0):
    """Start + await an availableNow stream via `start_query()` (a thunk
    returning a started StreamingQuery), retrying on the transient py4j
    callback-channel failure documented above — in BOTH its forms: the
    noisy one (socket reset surfaces as an exception) and the silent one
    (the channel wedges and the stream freezes mid-batch; detected by the
    bounded await's stall window). Starting the stream is itself a py4j
    round-trip, so the start call sits INSIDE the retry.

    Exactly-once across retries holds only if the thunk re-uses the SAME
    checkpoint (and state) directory on every call — `writer.start` (see
    `run_stream`) does; a thunk that mints a fresh checkpoint per call
    would recompute from scratch and must not be passed here."""
    import sys as _sys
    import time as _time

    last: BaseException | None = None
    for attempt in range(attempts):
        try:
            q = start_query()
            _await_bounded(q)
            return
        except StreamStalled as e:
            last = e
            # every swallowed recovery prints: a bench wave or verify run
            # that paid a stall window must say so in its log, or the
            # next timing disposition is guesswork. On the final attempt
            # no retry follows — say so, and skip the pointless backoff
            # sleep before the re-raise.
            if attempt == attempts - 1:
                print(
                    f"await_stream_with_retry: attempt {attempt + 1}/"
                    f"{attempts} stalled, giving up after {attempts} "
                    f"attempts: {e}",
                    file=_sys.stderr,
                    flush=True,
                )
                break
            print(
                f"await_stream_with_retry: attempt {attempt + 1}/{attempts} "
                f"stalled, resuming from checkpoint: {e}",
                file=_sys.stderr,
                flush=True,
            )
            _time.sleep(backoff_s)
        except Exception as e:
            if not (is_transient_py4j(e) or is_retryable_start(e)):
                raise
            last = e
            if attempt == attempts - 1:
                print(
                    f"await_stream_with_retry: attempt {attempt + 1}/"
                    f"{attempts} hit transient py4j failure, giving up "
                    f"after {attempts} attempts: {type(e).__name__}",
                    file=_sys.stderr,
                    flush=True,
                )
                break
            print(
                f"await_stream_with_retry: attempt {attempt + 1}/{attempts} "
                f"hit transient py4j failure, restarting: "
                f"{type(e).__name__}",
                file=_sys.stderr,
                flush=True,
            )
            _time.sleep(backoff_s)
    assert last is not None
    raise last


def commit_seed_state(
    store: ParquetStateStore,
    batch_id: int,
    seed_df: DataFrame,
    expected_rows: int,
    what: str,
) -> None:
    """Freeze batch 0's seed state (an IVF coarse quantizer, a PQ
    sub-codebook — any id-windowed bootstrap artifact) into `store`,
    verifying completeness BEFORE the commit.

    The count must run on the un-committed seed DataFrame: counting the
    store AFTER commit leaves a hole — a transient py4j failure between
    the commit and the count replays batch 0, `latest()` is no longer
    None, the freeze branch is skipped, and the run proceeds on the
    committed incomplete codebook with no error. Raising pre-commit means
    an incomplete seed state is never persisted, so every replay
    re-derives the seed set and re-hits this check. A batch-0 freeze goes
    through this helper, never through `apply` — tests/test_streaming.py
    audits plans/streaming_pack.py for it."""
    n_seed = seed_df.count()
    if n_seed != expected_rows:
        raise ValueError(
            f"{what} seed batch incomplete: batch 0 carried {n_seed} of "
            f"the {expected_rows} seed rows; increase the batch size or "
            f"reduce chunks"
        )
    store.commit(seed_df, batch_id)


def file_stream(spark: SparkSession, path: str) -> DataFrame:
    """A file stream over the landed parquet directory `path`, one
    micro-batch per file (maxFilesPerTrigger=1, in file mtime order),
    with the schema of the landed files."""
    return (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def run_stream(stream: DataFrame, checkpoint_dir: str, on_batch) -> None:
    """Drive `stream` to completion (availableNow) through
    ``on_batch(batch_df, batch_id)`` — the package's one foreachBatch.
    `on_batch` changes its stores (each bound to `checkpoint_dir`) only
    through ``ParquetStateStore.apply`` or ``commit_seed_state``, so the
    checkpoint-resuming retry is exactly-once. ``writer.start`` is looked
    up here, at call time, and the retry calls it again on a restart."""
    writer = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    await_stream_with_retry(writer.start)

