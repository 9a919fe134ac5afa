"""await_stream_with_retry / _await_bounded (streaming/incremental.py) —
the transient-py4j retry in BOTH failure modes: the noisy one (socket
reset surfaces as an exception) and the silent one (the callback channel
wedges and an ACTIVE stream stops making progress, which a bare
awaitTermination() would wait on forever — observed as a 30+ minute
verify stall). Fake StreamingQuery objects keep these tests
Spark-free and sub-second."""

from __future__ import annotations

import time

import pytest

from hive_server_spark.streaming.incremental import (
    StreamStalled,
    _await_bounded,
    await_stream_with_retry,
)


class FakeQuery:
    """Scripted StreamingQuery: `script` is a list of (terminated,
    progress_mark) poll results; awaitTermination pops one per call."""

    def __init__(self, script, poll_sleep=0.0):
        self.script = list(script)
        self.poll_sleep = poll_sleep
        self.stopped = False
        self._progress = None

    def awaitTermination(self, timeout=None):
        if self.poll_sleep:
            time.sleep(self.poll_sleep)
        if not self.script:
            return True
        terminated, mark = self.script.pop(0)
        self._progress = {"batchId": mark, "runId": "r"} if mark is not None else None
        return terminated

    @property
    def lastProgress(self):
        return self._progress

    def stop(self):
        self.stopped = True


def test_await_bounded_returns_on_termination():
    q = FakeQuery([(False, 0), (False, 1), (True, 2)])
    _await_bounded(q, stall_s=60.0)
    assert not q.stopped


def test_await_bounded_stops_a_silently_wedged_stream():
    # progress frozen at batch 3 forever; generous poll budget
    q = FakeQuery([(False, 3)] * 1000, poll_sleep=0.02)
    with pytest.raises(StreamStalled):
        _await_bounded(q, stall_s=0.05)
    assert q.stopped


def test_await_bounded_progress_resets_the_stall_clock():
    # each poll advances the batch mark, then terminates: never a stall
    # even though total wall time exceeds the window several times over
    q = FakeQuery([(False, i) for i in range(10)] + [(True, 10)], poll_sleep=0.02)
    _await_bounded(q, stall_s=0.05)
    assert not q.stopped


def test_retry_restarts_after_transient_failure():
    calls = []

    def thunk():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("py4j.protocol.Py4JNetworkException: boom")
        return FakeQuery([(True, 0)])

    await_stream_with_retry(thunk, attempts=3, backoff_s=0.0)
    assert len(calls) == 2


def test_retry_does_not_swallow_real_errors():
    def thunk():
        raise RuntimeError("AnalysisException: column does not exist")

    with pytest.raises(RuntimeError, match="column does not exist"):
        await_stream_with_retry(thunk, attempts=3, backoff_s=0.0)


def test_retry_gives_up_after_attempts():
    calls = []

    def thunk():
        calls.append(1)
        raise RuntimeError("Connection reset by peer")

    with pytest.raises(RuntimeError, match="Connection reset"):
        await_stream_with_retry(thunk, attempts=3, backoff_s=0.0)
    assert len(calls) == 3


def test_stall_path_waits_for_failed_stop_to_settle():
    """A stop() that raises (or exceeds stopTimeout) can leave
    the query ACTIVE; the stall path must wait (bounded) for isActive to
    clear so the retry's start on the same checkpoint doesn't collide."""

    class StickyQuery(FakeQuery):
        def __init__(self, *a, clears_after=2, **kw):
            super().__init__(*a, **kw)
            self._active_polls = 0
            self._clears_after = clears_after

        def stop(self):
            self.stopped = True
            raise RuntimeError("Timeout waiting for stream to stop")

        @property
        def isActive(self):
            self._active_polls += 1
            return self._active_polls < self._clears_after

    q = StickyQuery([(False, 3)] * 1000, poll_sleep=0.02)
    with pytest.raises(StreamStalled):
        _await_bounded(q, stall_s=0.05, settle_s=0.5)
    assert q.stopped
    assert q._active_polls >= 2  # waited until the handle cleared


def test_retry_treats_concurrent_start_as_retryable():
    """If the wedged predecessor never released the checkpoint,
    the next start fails with CONCURRENT_QUERY / 'already active' — that
    must consume a retry attempt, not abort the remaining ones."""
    calls = []

    def thunk():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError(
                "[CONCURRENT_QUERY] Another instance of this query was just "
                "started... checkpoint is already active"
            )
        return FakeQuery([(True, 0)])

    await_stream_with_retry(thunk, attempts=3, backoff_s=0.0)
    assert len(calls) == 2


def test_retry_still_raises_non_retryable_start_errors():
    def thunk():
        raise RuntimeError("AnalysisException: column does not exist")

    with pytest.raises(RuntimeError, match="does not exist"):
        await_stream_with_retry(thunk, attempts=3, backoff_s=0.0)
