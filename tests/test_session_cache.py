"""session_cache.shared semantics: applicationId keying, eviction of entries
from stopped contexts, best-effort release hooks, and persist-once for
DataFrames (id(spark) keys can collide after GC and leak persisted
DataFrames / temp dirs)."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from hive_server_spark import session_cache
from hive_server_spark.session_cache import shared


@pytest.fixture(autouse=True)
def _isolated_entries(monkeypatch):
    # a fake application id must not evict the live session's real entries
    monkeypatch.setattr(session_cache, "_ENTRIES", {})


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_memoizes_within_one_application():
    spark = _fake_spark("app-1")
    calls = []
    v1 = shared(spark, ("k",), lambda: calls.append(1) or "built")
    v2 = shared(spark, ("k",), lambda: calls.append(1) or "rebuilt")
    assert v1 == v2 == "built"
    assert len(calls) == 1


def test_distinct_keys_distinct_entries():
    spark = _fake_spark("app-1")
    a = shared(spark, ("a",), lambda: "A")
    b = shared(spark, ("b",), lambda: "B")
    assert (a, b) == ("A", "B")


def test_new_application_evicts_and_releases_old_entries():
    released = []
    shared(_fake_spark("app-1"), ("k",), lambda: "old", release=released.append)
    # same key under a NEW application id (old context stopped): must not
    # hand back the stale value, and must release the old one
    fresh = shared(_fake_spark("app-2"), ("k",), lambda: "new")
    assert fresh == "new"
    assert released == ["old"]


def test_on_evict_errors_are_swallowed():
    def boom(_):
        raise RuntimeError("context already dead")

    shared(_fake_spark("app-1"), ("k",), lambda: "old", release=boom)
    assert shared(_fake_spark("app-2"), ("k",), lambda: "new") == "new"


def test_dataframe_is_persisted_once_and_unpersisted_on_new_application(spark):
    builds = []

    def build():
        builds.append(1)
        return spark.range(10)

    df = shared(spark, ("df",), build)
    assert shared(spark, ("df",), build) is df
    assert len(builds) == 1
    assert df.is_cached
    assert df.storageLevel.useMemory or df.storageLevel.useDisk

    shared(_fake_spark("app-other"), ("df",), lambda: "unrelated")
    assert not df.is_cached
