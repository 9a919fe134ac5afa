"""Session-scoped memoization for shared intermediates.

Gate queries share expensive derivations (the folded orders state, the
minhash candidate table, the landed streaming input) within one
SparkSession. ``shared`` is the one cache they all go through.

Entries are keyed on ``spark.sparkContext.applicationId``, not
``id(spark)``: a stopped session's id() can be reused by a new one, which
would hand back DataFrames bound to a dead SparkContext and never release
the old entries (persisted DataFrames, temp dirs). The application id is
stable for the life of a SparkContext and fresh for every new one, and only
one SparkContext is active per process, so any entry under a *different*
application id belongs to a stopped context: it is released on the next
access.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

V = TypeVar("V")

# (applicationId, *key) -> (value, release hook or None)
_ENTRIES: dict[tuple, tuple[Any, Callable[[Any], None] | None]] = {}


def shared(
    spark: SparkSession,
    key: tuple,
    build: Callable[[], V],
    release: Callable[[V], None] | None = None,
) -> V:
    """Return the value cached under `key` for this SparkContext, calling
    `build()` on first use. A DataFrame result is persisted once and
    unpersisted when its context is gone; any other value is released
    through `release` (if given). `key` names the intermediate, so keys of
    different call sites must not collide."""
    app = spark.sparkContext.applicationId
    for stale in [k for k in _ENTRIES if k[0] != app]:
        value, hook = _ENTRIES.pop(stale)
        if hook is not None:
            try:
                hook(value)
            except Exception:
                # the owning context is already gone; releasing its
                # resources is best-effort by construction
                pass
    full = (app, *key)
    if full not in _ENTRIES:
        value = build()
        if isinstance(value, DataFrame):
            value = value.persist()
            release = DataFrame.unpersist
        _ENTRIES[full] = (value, release)
    return _ENTRIES[full][0]
