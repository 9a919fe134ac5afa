"""Correctness-gate registry primitives.

Query packs (gate.py core order-book queries, plans/* relational & events
packs, functions/* text & embedding packs) register here; the driver entry
point `__spark_entry__.py` exposes the merged view.

Conventions that make cross-engine value-hashing reliable (see gate.py):
- exact types end-to-end (DECIMAL/BIGINT/STRING/DATE/BOOLEAN), with doubles
  produced only by (a) a single exact-decimal→double cast, or (b) an IEEE
  op sequence that is bit-identical in Spark and DuckDB (in-order fold,
  sqrt, a single division);
- identical column aliases on both sides (driver sorts columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_SPARK_QUERIES: dict[str, QueryFn] = {}
_ORACLE_SQL: dict[str, str] = {}

# The correctness driver verifies the FIRST 50 entries of `queries()` in
# iteration order each round. With >50 registered queries, which 50 get a
# driver-green CORRECTNESS row is a per-round choice: round 2 verified the
# core order-book + relational half, so round 3 surfaces the other half
# (dedup / embeddings / events / text / sources / udf / multimodal /
# streaming) first. `set_driver_priority` pins that front slice explicitly;
# names not listed keep registration order after it. Local parity coverage
# is unaffected — tests/test_gate_parity.py always runs ALL oracle-backed
# queries regardless of this ordering.
_DRIVER_PRIORITY: list[str] = []


def set_driver_priority(names: list[str]) -> None:
    """Pin which query names surface first in queries()/oracle_sql() order."""
    _DRIVER_PRIORITY[:] = names


def _ordered(d: dict) -> dict:
    pri = [n for n in _DRIVER_PRIORITY if n in d]
    head = set(pri)
    return {n: d[n] for n in (*pri, *(k for k in d if k not in head))}


def register(name: str, oracle: str | None = None):
    """Decorator: register a gate query under `name`, with its DuckDB
    oracle if given. Returns the function unchanged."""

    def deco(fn: QueryFn) -> QueryFn:
        _SPARK_QUERIES[name] = fn
        if oracle is not None:
            _ORACLE_SQL[name] = oracle
        return fn

    return deco


def spark_queries() -> dict[str, QueryFn]:
    return _ordered(_SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(_ORACLE_SQL)
