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
    return dict(_SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLE_SQL)
