"""ANSI-mode canary: the session deliberately runs with
spark.sql.ansi.enabled=false to match DuckDB's permissive casts
(session.py), which means a decimal overflow would return NULL silently
instead of raising. These tests re-run the decimal-heavy money paths — the
fold, the amount-out walk, the book aggregation, the rescale join — with
ANSI ON and assert bit-identical results, proving the non-ANSI runs are not
masking overflow nulls or invalid casts anywhere in those pipelines."""

from __future__ import annotations

import pytest

from hive_server_spark import gate
from tests.conftest import SF_MED

# the queries whose arithmetic carries DECIMAL money end-to-end
_DECIMAL_QUERIES = [
    "orders_state",
    "order_book_levels",
    "amount_out_buy",
    "amount_out_sell",
    "amount_out_capped",
    "pool_info_enriched",
]


class _ansi:
    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.ansi.enabled")
        self.spark.conf.set("spark.sql.ansi.enabled", "true")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.ansi.enabled", self.prev)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", _DECIMAL_QUERIES)
def test_ansi_on_matches_ansi_off(spark, name):
    q = gate.spark_queries()[name]
    off = _rows(q(spark, SF_MED))
    with _ansi(spark):
        # ANSI raises on overflow/invalid cast instead of returning NULL —
        # an exception here (or any value diff) means the permissive-mode
        # results were silently wrong
        on = _rows(q(spark, SF_MED))
    assert on == off
