"""Serving-edge JSON shapes (S10): parseable, correctly ordered, tombstones
visible in trader views but absent from the book."""

from __future__ import annotations

import json

from hive_server_spark.operators.fold import fold_order_events
from hive_server_spark.operators import serving
from hive_server_spark.sources.synthetic import order_events
from tests.conftest import SF_SMALL


def _orders(spark):
    return fold_order_events(order_events(spark, SF_SMALL))


def test_order_book_json_shape(spark):
    orders = _orders(spark)
    pool = orders.first().pool_address
    rows = serving.order_book_json(orders, pool, depth=5).collect()
    assert len(rows) == 1
    doc = json.loads(rows[0].json)
    assert doc["pool"] == pool
    bid_prices = [float(b["price"]) for b in doc["bids"]]
    ask_prices = [float(a["price"]) for a in doc["asks"]]
    assert bid_prices == sorted(bid_prices, reverse=True)
    assert ask_prices == sorted(ask_prices)
    assert all(b["orders"] for b in doc["bids"])  # FIFO queues present


def test_order_json_includes_tombstones(spark):
    orders = _orders(spark)
    dead = orders.where("NOT active").first()
    doc = json.loads(
        serving.order_json(orders, dead.pool_address, dead.order_id).first().json
    )
    assert doc["active"] is False and doc["id"] == dead.order_id
    # money renders as strings (reference string-typed amounts, no float drift)
    assert isinstance(doc["price"], str)


def test_user_orders_json_q7(spark):
    orders = _orders(spark)
    trader = orders.where("NOT active").first().trader
    docs = [json.loads(r.json) for r in serving.user_orders_json(orders, trader).collect()]
    assert docs and any(not d["active"] for d in docs)


def _pools_dim(spark):
    return serving.pools_dim(order_events(spark, SF_SMALL))


def test_pools_json_validity_filter_and_shape(spark):
    docs = [json.loads(r.json) for r in serving.pools_json(_pools_dim(spark)).collect()]
    assert docs
    for d in docs:
        assert d["address"].startswith("pool_")
        assert set(d["baseToken"]) == {"symbol", "decimals"}
        assert d["quoteToken"]["symbol"] == "USDQ"


def test_pool_info_json_latest_price_is_string(spark):
    pools = _pools_dim(spark)
    addr = pools.first().pool_address
    (row,) = serving.pool_info_json(pools, addr).collect()
    doc = json.loads(row.json)
    assert doc["address"] == addr
    assert isinstance(doc["latestPrice"], str) and float(doc["latestPrice"]) > 0


def test_market_orders_json_history(spark):
    ev = order_events(spark, SF_SMALL)
    mo = ev.where(ev.event_type == "MarketOrderExecuted").first()
    rows = serving.market_orders_json(ev, mo.pool_address, mo.trader).collect()
    assert rows
    doc = json.loads(rows[0].json)
    assert doc["type"] in ("BUY", "SELL")
    assert isinstance(doc["price"], str) and isinstance(doc["filledAmount"], str)


def test_amount_out_json_matches_reference_shape(spark):
    from hive_server_spark.operators.amount_out import amount_out
    r = amount_out(_orders(spark), "BUY", 500)
    addr = r.first().pool_address
    (row,) = serving.amount_out_json(r, addr).collect()
    doc = json.loads(row.json)
    assert set(doc) <= {"isError", "errorMessage", "outputAmount", "prices"}
    assert isinstance(doc["outputAmount"], str)
    assert all(isinstance(p, str) for p in doc["prices"])
    assert ("errorMessage" in doc) == doc["isError"]


def test_pool_info_json_null_latest_price_omits_key(spark):
    """The serving gate oracle (plans/serving_pack._POOL_INFO_JSON_ORACLE)
    mirrors Spark's to_json null-key omission with a CASE branch that sf0.01
    data never exercises (every pool has LatestPrice events) — pin the
    omission contract itself here so a to_json behavior change surfaces as
    this failure, not a silent oracle divergence on sparser data."""
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        F.to_json(
            F.struct(
                F.lit("p").alias("address"),
                F.lit(None).cast("string").alias("latestPrice"),
            )
        ).alias("json")
    )
    (row,) = df.collect()
    assert row.json == '{"address":"p"}'  # null key dropped, no trailing comma


def test_serving_pack_json_is_parseable(spark):
    """Gate JSON rows must round-trip through a real JSON parser (the hash
    oracle checks bytes; this checks the bytes are valid JSON)."""
    from hive_server_spark.plans import serving_pack

    rows = serving_pack.q_serving_pool_info_json(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        doc = json.loads(r.json)
        assert set(doc) >= {"address", "baseToken", "quoteToken"}
        assert doc["baseToken"]["symbol"].startswith("TK")
    rows = serving_pack.q_serving_user_orders_json(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        doc = json.loads(r.json)
        assert doc["id"] == r.order_id and isinstance(doc["active"], bool)


def test_serving_order_book_json_oracle_parity_and_contract(spark):
    """The depth-20 book JSON route: byte-identical to
    the DuckDB concatenation oracle at sf0.001, parseable, bids strictly
    price-descending / asks ascending, and FIFO (created_seq) order ids
    within each level — the price-time-priority contract as a string."""
    import json as _json

    import duckdb

    from hive_server_spark.plans.serving_pack import (
        _ORDER_BOOK_JSON_ORACLE,
        q_serving_order_book_json,
    )
    from tests.conftest import SF_SMALL

    rows = sorted(
        tuple(r) for r in q_serving_order_book_json(spark, SF_SMALL).collect()
    )
    assert len(rows) > 0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMALL}/events.parquet'"
    )
    orc = sorted(
        tuple(r) for r in con.execute(_ORDER_BOOK_JSON_ORACLE).fetchall()
    )
    assert rows == orc

    saw_multi_order_level = False
    for pool, doc in rows:
        parsed = _json.loads(doc)
        assert parsed["pool"] == pool
        bid_prices = [float(b["price"]) for b in parsed["bids"]]
        ask_prices = [float(a["price"]) for a in parsed["asks"]]
        assert bid_prices == sorted(bid_prices, reverse=True)
        assert ask_prices == sorted(ask_prices)
        for lvl in parsed["bids"] + parsed["asks"]:
            assert len(lvl["orders"]) >= 1
            if len(lvl["orders"]) > 1:
                saw_multi_order_level = True
    # the FIFO-within-level contract must actually be exercised
    assert saw_multi_order_level
