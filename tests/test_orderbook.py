"""Order-book golden tests — SURVEY §5.2: bid desc / ask asc, FIFO within
level, total_volume = Σ(amount − filled) over active orders, tombstones
excluded (mirrors reference src/models/order-book.ts:202-349).
"""

from __future__ import annotations

import json
from decimal import Decimal as D

from hive_server_spark.operators import serving
from hive_server_spark.operators.fold import fold_order_events
from hive_server_spark.operators.orderbook import price_levels, top_levels
from tests.conftest import ev


def _fixture(make_events):
    rows = [
        # two BUY orders at 100 (FIFO: order 1 then 3), one at 99
        ev(seq=1, event_type="OrderCreated", order_id=1, trader="T1", price=100,
           amount=50, order_type="BUY"),
        ev(seq=2, event_type="OrderCreated", order_id=2, trader="T2", price=99,
           amount=10, order_type="BUY"),
        ev(seq=3, event_type="OrderCreated", order_id=3, trader="T3", price=100,
           amount=30, order_type="BUY"),
        # SELL side: 101, 102
        ev(seq=4, event_type="OrderCreated", order_id=4, trader="T4", price=101,
           amount=20, order_type="SELL"),
        ev(seq=5, event_type="OrderCreated", order_id=5, trader="T5", price=102,
           amount=40, order_type="SELL"),
        # partial fill on order 1: volume at 100 becomes (50-20) + 30 = 60
        ev(seq=6, event_type="OrderFilled", order_id=1, filled=20, remaining=30),
        # cancel order 2: level 99 disappears
        ev(seq=7, event_type="OrderCancelled", order_id=2),
    ]
    return fold_order_events(make_events(rows))


def test_price_levels_golden(make_events):
    lv = {(r.order_type, str(r.price)): r for r in price_levels(_fixture(make_events)).collect()}
    assert set(lv) == {("BUY", "100.000000000000000000"),
                       ("SELL", "101.000000000000000000"),
                       ("SELL", "102.000000000000000000")}
    buy100 = lv[("BUY", "100.000000000000000000")]
    assert buy100.total_volume == D(60)
    assert buy100.order_count == 2
    assert buy100.order_ids == [1, 3]  # FIFO by creation seq


def test_top_levels_depth(make_events):
    lv = price_levels(_fixture(make_events))
    top1 = top_levels(lv, depth=1).collect()
    sides = {r.order_type: r for r in top1}
    assert sides["BUY"].price == D(100)   # best bid = max price
    assert sides["SELL"].price == D(101)  # best ask = min price


def test_order_book_assembly(make_events):
    book = serving.order_book_json(_fixture(make_events), "pool_0", depth=20).collect()
    assert len(book) == 1
    b = json.loads(book[0].json)
    assert [x["price"] for x in b["bids"]] == ["100.000000000000000000"]
    assert [x["price"] for x in b["asks"]] == ["101.000000000000000000",
                                               "102.000000000000000000"]
    assert D(b["asks"][0]["totalVolume"]) == D(20)


def test_trade_tick_flow_python_recompute(spark):
    """Lee-Ready tick/carry recomputed in python from the same executed
    prints: per-pool signed counts and the exact signed fill imbalance."""
    from collections import defaultdict
    from decimal import Decimal

    from hive_server_spark.gate import q_trade_tick_flow
    from hive_server_spark.sources.synthetic import order_events
    from tests.conftest import SF_SMALL

    prints = (
        order_events(spark, SF_SMALL)
        .where("event_type = 'MarketOrderExecuted'")
        .select("pool_address", "seq", "price", "filled_amount")
        .collect()
    )
    per_pool = defaultdict(list)
    for r in prints:
        per_pool[r.pool_address].append(r)
    expected = {}
    for pool, rows in per_pool.items():
        rows.sort(key=lambda r: r.seq)
        sign, stats = None, defaultdict(int)
        ofi = buy = sell = Decimal(0)
        for i, r in enumerate(rows):
            tick = None
            if i > 0:
                prev = rows[i - 1].price
                tick = 1 if r.price > prev else (-1 if r.price < prev else 0)
                if tick:
                    sign = tick
            stats["n_trades"] += 1
            stats["n_upticks"] += tick == 1
            stats["n_downticks"] += tick == -1
            if sign is None:
                stats["n_unsigned"] += 1
            elif sign == 1:
                stats["n_buys"] += 1
                ofi += r.filled_amount
                buy += r.filled_amount
            else:
                stats["n_sells"] += 1
                ofi -= r.filled_amount
                sell += r.filled_amount
        expected[pool] = (
            stats["n_trades"], stats["n_buys"], stats["n_sells"],
            stats["n_unsigned"], stats["n_upticks"], stats["n_downticks"],
            float(ofi), float(buy), float(sell),
        )
    got = q_trade_tick_flow(spark, SF_SMALL).collect()
    assert {r.pool_address for r in got} == set(expected)
    for r in got:
        assert (
            r.n_trades, r.n_buys, r.n_sells, r.n_unsigned,
            r.n_upticks, r.n_downticks, r.ofi_filled, r.buy_filled,
            r.sell_filled,
        ) == expected[r.pool_address], r.pool_address


def test_trade_price_ewma_python_recompute(spark):
    """Sequential EWMA over the last 100 LatestPrice updates per pool,
    recomputed in python as the literal recursion — the fold must equal
    ewma_i = a*p_i + (1-a)*ewma_{i-1} seeded with the oldest price in the
    window."""
    from collections import defaultdict

    from hive_server_spark.gate import _EWMA_N, q_trade_price_ewma
    from hive_server_spark.sources.synthetic import order_events
    from tests.conftest import SF_SMALL

    rows = (
        order_events(spark, SF_SMALL)
        .where("event_type = 'LatestPrice'")
        .selectExpr("pool_address", "seq", "CAST(price AS DOUBLE) AS p")
        .collect()
    )
    hist = defaultdict(list)
    for r in rows:
        hist[r.pool_address].append((r.seq, r.p))
    expected = {}
    for pool, seqd in hist.items():
        seqd.sort()
        win = [p for _, p in seqd[-_EWMA_N:]]
        acc = win[0]
        for x in win[1:]:
            acc = 0.2 * x + (1.0 - 0.2) * acc
        expected[pool] = (len(win), win[-1], acc)
    got = {r.pool_address: r for r in q_trade_price_ewma(spark, SF_SMALL).collect()}
    assert set(got) == set(expected)
    for pool, (n, last, acc) in expected.items():
        r = got[pool]
        assert (r.n_used, r.last_price) == (n, last)
        assert r.ewma == acc, pool  # bit-identical in-order fold
