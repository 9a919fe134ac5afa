"""Property tests for the custom join operators (operators/asof.py):
random adversarial inputs vs direct Python reference implementations.

The gate checks these against DuckDB's native ASOF JOIN / naive theta join
on the derived order_events log; this file drives the operators over inputs
the log never produces — left rows before any right row, keys with no right
side at all, exact order ties (at-or-before must see the tie), clustered and
sparse bands — so the operator contract holds beyond the gate's data shape.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F

from hive_server_spark.operators.asof import asof_join_last, seq_band_join_count


def _mk(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def _random_sides(rng, n_keys=4, n_left=40, n_right=60):
    keys = [f"k{i}" for i in range(n_keys)]
    left = [
        (rng.choice(keys), rng.randrange(0, 500), f"L{i}")
        for i in range(n_left)
    ]
    # unique (key, order) on the right — the operator's contract (the gate's
    # right side is unique-seq LatestPrice events); ties with LEFT orders are
    # generated on purpose below
    seen, right = set(), []
    while len(right) < n_right:
        k, o = rng.choice(keys), rng.randrange(0, 500)
        if (k, o) not in seen:
            seen.add((k, o))
            right.append((k, o, float(rng.randrange(100, 200))))
    # force exact-tie cases: right rows exactly at some left orders
    for k, o, _tag in left[:5]:
        if (k, o) not in seen:
            seen.add((k, o))
            right.append((k, o, float(rng.randrange(100, 200))))
    # one key with NO right rows at all
    left.append(("k_orphan", 42, "orphan"))
    return left, right


def test_asof_join_last_matches_naive(spark):
    for seed in (7, 23, 99):
        rng = random.Random(seed)
        left_rows, right_rows = _random_sides(rng)
        left = _mk(spark, left_rows, ["key", "ord", "tag"]).withColumnsRenamed(
            {"key": "pool_address", "ord": "seq"}
        )
        right = _mk(spark, right_rows, ["key", "ord", "price"]).withColumnsRenamed(
            {"key": "pool_address", "ord": "seq"}
        )
        got = {
            (r.pool_address, r.seq, r.tag): (r.asof_price, r.asof_order)
            for r in asof_join_last(
                left, right, key="pool_address", order="seq", value_cols=["price"]
            ).collect()
        }
        assert len(got) == len(left_rows), "one output row per left row"
        for k, o, tag in left_rows:
            cands = [(ro, p) for (rk, ro, p) in right_rows if rk == k and ro <= o]
            expect = max(cands) if cands else None
            g_price, g_order = got[(k, o, tag)]
            if expect is None:
                assert g_price is None and g_order is None, (k, o)
            else:
                assert (g_order, g_price) == (expect[0], expect[1]), (k, o)


def test_seq_band_join_count_matches_naive(spark):
    band = 50
    for seed in (11, 42):
        rng = random.Random(seed)
        left_rows, right_rows = _random_sides(rng, n_left=30, n_right=50)
        left = _mk(
            spark, [(k, o) for k, o, _ in left_rows], ["pool_address", "seq"]
        ).distinct()  # grouped output is per distinct (key, seq)
        right = _mk(
            spark, [(k, o) for k, o, _ in right_rows], ["pool_address", "seq"]
        )
        got = {
            (r.pool_address, r.seq): r.n_in_band
            for r in seq_band_join_count(
                left, right, key="pool_address", order="seq", band=band
            ).collect()
        }
        for k, o in {(k, o) for k, o, _ in left_rows}:
            expect = sum(
                1 for (rk, ro) in [(rk, ro) for rk, ro, _ in right_rows]
                if rk == k and abs(o - ro) <= band
            )
            assert got[(k, o)] == expect, (k, o)
        assert got[("k_orphan", 42)] == 0


def test_asof_exact_tie_is_visible(spark):
    """right row at the SAME order value as a left row must be picked
    (at-or-before semantics — the `is_left` sort tiebreak)."""
    left = _mk(spark, [("p", 10, "x")], ["pool_address", "seq", "tag"])
    right = _mk(
        spark, [("p", 10, 111.0), ("p", 9, 99.0)], ["pool_address", "seq", "price"]
    )
    (row,) = asof_join_last(
        left, right, key="pool_address", order="seq", value_cols=["price"]
    ).collect()
    assert (row.asof_order, row.asof_price) == (10, 111.0)


def test_band_join_boundary_inclusive(spark):
    left = _mk(spark, [("p", 100)], ["pool_address", "seq"])
    right = _mk(
        spark,
        [("p", 50), ("p", 150), ("p", 49), ("p", 151), ("p", 100)],
        ["pool_address", "seq"],
    )
    (row,) = seq_band_join_count(
        left, right, key="pool_address", order="seq", band=50
    ).collect()
    assert row.n_in_band == 3  # 50, 100, 150 in; 49/151 out


def test_asof_join_nearest_matches_naive(spark):
    """Nearest-in-either-direction vs a python scan: distance minimized,
    exact ties (including distance-0 right rows AT a left order) go to the
    at-or-before row, orphan keys get nulls."""
    from hive_server_spark.operators.asof import asof_join_nearest

    for seed in (11, 31, 77):
        rng = random.Random(seed)
        left_rows, right_rows = _random_sides(rng)
        left = _mk(spark, left_rows, ["key", "ord", "tag"]).withColumnsRenamed(
            {"key": "pool_address", "ord": "seq"}
        )
        right = _mk(spark, right_rows, ["key", "ord", "price"]).withColumnsRenamed(
            {"key": "pool_address", "ord": "seq"}
        )
        got = {
            (r.pool_address, r.seq, r.tag): (r.asof_price, r.asof_order)
            for r in asof_join_nearest(
                left, right, key="pool_address", order="seq", value_cols=["price"]
            ).collect()
        }
        by_key: dict[str, list[tuple[int, float]]] = {}
        for k, o, p in right_rows:
            by_key.setdefault(k, []).append((o, p))
        for k, o, tag in left_rows:
            cands = by_key.get(k, [])
            prevs = [(ro, rp) for ro, rp in cands if ro <= o]
            nexts = [(ro, rp) for ro, rp in cands if ro >= o]
            prev = max(prevs, key=lambda t: t[0]) if prevs else None
            nxt = min(nexts, key=lambda t: t[0]) if nexts else None
            if prev is None and nxt is None:
                want = (None, None)
            elif nxt is None or (
                prev is not None and o - prev[0] <= nxt[0] - o
            ):
                want = (prev[1], prev[0])
            else:
                want = (nxt[1], nxt[0])
            assert got[(k, o, tag)] == want, (seed, k, o)


def test_grouped_topk_property_random(spark):
    """grouped_topk (two-level per-group top-k) vs a direct python
    reference over random adversarial inputs: duplicate sort keys (the
    tiebreak must decide), groups smaller than k, single-row groups, and a
    partition layout the operator must be independent of."""
    from hive_server_spark.operators.topk import grouped_topk

    rng = random.Random(20260815)
    for trial in range(3):
        n_groups = rng.randrange(1, 6)
        rows = []
        for g in range(n_groups):
            for i in range(rng.randrange(1, 30)):
                # coarse scores force ties; (g, score, uid) is the contract's
                # total order
                rows.append((f"g{g}", rng.randrange(0, 8), rng.randrange(10_000)))
        rows = [(g, s, u) for g, s, u in {(g, s, u): None for g, s, u in rows}]
        k = rng.randrange(1, 5)
        df = spark.createDataFrame(
            rows, "grp string, score long, uid long"
        ).repartition(rng.randrange(1, 9))
        got = grouped_topk(
            df, group_cols=["grp"], sort_cols=["score", "uid"],
            payload_cols=[], k=k,
        ).collect()
        expected = {}
        for g, s, u in rows:
            expected.setdefault(g, []).append((s, u))
        for g in expected:
            expected[g] = sorted(expected[g])[:k]
        by_g = {}
        for r in sorted(got, key=lambda r: (r.grp, r.rk)):
            by_g.setdefault(r.grp, []).append((r.score, r.uid, r.rk))
        assert set(by_g) == set(expected), trial
        for g, exp in expected.items():
            assert [(s, u) for s, u, _ in by_g[g]] == exp, (trial, g)
            assert [rk for _, _, rk in by_g[g]] == list(range(1, len(exp) + 1))


def test_asof_join_nearest_rejects_non_integral_order(spark):
    """Contract check: the nearest-join's distance arithmetic
    runs in long, so a timestamp/date order column must fail with the
    documented TypeError up front, not a deep analysis error or silent
    wrong arithmetic."""
    import pytest

    from hive_server_spark.operators.asof import asof_join_nearest

    left = _mk(spark, [("k0", 1, "L0")], ["pool_address", "seq", "tag"]).select(
        "pool_address", F.timestamp_seconds("seq").alias("seq"), "tag"
    )
    right = _mk(spark, [("k0", 1, 5.0)], ["pool_address", "seq", "price"])
    with pytest.raises(TypeError, match="integral order column"):
        asof_join_nearest(
            left, right, key="pool_address", order="seq", value_cols=["price"]
        )
    # and the mirror: integral left, timestamp right
    left_ok = _mk(spark, [("k0", 1, "L0")], ["pool_address", "seq", "tag"])
    right_ts = right.select(
        "pool_address", F.timestamp_seconds("seq").alias("seq"), "price"
    )
    with pytest.raises(TypeError, match="integral order column"):
        asof_join_nearest(
            left_ok, right_ts, key="pool_address", order="seq", value_cols=["price"]
        )
