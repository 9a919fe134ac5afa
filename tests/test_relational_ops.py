"""Accuracy bounds for the approximate-aggregate path (no cross-engine
oracle possible: sketch implementations differ), plus the Q6 cap divergence."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_server_spark.catalog import load_table
from hive_server_spark.plans.relational import rel_approx_sketches
from tests.conftest import SF_SMALL


def test_approx_sketches_within_tolerance(spark):
    """The gate query self-reports sketch accuracy as booleans (so the
    driver hash-gates them); here we independently recompute the exact side
    and assert both the booleans and the exact columns."""
    rows = {r.s_nationkey: r for r in rel_approx_sketches(spark, SF_SMALL).collect()}
    li = load_table(spark, SF_SMALL, "lineitem")
    s = load_table(spark, SF_SMALL, "supplier")
    exact = {
        r.s_nationkey: r
        for r in (
            li.join(s, li.l_suppkey == s.s_suppkey)
            .groupBy("s_nationkey")
            .agg(F.count_distinct("l_suppkey").alias("nd"))
        ).collect()
    }
    assert rows.keys() == exact.keys()
    for k, a in rows.items():
        assert a.exact_suppliers == exact[k].nd
        assert a.hll_within_bound, f"nation {k}: HLL outside ±10% bound"
        assert a.pctl_within_bound, f"nation {k}: approx median outside slice band"


def test_amount_out_cap_reports_insufficient_when_uncapped_fills(spark):
    """Q6 divergence: with a tiny level cap the walk must consume no more
    than the capped liquidity, and strictly less than the uncapped walk
    whenever the uncapped walk needs deeper levels."""
    from hive_server_spark.operators.amount_out import amount_out
    from hive_server_spark.operators.fold import fold_order_events
    from hive_server_spark.sources.synthetic import order_events

    orders = fold_order_events(order_events(spark, SF_SMALL)).persist()
    diverged = 0
    # BUY amounts are QUOTE units (≈ price × volume per level), so scan a few
    # magnitudes — divergence appears once the walk needs deeper than 2 levels
    for amount in (500, 5_000, 20_000, 60_000):
        uncapped = {r.pool_address: r for r in amount_out(orders, "BUY", amount).collect()}
        capped = {
            r.pool_address: r
            for r in amount_out(orders, "BUY", amount, level_cap=2).collect()
        }
        assert capped.keys() == uncapped.keys()
        for k in capped:
            assert float(capped[k].consumed) <= float(uncapped[k].consumed) + 1e-9
            if capped[k].is_error and not uncapped[k].is_error:
                diverged += 1
    assert diverged >= 1, "cap=2 should visibly truncate at least one pool"


def test_bounded_threshold_fallback_and_cap_parity_events_orders(spark, tmp_path):
    """Round-10 twin of test_heldout_threshold_fallback_and_cap_parity for
    the events/relational routes through operators/heldout.py: (a) a group
    with NO held-out rows -> global-fallback thresholds; (b) a group with
    more held-out rows than the cap -> the (draw_key, key) cap binds. Full
    Spark-vs-DuckDB parity of evt_mad_outliers, evt_winsor_stats, and
    rel_mad_by_priority over crafted corpora."""
    import hashlib

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark import gate
    from hive_server_spark.plans.events_pack import (
        _MAD_HELDOUT_CAP,
        _MAD_HELDOUT_MOD,
    )
    from hive_server_spark.plans.relational import (
        _MADPRI_HELDOUT_MOD,
        _WINSOR_HELDOUT_MOD,
    )
    from tests.test_gate_parity import _rowset

    def held(key, seed, mod):
        h = int(hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:8], 16)
        return h % mod == 0

    # events: type "big" (1200 ids, held slice > cap so the cap binds) and
    # type "zz" (6 ids outside BOTH event slices -> fallback fires)
    big_ids = list(range(1200))
    assert sum(held(i, "madevt42", _MAD_HELDOUT_MOD) for i in big_ids) > _MAD_HELDOUT_CAP
    zz_ids = [
        i for i in range(100_000, 110_000)
        if not held(i, "madevt42", _MAD_HELDOUT_MOD)
        and not held(i, "winsor42", _WINSOR_HELDOUT_MOD)
    ][:6]
    ev_ids = big_ids + zz_ids
    ev_types = ["big"] * len(big_ids) + ["zz"] * len(zz_ids)
    ev_vals = [float((i * 37) % 1000) / 8.0 for i in ev_ids]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ev_ids, pa.int64()),
                "ts": pa.array([0] * len(ev_ids), pa.timestamp("us")),
                "user_id": pa.array([i % 50 for i in ev_ids], pa.int64()),
                "event_type": pa.array(ev_types, pa.string()),
                "value": pa.array(ev_vals, pa.float64()),
                "props": pa.array(["{}"] * len(ev_ids), pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    # orders: priority "1-BIG" (cap binds) and "9-LONELY" (fallback)
    lonely_keys = [
        k for k in range(200_000, 210_000)
        if not held(k, "madpri42", _MADPRI_HELDOUT_MOD)
    ][:6]
    o_keys = big_ids + lonely_keys
    o_prio = ["1-BIG"] * len(big_ids) + ["9-LONELY"] * len(lonely_keys)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(o_keys, pa.int64()),
                "o_custkey": pa.array([k % 100 for k in o_keys], pa.int64()),
                "o_orderstatus": pa.array(["O"] * len(o_keys), pa.string()),
                "o_totalprice": pa.array(
                    [float((k * 53) % 90000) / 4.0 for k in o_keys], pa.float64()
                ),
                "o_orderdate": pa.array([0] * len(o_keys), pa.timestamp("us")),
                "o_orderpriority": pa.array(o_prio, pa.string()),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet'")
    for name in ("evt_mad_outliers", "evt_winsor_stats", "rel_mad_by_priority"):
        oracle = con.execute(gate.oracle_sql()[name])
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = gate.spark_queries()[name](spark, str(tmp_path))
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows) > 0, name
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), name
    # the fallback really fired: lonely groups got global (non-null) stats
    mad = {r.event_type: r for r in gate.spark_queries()["evt_mad_outliers"](
        spark, str(tmp_path)).collect()}
    assert mad["zz"].median_value is not None and mad["zz"].mad is not None
    pri = {r.o_orderpriority: r for r in gate.spark_queries()["rel_mad_by_priority"](
        spark, str(tmp_path)).collect()}
    assert pri["9-LONELY"].median_price is not None
    # ...with the global slice's values (big is the only slice contributor)
    assert pri["9-LONELY"].median_price == pri["1-BIG"].median_price


def test_approx_sketches_empty_slice_yields_no_audit_claim(spark, tmp_path):
    """When NO lineitem row lands in the audit-band slice (constructible on
    tiny fixtures), the band is NULL and pctl_within_bound must coalesce to
    TRUE (no slice evidence -> no audit claim), never NULL -- a NULL would
    hash-mismatch the oracle's constant TRUE."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.plans.relational import (
        _SKETCH_AUDIT_MOD,
        rel_approx_sketches,
    )

    def in_slice(ok, ln):
        h = int(
            hashlib.md5(f"sketchband42:{ok}:{ln}".encode()).hexdigest()[:8], 16
        )
        return h % _SKETCH_AUDIT_MOD == 0

    rows = [
        (ok, ln) for ok in range(1, 400) for ln in (1, 2)
        if not in_slice(ok, ln)
    ][:20]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([1] * len(rows), pa.int64()),
                "l_suppkey": pa.array([r[0] % 3 + 1 for r in rows], pa.int64()),
                "l_linenumber": pa.array([r[1] for r in rows], pa.int32()),
                "l_quantity": pa.array([1.0] * len(rows), pa.float64()),
                "l_extendedprice": pa.array(
                    [100.0 + i for i in range(len(rows))], pa.float64()
                ),
                "l_discount": pa.array([0.0] * len(rows), pa.float64()),
                "l_tax": pa.array([0.0] * len(rows), pa.float64()),
                "l_returnflag": pa.array(["N"] * len(rows), pa.string()),
                "l_linestatus": pa.array(["O"] * len(rows), pa.string()),
                "l_shipdate": pa.array([0] * len(rows), pa.timestamp("us")),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([1, 2, 3], pa.int64()),
                "s_name": pa.array(["a", "b", "c"], pa.string()),
                "s_nationkey": pa.array([0, 1, 2], pa.int64()),
            }
        ),
        str(tmp_path / "supplier.parquet"),
    )
    out = rel_approx_sketches(spark, str(tmp_path)).collect()
    assert len(out) == 3
    for r in out:
        assert r.pctl_within_bound is True


def test_capped_heldout_is_partition_layout_independent(spark):
    """The policy's determinism claim at 1000 executors: the capped
    held-out slice must be IDENTICAL under any partitioning of the input
    (the hash-mod predicate is per-row, and grouped_topk's local heads
    are supersets of the true top-cap under the (draw_key, key) total
    order). Run the same slice at 1, 7, and 32 partitions and demand
    row-set equality, with a cap small enough to bind."""
    from hive_server_spark.operators.heldout import capped_heldout

    df = spark.range(0, 5000).selectExpr(
        "id AS doc_id",
        "CAST(id % 7 AS STRING) AS grp",
        "CAST((id * 37) % 1000 AS DOUBLE) / 8.0 AS val",
    )
    outs = []
    for n in (1, 7, 32):
        sliced = capped_heldout(
            df.repartition(n), "grp", "val", "layout42", 3, 50, key="doc_id"
        )
        outs.append(sorted(tuple(r) for r in sliced.collect()))
    assert outs[0] == outs[1] == outs[2]
    # the cap really bound (each group has ~238 held rows > 50)
    from collections import Counter
    per_group = Counter(r[0] for r in outs[0])
    assert all(c == 50 for c in per_group.values())


def test_dq_referential_report_violations_and_oracle(spark, tmp_path):
    """The referential-integrity suite. Crafted corpus:
    a duplicate customer key, a NULL and a dangling order FK — every
    violation class must be counted (nulls are violations, not silent
    passes). Then full DuckDB oracle parity on the sf0.001 tables."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.plans.relational import (
        _DQ_REF_ORACLE,
        dq_referential_report,
    )
    from tests.conftest import SF_SMALL

    from hive_server_spark.operators.quality import fk_check, unique_check

    cust = spark.createDataFrame(
        [(1,), (2,), (2,), (4,)], "c_custkey bigint"
    )
    orders = spark.createDataFrame(
        [(10, 1), (11, 2), (12, None), (13, 99)],
        "o_orderkey bigint, o_custkey bigint",
    )
    [u] = unique_check("cust_unique", cust, "c_custkey").collect()
    assert tuple(u) == ("cust_unique", 4, 1, False)  # the duplicate 2
    [f] = fk_check("orders_resolve", orders, "o_custkey", cust, "c_custkey").collect()
    # NULL FK and dangling 99 both count
    assert tuple(f) == ("orders_resolve", 4, 2, False)

    # sf parity: the full seven-check suite vs the DuckDB oracle
    got = sorted(
        tuple(r) for r in dq_referential_report(spark, SF_SMALL).collect()
    )
    assert len(got) == 7
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "part", "supplier",
              "nation", "region"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    orc = sorted(tuple(r) for r in con.execute(_DQ_REF_ORACLE).fetchall())
    assert got == orc
