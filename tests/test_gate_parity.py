"""Cross-engine parity: every gate query must produce identical rows under
Spark and under its DuckDB oracle SQL at sf0.001 — a local replica of the
driver's CORRECTNESS check (BASELINE.md t2 gate), run on every pytest.

After the collect, the plan that ran must match the query's PLANS.md row
(`scripts/explain_audit.py`): a new sort-merge join, cartesian product,
shuffle, scan or Python node in any query shows up as a changed count.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from hive_server_spark import gate
from hive_server_spark.schemas import DRIVER_TABLES
from scripts.explain_audit import plan_counts, read_plans
from tests.conftest import SF_SMALL


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        return ("f", math.floor(v * 1e9) if math.isfinite(v) else str(v))
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # key=repr: total order even with None/mixed cells; equality still exact
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


@pytest.mark.parametrize("name", sorted(gate.oracle_sql()))
def test_gate_query_matches_duckdb(spark, name):
    sql = gate.oracle_sql()[name]
    con = _duck(SF_SMALL)
    oracle = con.execute(sql)
    o_cols = [d[0] for d in oracle.description]
    o_rows = oracle.fetchall()

    sdf = gate.spark_queries()[name](spark, SF_SMALL)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    assert sorted(s_cols) == sorted(o_cols), f"{name}: column mismatch"
    assert len(s_rows) == len(o_rows), f"{name}: row count {len(s_rows)} != {len(o_rows)}"
    # an empty result matches its oracle vacuously — every gate query must
    # exercise real rows even at the smallest scale factor
    assert len(s_rows) > 0, f"{name}: empty result (vacuous parity)"
    assert _rowset(s_cols, s_rows) == _rowset(o_cols, o_rows), f"{name}: value mismatch"

    row = read_plans().get(name)
    assert row is not None, f"{name}: no PLANS.md row; rerun scripts/explain_audit.py"
    changed = {
        col: f"{row.get(col)} -> {n}" for col, n in plan_counts(sdf).items() if row.get(col) != n
    }
    assert not changed, (
        f"{name}: final plan differs from PLANS.md {changed}; "
        "if intended, rerun scripts/explain_audit.py and commit PLANS.md"
    )
