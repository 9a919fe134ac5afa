"""Physical-plan regression guards: the scale posture (pushdown, pruning,
broadcast joins) is asserted, not just documented — a future change that
silently drops a pushed filter, widens a scan, or flips a dimension join to
sort-merge fails here before it ships. Every query's join, exchange, scan
and Python-node counts are checked against PLANS.md by
`tests/test_gate_parity.py`."""

from __future__ import annotations

import re

from hive_server_spark import gate
from tests.conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = gate.spark_queries()[name](spark, SF_SMALL)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(spark, "rel_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and max(s.count(":") for s in schemas) <= 7  # 7 of 11 cols


def test_star_join_broadcasts_dimensions(spark):
    plan = _plan(spark, "rel_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at minimum
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fold_reads_only_needed_event_columns(spark):
    plan = _plan(spark, "orders_state")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    # the derivation needs event_id, ts, user_id — never value/props
    assert schemas and all(s.count(":") <= 3 for s in schemas)
    assert "value" not in "".join(schemas)


def test_survivor_set_joins_are_not_hint_forced(spark):
    """The three survivor-set joins (boilerplate lines, duplicated grams,
    bigram head counts) must NOT carry a broadcast hint: the survivor side
    is data-dependent and corpus-derived — huge on real web corpora — so a
    forced broadcast OOMs at exactly the scale these operators target.
    Without the hint Spark's size stats / AQE still elect a
    broadcast when the set genuinely is small; hint-free is the contract.
    The hint survives analysis as ResolvedHint, so its absence in the
    analyzed plan proves no F.broadcast() wrap anywhere in the query."""
    for name in ("text_line_dedup", "text_dup_spans", "text_bigram_nll"):
        df = gate.spark_queries()[name](spark, SF_SMALL)
        analyzed = str(df._jdf.queryExecution().analyzed())
        assert "ResolvedHint" not in analyzed, f"{name}: forced join hint"
        assert "UnresolvedHint" not in analyzed, f"{name}: unresolved hint"


def test_topk_uses_bounded_sort(spark):
    """orderBy+limit style top-k must not global-sort unbounded data: the
    rank filter appears over a window, or TakeOrderedAndProject is used."""
    plan = _plan(spark, "evt_top_users")
    assert "TakeOrderedAndProject" in plan or "row_number" in plan


def test_packing_prefix_sum_is_two_level(spark):
    """text_token_shards / text_pack_windows must never run a doc-level
    window partitioned only by source (that caps parallelism at the source
    count, a 100 TB scale-killer). The
    two-level rewrite keeps exactly one source-only window — the running
    offset over per-bucket SUBTOTALS (ordered by bucket) — while the window
    that touches document rows partitions on (source, bucket)."""
    for name in ("text_token_shards", "text_pack_windows"):
        plan = _plan(spark, name)
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, f"{name}: no window found"
        doc_level = [s for s in specs if "doc_id" in s]
        assert doc_level and all("bucket" in s for s in doc_level), (
            f"{name}: doc-level window no longer bucket-partitioned: {doc_level}"
        )
        source_only = [s for s in specs if "doc_id" not in s]
        assert all("bucket" in s for s in source_only), (
            f"{name}: offset window must order by bucket subtotals: {source_only}"
        )
