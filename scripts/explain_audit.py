"""Physical-plan audit: run every registered query and write one PLANS.md
row of operator counts from the plan that actually ran.

The counts come from a structural walk of the final adaptive plan
(`plan_counts`), not from formatted-plan text: once a plan has executed,
that text holds both the final and the initial plan, and the initial one
chooses joins from size estimates that AQE later overrides.
`tests/test_gate_parity.py` collects each query and asserts its counts
equal its PLANS.md row, so a change that alters any query's plan reruns
this script and commits PLANS.md with it:

    python scripts/explain_audit.py

The run uses the tier-1 test settings (sf0.001, the `tests/conftest.py`
session) and the parity test's query order.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PLANS_MD = os.path.join(ROOT, "PLANS.md")

# physical node class -> the PLANS.md column that counts it; every exec of
# the python package (Arrow/batch UDFs, mapInPandas, grouped maps) counts
# as "python"
_COLUMN_OF = {
    "SortMergeJoinExec": "SMJ",
    "CartesianProductExec": "cartesian",
    "BroadcastHashJoinExec": "BHJ",
    "BroadcastNestedLoopJoinExec": "BNLJ",
    "FileSourceScanExec": "pq scans",  # parquet ones only
    "ShuffleExchangeExec": "shuffles",
    "BroadcastExchangeExec": "broadcasts",
}
COLUMNS = (*_COLUMN_OF.values(), "python")
_PYTHON_PKG = "org.apache.spark.sql.execution.python."


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def plan_counts(df) -> dict[str, int]:
    """Count the COLUMNS node classes in `df`'s executed plan. Call it after
    an action: an adaptive plan is followed into its current (after the
    action, final) plan, a query stage into the plan it wraps, a cached
    scan into the cached relation's plan (at every reference), and every
    node into its subquery plans. Reused exchanges and subqueries are
    leaves, so shared work is counted where it first runs."""
    counts = dict.fromkeys(COLUMNS, 0)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getName()
        name = cls.rsplit(".", 1)[-1]
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        col = _COLUMN_OF.get(name)
        if name == "FileSourceScanExec":
            if node.relation().fileFormat().toString() != "Parquet":
                col = None
        elif col is None and cls.startswith(_PYTHON_PKG):
            col = "python"
        if col is not None:
            counts[col] += 1
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return counts


def read_plans() -> dict[str, dict[str, int]]:
    """PLANS.md rows: query name -> {column: count}."""
    header, rows = None, {}
    with open(PLANS_MD) as fh:
        for line in fh:
            if not line.startswith("| "):
                continue
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if header is None:
                header = cells[1:]
            else:
                rows[cells[0]] = dict(zip(header, map(int, cells[1:])))
    return rows


def main() -> None:
    from hive_server_spark import gate
    from tests.conftest import SF_SMALL, tier1_session

    spark = tier1_session()
    spark.sparkContext.setLogLevel("ERROR")
    queries = gate.spark_queries()
    rows = []
    for name in sorted(gate.oracle_sql()):
        df = queries[name](spark, SF_SMALL)
        df.collect()
        counts = plan_counts(df)
        rows.append(f"| {name} | " + " | ".join(str(counts[c]) for c in COLUMNS) + " |")
        print(rows[-1], flush=True)

    lines = [
        "# PLANS — final physical plans (generated by scripts/explain_audit.py)",
        "",
        f"Scale: `{SF_SMALL}` (sf0.001), in the tier-1 test session",
        "(`tests/conftest.py`), queries collected in the parity test's order.",
        "Each row counts the node classes of the plan that ran: the final",
        "adaptive plan, followed into query stages, cached relations (at every",
        "reference) and subqueries. Columns: sort-merge joins, cartesian",
        "products, broadcast-hash joins, broadcast nested-loop joins, parquet",
        "file scans, shuffle exchanges, broadcast exchanges and Python-eval",
        "nodes (Arrow/batch UDFs, mapInPandas, grouped and cogrouped maps).",
        "`tests/test_gate_parity.py` asserts every query's row after its",
        "collect. A change that alters a plan reruns",
        "`python scripts/explain_audit.py` and commits this file with it.",
        "",
        "| query | " + " | ".join(COLUMNS) + " |",
        "|---|" + "---|" * len(COLUMNS),
        *rows,
    ]
    with open(PLANS_MD, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {PLANS_MD} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
