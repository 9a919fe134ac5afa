"""Data-quality validation: declarative row constraints → violation report.

A training-data pipeline gates every ingest behind constraint checks (null
rates, value ranges, set membership, cross-column implications). This
operator evaluates ALL rules in one scan — each rule is a boolean column,
the report is a single aggregate — so validating N rules costs one pass
regardless of N, and the rule predicates stay Catalyst expressions (pushdown
/ codegen apply as usual, no Python).

`check()` returns one row per rule: rows checked, violations, pass flag.
`violations()` returns the offending rows for one rule (bounded by `limit`
— at 100 TB you sample the evidence, never collect the failure set).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    name: str
    predicate: Column  # True ⇔ the row PASSES


def check(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """One row per rule: (rule, n_rows, n_violations, passed)."""
    # NULL predicate results count as violations (SQL three-valued logic
    # would otherwise let null-laden rows pass every range check silently)
    agg = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(
                F.when(F.coalesce(r.predicate, F.lit(False)), 0).otherwise(1)
            ).alias(f"_v_{i}")
            for i, r in enumerate(rules)
        ],
    )
    per_rule = [
        F.struct(
            F.lit(r.name).alias("rule"),
            F.col("_n").cast("bigint").alias("n_rows"),
            F.coalesce(F.col(f"_v_{i}"), F.lit(0)).cast("bigint").alias("n_violations"),
        )
        for i, r in enumerate(rules)
    ]
    return (
        agg.select(F.explode(F.array(*per_rule)).alias("r"))
        .select("r.rule", "r.n_rows", "r.n_violations")
        .withColumn("passed", F.col("n_violations") == 0)
    )


def violations(df: DataFrame, rule: Rule, limit: int = 100) -> DataFrame:
    """Evidence sample for one failing rule (null results are failures)."""
    return df.where(~F.coalesce(rule.predicate, F.lit(False))).limit(limit)


def _report_row(name: str, counts: DataFrame) -> DataFrame:
    """Project a (n_rows, n_violations) single-row aggregate into the
    report shape (rule, n_rows, n_violations, passed) — everything stays
    in the plan; the driver materializes the unioned report once."""
    return counts.select(
        F.lit(name).alias("rule"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_violations").cast("bigint").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def fk_check(
    name: str,
    fact: DataFrame,
    fk: str,
    dim: DataFrame,
    pk: str,
) -> DataFrame:
    """One-row referential-integrity report for fact.fk -> dim.pk:
    (rule, n_rows, n_violations, passed), violations = fact rows whose
    key resolves to NO dim row. A NULL foreign key never matches (SQL
    equality semantics on both engines), so it counts as a violation —
    the same no-silent-pass rule `check` applies to range predicates.

    The anti-join is the scale-correct shape: Catalyst broadcasts a
    small dim (nation/region/part) and falls back to a key-partitioned
    shuffle for fact-fact references (lineitem -> orders) — exactly the
    strategy split a 100 TB constraint suite needs, chosen by stats
    rather than hand-scheduling."""
    viol = (
        fact.join(dim.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    tot = fact.agg(F.count(F.lit(1)).alias("n_rows"))
    return _report_row(name, tot.crossJoin(viol))


def fk_suite(
    fact: DataFrame, checks: list[tuple[str, str, DataFrame, str]]
) -> DataFrame:
    """Referential report for SEVERAL foreign keys of the SAME fact table in
    ONE pass: each dim's distinct key set left-joins in
    with a hit marker, and a single aggregate counts every check's misses
    together — N checks cost one fact scan instead of the 2N scans of the
    per-check (anti-join + total-count) pair, the same all-rules-one-scan
    rule `check()` applies to row constraints. A NULL foreign key never
    matches, so it lands in the miss count exactly as in `fk_check`. Join
    strategies stay stats-chosen per dim (broadcast for small dims, shuffle
    for fact-fact edges). `checks` rows are (rule, fk, dim, pk)."""
    j = fact.select(*[fk for _rule, fk, _dim, _pk in checks])
    for i, (_rule, fk, dim, pk) in enumerate(checks):
        keys = (
            dim.select(F.col(pk).alias(fk))
            .distinct()
            .withColumn(f"_hit_{i}", F.lit(1))
        )
        j = j.join(keys, fk, "left")
    agg = j.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(
                F.when(F.col(f"_hit_{i}").isNull(), 1).otherwise(0)
            ).alias(f"_v_{i}")
            for i in range(len(checks))
        ],
    )
    rows = [
        F.struct(
            F.lit(rule).alias("rule"),
            F.col("_n").cast("bigint").alias("n_rows"),
            F.coalesce(F.col(f"_v_{i}"), F.lit(0))
            .cast("bigint")
            .alias("n_violations"),
        )
        for i, (rule, _fk, _dim, _pk) in enumerate(checks)
    ]
    return (
        agg.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.rule", "r.n_rows", "r.n_violations")
        .withColumn("passed", F.col("n_violations") == 0)
    )


def unique_check(name: str, df: DataFrame, key: str) -> DataFrame:
    """One-row key-uniqueness report: violations = n_rows minus the
    distinct non-null key count, so duplicate AND null keys both count."""
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count_distinct(F.col(key))).alias(
            "n_violations"
        ),
    )
    return _report_row(name, agg)
