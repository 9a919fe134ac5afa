"""Bounded held-out threshold slices — the repo's ONE mechanism for
estimating per-group cut points (medians, clip bounds, bucket thresholds)
without an unbounded percentile buffer.

Exact ``percentile`` / ``quantile_cont`` is the one aggregate whose buffer
holds *every value of the group* (SCALE.md "Exact percentiles"), so a
per-group threshold computed over the whole population is an unbounded
buffer at 100 TB no matter how sound the surrounding join topology is.
The held-out policy (used by ``text_ccnet_buckets`` /
``text_quality_filter`` and by the events and relational packs)
estimates thresholds on a slice that is bounded *by
construction*:

1. **hash-mod predicate** — a seeded 32-bit md5 hash of a unique row key,
   ``pmod(hash, mod) = 0``: map-side, shuffle-free, deterministic at any
   parallelism (CCNet itself estimates per-language cut points on a
   held-out slice this way — Wenzek 2019 §3);
2. **per-group cap** — the slice is capped at ``cap`` rows per group by
   ``(md5 draw key, row key)`` via the two-level ``grouped_topk``. The cap
   is the actual buffer bound: a bare ``% mod`` slice is still
   corpus/mod, i.e. unbounded. Ordering by the md5 draw key makes the
   capped subset a uniform random sample of the group's slice, not a
   key-ordered prefix;
3. **global fallback** — groups with no held-out row fall back to the
   global held-out thresholds (one broadcast row), so the downstream
   filter never silently drops a group for lack of evidence.

``held_cte_d`` is the DuckDB spelling of the *identical* slice (same
hash, same draw key, same cap tiebreak), so the driver's value-hash gate
stays bit-exact between engines.

Consumers: plans/text_pack.py (CCNet buckets, quality filter),
plans/events_pack.py (MAD outliers), plans/relational.py (winsorization
bounds, MAD by priority, the approx-sketch audit band).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_server_spark.functions.text import hash_expr


def heldout_pred(key: str, seed: str, mod: int, dialect: str) -> str:
    """The seeded hash-mod slice predicate over row-key expression `key`,
    spelled for Spark ('s') or DuckDB ('d'). Both spellings reduce the
    same md5-derived BIGINT modulo `mod` into [0, mod)."""
    h = hash_expr(key, seed, dialect)
    if dialect == "s":
        return f"pmod({h}, {mod}) = 0"
    return f"(({h}) % {mod} + {mod}) % {mod} = 0"


def capped_heldout(
    df: DataFrame,
    group: str,
    value: str,
    seed: str,
    mod: int,
    cap: int,
    key: str = "doc_id",
) -> DataFrame:
    """Spark side: hash-mod slice (map-side predicate) + per-group cap via
    the two-level grouped_topk — every percentile buffer downstream holds
    ≤ cap rows per group at any corpus size.

    `key` is a SQL expression string uniquely identifying a row (a plain
    column like 'doc_id' / 'o_orderkey', or a composite expression for
    tables without a single-column key); it drives both the slice hash
    and the deterministic cap tiebreak.

    The slice is returned persist()-marked: every consumer aggregates it
    at least twice (per-group thresholds + the global fallback; the MAD
    queries four times, through the deviation table), and without the
    cache each aggregate re-runs the full upstream scan + top-k (7
    scans of `orders` in one rel_mad_by_priority plan). The slice is
    bounded by construction (≤ cap rows per group), so pinning it costs
    O(groups × cap) memory at ANY corpus size — the one kind of
    intermediate that is always safe to cache. Spark's CacheManager
    dedups persist() of an identical plan, so re-invoking a gate query
    re-uses the entry instead of stacking new ones."""
    from hive_server_spark.operators.topk import grouped_topk

    return grouped_topk(
        df.where(F.expr(heldout_pred(key, seed, mod, "s"))).select(
            group,
            F.md5(F.expr(key).cast("string")).alias("draw_key"),
            F.expr(key).alias("_hk"),
            value,
        ),
        group_cols=[group],
        sort_cols=["draw_key", "_hk"],
        payload_cols=[value],
        k=cap,
    ).persist()


def held_cte_d(
    src: str,
    group: str,
    value: str,
    seed: str,
    mod: int,
    cap: int,
    key: str = "doc_id",
) -> str:
    """DuckDB `held` CTE: the identical capped held-out slice — seeded
    hash-mod predicate, then the first `cap` rows per `group` by
    (md5 draw key, row key). ONE spelling for every bounded-threshold
    query so the held-out policy is one mechanism, not per-query copies."""
    return (
        f"held AS (\n"
        f"  SELECT {group}, {value},"
        f" md5(CAST({key} AS VARCHAR)) AS draw_key,"
        f" {key} AS _hk\n"
        f"  FROM {src} WHERE {heldout_pred(key, seed, mod, 'd')}\n"
        f"  QUALIFY row_number() OVER (PARTITION BY {group}"
        f" ORDER BY draw_key, _hk) <= {cap}\n"
        f")"
    )
