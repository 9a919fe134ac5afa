"""Dedup: banded LSH candidates, the occupied-band rule, and duplicate-cluster
resolution.

Banded LSH (MinHash bands over text, 16-bit fingerprint bands over media)
keys every item by a few bucket columns. Two decisions come out of those
rows, and each is spelled once here, keyed by the bucket columns `keys` and
the item id column `id`:

- candidate pairs — `bucket_pairs`, the bucket self-join, after
  `cap_buckets`, the adversarial-bucket guard;
- the occupied-band rule — `band_index` maps each bucket to the MIN id in
  it, and `occupied_flags` flags an item whose bucket holds a smaller id.
  MIN is a semilattice, so the index of a union is the index of the
  indexes: the batch recompute, the persisted-index refresh
  (`split_refresh`) and the micro-batch streams (plans/streaming_pack.py)
  all reach the same flags.

Pairwise dedup (MinHash candidates / Jaccard pairs) leaves transitive
groups unresolved: A~B and B~C must collapse into one cluster {A,B,C} with
one canonical representative. That is connected components — a genuinely
iterative algorithm (the brief's non-SQL-expressible class): each round
every node adopts the smallest label among itself and its neighbors, until
no label changes.

Implementation is the standard DataFrame label-propagation loop ("small-star"
simplification): labels live in a DataFrame keyed by doc, each iteration is
one join + aggregate, and the loop stops on a fixpoint detected by a count
of changed labels. Convergence takes O(diameter) rounds — near-dup clusters
are tiny (pairs/triples), so 2-3 rounds in practice. No driver-side
collection of members; only the scalar changed-count comes back per round.

At 100 TB scale the same loop runs unchanged; for graphs with huge diameters
switch to alternating large-star/small-star (Kiveris et al.), same skeleton."""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cap_buckets(long: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Drop the rows of every bucket (`keys`) holding more than
    `max_bucket` rows — the adversarial-input guard of every bucket
    self-join: a bucket of b rows contributes C(b,2) join rows, so one
    pathological bucket (thousands of byte-identical docs or images, a
    zero-variance embedding batch) re-creates the all-pairs blowup banding
    exists to avoid. Members of a dropped bucket are (near-)identical by
    construction and belong to an exact hash-dedup pass, which handles
    them in O(b). None = uncapped (the parity-gate configuration)."""
    if max_bucket is None:
        return long
    small = (
        long.groupBy(*keys)
        .agg(F.count("*").alias("_b"))
        .where(F.col("_b") <= max_bucket)
        .select(*keys)
    )
    return long.join(small, keys, "left_semi")


def bucket_pairs(long: DataFrame, keys: list[str], id: str) -> DataFrame:
    """Distinct (`id`_a, `id`_b) pairs, a < b, of items sharing at least
    one bucket (`keys`): the LSH candidate self-join. Shuffle is on the
    bucket key; output is O(near-dups), never O(n²) outside a hot bucket
    (see `cap_buckets`)."""
    a, b = long.alias("a"), long.alias("b")
    same_bucket = reduce(and_, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])
    return (
        a.join(b, same_bucket & (F.col(f"a.{id}") < F.col(f"b.{id}")))
        .select(F.col(f"a.{id}").alias(f"{id}_a"), F.col(f"b.{id}").alias(f"{id}_b"))
        .distinct()
    )


def band_index(df: DataFrame, keys: list[str], id: str) -> DataFrame:
    """The band index: per bucket (`keys`) the MIN `id` in it. The index
    keeps the id column name, so it merges with another index by
    `band_index(a.unionByName(b), keys, id)`."""
    return df.groupBy(*keys).agg(F.min(id).alias(id))


def occupied_flags(
    bands: DataFrame, index: DataFrame, keys: list[str], id: str
) -> DataFrame:
    """The occupied-band rule: each item of `bands` (rows of `keys`, `id`)
    whose bucket's entry in `index` is a smaller id is a near-dup. Returns
    (`id`, n_occupied_bands, partner_`id`) as bigints — how many of its
    buckets an earlier item holds, and the smallest such item."""
    partner = f"partner_{id}"
    return (
        bands.join(index.withColumnRenamed(id, partner), keys)
        .where(F.col(partner) < F.col(id))
        .groupBy(id)
        .agg(
            F.count("*").cast("bigint").alias("n_occupied_bands"),
            F.min(partner).cast("bigint").alias(partner),
        )
        .select(F.col(id).cast("bigint").alias(id), "n_occupied_bands", partner)
    )


def split_refresh(
    rows: DataFrame,
    id: str,
    to_bands: Callable[[DataFrame], DataFrame],
    keys: list[str],
    index_path: str,
) -> DataFrame:
    """The cross-snapshot refresh over a persisted band index: split
    `rows` at the id midpoint (MIN + MAX) // 2, write the prior half's
    band index (`to_bands` maps rows to band rows) to `index_path`, then
    flag the batch half against the index read back from parquet with the
    batch's own index merged in — so a batch item is flagged against the
    prior corpus AND within the batch by one rule. The split is
    id-ordered, so the post-merge index equals the full-corpus index and
    the flags are the full-corpus occupied-band rule restricted to the
    batch. The prior corpus is never rescanned. The index is read back
    with the schema of the frame just written (no schema-inference job)."""
    mn, mx = rows.agg(F.min(id), F.max(id)).first()
    thr = (mn + mx) // 2  # == the oracles' integer-division threshold
    prior = band_index(to_bands(rows.where(F.col(id) < thr)), keys, id)
    prior.write.mode("overwrite").parquet(index_path)
    batch = to_bands(rows.where(F.col(id) >= thr))
    merged = band_index(
        rows.sparkSession.read.schema(prior.schema)
        .parquet(index_path)
        .unionByName(band_index(batch, keys, id)),
        keys,
        id,
    )
    return occupied_flags(batch, merged, keys, id)


# partitions of the materialized edge set: near-dup graphs are small
_GRAPH_PARTITIONS = 4


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """pairs(a, b) → (doc_id, cluster_id) where cluster_id = min doc id in
    the component. Docs absent from `pairs` are their own singleton cluster
    (join the result back to the corpus with a coalesce for those). The
    labels are exact on any graph: the loop runs until a probe sees no
    label change, however long the component's chains."""
    # materialize the edge set once and truncate its lineage: every round
    # would otherwise re-derive the candidate-pair pipeline, and each round's
    # plan would grow by the whole previous round. Near-dup edge sets are
    # O(dups) rows, so a handful of partitions beats the session default.
    edges = (
        pairs.select(F.col(a).alias("x"), F.col(b).alias("y"))
        .union(pairs.select(F.col(b).alias("x"), F.col(a).alias("y")))
        .distinct()
        .coalesce(_GRAPH_PARTITIONS)
        .localCheckpoint()  # (use checkpoint(dir) on a real cluster)
    )
    labels = (
        edges.select(F.col("x").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    def one_round(lbls):
        neighbor_min = (
            edges.join(lbls, edges.y == lbls.doc_id)
            .groupBy(F.col("x").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        return lbls.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                "new_label"
            ),
            "label",
        )

    # near-dup components are shallow (pairs/triples → diameter ≤ 2-3), so
    # propagate TWO rounds per materialization+convergence probe: halves the
    # number of Spark actions, still exact on any graph (the loop continues
    # until a probe sees zero changes)
    changed = 1
    while changed:
        stepped = one_round(one_round(labels).select(
            "doc_id", F.col("new_label").alias("label")
        )).localCheckpoint()
        changed = stepped.where(F.col("new_label") != F.col("label")).count()
        labels = stepped.select("doc_id", F.col("new_label").alias("label"))
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dup_clusters(docs: DataFrame, candidate_pairs: DataFrame) -> DataFrame:
    """Full corpus → (doc_id, cluster_id, is_canonical): connected components
    over the candidate pairs, singletons filled in from the corpus."""
    comp = connected_components(candidate_pairs)
    out = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    return out.withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
