"""Connected-components dup clustering: transitivity, canonical choice,
singleton handling — verified against a Python union-find on the same pairs."""

from __future__ import annotations

from hive_server_spark.catalog import load_table
from hive_server_spark.functions import text as T
from hive_server_spark.functions.clusters import connected_components, dup_clusters
from tests.conftest import SF_SMALL


def _union_find(pairs, n_docs):
    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min member of each component
    comp = {}
    for d in range(n_docs):
        comp.setdefault(find(d), []).append(d)
    out = {}
    for members in comp.values():
        canon = min(members)
        for m in members:
            out[m] = canon
    return out


def test_clusters_match_union_find(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    n_docs = docs.count()
    cands = T.minhash_candidates(docs)
    pairs = [(r.doc_a, r.doc_b) for r in cands.collect()]
    assert pairs

    got = {r.doc_id: r.cluster_id for r in dup_clusters(docs, cands).collect()}
    want = _union_find(pairs, n_docs)
    assert got == want

    # canonical flags: exactly one per cluster, and it is the min member
    rows = dup_clusters(docs, cands).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        canons = [m for m in members if m.is_canonical]
        assert len(canons) == 1 and canons[0].doc_id == cid == min(m.doc_id for m in members)


def test_connected_components_exact_on_long_chains(spark):
    """Labels are exact however deep a component is: a 30-node path whose
    min sits at one end (29 hops of propagation), a star, and two disjoint
    paths, one of them labelled from its high end, against the
    union-find."""
    path = [(i, i + 1) for i in range(100, 129)]
    star = [(200, 200 + k) for k in range(1, 12)]
    two_paths = [(300 + i, 301 + i) for i in range(5)] + [
        (407 - i, 406 - i) for i in range(7)
    ]
    pairs = path + star + two_paths
    nodes = {n for p in pairs for n in p}
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(
            spark.createDataFrame(pairs, "doc_a long, doc_b long")
        ).collect()
    }
    want = _union_find(pairs, max(nodes) + 1)
    assert got == {n: want[n] for n in nodes}
