"""Invariants of the scale-probe corpus builder (scripts/scale_probe.py).

Every SCALE.md "Measured scaling" row rests on the claim that the
synthesized MULTx corpus preserves the semantic shape of the base corpus
(join selectivity, state cardinality, per-row text statistics) while
avoiding synthetic duplicate structure. This file pins those invariants on
a small 3x build off sf0.001, so a probe-builder regression cannot silently
turn the tables into noise.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from hive_server_spark.catalog import load_table  # noqa: E402
from tests.conftest import SF_SMALL  # noqa: E402

MULT = 3


@pytest.fixture(scope="module")
def scaled_dir(spark, tmp_path_factory):
    import scale_probe

    old = scale_probe.BASE_DIR
    scale_probe.BASE_DIR = SF_SMALL
    tmp = str(tmp_path_factory.mktemp("probe_inv"))
    try:
        scale_probe.build_scaled_dir(spark, tmp, MULT)
        yield tmp
    finally:
        scale_probe.BASE_DIR = old


def test_fact_tables_scale_and_dims_do_not(spark, scaled_dir):
    for t in ("orders", "lineitem", "events", "documents", "embeddings"):
        assert (
            load_table(spark, scaled_dir, t).count()
            == MULT * load_table(spark, SF_SMALL, t).count()
        ), t
    for t in ("region", "nation"):
        assert (
            load_table(spark, scaled_dir, t).count()
            == load_table(spark, SF_SMALL, t).count()
        ), t


def test_fk_join_selectivity_preserved(spark, scaled_dir):
    """Every scaled orders row must still hit exactly one customer row —
    fk shifts ride the owning pk stride, so per-row join fan-out is
    unchanged (the property that keeps join-shaped probe ratios honest)."""
    o = load_table(spark, scaled_dir, "orders").select("o_custkey")
    c = load_table(spark, scaled_dir, "customer").select("c_custkey")
    n_orders = o.count()
    assert o.join(c, o.o_custkey == c.c_custkey).count() == n_orders


def test_event_modular_structure_preserved(spark, scaled_dir):
    """order_events derivation is modular arithmetic on event_id (pool =
    id % 3, order = id % 120); the stride is a multiple of 120, so the
    scaled log has MULTx events per (pool, order) — state cardinality
    constant, fold input scaled: the exact 100 TB shape."""
    base = {
        r.m: r.n
        for r in load_table(spark, SF_SMALL, "events")
        .selectExpr("event_id % 120 AS m")
        .groupBy("m")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    big = {
        r.m: r.n
        for r in load_table(spark, scaled_dir, "events")
        .selectExpr("event_id % 120 AS m")
        .groupBy("m")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert set(big) == set(base)
    assert all(big[m] == MULT * n for m, n in base.items())


def test_document_token_multiset_preserved_but_grams_distinct(spark, scaled_dir):
    """Each copy's text is a keyed shuffle of the base tokens plus one
    'rep{i}' suffix token: per-row token MULTISET identical (so profile
    stats see identical work), while cross-copy bigram sets diverge (so
    duplicate-structure operators see linear, not C(mult,2), work)."""
    base = {
        r.doc_id: r.text
        for r in load_table(spark, SF_SMALL, "documents").collect()
    }
    big = {
        r.doc_id: r.text
        for r in load_table(spark, scaled_dir, "documents").collect()
    }
    n_base = len(base)
    probe_ids = sorted(base)[:20]
    for d in probe_ids:
        for i in range(1, MULT):
            copy_text = big[d + i * _doc_stride(n_base)]
            toks = copy_text.split(" ")
            assert toks[-1] == f"rep{i}"
            assert Counter(toks[:-1]) == Counter(base[d].split(" ")), (d, i)
            bg = lambda ts: set(zip(ts, ts[1:]))
            base_toks = base[d].split(" ")
            if len(base_toks) >= 8:
                overlap = len(bg(toks[:-1]) & bg(base_toks))
                assert overlap < len(bg(base_toks)), (d, i)


def _doc_stride(n_docs: int) -> int:
    stride = n_docs  # max(doc_id)+1
    return stride + (-stride) % 120


def test_embedding_copies_leave_buckets(spark, scaled_dir):
    """The per-(copy, dim) perturbation must spread copies across LSH
    buckets instead of stacking them (a uniform offset would not)."""
    from hive_server_spark.functions import embeddings as E

    b = {
        r.vec_id: r.bucket
        for r in E.lsh_buckets(load_table(spark, scaled_dir, "embeddings"))
        .collect()
    }
    n = load_table(spark, SF_SMALL, "embeddings").count()
    stride = n + (-n) % 120
    moved = sum(
        1
        for vid, bk in b.items()
        if vid >= stride and b.get(vid % stride) is not None
        and bk != b[vid % stride]
    )
    copies = sum(1 for vid in b if vid >= stride)
    assert copies and moved / copies > 0.5, (moved, copies)
