"""Similarity-search operator semantics: brute-force is the ground truth;
LSH bucketing must place identical vectors together and candidates must
rank by true cosine. Cross-engine parity is in test_gate_parity.py."""

from __future__ import annotations

import math

from hive_server_spark.catalog import load_table
from hive_server_spark.functions import embeddings as E
from tests.conftest import SF_SMALL


def _emb(spark):
    return load_table(spark, SF_SMALL, "embeddings")


def test_topk_matches_numpy_bruteforce(spark):
    import numpy as np

    rows = _emb(spark).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = vecs[0]

    def cos(a, b):
        return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))

    expected = sorted(
        ((cos(v, q), vid) for vid, v in vecs.items() if vid != 0),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    got = E.cosine_topk(_emb(spark), 0, k=10).orderBy("rk").collect()
    assert [r.vec_id for r in got] == [vid for _, vid in expected]
    for r, (c, _) in zip(got, expected):
        assert abs(r.cosine - c) < 1e-9


def test_ivf_subset_of_label(spark):
    got = E.cosine_topk(_emb(spark), 0, k=10, within_label=True).collect()
    q_label = _emb(spark).where("vec_id = 0").collect()[0].label
    assert got and all(r.label == q_label for r in got)


def test_lsh_bucket_determinism_and_range(spark):
    b = E.lsh_buckets(_emb(spark)).collect()
    assert all(0 <= r.bucket < 2**E.N_PLANES for r in b)
    again = E.lsh_buckets(_emb(spark)).collect()
    assert {r.vec_id: r.bucket for r in b} == {r.vec_id: r.bucket for r in again}


def test_lsh_hot_bucket_cap_bounds_pair_volume(spark):
    """Degenerate all-equal embedding batch (zero-variance upstream feature
    extractor): every vector projects to the same hyperplane signs, so ONE
    bucket holds all n rows and the self-join emits C(n,2) pairs no matter
    how many planes there are. The max_bucket guard drops oversized buckets
    from pair generation (their members are mutual near-dups by construction
    — exact dedup's O(b) hash path owns them); on the real corpus, where no
    bucket is oversized, the cap is a no-op."""
    n = 40
    same = [0.5] * 64
    degenerate = spark.createDataFrame(
        [(i, same, 0) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    )
    assert E.lsh_candidate_pairs(degenerate).count() == n * (n - 1) // 2
    assert E.lsh_candidate_pairs(degenerate, max_bucket=8).count() == 0
    real = _emb(spark)
    assert (
        E.lsh_candidate_pairs(real, max_bucket=10**6).count()
        == E.lsh_candidate_pairs(real).count()
    )


def test_neardup_pairs_are_true_cosines(spark):
    import numpy as np

    rows = _emb(spark).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    top = E.lsh_neardup_topk(_emb(spark), k=5).collect()
    assert len(top) == 5
    for r in top:
        a, b = vecs[r.vec_a], vecs[r.vec_b]
        true_cos = float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))
        assert abs(r.cosine - true_cos) < 1e-9
        assert r.vec_a < r.vec_b


def test_kmeans_update_hand_computed(spark):
    """2 seed centroids, 5 vectors, one Lloyd step — assignments (including
    the equidistant tie, which must break to the LOWER centroid id) and the
    fixed-point centroid means checked against hand arithmetic."""
    rows = [
        (0, [0.0, 0.0], "a"),    # seed 0
        (1, [10.0, 10.0], "a"),  # seed 1
        (2, [1.0, 1.5], "a"),    # -> cluster 0
        (3, [9.0, 8.0], "a"),    # -> cluster 1
        (4, [5.0, 5.0], "a"),    # equidistant -> tie-break to cluster 0
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {
        (r.cluster_id, r.dim): (r.n_vecs, r.sum_micro, r.centroid_micro_mean)
        for r in E.kmeans_update(emb, k=2).collect()
    }
    m = 1_000_000
    # cluster 0 = vecs {0, 2, 4}; cluster 1 = vecs {1, 3}
    assert got[(0, 0)] == (3, (0 + 1 + 5) * m, (0 + 1 + 5) * m / 3)
    assert got[(0, 1)] == (3, int(0 + 1.5 * m + 5 * m), (0 + 1.5 * m + 5 * m) / 3)
    assert got[(1, 0)] == (2, (10 + 9) * m, (10 + 9) * m / 2)
    assert got[(1, 1)] == (2, (10 + 8) * m, (10 + 8) * m / 2)


def test_semantic_dedup_planted_clusters(spark):
    """The injected scaled-copy duplicates must resolve to {k, k+1, k+2}
    clusters at every k ≡ 0 (mod 7) with min-id representatives, and every
    other vector must stay a singleton."""
    import numpy as np

    from hive_server_spark.functions.embeddings import semantic_dedup

    rng = np.random.default_rng(11)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=8)], 0) for i in range(16)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r.vec_id: r for r in semantic_dedup(emb, n_dims=8).collect()}
    assert len(got) == 16
    for k in (0, 7, 14):
        members = [m for m in (k, k + 1, k + 2) if m < 16]
        for m in members:
            assert got[m].cluster_id == k, (m, got[m])
            assert got[m].cluster_size == len(members)
            assert got[m].is_representative == (m == k)
    for v in (3, 4, 5, 6, 10, 11, 12, 13):
        assert got[v].cluster_id == v and got[v].cluster_size == 1


def test_pca_moments_match_numpy(spark):
    """Full 2080-cell check of the co-moment matrix against a numpy
    reference built with the identical floor-quantization."""
    import math

    import numpy as np

    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.embedding_pack import emb_pca_moments
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings").collect()
    Q = np.array(
        [[math.floor(float(x) * 1_000_000.0) for x in r.embedding] for r in emb],
        dtype=np.int64,
    )
    n, d = Q.shape
    S = Q.T @ Q
    sums = Q.sum(axis=0)
    rows = emb_pca_moments(spark, SF_SMALL).collect()
    assert len(rows) == d * (d + 1) // 2
    for r in rows:
        i, j = r.dim_i - 1, r.dim_j - 1
        assert r.n_vectors == n
        assert r.sum_pp == int(S[i, j])
        assert r.sum_qi == int(sums[i]) and r.sum_qj == int(sums[j])
        expect = (
            int(S[i, j]) / n - (int(sums[i]) / n) * (int(sums[j]) / n)
        ) / 1e12
        assert abs(r.cov - expect) < 1e-12
        if i == j:
            assert r.cov >= 0.0


def test_ivf_build_matches_numpy_assignment(spark):
    """Cell populations, posting checksums, and fixed-point distortion vs a
    numpy nearest-seed-centroid recompute (in-order fold emulated exactly
    by summing squared diffs left-to-right)."""
    import math

    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.embedding_pack import _IVF_K, emb_ivf_build
    from tests.conftest import SF_SMALL

    emb = {r.vec_id: [float(x) for x in r.embedding]
           for r in load_table(spark, SF_SMALL, "embeddings").collect()}
    cents = {cid: emb[cid] for cid in range(_IVF_K)}

    def d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    cells = {}
    for vid, v in emb.items():
        best = min((d2(v, cv), cid) for cid, cv in cents.items())
        c = cells.setdefault(best[1], {"n": 0, "chk": 0, "d2": 0})
        c["n"] += 1
        c["chk"] += vid
        c["d2"] += math.floor(best[0] * 1_000_000.0)
    rows = {r.cluster_id: r for r in emb_ivf_build(spark, SF_SMALL).collect()}
    assert set(rows) == set(cells)
    n_total = len(emb)
    for cid, e in cells.items():
        r = rows[cid]
        assert r.n_vecs == e["n"]
        assert r.posting_checksum == e["chk"]
        assert r.sum_d2_micro == e["d2"]
        assert abs(r.share - e["n"] / n_total) < 1e-12


def test_norm_audit_matches_python_fold(spark):
    """norm_micro is floor(sqrt(in-order ssq) * 1e6) for every vector, with
    the ssq fold emulated exactly left-to-right in python."""
    import math

    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.embedding_pack import emb_norm_audit
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings").collect()
    rows = {r.vec_id: r for r in emb_norm_audit(spark, SF_SMALL).collect()}
    for e in emb:
        acc = 0.0
        for x in e.embedding:
            acc += float(x) * float(x)
        r = rows[e.vec_id]
        assert r.ssq == acc
        assert r.norm_micro == math.floor(math.sqrt(acc) * 1_000_000.0)
        assert r.is_unit == (abs(math.sqrt(acc) - 1.0) <= 0.01)


def test_truncated_recall_vs_numpy(spark):
    """Recall@k of truncated-dim cosine top-k vs a full numpy recompute on
    a random-but-seeded corpus — set overlap, ranks, and the density
    division all exact."""
    import numpy as np

    from hive_server_spark.functions.embeddings import truncated_recall

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 64)).astype("float32")
    rows = [
        (int(i), int(i % 3), [float(x) for x in vecs[i]]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    got = {r.trunc_dims: r for r in truncated_recall(emb, k=5).collect()}
    v64 = vecs.astype("float64")

    def topk(d: int, k: int = 5) -> set[int]:
        q = v64[0, :d]
        scores = []
        for i in range(1, 40):
            x = v64[i, :d]
            scores.append(
                (float(np.dot(x, q) / (np.linalg.norm(x) * np.linalg.norm(q))), i)
            )
        scores.sort(key=lambda t: (-t[0], t[1]))
        return {i for _, i in scores[:k]}

    full = topk(64)
    for d in (8, 16, 32):
        overlap = len(topk(d) & full)
        assert got[d].n_overlap == overlap
        assert got[d].k == 5
        assert got[d].recall == overlap / 5


def test_pq_codes_vs_numpy(spark):
    """PQ assignment vs a full numpy recompute: per-subspace nearest
    sub-centroid (ties to lower id), little-endian 2-bit packing, and the
    floored micro-unit distortion sum."""
    import math

    import numpy as np

    from hive_server_spark.functions.embeddings import PQ_KSUB, PQ_M, pq_codes

    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(30, 64)).astype("float32")
    rows = [
        (int(i), int(i % 3), [float(x) for x in vecs[i]]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    got = {r.vec_id: r for r in pq_codes(emb).collect()}

    v64 = vecs.astype("float64")
    dsub = 64 // PQ_M
    bits = (PQ_KSUB - 1).bit_length()
    for i in range(30):
        code, dist = 0, 0
        for m in range(PQ_M):
            sv = v64[i, m * dsub:(m + 1) * dsub]
            best = None
            for cid in range(PQ_KSUB):
                cv = v64[cid, m * dsub:(m + 1) * dsub]
                d2 = 0.0
                for a, b in zip(sv, cv):  # in-order fold, matches the engines
                    d2 += (a - b) * (a - b)
                if best is None or (d2, cid) < best:
                    best = (d2, cid)
            code += best[1] << (bits * m)
            dist += int(math.floor(best[0] * 1e6))
        r = got[i]
        assert (r.pq_code, r.distortion_micro, r.n_subspaces) == (code, dist, PQ_M)


def test_pq_adc_topk_vs_numpy(spark):
    """ADC search vs a full numpy recompute: the (m × ksub) LUT floored to
    micro-units per entry, codes-decoded approximate distances, total-order
    top-k, and the exact re-rank distance on the survivors."""
    import math

    import numpy as np

    from hive_server_spark.functions.embeddings import (
        PQ_KSUB,
        PQ_M,
        pq_adc_topk,
    )

    rng = np.random.default_rng(29)
    vecs = rng.normal(size=(30, 64)).astype("float32")
    rows = [
        (int(i), int(i % 3), [float(x) for x in vecs[i]]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    got = {r.rank: r for r in pq_adc_topk(emb, k=5).collect()}

    v64 = vecs.astype("float64")
    dsub = 64 // PQ_M

    def fold_d2(a, b):
        d2 = 0.0
        for x, y in zip(a, b):  # in-order fold, matches the engines
            d2 += (x - y) * (x - y)
        return d2

    lut = {}
    for m in range(PQ_M):
        qsv = v64[0, m * dsub:(m + 1) * dsub]
        for cid in range(PQ_KSUB):
            cv = v64[cid, m * dsub:(m + 1) * dsub]
            lut[(m, cid)] = int(math.floor(fold_d2(qsv, cv) * 1e6))

    adc = []
    for i in range(1, 30):
        total = 0
        for m in range(PQ_M):
            sv = v64[i, m * dsub:(m + 1) * dsub]
            best = None
            for cid in range(PQ_KSUB):
                cv = v64[cid, m * dsub:(m + 1) * dsub]
                d2 = fold_d2(sv, cv)
                if best is None or (d2, cid) < best:
                    best = (d2, cid)
            total += lut[(m, best[1])]
        adc.append((total, i))
    adc.sort()
    assert len(got) == 5
    for rank, (total, i) in enumerate(adc[:5], start=1):
        r = got[rank]
        assert (r.vec_id, r.adc_micro) == (i, total)
        assert r.exact_micro == int(math.floor(fold_d2(v64[i], v64[0]) * 1e6))


def test_ivfpq_topk_vs_numpy(spark):
    """IVF-PQ vs a full numpy recompute: coarse assignment argmin, nprobe
    routing, candidate-restricted ADC with the micro-floored LUT, top-k,
    exact re-rank — every row and value."""
    import math

    import numpy as np

    from hive_server_spark.functions.embeddings import (
        IVF_NLIST,
        IVF_NPROBE,
        PQ_KSUB,
        PQ_M,
        ivfpq_topk,
    )

    rng = np.random.default_rng(31)
    vecs = rng.normal(size=(40, 64)).astype("float32")
    rows = [(int(i), int(i % 3), [float(x) for x in vecs[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    got = {r.rank: r for r in ivfpq_topk(emb, k=5).collect()}

    v64 = vecs.astype("float64")
    dsub = 64 // PQ_M

    def fold_d2(a, b):
        d2 = 0.0
        for x, y in zip(a, b):  # in-order fold, matches the engines
            d2 += (x - y) * (x - y)
        return d2

    def cell_of(i):
        return min(
            range(IVF_NLIST), key=lambda c: (fold_d2(v64[i], v64[c]), c)
        )

    probed = sorted(
        range(IVF_NLIST), key=lambda c: (fold_d2(v64[0], v64[c]), c)
    )[:IVF_NPROBE]
    lut = {}
    for m in range(PQ_M):
        qsv = v64[0, m * dsub:(m + 1) * dsub]
        for cid in range(PQ_KSUB):
            lut[(m, cid)] = int(
                math.floor(fold_d2(qsv, v64[cid, m * dsub:(m + 1) * dsub]) * 1e6)
            )

    adc = []
    for i in range(1, 40):
        cell = cell_of(i)
        if cell not in probed:
            continue
        total = 0
        for m in range(PQ_M):
            sv = v64[i, m * dsub:(m + 1) * dsub]
            best = None
            for cid in range(PQ_KSUB):
                d2 = fold_d2(sv, v64[cid, m * dsub:(m + 1) * dsub])
                if best is None or (d2, cid) < best:
                    best = (d2, cid)
            total += lut[(m, best[1])]
        adc.append((total, i, cell))
    adc.sort()
    assert 1 <= len(got) <= 5
    assert len(got) == min(5, len(adc))
    for rank, (total, i, cell) in enumerate(adc[: len(got)], start=1):
        r = got[rank]
        assert (r.vec_id, r.cell, r.adc_micro) == (i, cell, total)
        assert r.exact_micro == int(math.floor(fold_d2(v64[i], v64[0]) * 1e6))


def test_hard_negatives_numpy_recompute(spark):
    """Per-anchor cross-label top-3 must equal the numpy brute-force ranking
    (cosine desc, vec_id tiebreak), never contain the anchor's own label,
    and cover every anchor vec_id < 8."""
    import numpy as np

    rows = _emb(spark).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    labels = {r.vec_id: r.label for r in rows}

    def cos(a, b):
        return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))

    got = E.hard_negatives(_emb(spark), n_anchors=8, k=3).collect()
    by_anchor: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r.q_vec_id, r.rk)):
        assert r.label != r.q_label
        assert r.q_label == labels[r.q_vec_id]
        by_anchor.setdefault(r.q_vec_id, []).append(r)
    assert set(by_anchor) == set(range(8))
    for q_id, neg in by_anchor.items():
        expected = sorted(
            (
                (-cos(v, vecs[q_id]), vid)
                for vid, v in vecs.items()
                if labels[vid] != labels[q_id]
            ),
        )[:3]
        assert [r.vec_id for r in neg] == [vid for _, vid in expected]
        for r, (negc, _) in zip(neg, expected):
            assert abs(r.cosine - (-negc)) < 1e-9
        assert [r.rk for r in neg] == list(range(1, len(neg) + 1))


def test_ivf_recall_curve_numpy_recompute(spark):
    """Assignment (argmin over the 8 seed centroids), routing ranks, and
    recall@10 at nprobe 1/2/4 recomputed in numpy; recall must be
    monotone non-decreasing in nprobe."""
    import numpy as np

    rows = _emb(spark).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

    def fold_d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    cells = {
        vid: min(
            ((fold_d2(v, vecs[c]), c) for c in range(8)),
        )[1]
        for vid, v in vecs.items()
    }
    rank_of_cell = {
        c: i + 1
        for i, (_, c) in enumerate(
            sorted((fold_d2(vecs[0], vecs[c]), c) for c in range(8))
        )
    }
    exact10 = [
        vid
        for _, vid in sorted(
            (fold_d2(v, vecs[0]), vid) for vid, v in vecs.items() if vid != 0
        )[:10]
    ]
    got = {
        r.nprobe: r
        for r in E.ivf_recall_curve(_emb(spark), 0, k=10).collect()
    }
    assert set(got) == {1, 2, 4}
    prev = -1
    for p in (1, 2, 4):
        cand = [v for v, c in cells.items() if rank_of_cell[c] <= p and v != 0]
        hits = sum(1 for v in exact10 if rank_of_cell[cells[v]] <= p)
        r = got[p]
        assert r.n_candidates == len(cand)
        assert r.hits == hits
        assert r.recall_micro == round(1e6 * hits / 10)
        assert r.hits >= prev
        prev = r.hits


def test_bitext_mining_numpy_recompute(spark):
    """Per-zh top-1 en within the 4-plane bucket recomputed in numpy from
    the same plane literals; every zh doc sharing a bucket with >=1 en doc
    must be matched, and the pair must be the bucket's argmax cosine."""
    import numpy as np

    from hive_server_spark.catalog import load_table

    emb_rows = _emb(spark).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb_rows}
    langs = {
        r.doc_id: r.lang
        for r in load_table(spark, SF_SMALL, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    planes = [
        np.array(w, dtype=np.float64) for w in E.plane_literals(64)[: E.BITEXT_PLANES]
    ]

    def bucket(v):
        return sum((1 << p) for p, w in enumerate(planes) if float(v @ w) >= 0)

    def cos(a, b):
        return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))

    by_bucket: dict[int, list] = {}
    for vid, v in vecs.items():
        by_bucket.setdefault(bucket(v), []).append(vid)
    expected = {}
    for b, members in by_bucket.items():
        zh = [m for m in members if langs[m] == "zh"]
        en = [m for m in members if langs[m] == "en"]
        if not en:
            continue
        for z in zh:
            best = min(((-cos(vecs[z], vecs[e]), e) for e in en))
            expected[z] = (best[1], b, len(en), -best[0])
    got = {r.src_doc_id: r for r in E.bitext_mining(
        load_table(spark, SF_SMALL, "documents"), _emb(spark)
    ).collect()}
    assert set(got) == set(expected)
    for z, (e_id, b, n_cand, c) in expected.items():
        r = got[z]
        assert (r.tgt_doc_id, r.bucket, r.n_candidates) == (e_id, b, n_cand)
        assert abs(r.cosine - c) < 1e-9


def test_mmr_diverse_topk_numpy_recompute(spark):
    """Step-by-step MMR recomputed in numpy over the same top-25 pool:
    identical picks in identical order, identical micro scores; the
    diverse set must differ from the plain relevance top-5 head (the op
    must actually trade relevance for diversity on this corpus) or — if it
    ever coincides — every later pick's max-sim penalty must be zero."""
    import numpy as np

    rows = _emb(spark).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

    def cos(a, b):
        return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))

    def micro(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))

    pool = sorted(
        ((cos(v, vecs[0]), vid) for vid, v in vecs.items() if vid != 0),
        key=lambda t: (-t[0], t[1]),
    )[: E.MMR_POOL]
    rel = {vid: r for r, vid in pool}
    lam = E.MMR_LAMBDA_PCT / 100.0
    selected: list[int] = []
    expected = []
    for step in range(1, E.MMR_K + 1):
        best = None
        for vid in rel:
            if vid in selected:
                continue
            pen = max((cos(vecs[vid], vecs[s]) for s in selected), default=0.0)
            score = micro(1e6 * (lam * rel[vid] - (1 - lam) * pen))
            key = (-score, vid)
            if best is None or key < best[0]:
                best = (key, vid, score)
        selected.append(best[1])
        expected.append((step, best[1], best[2]))
    got = E.mmr_diverse_topk(_emb(spark), 0).orderBy("step").collect()
    assert [(r.step, r.vec_id, r.mmr_micro) for r in got] == expected
    top5_by_rel = [vid for _, vid in pool[: E.MMR_K]]
    if [r.vec_id for r in got] == top5_by_rel:
        assert all(
            r.mmr_micro == micro(1e6 * lam * rel[r.vec_id]) for r in got
        )


def test_semantic_decontaminate_numpy_recompute(spark):
    """Bucket routing, candidate counts, max benchmark cosine, and the
    contamination flag recomputed in numpy — including the injected
    benchmark clones, every one of which must flag contaminated with
    cosine exactly 1.0."""
    import numpy as np

    rows = _emb(spark).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    planes = [
        np.array(w, dtype=np.float64) for w in E.plane_literals(64)[: E.BITEXT_PLANES]
    ]

    def bucket(v):
        return sum((1 << p) for p, w in enumerate(planes) if float(v @ w) >= 0)

    def cos(a, b):
        return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))

    bench = {vid: v for vid, v in vecs.items() if vid % 101 == 0}
    corpus = {vid: v for vid, v in vecs.items() if vid % 101 != 0}
    for vid, v in bench.items():
        if vid % 2 == 0:
            corpus[vid + E._SEMDECON_CLONE_SHIFT] = v
    bench_by_bucket: dict[int, list] = {}
    for vid, v in bench.items():
        bench_by_bucket.setdefault(bucket(v), []).append(vid)
    got = {r.vec_id: r for r in E.semantic_decontaminate(_emb(spark)).collect()}
    assert set(got) == set(corpus)
    n_flagged = 0
    for vid, v in corpus.items():
        b = bucket(v)
        cands = bench_by_bucket.get(b, [])
        r = got[vid]
        assert (r.bucket, r.n_bench_candidates) == (b, len(cands)), vid
        if not cands:
            assert r.max_bench_cos is None and r.contaminated is None
            continue
        mx = max(cos(v, vecs[c]) for c in cands)
        assert abs(r.max_bench_cos - mx) < 1e-9
        assert r.contaminated == (r.max_bench_cos >= 0.98)
        n_flagged += r.contaminated
        if vid >= E._SEMDECON_CLONE_SHIFT:
            assert r.contaminated and r.max_bench_cos == 1.0, vid
    assert n_flagged >= 1  # the injected clones keep the positive path live


def test_ivfpq_batch_topk_vs_numpy(spark):
    """Batch IVF-PQ vs a full numpy recompute over every query: per-query
    nprobe routing, candidate restriction (self excluded), micro-floored
    per-query LUT, ADC sums, per-query top-k with (adc, vec_id)
    tie-break, and the exact re-rank column."""
    import math

    import numpy as np

    from hive_server_spark.functions.embeddings import (
        IVF_NLIST,
        IVF_NPROBE,
        PQ_KSUB,
        PQ_M,
        ivfpq_batch_topk,
    )

    rng = np.random.default_rng(47)
    n, n_queries, k = 48, 5, 3
    vecs = rng.normal(size=(n, 64)).astype("float32")
    rows = [(int(i), int(i % 3), [float(x) for x in vecs[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    got = {
        (r.qid, r.rank): r
        for r in ivfpq_batch_topk(emb, n_queries=n_queries, k=k).collect()
    }

    v64 = vecs.astype("float64")
    dsub = 64 // PQ_M

    def fold_d2(a, b):
        d2 = 0.0
        for x, y in zip(a, b):  # in-order fold, matches the engines
            d2 += (x - y) * (x - y)
        return d2

    def subcode(i, m):
        sv = v64[i, m * dsub:(m + 1) * dsub]
        return min(
            range(PQ_KSUB),
            key=lambda cid: (fold_d2(sv, v64[cid, m * dsub:(m + 1) * dsub]), cid),
        )

    cell_of = {
        i: min(range(IVF_NLIST), key=lambda c: (fold_d2(v64[i], v64[c]), c))
        for i in range(n)
    }
    expect = {}
    for qid in range(n_queries):
        probed = set(
            sorted(range(IVF_NLIST), key=lambda c: (fold_d2(v64[qid], v64[c]), c))[
                :IVF_NPROBE
            ]
        )
        lut = {
            (m, cid): int(
                math.floor(
                    fold_d2(
                        v64[qid, m * dsub:(m + 1) * dsub],
                        v64[cid, m * dsub:(m + 1) * dsub],
                    )
                    * 1e6
                )
            )
            for m in range(PQ_M)
            for cid in range(PQ_KSUB)
        }
        adc = sorted(
            (
                sum(lut[(m, subcode(i, m))] for m in range(PQ_M)),
                i,
                cell_of[i],
            )
            for i in range(n)
            if i != qid and cell_of[i] in probed
        )
        for rank, (total, i, cell) in enumerate(adc[:k], start=1):
            expect[(qid, rank)] = (
                i,
                cell,
                total,
                int(math.floor(fold_d2(v64[i], v64[qid]) * 1e6)),
            )
    assert set(got) == set(expect)
    for key, (i, cell, total, exact) in expect.items():
        r = got[key]
        assert (r.vec_id, r.cell, r.adc_micro, r.exact_micro) == (
            i,
            cell,
            total,
            exact,
        ), key


def test_ivf_incremental_equals_full_rebuild(spark):
    """The persisted-index refresh (prior census + batch-only assignment +
    k-row monoid merge) must equal emb_ivf_build's full-corpus rebuild
    row-for-row, AND the DuckDB full-rebuild oracle."""
    import duckdb

    from hive_server_spark.plans.embedding_pack import (
        _ivf_build_oracle,
        emb_ivf_build,
        emb_ivf_incremental,
    )

    incr = {r.cluster_id: tuple(r) for r in emb_ivf_incremental(spark, SF_SMALL).collect()}
    full = {r.cluster_id: tuple(r) for r in emb_ivf_build(spark, SF_SMALL).collect()}
    assert incr == full

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    orc = {r[0]: tuple(r) for r in con.execute(_ivf_build_oracle()).fetchall()}
    assert set(orc) == set(incr)
    for cid, row in incr.items():
        for a, b in zip(row, orc[cid]):
            assert a == b or abs(a - b) < 1e-12, (cid, row, orc[cid])


def test_pq_incremental_equals_full_rebuild(spark):
    """The persisted-PQ-index refresh (codebook read back, batch-only
    encode, append to prior codes) must equal emb_pq_codes' full-corpus
    rebuild row-for-row, AND the DuckDB full-rebuild oracle — the
    refresh-≡-rebuild pin the IVF census has, extended to the codes
    table."""
    import duckdb

    from hive_server_spark.functions.embeddings import pq_codes_oracle
    from hive_server_spark.plans.embedding_pack import (
        emb_pq_codes,
        emb_pq_incremental,
    )

    incr = {r.vec_id: tuple(r) for r in emb_pq_incremental(spark, SF_SMALL).collect()}
    full = {r.vec_id: tuple(r) for r in emb_pq_codes(spark, SF_SMALL).collect()}
    assert incr == full

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    orc = {r[0]: tuple(r) for r in con.execute(pq_codes_oracle()).fetchall()}
    assert orc == incr


def test_pq_train_update_matches_oracle(spark):
    """The per-subspace Lloyd iteration (PQ codebook TRAINING — the step
    between the coarse quantizer's emb_kmeans_update and pq_codes'
    encoding) must match its DuckDB oracle exactly: same seeds, same
    argmin tie-break, same floor-micro fixed-point means."""
    import duckdb

    from hive_server_spark.functions.embeddings import (
        PQ_KSUB,
        PQ_M,
        pq_train_oracle,
        pq_train_update,
    )
    from hive_server_spark.plans.embedding_pack import _emb

    got = {
        (r.subspace, r.sub_cid, r.dim): (r.n_vecs, r.sum_micro)
        for r in pq_train_update(_emb(spark, SF_SMALL)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    orc = {
        (r[0], r[1], r[2]): (r[3], r[4])
        for r in con.execute(pq_train_oracle()).fetchall()
    }
    assert got == orc
    # every subspace trains all its dims; populations sum to the corpus
    # size per (subspace, dim)
    n_vec = con.execute("SELECT COUNT(*) FROM embeddings").fetchone()[0]
    dsub = 64 // PQ_M
    for m in range(PQ_M):
        for d in range(dsub):
            pop = sum(v[0] for (sm, sc, sd), v in got.items() if sm == m and sd == d)
            assert pop == n_vec
    assert {sc for (_, sc, _) in got} <= set(range(PQ_KSUB))


def test_ivfpq_rerank_topk_contract_and_oracle(spark):
    """The two-stage IVF-PQ serve: the re-ranked
    top-k must be exactly the exact-distance re-sort of the ADC
    shortlist's head, every returned row must come FROM the shortlist,
    exact_micro must be ascending, and the whole table must match the
    wrapped DuckDB oracle."""
    import duckdb

    from hive_server_spark.functions.embeddings import (
        ivfpq_rerank_oracle,
        ivfpq_topk,
    )
    from hive_server_spark.plans.embedding_pack import (
        _emb,
        emb_ivfpq_rerank_topk,
    )

    got = [tuple(r) for r in emb_ivfpq_rerank_topk(spark, SF_SMALL).collect()]
    got.sort()
    assert len(got) == 5
    # ascending exact distance, ranks 1..k
    assert [r[0] for r in got] == [1, 2, 3, 4, 5]
    ex = [r[5] for r in got]
    assert ex == sorted(ex)
    # every re-ranked row comes from the ADC shortlist machinery: its
    # (vec_id, cell, adc_micro, exact_micro) must appear in the
    # single-stage top-20 run (same routing, same codes, same LUT)
    shortlist = {
        (r.vec_id, r.cell, r.adc_micro, r.exact_micro)
        for r in ivfpq_topk(_emb(spark, SF_SMALL), k=20).collect()
    }
    for r in got:
        assert (r[1], r[2], r[4], r[5]) in shortlist

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    orc = sorted(tuple(r) for r in con.execute(ivfpq_rerank_oracle()).fetchall())
    assert orc == got


def test_ivf_delete_maintenance_equals_rebuild_and_oracle(spark):
    """The IVF delete maintenance: subtracting the
    tombstoned slice's census partials from the persisted build census
    must equal the full rebuild over the surviving corpus — row for row
    in Spark, and against the predicate-scoped DuckDB build oracle. The
    tombstone predicate must never touch the vec_id < k seed window."""
    import duckdb

    from pyspark.sql import functions as F

    from hive_server_spark.plans.embedding_pack import (
        _IVF_DELETE_PRED,
        _IVF_K,
        _census_report,
        _ivf_build_oracle,
        _ivf_partial_census,
        emb_ivf_delete_maintenance,
    )

    assert f"vec_id >= {_IVF_K}" in _IVF_DELETE_PRED  # seeds survive

    got = sorted(
        tuple(r) for r in emb_ivf_delete_maintenance(spark, SF_SMALL).collect()
    )
    assert len(got) > 0

    # direct rebuild over the surviving corpus, same census machinery
    emb = load_table(spark, SF_SMALL, "embeddings")
    vec = E._vecs(emb).select("vec_id", "v")
    cent = vec.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    survivors = vec.where(~F.expr(_IVF_DELETE_PRED))
    want = sorted(
        tuple(r)
        for r in _census_report(_ivf_partial_census(survivors, cent)).collect()
    )
    assert got == want

    # the delete really removed something (non-vacuous subtraction)
    n_all, n_surv = vec.count(), survivors.count()
    assert n_surv < n_all
    assert sum(r[1] for r in got) == n_surv

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    orc = sorted(
        tuple(r)
        for r in con.execute(
            _ivf_build_oracle(where=f" WHERE NOT ({_IVF_DELETE_PRED})")
        ).fetchall()
    )
    assert orc == got


def _write_skewed_embeddings(tmp_path):
    """Crafted 44-vector skew corpus shared by the rebalance-plan and
    split-execute tests: seeds 0..7 at 100*e_i; members carry their
    seed's spike plus a unit off-axis component (unambiguous
    assignment). Cell 0 gets 30 extras (31*8 = 248 > 2*44 -> split into
    ceil(248/44) = 6 sub-cells), cells 1-3 get 2 extras each (keep),
    cells 4-7 stay singletons (underfull)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def vec(spike_dim, extra_dim=None):
        v = [0.0] * 64
        v[spike_dim] = 100.0
        if extra_dim is not None:
            v[extra_dim] = 1.0
        return v

    rows = [(i, vec(i), 0) for i in range(8)]
    nxt = 8
    for c, extras in [(0, 30), (1, 2), (2, 2), (3, 2)]:
        for j in range(extras):
            rows.append((nxt, vec(c, 8 + (j % 16)), 0))
            nxt += 1
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))


def test_ivf_rebalance_plan_oracle_parity_and_actions(spark, tmp_path):
    """The (unregistered) IVF rebalance plan: per-cell
    fill/action/sub-cell/priority decisions must match the DuckDB oracle
    on the sf corpus, and the exact-integer action thresholds must fire
    correctly on a crafted skewed corpus (one hot cell -> split with the
    projected sub-cell count and priority 1; singleton cells ->
    underfull; population conserved)."""
    import duckdb

    from hive_server_spark.plans.embedding_pack import (
        _IVF_K,
        emb_ivf_rebalance_plan,
    )
    from tests.ivf_oracles import _ivf_rebalance_oracle

    # --- sf corpus: full value parity with the oracle --------------------
    got = sorted(
        tuple(r) for r in emb_ivf_rebalance_plan(spark, SF_SMALL).collect()
    )
    assert len(got) == _IVF_K
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    orc = sorted(tuple(r) for r in con.execute(_ivf_rebalance_oracle()).fetchall())
    assert orc == got

    # --- crafted skew (see _write_skewed_embeddings) ---------------------
    _write_skewed_embeddings(tmp_path)

    plan = {
        r["cluster_id"]: r
        for r in emb_ivf_rebalance_plan(spark, str(tmp_path)).collect()
    }
    assert len(plan) == 8
    assert sum(r["n_vecs"] for r in plan.values()) == 44
    assert plan[0]["action"] == "split"
    assert plan[0]["n_subcells"] == 6  # ceil(31*8 / 44)
    assert plan[0]["split_priority"] == 1
    for c in (1, 2, 3):
        assert plan[c]["action"] == "keep"
        assert plan[c]["n_subcells"] == 1
        assert plan[c]["split_priority"] is None
    for c in (4, 5, 6, 7):
        assert plan[c]["action"] == "underfull"  # 1*8*2 < 44

    # crafted corpus also hash-matches the oracle (both engines decode
    # the same float32 parquet)
    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    got2 = sorted(
        tuple(r) for r in emb_ivf_rebalance_plan(spark, str(tmp_path)).collect()
    )
    orc2 = sorted(
        tuple(r) for r in con2.execute(_ivf_rebalance_oracle()).fetchall()
    )
    assert orc2 == got2


def test_ivf_split_execute_invariants_and_oracle_parity(spark, tmp_path):
    """The (unregistered) IVF split execution: the sub-cells
    must partition each flagged parent's posting list exactly (population
    + checksum conservation), the summed micro-distortion must never
    increase (the parent seed is always among the sub-seeds and floor()
    is monotone), the sub-cell count must equal the plan's projection,
    and the whole report must hash-match the DuckDB oracle — on the
    crafted skew corpus (real split work) AND the sf corpus (parity even
    when the split set is empty or small)."""
    import duckdb

    from hive_server_spark.plans.embedding_pack import (
        emb_ivf_build,
        emb_ivf_rebalance_plan,
        emb_ivf_split_execute,
    )
    from tests.ivf_oracles import _ivf_split_oracle

    _write_skewed_embeddings(tmp_path)
    sf = str(tmp_path)

    sub = emb_ivf_split_execute(spark, sf).collect()
    assert len(sub) == 6  # cell 0 split into its projected 6 sub-cells
    plan = {
        r["cluster_id"]: r for r in emb_ivf_rebalance_plan(spark, sf).collect()
    }
    census = {r["cluster_id"]: r for r in emb_ivf_build(spark, sf).collect()}

    parents = {r["parent_id"] for r in sub}
    assert parents == {
        c for c, r in plan.items() if r["action"] == "split"
    }
    for p in parents:
        rows = [r for r in sub if r["parent_id"] == p]
        # projected sub-cell count, all anchored cells non-empty
        assert len(rows) == plan[p]["n_subcells"]
        assert all(r["n_vecs"] > 0 for r in rows)
        # the parent seed anchors one sub-cell
        assert any(r["subseed_id"] == p for r in rows)
        # population + posting-checksum conservation (exact partition)
        assert sum(r["n_vecs"] for r in rows) == census[p]["n_vecs"]
        assert (
            sum(r["posting_checksum"] for r in rows)
            == census[p]["posting_checksum"]
        )
        # distortion never increases under a parent-anchored split
        assert (
            sum(r["sum_d2_micro"] for r in rows) <= census[p]["sum_d2_micro"]
        )

    # value parity with the DuckDB oracle on both corpora
    for d in (sf, SF_SMALL):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'"
        )
        got = sorted(
            tuple(r) for r in emb_ivf_split_execute(spark, d).collect()
        )
        orc = sorted(
            tuple(r) for r in con.execute(_ivf_split_oracle()).fetchall()
        )
        assert orc == got


def test_rebalance_plan_over_streamed_census_equals_batch(spark):
    """The monitor must be census-source agnostic: the plan computed
    over the streaming-maintained census (the index artifact a deployed
    monitor actually reads) must equal the plan over the one-shot build
    census — the ingest-equals-rebuild contract carried one derivation
    further."""
    from hive_server_spark.plans.embedding_pack import emb_ivf_rebalance_plan
    from hive_server_spark.plans.streaming_pack import streamed_ivf_census

    streamed = streamed_ivf_census(spark, SF_SMALL, chunks=3)
    over_stream = sorted(
        tuple(r)
        for r in emb_ivf_rebalance_plan(
            spark, SF_SMALL, census=streamed
        ).collect()
    )
    over_build = sorted(
        tuple(r) for r in emb_ivf_rebalance_plan(spark, SF_SMALL).collect()
    )
    assert over_stream == over_build


def test_ivf_merge_execute_equals_survivor_rebuild_and_oracle(spark, tmp_path):
    """The (unregistered) IVF merge execution: retiring the
    underfull cells and folding only their members' reassignment
    partials into the persisted census must equal the full rebuild over
    the surviving centroid set — the centroid-side mirror of the
    delete-maintenance proof. Checked on the crafted skew corpus (cells
    4-7 are singletons: all four retire, their seeds land in cell 0 by
    the equidistant lowest-id tie-break) and for value parity on both
    corpora."""
    import duckdb

    from pyspark.sql import functions as F

    from hive_server_spark.plans.embedding_pack import (
        _IVF_K,
        _census_report,
        _ivf_partial_census,
        emb_ivf_merge_execute,
    )
    from tests.ivf_oracles import _ivf_merge_oracle

    _write_skewed_embeddings(tmp_path)
    sf = str(tmp_path)

    got = {r["cluster_id"]: r for r in emb_ivf_merge_execute(spark, sf).collect()}
    # survivors only, population conserved, the four retired seeds all
    # tie-break into cell 0 (equidistant to every surviving seed)
    assert set(got) == {0, 1, 2, 3}
    assert sum(r["n_vecs"] for r in got.values()) == 44
    assert got[0]["n_vecs"] == 31 + 4
    assert got[0]["posting_checksum"] == sum(range(8, 38)) + 0 + 4 + 5 + 6 + 7

    # merge == rebuild over the surviving centroid set (same machinery)
    emb = load_table(spark, sf, "embeddings")
    vec = E._vecs(emb).select("vec_id", "v")
    surv = vec.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    want = sorted(
        tuple(r)
        for r in _census_report(_ivf_partial_census(vec, surv)).collect()
    )
    assert sorted(tuple(r) for r in emb_ivf_merge_execute(spark, sf).collect()) == want

    # value parity with the DuckDB oracle on both corpora
    for d in (sf, SF_SMALL):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'"
        )
        g = sorted(
            tuple(r) for r in emb_ivf_merge_execute(spark, d).collect()
        )
        orc = sorted(
            tuple(r) for r in con.execute(_ivf_merge_oracle()).fetchall()
        )
        assert orc == g
        assert len(g) >= 1 and len(g) <= _IVF_K


def test_ivf_split_parent_anchor_survives_duplicate_seed(spark, tmp_path):
    """The split's distortion-never-increases proof must not
    depend on the parent seed being assigned to its own cell. With an
    exact-duplicate seed pair (vec 1 == vec 0) every tie at d2=0 breaks
    to the LOWER cluster_id, so cell 1 drains into cell 0 entirely (it
    vanishes from the census) and the duplicate vector sits inside the
    hot cell's posting list. The fix anchors the parent sub-seed on the
    CENTROID table, so the invariant holds on this corpus by
    construction: parent sub-seed present, exact partition, distortion
    never increases, and the Spark/DuckDB dialects still agree row for
    row (the duplicate also creates a d2=0 sub-seed tie inside the
    split, which both engines must break identically)."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark.plans.embedding_pack import (
        emb_ivf_build,
        emb_ivf_split_execute,
    )
    from tests.ivf_oracles import _ivf_split_oracle

    def vec(spike_dim, extra_dim=None):
        v = [0.0] * 64
        v[spike_dim] = 100.0
        if extra_dim is not None:
            v[extra_dim] = 1.0
        return v

    # seeds 0..7, but seed 1 duplicates seed 0 exactly; 30 extras on
    # cell 0 (hot), 2 each on cells 2 and 3; cells 4..7 singletons.
    rows = [(i, vec(0) if i == 1 else vec(i), 0) for i in range(8)]
    nxt = 8
    for c, extras in [(0, 30), (2, 2), (3, 2)]:
        for j in range(extras):
            rows.append((nxt, vec(c, 8 + (j % 16)), 0))
            nxt += 1
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    sf = str(tmp_path)

    census = {r["cluster_id"]: r for r in emb_ivf_build(spark, sf).collect()}
    # cell 1 drained into cell 0 by the lowest-cid tie-break: 7 live
    # cells, cell 0 holds both duplicate seeds plus its 30 extras
    assert 1 not in census
    assert census[0]["n_vecs"] == 32

    sub = emb_ivf_split_execute(spark, sf).collect()
    parents = {r["parent_id"] for r in sub}
    assert parents == {0}
    # the parent CENTROID anchors a sub-cell even with the duplicate in
    # the posting list (vec 1 ties at d2=0 and joins the parent's
    # sub-cell rather than stealing the anchor)
    assert any(r["subseed_id"] == 0 for r in sub)
    assert sum(r["n_vecs"] for r in sub) == census[0]["n_vecs"]
    assert (
        sum(r["posting_checksum"] for r in sub)
        == census[0]["posting_checksum"]
    )
    assert sum(r["sum_d2_micro"] for r in sub) <= census[0]["sum_d2_micro"]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    orc = sorted(tuple(r) for r in con.execute(_ivf_split_oracle()).fetchall())
    assert orc == sorted(tuple(r) for r in sub)
