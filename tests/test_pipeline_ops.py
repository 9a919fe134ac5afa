"""Unit pins for the pipeline operators — properties the gate's
value-hash can't see on its own:
- hash sampling is invariant under repartitioning (the reproducibility claim);
- gap fill emits NULL before the first observation and carries values
  forward, never backward;
- token shards cover the corpus exactly once and respect doc_id order;
- state-store time travel: earlier versions are prefixes (monotone growth).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_server_spark import gate
from tests.conftest import SF_SMALL


def test_hash_sample_invariant_under_partitioning(spark):
    from hive_server_spark.plans.text_pack import text_deterministic_sample

    base = {r.doc_id for r in text_deterministic_sample(spark, SF_SMALL).collect()}
    # same predicate over a differently-partitioned scan → identical rows
    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.text_pack import _SAMPLE_PRED_S

    shuffled = (
        load_table(spark, SF_SMALL, "documents")
        .repartition(13)
        .where(F.expr(_SAMPLE_PRED_S))
    )
    assert {r.doc_id for r in shuffled.collect()} == base
    assert 0 < len(base)


def test_gapfill_locf_semantics(spark):
    rows = gate.spark_queries()["price_hourly_gapfill"](spark, SF_SMALL).collect()
    by_pool: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.pool_address, r.bucket)):
        by_pool.setdefault(r.pool_address, []).append(r)
    for pool, series in by_pool.items():
        seen_price = None
        for r in series:
            if not r.is_gap:
                seen_price = r.price_filled
            if seen_price is None:
                # leading gap: nothing to carry yet
                assert r.price_filled is None
            else:
                assert r.price_filled == seen_price  # carried forward, never back


def test_token_shards_partition_the_corpus(spark):
    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.text_pack import text_token_shards

    shards = text_token_shards(spark, SF_SMALL).collect()
    n_docs = load_table(spark, SF_SMALL, "documents").count()
    assert sum(r.n_docs for r in shards) == n_docs  # exact cover, no overlap
    for r in shards:
        assert r.first_doc <= r.last_doc
    # within a source, shard ids are dense from 0 and doc ranges are ordered
    per_source: dict[str, list] = {}
    for r in shards:
        per_source.setdefault(r.source, []).append(r)
    for src, rs in per_source.items():
        rs.sort(key=lambda r: r.shard_id)
        assert [r.shard_id for r in rs] == list(range(len(rs)))
        for a, b in zip(rs, rs[1:]):
            assert a.last_doc < b.first_doc


def test_time_travel_versions_are_prefix_monotone(spark):
    from hive_server_spark.plans.streaming_pack import orders_state_at_version

    v1 = orders_state_at_version(spark, SF_SMALL, version=1)
    full = gate.spark_queries()["orders_state"](spark, SF_SMALL)
    v1_keys = {(r.pool_address, r.order_id) for r in v1.collect()}
    full_keys = {(r.pool_address, r.order_id) for r in full.collect()}
    assert v1_keys <= full_keys  # old snapshot never contains unseen orders
    assert len(v1_keys) < len(full_keys) or len(v1_keys) > 0


def test_dq_nulls_count_as_violations(spark):
    from hive_server_spark.operators.quality import Rule, check, violations

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 200.0)], "id long, v double"
    )
    rule = Rule("v_in_range", F.col("v").between(0, 100))
    rep = {r.rule: r for r in check(df, [rule]).collect()}["v_in_range"]
    assert rep.n_rows == 3
    assert rep.n_violations == 2  # the NULL and the 200.0
    assert rep.passed is False
    bad = {r.id for r in violations(df, rule).collect()}
    assert bad == {2, 3}


def test_dq_single_scan_for_many_rules(spark):
    from hive_server_spark.operators.quality import Rule, check
    from hive_server_spark.catalog import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    rules = [Rule(f"r{i}", F.col("l_quantity") > i) for i in range(10)]
    plan = check(li, rules)._jdf.queryExecution().executedPlan().toString()
    # ten rules, one scan — the report must not re-read the table per rule
    assert plan.count("Scan parquet") == 1


def test_cleaning_pipeline_script_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """The composed cleaning run (scripts/run_cleaning_pipeline.py) must
    execute against the gate registry and write all three manifests."""
    import os
    import runpy
    import sys

    monkeypatch.setattr(
        sys, "argv",
        ["run_cleaning_pipeline.py", "--sf-dir", SF_SMALL, "--out", str(tmp_path)],
    )
    runpy.run_path(
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "scripts", "run_cleaning_pipeline.py"),
        run_name="__main__",
    )
    out = capsys.readouterr().out
    assert "kept for training:" in out
    assert "text_kept_token_shards" in out
    for sub in ("shard_manifest", "keep_verdicts", "splits"):
        assert (tmp_path / sub / "_SUCCESS").exists(), sub


def test_mad_outliers_fence(spark):
    """Outlier counts equal a python recompute of the 3-MAD fence from the
    query's own median/MAD values, and every fence is non-negative."""
    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.events_pack import evt_mad_outliers
    from tests.conftest import SF_SMALL

    vals = {}
    for r in load_table(spark, SF_SMALL, "events").select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    rows = {r.event_type: r for r in evt_mad_outliers(spark, SF_SMALL).collect()}
    assert set(rows) == set(vals)
    for t, r in rows.items():
        assert r.mad >= 0.0 and r.n_events == len(vals[t])
        n_out = sum(1 for v in vals[t] if abs(v - r.median_value) > 3 * r.mad)
        assert r.n_outliers == n_out
        if n_out:
            assert r.max_outlier_dev == max(
                abs(v - r.median_value)
                for v in vals[t]
                if abs(v - r.median_value) > 3 * r.mad
            )
        else:
            assert r.max_outlier_dev is None


def test_cms_heavy_hitters_hand_computed(spark):
    """Python CMS recompute on a known stream: same md5-prefix row hashes,
    cell sums, min-over-rows estimate, and the estimate >= exact guarantee."""
    import hashlib

    from hive_server_spark.plans.events_pack import (
        _CMS_D,
        _CMS_W,
        cms_heavy_hitters,
    )

    # users 1..6 with event counts 6,5,4,3,2,1
    rows = []
    eid = 0
    for uid, n in [(1, 6), (2, 5), (3, 4), (4, 3), (5, 2), (6, 1)]:
        for _ in range(n):
            rows.append((eid, uid))
            eid += 1
    events = spark.createDataFrame(rows, ["event_id", "user_id"])

    def bucket(r: int, uid: int) -> int:
        h = hashlib.md5(f"cms:{r}:{uid}".encode()).hexdigest()
        return int(h[:8], 16) % _CMS_W

    exact = {1: 6, 2: 5, 3: 4, 4: 3, 5: 2, 6: 1}
    cells = {}
    for uid, n in exact.items():
        for r in range(_CMS_D):
            key = (r, bucket(r, uid))
            cells[key] = cells.get(key, 0) + n

    got = {r.user_id: r for r in cms_heavy_hitters(events, k=4).collect()}
    assert set(got) == {1, 2, 3, 4}
    for uid, r in got.items():
        est = min(cells[(d, bucket(d, uid))] for d in range(_CMS_D))
        assert r.exact_count == exact[uid]
        assert r.cms_estimate == est
        assert r.overestimate == est - exact[uid]
        assert r.cms_estimate >= r.exact_count
    assert [got[u].rank for u in (1, 2, 3, 4)] == [1, 2, 3, 4]


def test_hll_cardinality_hand_computed(spark):
    """Python HLL recompute: same md5-prefix hash, bucket/rank split,
    register maxes, exact scaled-integer register sum, and the
    linear-counting branch (n small, zero registers present)."""
    import hashlib
    import math

    from hive_server_spark.plans.events_pack import (
        _HLL_ALPHA,
        _HLL_M,
        _HLL_WBITS,
        hll_cardinality,
    )

    rows = [(i, "t", 100 + (i % 37)) for i in range(200)]
    events = spark.createDataFrame(rows, ["event_id", "event_type", "user_id"])

    regs = [0] * _HLL_M
    users = {uid for _, _, uid in rows}
    for uid in users:
        hv = int(hashlib.md5(f"hll:{uid}".encode()).hexdigest()[:8], 16)
        bucket, w = hv % _HLL_M, hv // _HLL_M
        rank = (_HLL_WBITS + 1) if w == 0 else _HLL_WBITS - w.bit_length() + 1
        regs[bucket] = max(regs[bucket], rank)
    scaled = sum(1 << (32 - r) for r in regs)
    n_zero = regs.count(0)
    raw = _HLL_ALPHA * (_HLL_M * _HLL_M) * 4294967296.0 / float(scaled)
    if raw <= 2.5 * _HLL_M and n_zero > 0:
        est, lc = _HLL_M * math.log(_HLL_M / n_zero), True
    else:
        est, lc = raw, False

    [r] = hll_cardinality(events).collect()
    assert r.event_type == "t"
    assert r.exact_distinct == 37
    assert r.n_zero_registers == n_zero
    assert r.linear_counting == lc
    assert r.hll_estimate_micro == round(est * 1_000_000)
    # the sketch should land near the truth (37 keys, m=64)
    assert abs(r.hll_estimate_micro / 1e6 - 37) / 37 < 0.5


def test_bloom_prune_join_python_recompute(spark):
    """Bloom semi-join audit vs a full python recompute of the md5 bloom:
    key set, bit positions, per-row membership (including which false
    positives survive), and the exact value sum."""
    import hashlib
    from decimal import Decimal

    from hive_server_spark.plans.events_pack import (
        _BLOOM_K,
        _BLOOM_M,
        _BLOOM_THR,
        bloom_prune_join,
    )

    rows = []
    # users 1..20; users 1-3 are heavy purchasers (over threshold)
    for u in range(1, 21):
        heavy = u <= 3
        rows.append((u * 10, u, "purchase", 500.0 if heavy else 1.0))
        rows.append((u * 10 + 1, u, "purchase", 500.0 if heavy else 1.0))
        rows.append((u * 10 + 2, u, "click", 7.5))
    import datetime as dt

    t0 = dt.datetime(2024, 1, 5)
    df = spark.createDataFrame(
        [(eid, t0, u, et, v, "{}") for eid, u, et, v in rows],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    got = {r.event_type: r for r in bloom_prune_join(df).collect()}

    def pos(u, i):
        h = hashlib.md5(f"bl{i}:{u}".encode()).hexdigest()[:8]
        return int(h, 16) % _BLOOM_M

    keys = {u for u in range(1, 21) if (1000.0 if u <= 3 else 2.0) > _BLOOM_THR}
    assert keys == {1, 2, 3}
    bits = {pos(u, i) for u in keys for i in range(_BLOOM_K)}
    passing = {
        u for u in range(1, 21) if all(pos(u, i) in bits for i in range(_BLOOM_K))
    }
    assert keys <= passing  # no false negatives, ever
    for et, n_rows_per_user in (("purchase", 2), ("click", 1)):
        r = got[et]
        assert r.rows_total == 20 * n_rows_per_user
        assert r.rows_bloom_pass == len(passing) * n_rows_per_user
        assert r.rows_true == len(keys) * n_rows_per_user
        assert r.false_positive_rows == (len(passing) - len(keys)) * n_rows_per_user
    exp_purchase_value = float(sum(Decimal("500.0") * 2 for _ in keys))
    assert got["purchase"].true_value == exp_purchase_value
    assert got["click"].true_value == float(Decimal("7.5") * len(keys))


def test_markov_transitions_python_recompute(spark):
    """Transition counts + row-normalized micro probabilities recomputed in
    python over the same (ts, event_id)-ordered per-user sequences; row
    probabilities must sum to ~1e6 per from_type."""
    import math
    from collections import Counter, defaultdict

    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.events_pack import evt_markov_transitions
    from tests.conftest import SF_SMALL

    rows = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    per_user = defaultdict(list)
    for r in rows:
        per_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    pairs: Counter = Counter()
    for evs in per_user.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            pairs[(a, b)] += 1
    row_tot = Counter()
    for (a, _), n in pairs.items():
        row_tot[a] += n
    got = {(r.from_type, r.to_type): r for r in evt_markov_transitions(spark, SF_SMALL).collect()}
    assert set(got) == set(pairs)
    for (a, b), n in pairs.items():
        r = got[(a, b)]
        p = int(math.floor(1e6 * n / row_tot[a] + 0.5))
        assert (r.n, r.p_micro) == (n, p), (a, b)
    by_from = defaultdict(int)
    for r in got.values():
        by_from[r.from_type] += r.p_micro
    for a, s in by_from.items():
        assert abs(s - 1_000_000) <= len(pairs), a  # rounding slack


def test_udtf_char_ngram_census_python_recompute(spark):
    """The UDTF's row-emission contract recomputed in python: trigram
    counts, doc frequencies, and ranking over the same doc slice; a
    too-short string must emit nothing (generator boundary)."""
    from collections import Counter

    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.udf_pack import (
        _UDTF_N,
        _UDTF_TOP,
        _char_ngrams_udtf,
        udtf_char_ngram_census,
    )
    from tests.conftest import SF_SMALL

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF_SMALL, "documents")
        .where("doc_id % 50 = 0")
        .collect()
    }
    n: Counter = Counter()
    nd: Counter = Counter()
    for _, text in docs.items():
        grams = [text[i : i + _UDTF_N] for i in range(len(text) - _UDTF_N + 1)]
        n.update(grams)
        nd.update(set(grams))
    expected = sorted(n.items(), key=lambda kv: (-kv[1], kv[0]))[:_UDTF_TOP]
    got = udtf_char_ngram_census(spark, SF_SMALL).orderBy("rk").collect()
    assert [(r.gram, r.n, r.n_docs) for r in got] == [
        (g, c, nd[g]) for g, c in expected
    ]
    # generator boundary: a string shorter than n emits nothing
    spark.udtf.register("hss_char_ngrams_t", _char_ngrams_udtf())
    assert spark.sql(
        f"SELECT * FROM hss_char_ngrams_t('ab', {_UDTF_N})"
    ).count() == 0


def test_cusum_drift_python_recompute(spark):
    """Two-sided CUSUM recomputed in python as the literal sequential
    recursion over the same hourly rate series; the fold must match
    bit-for-bit (identical in-order IEEE ops)."""
    from collections import defaultdict

    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.events_pack import _CUSUM_HOURS, evt_cusum_drift
    from tests.conftest import SF_SMALL

    hourly = (
        load_table(spark, SF_SMALL, "events")
        .selectExpr("event_type", "date_trunc('hour', ts) AS bucket")
        .groupBy("event_type", "bucket")
        .count()
        .collect()
    )
    series = defaultdict(list)
    for r in hourly:
        series[r.event_type].append((r.bucket, float(r["count"])))
    got = {r.event_type: r for r in evt_cusum_drift(spark, SF_SMALL).collect()}
    assert set(got) == set(series)
    for et, pts in series.items():
        pts.sort()
        rates = [c for _, c in pts[-_CUSUM_HOURS:]]
        mean = sum(rates) / len(rates)  # NOTE: python sum is left-to-right,
        # same order as SUM over the sorted collect — but Spark's SUM(cnt)
        # aggregates in partition order; equality of the MEAN holds because
        # the per-(type, bucket) counts are exact integers as doubles and
        # their sum stays exactly representable at this scale.
        s_up = m_up = s_dn = m_dn = 0.0
        for x in rates:
            s_up = max(0.0, s_up + (x - mean))
            m_up = max(m_up, s_up)
            s_dn = max(0.0, s_dn + (mean - x))
            m_dn = max(m_dn, s_dn)
        r = got[et]
        assert r.n_hours == len(rates)
        assert r.mean_rate == mean
        assert (r.max_cusum_up, r.max_cusum_dn) == (m_up, m_dn), et
        assert r.max_cusum_up > 0.0 or r.max_cusum_dn > 0.0


def test_hll_set_algebra_hand_computed(spark):
    """Python recompute of the sketch set algebra on a crafted two-type
    overlap: per-type registers, cell-wise MAX union, alpha/linear-count
    estimates, inclusion-exclusion intersection, and the exact counts."""
    import hashlib
    import math

    from hive_server_spark.plans.events_pack import (
        _HLL_ALPHA,
        _HLL_M,
        _HLL_WBITS,
        hll_set_algebra,
    )

    # type a: users 0..59; type b: users 40..119 → overlap 20, union 120
    rows = [(i, "a", i % 60) for i in range(300)]
    rows += [(1000 + i, "b", 40 + (i % 80)) for i in range(300)]
    events = spark.createDataFrame(rows, ["event_id", "event_type", "user_id"])

    def regs_of(users):
        regs = [0] * _HLL_M
        for uid in users:
            hv = int(hashlib.md5(f"hll:{uid}".encode()).hexdigest()[:8], 16)
            bucket, w = hv % _HLL_M, hv // _HLL_M
            rank = (_HLL_WBITS + 1) if w == 0 else _HLL_WBITS - w.bit_length() + 1
            regs[bucket] = max(regs[bucket], rank)
        return regs

    def est_of(regs):
        scaled = sum(1 << (32 - r) for r in regs)
        n_zero = regs.count(0)
        raw = _HLL_ALPHA * (_HLL_M * _HLL_M) * 4294967296.0 / float(scaled)
        if raw <= 2.5 * _HLL_M and n_zero > 0:
            return _HLL_M * math.log(_HLL_M / n_zero)
        return raw

    ua, ub = set(range(60)), set(range(40, 120))
    ra, rb = regs_of(ua), regs_of(ub)
    ru = [max(x, y) for x, y in zip(ra, rb)]
    # register-level identity: union registers ARE the union set's registers
    assert ru == regs_of(ua | ub)
    ea, eb, eu = est_of(ra), est_of(rb), est_of(ru)

    [r] = hll_set_algebra(events).collect()
    assert (r.type_a, r.type_b) == ("a", "b")
    assert r.exact_union == len(ua | ub) == 120
    assert r.exact_intersection == len(ua & ub) == 20
    assert r.union_est_micro == round(eu * 1_000_000)
    assert r.intersection_est_micro == round((ea + eb - eu) * 1_000_000)
    # sanity: estimates land near truth at m=64
    assert abs(r.union_est_micro / 1e6 - 120) / 120 < 0.5


def test_media_pipeline_script_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """The composed media-curation run (scripts/run_media_pipeline.py)
    must execute the full chain (inventory, three modality near-dups,
    video curation, incremental refresh, fused bundle verdict), write the
    keep manifest, and keep its canonical-partner contracts."""
    import os
    import runpy
    import sys

    monkeypatch.setattr(
        sys, "argv",
        ["run_media_pipeline.py", "--sf-dir", SF_SMALL, "--out", str(tmp_path)],
    )
    runpy.run_path(
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "scripts", "run_media_pipeline.py"),
        run_name="__main__",
    )
    out = capsys.readouterr().out
    assert "kept for training:" in out
    assert "multimodal_bundle_neardup" in out
    assert (tmp_path / "media_keep_manifest" / "_SUCCESS").exists()

    manifest = spark.read.parquet(str(tmp_path / "media_keep_manifest"))
    n_docs = manifest.count()
    n_kept = manifest.where("keep").count()
    assert 0 < n_kept < n_docs
    # kept docs must have no bundle partner and a curation-passing video
    assert manifest.where("keep AND bundle_partner IS NOT NULL").count() == 0

    # --incremental mode: the image band flags come from the STREAMING
    # ingest (versioned band index, media_id-ordered chunks) instead of
    # the one-shot batch rule — the final manifest in the SAME out dir
    # must be row-identical, proving the batch and streaming pipelines
    # share state layout
    batch_rows = sorted(tuple(r) for r in manifest.collect())
    monkeypatch.setattr(
        sys, "argv",
        ["run_media_pipeline.py", "--sf-dir", SF_SMALL,
         "--out", str(tmp_path), "--incremental"],
    )
    runpy.run_path(
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "scripts", "run_media_pipeline.py"),
        run_name="__main__",
    )
    out2 = capsys.readouterr().out
    assert "image_band_flags[streaming]" in out2
    assert "streaming band-index mode" in out2
    stream_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(
            str(tmp_path / "media_keep_manifest")
        ).collect()
    )
    assert stream_rows == batch_rows


def test_embedding_pipeline_script_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """The composed ANN-index run (scripts/run_embedding_pipeline.py)
    must execute the full lifecycle (audit, semantic dedup, coarse + PQ
    training, index build, encode, serve, recall audit), write the index
    artifacts, and — under --incremental — produce IDENTICAL artifacts
    through the streaming ingest paths (the ingest-equals-rebuild
    contract, composed end-to-end)."""
    import os
    import runpy
    import sys

    script = os.path.join(
        os.path.dirname(os.path.dirname(__file__)),
        "scripts", "run_embedding_pipeline.py",
    )
    monkeypatch.setattr(
        sys, "argv",
        ["run_embedding_pipeline.py", "--sf-dir", SF_SMALL,
         "--out", str(tmp_path)],
    )
    runpy.run_path(script, run_name="__main__")
    out = capsys.readouterr().out
    assert "ivf_census[batch]" in out
    assert "batch ingest mode" in out
    # the maintenance stage ran and reconciled its tombstones
    assert "ivf_delete_maintenance" in out and "tombstones ->" in out
    # the monitor + rebalance + merge stages ran and reconciled
    assert "ivf_rebalance_plan" in out and "flagged for split" in out
    assert "ivf_split_execute" in out
    assert "ivf_merge_execute" in out
    assert (tmp_path / "ivf_census" / "_SUCCESS").exists()
    assert (tmp_path / "pq_codes" / "_SUCCESS").exists()

    census_b = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "ivf_census")).collect()
    )
    codes_b = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "pq_codes")).collect()
    )
    assert len(census_b) > 0 and len(codes_b) > 0

    monkeypatch.setattr(
        sys, "argv",
        ["run_embedding_pipeline.py", "--sf-dir", SF_SMALL,
         "--out", str(tmp_path), "--incremental"],
    )
    runpy.run_path(script, run_name="__main__")
    out2 = capsys.readouterr().out
    assert "ivf_census[streaming]" in out2
    assert "pq_codes[streaming]" in out2
    assert "streaming ingest mode" in out2
    census_s = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "ivf_census")).collect()
    )
    codes_s = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "pq_codes")).collect()
    )
    assert census_s == census_b
    assert codes_s == codes_b


def test_layout_pipeline_script_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """The composed lakehouse-maintenance run
    (scripts/run_layout_pipeline.py) must execute the full chain
    (z-order, compaction, zone-map statistics, skipping audit, deletion
    vectors, snapshot expiry, manifest diff, bucketed read path), write
    the maintenance artifacts, and — under --incremental — produce
    IDENTICAL artifacts through the streaming ingest paths (the
    ingest-equals-rebuild contract, composed end-to-end)."""
    import os
    import runpy
    import sys

    script = os.path.join(
        os.path.dirname(os.path.dirname(__file__)),
        "scripts", "run_layout_pipeline.py",
    )
    monkeypatch.setattr(
        sys, "argv",
        ["run_layout_pipeline.py", "--sf-dir", SF_SMALL,
         "--out", str(tmp_path)],
    )
    runpy.run_path(script, run_name="__main__")
    out = capsys.readouterr().out
    assert "zonemaps[batch]" in out
    assert "deletion_vectors[batch]" in out
    assert "batch ingest mode" in out
    assert "bucketed segments" in out
    assert (tmp_path / "zonemaps" / "_SUCCESS").exists()
    assert (tmp_path / "deletion_vectors" / "_SUCCESS").exists()

    zm_b = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "zonemaps")).collect()
    )
    dv_b = sorted(
        tuple(r)
        for r in spark.read.parquet(
            str(tmp_path / "deletion_vectors")
        ).collect()
    )
    assert len(zm_b) > 0 and len(dv_b) > 0

    monkeypatch.setattr(
        sys, "argv",
        ["run_layout_pipeline.py", "--sf-dir", SF_SMALL,
         "--out", str(tmp_path), "--incremental"],
    )
    runpy.run_path(script, run_name="__main__")
    out2 = capsys.readouterr().out
    assert "zonemaps[streaming]" in out2
    assert "deletion_vectors[streaming]" in out2
    assert "streaming ingest mode" in out2
    zm_s = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "zonemaps")).collect()
    )
    dv_s = sorted(
        tuple(r)
        for r in spark.read.parquet(
            str(tmp_path / "deletion_vectors")
        ).collect()
    )
    assert zm_s == zm_b
    assert dv_s == dv_b


def test_bench_compare_flags_subfloor_regressions(tmp_path, monkeypatch, capsys):
    """The run-over-run sweep must list EVERY
    query with a best-of-reps ratio over the flag threshold, regardless
    of absolute time — the absolute floor only classifies a flag as
    sub-floor host-noise class, it must never suppress the line (an
    earlier sweep silently dropped a 1.54x sub-floor flag exactly that way)."""
    import json
    import os
    import runpy
    import sys

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps({"reps": [
        {"queries": {"tiny": 0.10, "big": 2.0, "fine": 1.0},
         "streaming_waves": {}},
    ]}))
    new.write_text(json.dumps({"reps": [
        {"queries": {"tiny": 0.17, "big": 4.0, "fine": 1.0},
         "streaming_waves": {}},
    ]}))
    monkeypatch.setattr(
        sys, "argv", ["bench_compare.py", str(old), str(new)]
    )
    runpy.run_path(
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "scripts", "bench_compare.py"),
        run_name="__main__",
    )
    out = capsys.readouterr().out
    flagged = out.split("FLAGGED", 1)[1]
    # the sub-floor 1.7x regression is LISTED and classified, not dropped
    assert "tiny:" in flagged and "[sub-floor:" in flagged
    # the above-floor regression is listed without the sub-floor class
    big_line = [l for l in flagged.splitlines() if l.strip().startswith("big:")]
    assert big_line and "[sub-floor:" not in big_line[0]
    assert "fine:" not in flagged
