"""Text-analysis / dedup operator semantics (SURVEY §5.6): recall of the
LSH candidate set against exact Jaccard, fingerprint determinism, profile
invariants. Gate parity (vs DuckDB) is covered by test_gate_parity.py."""

from __future__ import annotations

from hive_server_spark.catalog import load_table
from hive_server_spark.functions import text as T
from tests.conftest import SF_SMALL


def _docs(spark):
    return load_table(spark, SF_SMALL, "documents")


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_spread_reads_the_plan_and_submits_no_job(spark):
    """`spread` decides from the planned partitioning, so asking is free:
    on a one-split scan, on a spread frame and on a mapInPandas over a
    spread frame it submits no Spark job (`df.rdd` on a plan with an
    exchange would run that shuffle), and spreading a spread frame returns
    its input unchanged."""
    from hive_server_spark.functions import multimodal as M
    from tests.conftest import next_job_id

    docs = load_table(spark, SF_SMALL, "documents")
    first = next_job_id(spark)
    wide = T.spread(docs)
    again = T.spread(wide)
    media = M.synthesize_png_media(wide)
    media_again = T.spread(media)
    assert next_job_id(spark) == first, "spread submitted a Spark job"
    n = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({n})" in _formatted(wide)
    assert _formatted(again) == _formatted(wide)
    assert _formatted(media_again) == _formatted(media)


def test_reachability_keeps_the_shared_candidate_cache(spark):
    """`dedup_reachability_recursive` reads the session's persisted LSH
    candidates through a temp view. Dropping a temp view uncaches its plan,
    so a per-call drop would leave every later candidate consumer to
    recompute them: after a call the candidates stay cached, and a second
    call submits no more jobs than the first."""
    from hive_server_spark.plans import text_pack as TP
    from tests.conftest import next_job_id

    cand = TP._minhash_candidates(spark, SF_SMALL)
    level = cand.storageLevel
    first = next_job_id(spark)
    TP.dedup_reachability_recursive(spark, SF_SMALL).collect()
    mid = next_job_id(spark)
    assert cand.storageLevel == level, "the call uncached the shared candidates"
    TP.dedup_reachability_recursive(spark, SF_SMALL).collect()
    assert next_job_id(spark) - mid <= mid - first


def test_minhash_candidates_recall_planted_dups(spark):
    """Every true near-dup pair (3-gram Jaccard >= 0.8) must appear in the
    MinHash-LSH candidate set — banding with 4 bands x 2 rows has >=98%
    per-pair recall at J=0.8; the planted corpus must be fully recovered."""
    docs = _docs(spark)
    true_pairs = {
        (r.doc_a, r.doc_b)
        for r in T.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    cands = {(r.doc_a, r.doc_b) for r in T.minhash_candidates(docs).collect()}
    assert true_pairs, "corpus should contain planted near-duplicates"
    missed = true_pairs - cands
    assert not missed, f"LSH missed true near-dup pairs: {missed}"


def test_exact_dedup_partitions_corpus(spark):
    docs = _docs(spark)
    n_docs = docs.count()
    groups = T.exact_dedup(docs).collect()
    assert sum(g.group_size for g in groups) == n_docs
    assert all(g.group_size >= 1 for g in groups)


def test_profile_invariants(spark):
    rows = T.doc_profile(_docs(spark)).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_distinct_tokens <= r.n_tokens
        assert r.n_subtokens >= r.n_tokens  # every word >= 1 subtoken
        assert 0.0 < r.ttr <= 1.0
        assert 0.0 <= r.stop_ratio <= 1.0
        assert 0.0 <= r.quality_score <= 1.0
        assert r.predicted_lang in {"en", "es", "de", "fr", "zh"}
        assert len(r.fingerprint_md5) == 32
        assert 0 <= r.fingerprint_roll < T.ROLL_MOD


def test_simhash_near_for_near_texts(spark):
    """Near-dup docs (J>=0.8) should have small simhash hamming distance;
    sanity-check on the planted pairs."""
    docs = _docs(spark)
    fps = {r.doc_id: r.simhash for r in T.simhash_fingerprints(docs).collect()}
    pairs = T.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert pairs
    close = sum(
        1 for p in pairs if bin(fps[p.doc_a] ^ fps[p.doc_b]).count("1") <= 6
    )
    # most planted near-dups should be within 6/32 bits
    assert close >= len(pairs) * 0.7


# ---------------------------------------------------------------------------
# Adversarial hot-key bounds: the scale claims in text.py:19-25 pinned as
# join-ROW counts, not wall time.
# ---------------------------------------------------------------------------
def _shingle_join_volume(edges) -> int:
    """Exact output volume of the shingle self-join: sum over shingles of
    C(df, 2) — what the executor would actually emit."""
    from pyspark.sql import functions as F

    row = (
        edges.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .agg(F.coalesce(F.sum(F.expr("df * (df - 1) / 2")), F.lit(0)).alias("v"))
        .collect()[0]
    )
    return int(row.v)


def test_df_cut_bounds_hot_shingle_join_volume(spark, monkeypatch):
    """A shingle planted in all 24 docs alone contributes C(24,2)=276 join
    rows; with DF_CUT below its document frequency the hot shingle is
    dropped and the join volume collapses to the unique-tail residue (0)."""
    docs = spark.createDataFrame(
        [
            (i, "en", "web", f"common hot phrase u{i}a u{i}b u{i}c u{i}d")
            for i in range(24)
        ],
        "doc_id long, lang string, source string, text string",
    )
    monkeypatch.setattr(T, "DF_CUT", 10**9)
    uncut = _shingle_join_volume(T._shingle_edges(docs))
    monkeypatch.setattr(T, "DF_CUT", 10)
    cut = _shingle_join_volume(T._shingle_edges(docs))
    assert uncut >= 276  # the hot shingle's C(24,2) alone
    assert cut == 0  # every surviving shingle is unique to its doc


def test_minhash_hot_bucket_cap_bounds_candidates(spark):
    """30 byte-identical docs collapse into one band bucket per band —
    C(30,2) candidate pairs no matter how many bands there are. The
    max_bucket guard drops oversized buckets (exact dups belong to
    exact_dedup's O(b) hash path), bounding candidate volume; on a corpus
    with no oversized bucket the cap is a no-op."""
    docs = spark.createDataFrame(
        [(i, "en", "web", "the very same duplicated text body here") for i in range(30)],
        "doc_id long, lang string, source string, text string",
    )
    assert T.minhash_candidates(docs).count() == 30 * 29 // 2
    assert T.minhash_candidates(docs, max_bucket=8).count() == 0
    real = _docs(spark)
    assert (
        T.minhash_candidates(real, max_bucket=10**6).count()
        == T.minhash_candidates(real).count()
    )


def test_pack_windows_fill_invariant(spark):
    """Concat-and-chunk packing: every window is exactly CTX tokens except
    each source's final window, and per-source token totals are preserved."""
    from hive_server_spark.plans.text_pack import _PACK_CTX, text_pack_windows
    import pyspark.sql.functions as F

    m = text_pack_windows(spark, SF_SMALL)
    last = m.groupBy("source").agg(F.max("window_id").alias("last_w"))
    not_last = m.join(last, "source").where(F.col("window_id") < F.col("last_w"))
    bad = not_last.where(F.col("window_tokens") != _PACK_CTX).count()
    assert bad == 0, "non-final windows must be exactly CTX tokens"
    # total packed tokens == total corpus tokens (no loss, no double count)
    from hive_server_spark.catalog import load_table
    toks = load_table(spark, SF_SMALL, "documents").select(
        F.size(F.split("text", " ")).alias("n")
    )
    assert (
        m.agg(F.sum("window_tokens")).collect()[0][0]
        == toks.agg(F.sum("n")).collect()[0][0]
    )


def test_decontaminate_flags_near_dups_of_benchmark(spark):
    """Docs sharing most shingles with a benchmark doc must be flagged; the
    benchmark docs themselves are excluded from the output."""
    from hive_server_spark.plans.text_pack import text_decontaminate
    import pyspark.sql.functions as F

    hits = text_decontaminate(spark, SF_SMALL)
    assert hits.where(F.col("doc_id") % 101 == 0).count() == 0
    rows = hits.collect()
    assert rows, "sf0.001 corpus contains near-dups of benchmark docs"
    for r in rows:
        assert 0 < r.n_overlap <= r.n_shingles
        assert r.contaminated == (r.overlap_ratio >= 0.2)


def test_leakage_safe_splits_keep_neardups_together(spark):
    """The whole point of cluster-keyed splits: no near-dup candidate pair
    may straddle two splits, and the assignment must be deterministic."""
    from hive_server_spark.plans.text_pack import (
        _minhash_candidates,
        text_leakage_safe_splits,
    )
    import pyspark.sql.functions as F

    splits = text_leakage_safe_splits(spark, SF_SMALL)
    assert set(r.split for r in splits.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }
    cands = _minhash_candidates(spark, SF_SMALL)
    a = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    b = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    straddlers = (
        cands.join(a, "doc_a").join(b, "doc_b").where(F.col("sa") != F.col("sb"))
    )
    assert straddlers.count() == 0, "near-dup pair split across train/val/test"
    # deterministic: a second invocation assigns identically
    again = text_leakage_safe_splits(spark, SF_SMALL)
    assert splits.exceptAll(again).count() == 0


def test_repetition_profile_hand_computed(spark, tmp_path):
    """'a b a b a b c': bigrams [ab, ba, ab, ba, bc] x6 -> top 'a b' 3/6;
    trigrams 5 with 'a b a' x2 and 'b a b' x2 -> top 2/5, distinct 3."""
    from hive_server_spark.plans.text_pack import text_repetition_profile
    import os
    d = str(tmp_path)
    spark.createDataFrame(
        [(1, "a b a b a b c"), (2, "x y z"), (3, "solo")],
        "doc_id long, text string",
    ).write.parquet(os.path.join(d, "documents.parquet"))
    rows = {
        (r.doc_id, r.gram_size): r
        for r in text_repetition_profile(spark, d).collect()
    }
    r12 = rows[(1, 2)]
    assert (r12.n_grams, r12.n_distinct) == (6, 3)
    assert abs(r12.top_gram_frac - 3 / 6) < 1e-12
    assert abs(r12.dup_gram_frac - (1 - 3 / 6)) < 1e-12
    r13 = rows[(1, 3)]
    assert (r13.n_grams, r13.n_distinct) == (5, 3)
    assert abs(r13.top_gram_frac - 2 / 5) < 1e-12
    # no repetition: every gram unique
    r22 = rows[(2, 2)]
    assert r22.dup_gram_frac == 0.0 and r22.top_gram_frac == 0.5
    # single-token doc: no bigrams or trigrams at all
    assert (3, 2) not in rows and (3, 3) not in rows


def test_source_overlap_invariants(spark):
    """Pair symmetry and set algebra: each unordered pair appears once with
    source_a < source_b, n_common <= min(n_a, n_b), and jaccard equals
    common/(n_a+n_b-common)."""
    from hive_server_spark.plans.text_pack import text_source_overlap

    rows = text_source_overlap(spark, SF_SMALL).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.source_a < r.source_b
        assert (r.source_a, r.source_b) not in seen
        seen.add((r.source_a, r.source_b))
        assert 0 < r.n_common <= min(r.n_a, r.n_b)
        assert abs(r.jaccard - r.n_common / (r.n_a + r.n_b - r.n_common)) < 1e-12


def test_ngram_list_expr_matches_python_both_dialects(spark):
    """Random token soups (including len < k, all-identical, single-token)
    through the Spark AND DuckDB forms of ngram_list_expr must equal the
    direct Python k-gram enumeration — order and multiplicity included."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    rng = random.Random(17)
    vocab = ["a", "b", "cc", "ddd"]
    docs = [(0, ""), (1, "solo"), (2, "x x x x x")]
    for i in range(3, 40):
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 9)))))

    def py_grams(text, k):
        toks = text.split(" ")
        if len(toks) < k:
            return []
        return [" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)]

    df = spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", F.expr(T.tokens_expr("text", "s")).alias("toks")
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE d AS SELECT * FROM (VALUES %s) t(doc_id, text)"
                % ", ".join("(%d, '%s')" % (i, t) for i, t in docs))
    for k in (2, 3, 4):
        got_s = {
            r.doc_id: r.g
            for r in df.select(
                "doc_id", F.expr(T.ngram_list_expr("toks", k, "s")).alias("g")
            ).collect()
        }
        got_d = dict(
            con.execute(
                f"SELECT doc_id, {T.ngram_list_expr(T.tokens_expr('text', 'd'), k, 'd')} FROM d"
            ).fetchall()
        )
        for i, t in docs:
            want = py_grams(t, k)
            assert got_s[i] == want, (k, i, t, got_s[i], want)
            assert got_d[i] == want, (k, i, t, got_d[i], want)


def test_bpe_pretokenizer_hand_computed(spark):
    """The GPT-2-style pretokenizer must split contractions, letter runs,
    digit runs and punctuation runs the way the pattern documents — pinned
    on hand-computed cases so a regex edit can't silently change token
    accounting (the gate checks cross-engine equality, not semantics)."""
    docs = spark.createDataFrame(
        [
            (1, "don't stop"),      # don | 't | _stop
            (2, "abc123 x!!"),      # abc | 123 | _x | !!
            (3, "a  b"),            # a | '  ' | b  (whitespace run is 1 token)
            (4, "we'll win 100%"),  # we | 'll | _win | _100 | %
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.toks, len(r.toks))
        for r in docs.selectExpr(
            "doc_id", f"{T.bpe_tokens_expr('text', 's')} AS toks"
        ).collect()
    }
    assert got[1][0] == ["don", "'t", " stop"]
    assert got[2][0] == ["abc", "123", " x", "!!"]
    assert got[3][0] == ["a", "  ", "b"]
    assert got[4][0] == ["we", "'ll", " win", " 100", "%"]


def test_pii_scrub_hand_computed(spark):
    """Each injection class detected and redacted exactly: a hand-built
    4-doc frame hits every CASE arm of the shared injection expression."""
    from hive_server_spark.plans.text_pack import pii_inject_col

    docs = spark.createDataFrame(
        [
            (10, "base a"),   # 10 % 5 = 0 -> email  user10@example.com
            (11, "base b"),   # 11 % 5 = 1 -> phone  555-0011
            (12, "base c"),   # 12 % 5 = 2 -> ip     10.12.84.42
            (13, "base d"),   # no injection
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.t for r in docs.select("doc_id", pii_inject_col().alias("t")).collect()}
    assert rows[10] == "base a contact user10@example.com now"
    assert rows[11] == "base b call 555-0011 today"
    assert rows[12] == "base c from 10.12.84.42 logged"
    assert rows[13] == "base d"

    from pyspark.sql import functions as F

    from hive_server_spark.plans.text_pack import (
        _PII_EMAIL,
        _PII_IP,
        _PII_PHONE,
    )

    red = docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(pii_inject_col(), _PII_EMAIL, "<EMAIL>"),
                _PII_IP,
                "<IP>",
            ),
            _PII_PHONE,
            "<PHONE>",
        ).alias("r"),
    )
    got = {r.doc_id: r.r for r in red.collect()}
    assert got[10] == "base a contact <EMAIL> now"
    assert got[11] == "base b call <PHONE> today"
    assert got[12] == "base c from <IP> logged"
    assert got[13] == "base d"


def test_line_dedup_hand_computed(spark):
    """Hand-built 5-doc corpus: 'footer' sits in 3 docs (>= LINE_DF_CUT ->
    dropped everywhere), 'rare' in 2 (kept), bodies unique. One doc carries
    the boilerplate line twice — both occurrences are dropped and both
    count toward the char cost."""
    from hive_server_spark.plans.text_pack import line_dedup_report

    docs = spark.createDataFrame(
        [
            (0, "alpha\nfooter"),
            (1, "bravo\nfooter\nrare"),
            (2, "charlie\nfooter\nfooter"),
            (3, "delta\nrare"),
            (4, "echo"),
        ],
        ["doc_id", "t"],
    )
    got = {r.doc_id: r for r in line_dedup_report(docs).collect()}
    assert len(got) == 5
    # doc 0: 2 lines, footer(6 chars) dropped, cleaned = "alpha" (5)
    assert (got[0].n_lines, got[0].n_dropped_lines) == (2, 1)
    assert (got[0].chars_dropped, got[0].cleaned_n_chars) == (6, 5)
    # doc 1: 3 lines, footer dropped, cleaned = "bravo\nrare" (10)
    assert (got[1].n_lines, got[1].n_dropped_lines) == (3, 1)
    assert (got[1].chars_dropped, got[1].cleaned_n_chars) == (6, 10)
    # doc 2: both footer copies dropped, cleaned = "charlie" (7)
    assert (got[2].n_lines, got[2].n_dropped_lines) == (3, 2)
    assert (got[2].chars_dropped, got[2].cleaned_n_chars) == (12, 7)
    # doc 3: nothing dropped, cleaned = original "delta\nrare" (10)
    assert (got[3].n_lines, got[3].n_dropped_lines) == (2, 0)
    assert (got[3].chars_dropped, got[3].cleaned_n_chars) == (0, 10)
    # doc 4: single body line untouched
    assert (got[4].n_lines, got[4].cleaned_n_chars) == (1, 4)


# ---------------------------------------------------------------------------
# substring-span dedup, source mixing, length buckets
# ---------------------------------------------------------------------------
def test_dup_span_report_hand_computed(spark):
    """Interval-merge correctness on planted passages: single shared 8-gram,
    two separated spans in one doc, and an overlapping-gram run that must
    merge into ONE span with no double-counted tokens."""
    from hive_server_spark.plans.text_pack import dup_span_report

    P = "a b c d e f g h"            # 8 tokens, shared by docs 1-3
    Q = "m n o p q r s t"            # 8 tokens, shared by docs 3-4
    R = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"  # 10 tokens, shared by docs 5-6
    docs = spark.createDataFrame(
        [
            (1, f"{P} u1 u2"),
            (2, f"v1 {P}"),
            (3, f"{P} w1 w2 w3 w4 w5 w6 w7 w8 w9 {Q}"),
            (4, f"{Q} z1 z2"),
            (5, R),
            (6, f"{R} y1"),
            (7, "lone doc with no shared passage at all ok"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dup_span_report(docs).collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6}
    assert (rows[1].n_spans, rows[1].n_dup_grams, rows[1].dup_tokens) == (1, 1, 8)
    assert (rows[2].n_spans, rows[2].dup_tokens) == (1, 8)
    # doc 3: P at position 1, Q at position 18 — gap 17 > 8 → two spans
    assert (rows[3].n_spans, rows[3].n_dup_grams, rows[3].dup_tokens) == (2, 2, 16)
    assert (rows[4].n_spans, rows[4].dup_tokens) == (1, 8)
    # docs 5/6 share a 10-token run → 3 overlapping dup grams merge into one
    # span covering exactly the 10 shared tokens (not 3 x 8 = 24)
    assert (rows[5].n_spans, rows[5].n_dup_grams, rows[5].dup_tokens) == (1, 3, 10)
    assert rows[5].dup_token_rate == 1.0
    assert (rows[6].n_spans, rows[6].dup_tokens) == (1, 10)


def test_source_mixing_invariants(spark):
    """Sampling probabilities sum to ~1, quotas never exceed the budget,
    and each micro-weight is exactly floor(sqrt(n_tokens) * 1e6)."""
    import math

    from hive_server_spark.plans.text_pack import _MIX_BUDGET, text_source_mixing

    rows = text_source_mixing(spark, SF_SMALL).collect()
    assert rows
    assert abs(sum(r.p_sample for r in rows) - 1.0) < 1e-9
    assert sum(r.quota_tokens for r in rows) <= _MIX_BUDGET
    for r in rows:
        assert r.w_micro == math.floor(math.sqrt(r.n_tokens) * 1_000_000.0)
        assert abs(r.epochs - _MIX_BUDGET * r.p_sample / r.n_tokens) < 1e-9


def test_length_buckets_accounting(spark):
    """Every document lands in exactly one ladder bucket; waste is exactly
    alloc - real; a full batch boundary allocates no extra batch."""
    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.text_pack import text_length_buckets

    rows = text_length_buckets(spark, SF_SMALL).collect()
    n_docs_total = load_table(spark, SF_SMALL, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs_total
    ladder = {32, 64, 128, 256, 512, 2048}
    for r in rows:
        assert r.bucket_cap in ladder
        assert r.n_batches == (r.n_docs + 15) // 16
        assert r.alloc_tokens == r.n_batches * 16 * r.bucket_cap
        assert r.waste_tokens == r.alloc_tokens - r.total_tokens
        assert 0.0 < r.fill_rate <= 1.0


def test_minhash_accuracy_audit(spark):
    """The audit's exact Jaccard must equal a python recomputation from the
    raw shingle sets for every candidate pair, and the milli error must be
    exactly round((est - exact) * 1000)."""
    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.text_pack import dedup_minhash_accuracy

    docs = load_table(spark, SF_SMALL, "documents").collect()

    def shingles(text):
        t = text.split(" ")
        if len(t) >= 3:
            return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
        return {" ".join(t)}

    sets = {r.doc_id: shingles(r.text) for r in docs}
    rows = dedup_minhash_accuracy(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        a, b = sets[r.doc_a], sets[r.doc_b]
        common = len(a & b)
        assert r.common == common
        assert (r.n_a, r.n_b) == (len(a), len(b))
        expect_exact = common / (len(a) + len(b) - common)
        assert abs(r.exact_jaccard - expect_exact) < 1e-12
        assert 0 <= r.n_sig_agree <= 8
        assert abs(r.est_jaccard - r.n_sig_agree / 8.0) < 1e-12
        d = (r.est_jaccard - r.exact_jaccard) * 1000.0
        assert abs(r.err_milli - round(d)) <= 1  # half-rule slack at .5 only


def test_canonical_quality_picks_best_member(spark):
    """Representative per cluster == the member with max floor(quality*1e6),
    doc_id tie-break; totals account every member exactly once."""
    from hive_server_spark.plans.text_pack import (
        _dup_clusters,
        _profile,
        dedup_canonical_quality,
    )
    import math

    clusters = {
        r.doc_id: r.cluster_id for r in _dup_clusters(spark, SF_SMALL).collect()
    }
    prof = {
        r.doc_id: (math.floor(r.quality_score * 1_000_000.0), r.n_tokens)
        for r in _profile(spark, SF_SMALL).collect()
    }
    expect = {}
    for doc, cid in clusters.items():
        q, nt = prof[doc]
        cur = expect.get(cid)
        row = (q, -doc, nt)
        if cur is None or row > cur["best"]:
            best = row
        else:
            best = cur["best"]
        expect[cid] = {
            "n": (cur["n"] if cur else 0) + 1,
            "tot": (cur["tot"] if cur else 0) + nt,
            "best": best,
        }
    rows = {r.cluster_id: r for r in dedup_canonical_quality(spark, SF_SMALL).collect()}
    assert set(rows) == set(expect)
    for cid, e in expect.items():
        r = rows[cid]
        assert r.n_members == e["n"]
        assert r.total_tokens == e["tot"]
        assert r.rep_doc_id == -e["best"][1]
        assert r.rep_q_micro == e["best"][0]
        assert r.dropped_tokens == e["tot"] - e["best"][2]


def test_rag_chunks_hand_computed(spark):
    """Chunk boundaries and content hashes against a python recomputation:
    sub-chunk doc, exact-chunk doc, and a 3-chunk doc with a short tail."""
    import hashlib

    from hive_server_spark.catalog import load_table
    from hive_server_spark.plans.text_pack import (
        RAG_CHUNK,
        RAG_STRIDE,
        text_rag_chunks,
    )

    M, R = 1_000_000_007, 31

    def h(tok):
        return int(hashlib.md5(f"roll:{tok}".encode()).hexdigest()[:8], 16)

    def fp(toks):
        acc = 0
        for t in toks:
            acc = (acc * R + h(t)) % M
        return acc

    def expect_chunks(text):
        t = text.split(" ")
        n = len(t)
        last = 0 if n <= RAG_CHUNK else -(-(n - RAG_CHUNK) // RAG_STRIDE) * RAG_STRIDE
        out = []
        for s in range(0, last + 1, RAG_STRIDE):
            ln = min(RAG_CHUNK, n - s)
            out.append((s // RAG_STRIDE, s, ln, fp(t[s : s + ln])))
        return out

    docs = load_table(spark, SF_SMALL, "documents").collect()
    expect = {
        (r.doc_id, c[0]): c for r in docs for c in expect_chunks(r.text)
    }
    rows = text_rag_chunks(spark, SF_SMALL).collect()
    assert len(rows) == len(expect)
    for r in rows:
        e = expect[(r.doc_id, r.chunk_idx)]
        assert (r.start_tok, r.n_chunk_toks, r.chunk_fp) == (e[1], e[2], e[3])
    # synthetic shapes: 64-token doc -> one chunk; 113 tokens -> chunks at
    # 0/48/96 with tail length 17
    syn = spark.createDataFrame(
        [(1, "en", "web", " ".join(f"t{i}" for i in range(64))),
         (2, "en", "web", " ".join(f"u{i}" for i in range(113)))],
        "doc_id long, lang string, source string, text string",
    )
    import hive_server_spark.plans.text_pack as tp

    # direct shape check through the same expressions on the synthetic frame
    from pyspark.sql import functions as F

    base = syn.selectExpr("doc_id", "split(text, ' ') AS toks").selectExpr(
        "doc_id", "toks", "size(toks) AS n", f"{tp._rag_last_s} AS last_start"
    )
    got = sorted(
        (r.doc_id, r.s)
        for r in base.select(
            "doc_id", F.explode(F.expr(f"sequence(0, last_start, {RAG_STRIDE})")).alias("s")
        ).collect()
    )
    assert got == [(1, 0), (2, 0), (2, 48), (2, 96)]


def test_dup_span_report_randomized_vs_python(spark):
    """Randomized corpora (seeded) of unique filler with shared passages
    spliced at random offsets: the Spark report must equal a direct python
    implementation (gram df -> dup positions -> interval merge)."""
    import random

    from hive_server_spark.plans.text_pack import K_SPAN, dup_span_report

    rng = random.Random(20260814)
    passages = [
        " ".join(f"p{p}w{i}" for i in range(rng.randint(K_SPAN, 2 * K_SPAN)))
        for p in range(3)
    ]
    docs = []
    for doc_id in range(40):
        toks = [f"u{doc_id}x{i}" for i in range(rng.randint(5, 60))]
        for p in rng.sample(range(3), rng.randint(0, 2)):
            pos = rng.randint(0, len(toks))
            toks[pos:pos] = passages[p].split(" ")
        docs.append((doc_id, " ".join(toks)))

    def py_report(all_docs, k=K_SPAN):
        grams = {}
        per_doc = {}
        for did, text in all_docs:
            t = text.split(" ")
            per_doc[did] = t
            for i in range(max(len(t) - k + 1, 0)):
                grams.setdefault(" ".join(t[i : i + k]), set()).add(did)
        dup = {g for g, d in grams.items() if len(d) >= 2}
        out = {}
        for did, t in per_doc.items():
            ps = [
                i + 1
                for i in range(max(len(t) - k + 1, 0))
                if " ".join(t[i : i + k]) in dup
            ]
            if not ps:
                continue
            spans = []
            for p in ps:
                if spans and p - spans[-1][1] <= k:
                    spans[-1] = (spans[-1][0], p)
                else:
                    spans.append((p, p))
            n_dup_tokens = sum(p1 - p0 + k for p0, p1 in spans)
            out[did] = (len(t), len(spans), len(ps), n_dup_tokens)
        return out

    expect = py_report(docs)
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_toks, r.n_spans, r.n_dup_grams, r.dup_tokens)
        for r in dup_span_report(sdf).collect()
    }
    assert got == expect and expect


# ---------------------------------------------------------------------------
# vocabulary census, winnowing fingerprints
# ---------------------------------------------------------------------------
def test_vocab_census_hand_computed(spark):
    """3-doc corpus with known counts: cf/df/rank/cf_frac exact, tie on cf
    broken by token ascending, top_n cut respected."""
    from hive_server_spark.plans.text_pack import vocab_census

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "apple cherry cherry date"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.token: r for r in vocab_census(docs, top_n=3).collect()}
    # cf: apple 3, cherry 3, banana 2, date 1 (cut). tie apple<cherry.
    assert set(rows) == {"apple", "cherry", "banana"}
    assert (rows["apple"].rank, rows["apple"].cf, rows["apple"].df) == (1, 3, 2)
    assert (rows["cherry"].rank, rows["cherry"].cf, rows["cherry"].df) == (2, 3, 2)
    assert (rows["banana"].rank, rows["banana"].cf, rows["banana"].df) == (3, 2, 2)
    assert rows["apple"].cf_frac == 3 / 9
    assert rows["banana"].cf_frac == 2 / 9


def test_winnow_fingerprints_hand_computed(spark):
    """Python winnowing recompute over a small corpus: same gram hashing
    (md5-prefix, seed 'win'), same window mins, same distinct count —
    including a doc below the window threshold (no row) and one at exactly
    the threshold (one window)."""
    import hashlib

    from hive_server_spark.plans.text_pack import K_WIN, W_WIN, winnow_report

    def h(gram: str) -> int:
        return int(hashlib.md5(f"win:{gram}".encode()).hexdigest()[:8], 16)

    texts = {
        0: "a b c d e f g h i j k l",        # 12 tokens -> 9 grams, 5 windows
        1: "x y z w x y z w",                # 8 tokens -> 5 grams, 1 window
        2: "one two three four five six",    # 6 tokens -> 3 grams < W -> absent
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {r.doc_id: r for r in winnow_report(docs).collect()}
    assert 2 not in got
    for doc_id in (0, 1):
        toks = texts[doc_id].split(" ")
        grams = [" ".join(toks[i:i + K_WIN]) for i in range(len(toks) - K_WIN + 1)]
        hs = [h(g) for g in grams]
        n_windows = len(hs) - W_WIN + 1
        fps = {min(hs[p:p + W_WIN]) for p in range(n_windows)}
        r = got[doc_id]
        assert (r.n_grams, r.n_windows, r.n_fingerprints) == (
            len(grams), n_windows, len(fps)
        )
        assert r.fp_density == len(fps) / n_windows


def test_heaps_curve_hand_computed(spark):
    """Vocabulary-growth recompute on a corpus sized to cross two ladder
    points (256, 512): first-occurrence semantics, ladder cut at the
    corpus total, exact ratios."""
    from hive_server_spark.plans.text_pack import heaps_curve

    # 600 tokens total: doc i contributes 60 tokens "w<i*7 % 40>"-ish so
    # the vocabulary saturates and growth flattens measurably
    rows = []
    tok_stream = []
    for d in range(10):
        toks = [f"w{(d * 13 + j * 7) % 45}" for j in range(60)]
        rows.append((d, " ".join(toks)))
        tok_stream.extend(toks)
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.n_prefix: r for r in heaps_curve(docs).collect()}
    assert set(got) == {256, 512}  # 1024 > 600 total -> cut
    for n in (256, 512):
        vocab = len(set(tok_stream[:n]))
        assert got[n].vocab_size == vocab
        assert got[n].type_token_ratio == vocab / n


def test_source_kl_hand_computed(spark):
    """Python recompute of the per-term micro-nat KL contributions on a
    2-source corpus with overlapping and exclusive tokens; a source whose
    distribution equals the corpus mixture restricted to its support must
    come out with small positive KL, and all terms must match exactly."""
    import math

    from hive_server_spark.plans.text_pack import source_kl_report

    docs = spark.createDataFrame(
        [
            (0, "a a b c", "web"),
            (1, "a b b d", "web"),
            (2, "a c c c", "books"),
            (3, "d d e", "books"),
        ],
        ["doc_id", "text", "source"],
    )
    got = {r.source: r for r in source_kl_report(docs).collect()}

    counts: dict[str, dict[str, int]] = {}
    rows = [("web", "a a b c"), ("web", "a b b d"),
            ("books", "a c c c"), ("books", "d d e")]
    for src, text in rows:
        for t in text.split(" "):
            counts.setdefault(src, {})
            counts[src][t] = counts[src].get(t, 0) + 1
    corpus: dict[str, int] = {}
    for src in counts:
        for t, c in counts[src].items():
            corpus[t] = corpus.get(t, 0) + c
    n_c = sum(corpus.values())
    for src in ("web", "books"):
        n_s = sum(counts[src].values())
        kl_micro = sum(
            int(round(c * math.log((c * n_c) / (corpus[t] * n_s)) * 1e6))
            for t, c in counts[src].items()
        )
        r = got[src]
        assert (r.n_tokens, r.vocab_size) == (n_s, len(counts[src]))
        assert r.kl_micro == kl_micro
        assert r.kl_nats == kl_micro / n_s / 1e6


def test_bpe_merge_step_hand_computed(spark):
    """Python recompute of the BPE pair counts on a tiny corpus: GPT-2
    pretokens, pairs weighted by pretoken collection frequency, n_types =
    distinct pretokens containing the pair, total tie-break order."""
    import re
    from collections import Counter

    from hive_server_spark.functions.text import BPE_PATTERN
    from hive_server_spark.plans.text_pack import bpe_merge_step

    texts = ["the cat sat", "the cat", "aa aa bb"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    cnt = Counter()
    for t in texts:
        cnt.update(re.findall(BPE_PATTERN, t))
    pair_count, type_sets = Counter(), {}
    for token, c in cnt.items():
        if len(token) < 2:
            continue
        for i in range(len(token) - 1):
            p = (token[i], token[i + 1])
            pair_count[p] += c
            type_sets.setdefault(p, set()).add(token)
    expect = sorted(
        ((-n, a, b, n, len(type_sets[(a, b)])) for (a, b), n in pair_count.items())
    )

    got = bpe_merge_step(docs, top_n=50).orderBy("rank").collect()
    assert len(got) == len(expect)
    for rank, (r, (_, a, b, n, nt)) in enumerate(zip(got, expect), start=1):
        assert (r.rank, r.sym_a, r.sym_b, r.pair_count, r.n_types) == (
            rank, a, b, n, nt,
        )


def _floor_half_up(x: float) -> int:
    import math

    return int(math.floor(x + 0.5))


def test_gopher_rules_python_recompute(spark):
    """Full metric panel + keep verdict recomputed in python over the same
    injected corpus — every rule's arithmetic, not just the verdict."""
    import re

    from hive_server_spark.plans.text_pack import (
        _GOPHER_STOPS,
        text_gopher_rules,
    )
    from tests.conftest import SF_SMALL as _SF

    got = {r.doc_id: r for r in text_gopher_rules(spark, _SF).collect()}
    docs = {r.doc_id: r.text for r in _docs(spark).collect()}
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        case = doc_id % 6
        t = {
            0: text + "\n- bullet item in a list",
            1: text + "\nto be continued...",
            2: text + " " + ("# " * 20).strip(),
            3: text + " 12345" * 30,
            4: text + "\nthe table holds the data rows.",
            5: text,
        }[case]
        words = t.replace("\n", " ").split(" ")
        lines = t.split("\n")
        nw, nl = len(words), len(lines)
        mean_wlen = _floor_half_up(1e6 * sum(len(w) for w in words) / nw)
        hashes = t.count("#")
        ell = (len(t) - len(t.replace("...", ""))) // 3
        sym = _floor_half_up(1e6 * (hashes + ell) / nw)
        n_alpha = sum(1 for w in words if re.search("[a-z]", w))
        alpha = _floor_half_up(1e6 * n_alpha / nw)
        n_stop = sum(1 for s in _GOPHER_STOPS if s in words)
        n_bul = sum(1 for l in lines if l.startswith("- ") or l.startswith("* "))
        n_ell = sum(1 for l in lines if l.endswith("..."))
        bul = _floor_half_up(1e6 * n_bul / nl)
        ellf = _floor_half_up(1e6 * n_ell / nl)
        keep = (
            30 <= nw <= 5000
            and 3_000_000 <= mean_wlen <= 10_000_000
            and sym <= 100_000
            and alpha >= 800_000
            and n_stop >= 2
            and bul <= 400_000
            and ellf <= 300_000
        )
        r = got[doc_id]
        assert (
            r.n_words, r.mean_wlen_micro, r.sym_ratio_micro,
            r.alpha_frac_micro, r.n_stop, r.bullet_frac_micro,
            r.ellipsis_frac_micro, r.keep,
        ) == (nw, mean_wlen, sym, alpha, n_stop, bul, ellf, keep), doc_id


def test_tfidf_terms_python_recompute(spark):
    """Top-3 per sliced doc vs a python Counter recompute: same terms, same
    order (micro score desc, term asc), same micro scores."""
    import math
    from collections import Counter

    from hive_server_spark.plans.text_pack import text_tfidf_terms
    from tests.conftest import SF_SMALL as _SF

    docs = {r.doc_id: r.text.split(" ") for r in _docs(spark).collect()}
    df: Counter = Counter()
    for toks in docs.values():
        df.update(set(toks))
    n_docs = len(docs)

    got = text_tfidf_terms(spark, _SF).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r.doc_id, r.rk)):
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {d for d in docs if d % 25 == 0}
    for doc_id, rows in by_doc.items():
        toks = docs[doc_id]
        c = Counter(toks)
        n = len(toks)
        expected = sorted(
            (
                (
                    -_floor_half_up(
                        1e6 * (cnt / n) * math.log(n_docs / df[t])
                    ),
                    t,
                )
                for t, cnt in c.items()
            )
        )[:3]
        assert [(r.term, r.tfidf_micro) for r in rows] == [
            (t, -s) for s, t in expected
        ]
        for r in rows:
            assert r.n_words == n and r.c == c[r.term] and r.df == df[r.term]


def test_dsir_weights_python_recompute(spark):
    """Full DSIR model + per-doc scores recomputed in python: 128-bucket
    hashed features, add-1 smoothing, micro-rounded per-bucket weights,
    integer per-doc sums. Target-slice docs must score higher on average
    than the rest (the op's entire point)."""
    import hashlib
    import math
    from collections import Counter

    from hive_server_spark.plans.text_pack import (
        _DSIR_BUCKETS,
        _DSIR_TARGET,
        text_dsir_weights,
    )
    from tests.conftest import SF_SMALL as _SF

    docs = [
        (r.doc_id, r.source, r.text.split(" "))
        for r in load_table(spark, _SF, "documents")
        .select("doc_id", "source", "text")
        .collect()
    ]

    def bucket(tok: str) -> int:
        h = hashlib.md5(f"dsir:{tok}".encode()).hexdigest()[:8]
        return int(h, 16) % _DSIR_BUCKETS

    tcnt: Counter = Counter()
    scnt: Counter = Counter()
    for _, source, toks in docs:
        c = tcnt if source == _DSIR_TARGET else scnt
        for t in toks:
            c[bucket(t)] += 1
    tt, st = sum(tcnt.values()), sum(scnt.values())
    w = {
        b: _floor_half_up(
            1e6
            * math.log(
                ((tcnt[b] + 1.0) / (tt + _DSIR_BUCKETS))
                / ((scnt[b] + 1.0) / (st + _DSIR_BUCKETS))
            )
        )
        for b in set(tcnt) | set(scnt)
    }
    got = {r.doc_id: r for r in text_dsir_weights(spark, _SF).collect()}
    assert set(got) == {d for d, _, _ in docs}
    tgt_scores, rest_scores = [], []
    for doc_id, source, toks in docs:
        score = sum(w[bucket(t)] for t in toks)
        r = got[doc_id]
        assert (r.source, r.n_tokens, r.dsir_micro_total) == (
            source, len(toks), score,
        ), doc_id
        (tgt_scores if source == _DSIR_TARGET else rest_scores).append(
            score / len(toks)
        )
    assert sum(tgt_scores) / len(tgt_scores) > sum(rest_scores) / len(rest_scores)


def test_rag_hybrid_rrf_python_recompute(spark):
    """RRF fusion recomputed in python from the two arms' own outputs:
    same fused top-10, same micro scores, and the fused set must actually
    mix arms (at least one doc per arm among the contributors)."""
    from hive_server_spark.catalog import load_table
    from hive_server_spark.functions import embeddings as E
    from hive_server_spark.plans.text_pack import (
        _BM25_K,
        _RRF_K0,
        _RRF_TOPK,
        rag_hybrid_rrf,
        text_bm25_topk,
    )
    from tests.conftest import SF_SMALL as _SF

    lex = {r.doc_id: r.rk for r in text_bm25_topk(spark, _SF).collect()}
    sem = {
        r.vec_id: r.rk
        for r in E.cosine_topk(
            load_table(spark, _SF, "embeddings"), 0, k=_BM25_K
        ).collect()
    }

    def contrib(rk):
        return _floor_half_up(1e6 / (_RRF_K0 + rk)) if rk is not None else 0

    fused = {
        d: contrib(lex.get(d)) + contrib(sem.get(d))
        for d in set(lex) | set(sem)
    }
    expected = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:_RRF_TOPK]
    got = rag_hybrid_rrf(spark, _SF).orderBy("rank").collect()
    assert [(r.doc_id, r.rrf_micro) for r in got] == expected
    assert [r.rank for r in got] == list(range(1, len(expected) + 1))
    for r in got:
        assert r.lex_rk == lex.get(r.doc_id) and r.sem_rk == sem.get(r.doc_id)
    assert any(r.lex_rk is not None for r in got)
    assert any(r.sem_rk is not None for r in got)


def test_quota_sample_hamilton_recompute(spark):
    """Largest-remainder allocation + deterministic draw recomputed in
    python: quotas sum to exactly N, every source draws exactly its quota,
    and the checksum pins the md5-ranked selection."""
    import hashlib
    from collections import Counter

    from hive_server_spark.plans.text_pack import _QUOTA_N, text_quota_sample
    from tests.conftest import SF_SMALL as _SF

    docs = [
        (r.source, r.doc_id)
        for r in _docs(spark).select("source", "doc_id").collect()
    ]
    n_s = Counter(s for s, _ in docs)
    total = sum(n_s.values())
    floor_q = {s: (_QUOTA_N * n) // total for s, n in n_s.items()}
    rem = {s: (_QUOTA_N * n) % total for s, n in n_s.items()}
    seats_left = _QUOTA_N - sum(floor_q.values())
    order = sorted(n_s, key=lambda s: (-rem[s], s))
    extra = {s: i < seats_left for i, s in enumerate(order)}
    quota = {s: floor_q[s] + extra[s] for s in n_s}
    assert sum(quota.values()) == _QUOTA_N
    by_source = {}
    for s, d in docs:
        by_source.setdefault(s, []).append(d)
    checksum = {}
    for s, ids in by_source.items():
        ranked = sorted(ids, key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d))
        checksum[s] = sum(ranked[: quota[s]])
    got = {r.source: r for r in text_quota_sample(spark, _SF).collect()}
    assert set(got) == set(n_s)
    for s in n_s:
        r = got[s]
        assert (
            r.n_docs, r.floor_q, r.rem, r.extra, r.quota,
            r.n_sampled, r.sample_id_sum,
        ) == (
            n_s[s], floor_q[s], rem[s], extra[s], quota[s],
            quota[s], checksum[s],
        ), s
    assert sum(r.n_sampled for r in got.values()) == _QUOTA_N


def test_bpe_train_matches_python_reference(spark):
    """The full K-merge training loop vs an independent pure-python BPE
    trainer over the same corpus: same pretokenizer regex, pretoken
    frequency weighting, every-adjacent-position pair counting, greedy
    left-to-right non-overlapping merge application, and the
    (count DESC, sym_a, sym_b) tie-break."""
    import re
    from collections import Counter

    import duckdb

    from hive_server_spark.functions.text import BPE_PATTERN
    from hive_server_spark.plans.text_pack import (
        _BPE_TRAIN_STEPS,
        text_bpe_encode,
        text_bpe_train,
    )

    rows = duckdb.execute(
        f"SELECT source, text FROM read_parquet('{SF_SMALL}/documents.parquet')"
    ).fetchall()
    ws_map = {" ": "Ġ", "\n": "Ċ", "\t": "ĉ", "\r": "č"}
    pat = re.compile(BPE_PATTERN)

    def pretokens(text):
        return [
            "".join(ws_map.get(c, c) for c in tok) for tok in pat.findall(text)
        ]

    vocab = Counter()
    for _src, text in rows:
        vocab.update(pretokens(text))
    seqs = {tok: tuple(tok) for tok in vocab}  # symbol sequences

    def apply_merge(seq, a, b):
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        return tuple(out)

    expect = []
    for step in range(1, _BPE_TRAIN_STEPS + 1):
        pair_counts = Counter()
        for tok, seq in seqs.items():
            for i in range(len(seq) - 1):
                pair_counts[(seq[i], seq[i + 1])] += vocab[tok]
        (a, b), cnt = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expect.append((step, a, b, cnt))
        seqs = {tok: apply_merge(seq, a, b) for tok, seq in seqs.items()}

    got = sorted(
        (r.step, r.sym_a, r.sym_b, r.pair_count)
        for r in text_bpe_train(spark, SF_SMALL).collect()
    )
    assert got == expect

    # encode: per-source pretoken and post-merge token counts vs the same
    # python state
    per_source = {}
    for src, text in rows:
        pre, bpe = per_source.setdefault(src, [0, 0])
        toks = pretokens(text)
        per_source[src][0] += len(toks)
        per_source[src][1] += sum(len(seqs[t]) for t in toks)
    enc = {r.source: r for r in text_bpe_encode(spark, SF_SMALL).collect()}
    assert set(enc) == set(per_source)
    for src, (n_pre, n_bpe) in per_source.items():
        assert (enc[src].n_pretokens, enc[src].n_bpe_tokens) == (n_pre, n_bpe), src
        assert enc[src].syms_per_pretoken_micro == round(1_000_000.0 * n_bpe / n_pre)


def test_ccnet_buckets_python_recompute(spark):
    """Per-source tercile bucketing vs a pure-python recompute: per-doc
    mean micro-NLL from the python bigram LM, the capped held-out
    threshold slice (hash-mod predicate, md5 draw-key cap, global
    fallback), numpy-free linear-interp quantiles (the
    quantile_cont/percentile definition), strict-< bucket edges, and the
    per-bucket rollups."""
    import hashlib
    import math
    from collections import Counter, defaultdict

    import duckdb

    from hive_server_spark.plans.text_pack import (
        _CCNET_HELDOUT_CAP,
        _CCNET_HELDOUT_MOD,
        text_ccnet_buckets,
    )

    rows = duckdb.execute(
        f"SELECT doc_id, source, text FROM "
        f"read_parquet('{SF_SMALL}/documents.parquet')"
    ).fetchall()
    # per-doc bigram instances under the house tokenizer (single-space split)
    inst, heads, grams = {}, Counter(), Counter()
    for doc_id, _src, text in rows:
        toks = text.split(" ")
        bgs = [f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)]
        if bgs:
            inst[doc_id] = Counter(bgs)
            grams.update(bgs)
    for g, n in grams.items():
        heads[g.split(" ", 1)[0]] += n
    per_doc = {}
    for doc_id, cnt in inst.items():
        total_micro = sum(
            m * round(math.log(heads[g.split(" ", 1)[0]] / grams[g]) * 1e6)
            for g, m in cnt.items()
        )
        n_bg = sum(cnt.values())
        per_doc[doc_id] = (n_bg, total_micro // n_bg)

    def quantile_cont(vals, q):
        s = sorted(vals)
        pos = (len(s) - 1) * q
        lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)

    src_of = {doc_id: src for doc_id, src, _ in rows}

    # held-out threshold slice: hash-mod predicate, then the first
    # _CCNET_HELDOUT_CAP docs per source by (md5 draw key, doc_id)
    def heldout(doc_id):
        h = int(
            hashlib.md5(f"ccnet42:{doc_id}".encode()).hexdigest()[:8], 16
        )
        return h % _CCNET_HELDOUT_MOD == 0

    by_src_held = defaultdict(list)
    for doc_id in per_doc:
        if heldout(doc_id):
            dk = hashlib.md5(str(doc_id).encode()).hexdigest()
            by_src_held[src_of[doc_id]].append((dk, doc_id))
    held_means = defaultdict(list)
    all_held = []
    for s, lst in by_src_held.items():
        for _dk, doc_id in sorted(lst)[:_CCNET_HELDOUT_CAP]:
            held_means[s].append(per_doc[doc_id][1])
            all_held.append(per_doc[doc_id][1])
    g33, g66 = quantile_cont(all_held, 0.33), quantile_cont(all_held, 0.66)
    expect = defaultdict(lambda: [0, 0, 0])
    for doc_id, (n_bg, mean) in per_doc.items():
        s = src_of[doc_id]
        t33 = quantile_cont(held_means[s], 0.33) if held_means[s] else g33
        t66 = quantile_cont(held_means[s], 0.66) if held_means[s] else g66
        b = "head" if mean < t33 else ("middle" if mean < t66 else "tail")
        agg = expect[(s, b)]
        agg[0] += 1
        agg[1] += n_bg
        agg[2] += mean
    got = {
        (r.source, r.bucket): (r.n_docs, r.n_bigrams_total, r.mean_micro_sum)
        for r in text_ccnet_buckets(spark, SF_SMALL).collect()
    }
    assert got == {k: tuple(v) for k, v in expect.items()}


def test_hash_features_score_python_recompute(spark):
    """Hashed-bigram linear scorer vs a python recompute of the full
    pipeline: seeded-md5 bucket, Knuth-multiplicative integer weight,
    sparse dot, and the keep decision."""
    import hashlib
    from collections import Counter

    import duckdb

    from hive_server_spark.plans.text_pack import (
        _HASHFEAT_BUCKETS,
        _HASHFEAT_KNUTH,
        text_hash_features_score,
    )

    rows = duckdb.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_SMALL}/documents.parquet')"
    ).fetchall()

    def bucket(bigram):
        h = int(hashlib.md5(f"feat:{bigram}".encode()).hexdigest()[:8], 16)
        return h % _HASHFEAT_BUCKETS

    expect = {}
    for doc_id, text in rows:
        toks = text.split(" ")
        cnt = Counter(f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1))
        if not cnt:
            continue
        score = sum(
            m * ((bucket(g) * _HASHFEAT_KNUTH) % 2001 - 1000)
            for g, m in cnt.items()
        )
        expect[doc_id] = (
            sum(cnt.values()),
            len({bucket(g) for g in cnt}),
            score,
            score > 0,
        )
    got = {
        r.doc_id: (r.n_feature_instances, r.n_buckets_hit, r.score_units, r.kept)
        for r in text_hash_features_score(spark, SF_SMALL).collect()
    }
    assert got == expect


def test_bpe_apply_merge_edge_cases(spark):
    """The merge-application fold on adversarial symbol sequences — the
    exact cases a plain string replace gets wrong (separator sharing on
    back-to-back pairs): Spark column, DuckDB SQL,
    and a python greedy reference must agree element-wise."""
    import duckdb

    from hive_server_spark.plans.text_pack import (
        _bpe_apply_fold_sql,
        bpe_apply_merge_col,
    )
    import pyspark.sql.functions as F

    cases = [
        ("b a n a n a", "a", "n", "b an an a"),   # back-to-back distinct pair
        ("a a a a a a a a", "a", "a", "aa aa aa aa"),  # run of 8, greedy pairs
        ("a a a", "a", "a", "aa a"),              # odd run: trailing single
        ("a n", "a", "n", "an"),                  # whole word merges
        ("x", "a", "n", "x"),                     # single symbol untouched
        ("n a", "a", "n", "n a"),                 # reversed order: no match
        ("an a n", "an", "a", "ana n"),           # multi-char left symbol
    ]

    def py_apply(seq, a, b):
        toks, out, i = seq.split(" "), [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return " ".join(out)

    con = duckdb.connect()
    for seq, a, b, want in cases:
        assert py_apply(seq, a, b) == want, (seq, a, b)
        got_d = con.execute(
            f"SELECT {_bpe_apply_fold_sql('s', repr(a), repr(b))} "
            f"FROM (SELECT '{seq}' AS s)"
        ).fetchone()[0]
        assert got_d == want, ("duckdb", seq, a, b, got_d)
        got_s = (
            spark.createDataFrame([(seq,)], "s string")
            .select(bpe_apply_merge_col(F.col("s"), a, b).alias("o"))
            .collect()[0][0]
        )
        assert got_s == want, ("spark", seq, a, b, got_s)


def test_bpe_apply_merge_property_random(spark):
    """Randomized property check of the merge-application fold: 240
    random symbol sequences (small alphabet, high repeat density to force
    back-to-back and overlapping pair occurrences) × 4 merge rules,
    evaluated in ONE Spark pass and one DuckDB pass each, must match the
    python greedy reference element-wise."""
    import random

    import duckdb
    import pyspark.sql.functions as F

    from hive_server_spark.plans.text_pack import (
        _bpe_apply_fold_sql,
        bpe_apply_merge_col,
    )

    def py_apply(seq, a, b):
        toks, out, i = seq.split(" "), [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return " ".join(out)

    rng = random.Random(8008)
    alphabet = ["a", "n", "x", "an"]  # incl. a multi-char symbol
    rules = [("a", "n"), ("a", "a"), ("an", "a"), ("n", "x")]
    seqs = [
        " ".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 12)))
        for _ in range(240)
    ]
    con = duckdb.connect()
    df = spark.createDataFrame([(s,) for s in seqs], "s string")
    for a, b in rules:
        want = [py_apply(s, a, b) for s in seqs]
        # keyed by input (collect order is not the createDataFrame order)
        got_s_map = {}
        for r in df.select("s", bpe_apply_merge_col(F.col("s"), a, b).alias("o")).collect():
            got_s_map.setdefault(r.s, set()).add(r.o)
        for s, w in zip(seqs, want):
            assert got_s_map[s] == {w}, ("spark", s, a, b)
        placeholders = ", ".join(f"('{s}')" for s in set(seqs))
        got_d = dict(
            con.execute(
                f"SELECT s, {_bpe_apply_fold_sql('s', repr(a), repr(b))} "
                f"FROM (VALUES {placeholders}) t(s)"
            ).fetchall()
        )
        for s, w in zip(seqs, want):
            assert got_d[s] == w, ("duckdb", s, a, b)


def test_bpe_separator_chars_full_parity(spark, tmp_path):
    """Parens and the Java-'.'-excluded line separators
    (U+2028 / U+2029 / U+0085 / \\x0b / \\x0c) through the FULL BPE
    train + encode pipeline, Spark vs the registered DuckDB oracle.

    Spark's chr() wraps its argument at 256 (chr(8232) = '(' and
    chr(8233) = ')'), so the previously-shared chr(N) remap spelling
    rewrote every paren to the U+2028/U+2029 markers on the Spark side
    while never remapping the actual separators. The sf corpora contain
    zero parens, so the gate stayed green coincidentally; this corpus
    makes the break non-latent."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark import gate
    from hive_server_spark.plans.text_pack import _bpe_ws_map
    from tests.test_gate_parity import _rowset

    # direct unit check on the remap expression itself: parens untouched,
    # real U+2028/U+2029 mapped to their markers, in BOTH dialects
    probe = "(" + chr(8232) + ")" + chr(8233) + "x" + chr(133)
    want = "(Ĺ)Ľx" + "Ė"
    got_s = (
        spark.createDataFrame([(probe,)], "t string")
        .selectExpr(f"{_bpe_ws_map('t', 's')} AS r")
        .collect()[0].r
    )
    got_d = duckdb.execute(
        f"SELECT {_bpe_ws_map('t', 'd')} FROM (VALUES ($1)) x(t)", [probe]
    ).fetchone()[0]
    assert got_s == want, got_s
    assert got_d == want, got_d

    texts = [
        "call(me) now (please) (((",
        "a)n a)n a)n an an",  # back-to-back merge pairs built from parens
        "line one" + chr(8232) + "line two" + chr(8233) + "end",
        "mix (x)" + chr(8232) + "(y)" + chr(133) + "z" + chr(11) + chr(12),
        "an an an an (an) a n a n",
        "plain text with no separators at all",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array([f"s{i % 2}" for i in range(len(texts))], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    for name in ("text_bpe_train", "text_bpe_encode"):
        oracle = con.execute(gate.oracle_sql()[name])
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = gate.spark_queries()[name](spark, str(tmp_path))
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows) > 0, name
        assert sorted(sdf.columns) == sorted(o_cols), name
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), name


def test_heldout_threshold_fallback_and_cap_parity(spark, tmp_path):
    """The two bounded-threshold paths the sf corpora never exercise:
    (a) a source/lang with NO held-out docs → global-threshold fallback;
    (b) a source/lang with more held-out docs than the cap → the
    (draw_key, doc_id) cap binds. Full Spark-vs-DuckDB parity of
    text_ccnet_buckets and text_quality_filter over a crafted corpus."""
    import hashlib

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark import gate
    from hive_server_spark.plans.text_pack import (
        _CCNET_HELDOUT_CAP,
        _CCNET_HELDOUT_MOD,
        _QF_HELDOUT_MOD,
    )
    from tests.test_gate_parity import _rowset

    # each predicate checked under ITS OWN modulus — the two constants are
    # independently tunable, and sharing one here would silently stop
    # exercising a fallback path if they ever diverge
    def held(doc_id, seed, mod):
        h = int(hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:8], 16)
        return h % mod == 0

    # source "lonely": 6 doc_ids outside BOTH held-out slices
    lonely_ids = [
        i for i in range(100_000, 110_000)
        if not held(i, "ccnet42", _CCNET_HELDOUT_MOD)
        and not held(i, "qmed42", _QF_HELDOUT_MOD)
    ][:6]
    # source "big": 1200 ids → ~400 held-out (> cap of 256), cap binds
    big_ids = list(range(1200))
    n_big_held = sum(held(i, "ccnet42", _CCNET_HELDOUT_MOD) for i in big_ids)
    assert n_big_held > _CCNET_HELDOUT_CAP

    words = ["the", "cat", "sat", "on", "a", "mat", "dog", "ran", "far", "up"]
    rows = []
    for j, i in enumerate(big_ids):
        txt = " ".join(words[(i + k) % 10] for k in range(3 + i % 7))
        rows.append((i, txt, "aa" if j % 2 else "bb", "big"))
    for i in lonely_ids:
        txt = " ".join(words[(i + k) % 10] for k in range(4 + i % 5))
        rows.append((i, txt, "zz", "lonely"))
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    for name in ("text_ccnet_buckets", "text_quality_filter"):
        oracle = con.execute(gate.oracle_sql()[name])
        o_cols = [d[0] for d in oracle.description]
        o_rows = oracle.fetchall()
        sdf = gate.spark_queries()[name](spark, str(tmp_path))
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows) > 0, name
        assert _rowset(sdf.columns, s_rows) == _rowset(o_cols, o_rows), name
    # the fallback really fired: 'lonely' docs got bucketed/filtered
    ccnet = {
        r.source
        for r in gate.spark_queries()["text_ccnet_buckets"](
            spark, str(tmp_path)
        ).collect()
    }
    assert "lonely" in ccnet


def test_heldout_threshold_empty_slice_floor(spark, tmp_path):
    """When the ENTIRE held-out slice is empty (constructible on tiny
    corpora), text_quality_filter must keep every document (the
    doc's-own-quality COALESCE floor — a bare >= NULL would silently drop
    the whole corpus) with lang_median NULL, and text_ccnet_buckets must
    bucket everything 'tail'. Both mirrored in the oracles."""
    import hashlib

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_server_spark import gate
    from hive_server_spark.plans.text_pack import (
        _CCNET_HELDOUT_MOD,
        _QF_HELDOUT_MOD,
    )
    from tests.test_gate_parity import _rowset

    def held(doc_id, seed, mod):
        h = int(hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:8], 16)
        return h % mod == 0

    ids = [
        i for i in range(200_000, 240_000)
        if not held(i, "ccnet42", _CCNET_HELDOUT_MOD)
        and not held(i, "qmed42", _QF_HELDOUT_MOD)
    ][:8]
    words = ["the", "cat", "sat", "on", "a", "mat", "dog", "ran"]
    texts = [
        " ".join(words[(i + k) % 8] for k in range(4 + i % 4)) for i in ids
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en", "de"] * 4, pa.string()),
            "source": pa.array(["s0", "s1"] * 4, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )

    qf = gate.spark_queries()["text_quality_filter"](spark, str(tmp_path))
    rows = qf.collect()
    assert len(rows) == len(ids)  # nothing dropped
    assert all(r.lang_median is None for r in rows)
    oracle = con.execute(gate.oracle_sql()["text_quality_filter"])
    o_rows = oracle.fetchall()
    assert _rowset(qf.columns, [tuple(r) for r in rows]) == _rowset(
        [d[0] for d in oracle.description], o_rows
    )

    cc = gate.spark_queries()["text_ccnet_buckets"](spark, str(tmp_path))
    cc_rows = cc.collect()
    assert cc_rows and all(r.bucket == "tail" for r in cc_rows)
    oracle = con.execute(gate.oracle_sql()["text_ccnet_buckets"])
    assert _rowset(cc.columns, [tuple(r) for r in cc_rows]) == _rowset(
        [d[0] for d in oracle.description], oracle.fetchall()
    )
