"""Edge-case hardening: empty inputs and unknown keys must return empty
results, never raise — the reference 404s on unknown pools and returns
empty books; our DataFrame surface mirrors that with zero-row frames."""

from __future__ import annotations

from hive_server_spark.operators import serving
from hive_server_spark.operators.amount_out import amount_out
from hive_server_spark.operators.fold import fold_order_events
from hive_server_spark.operators.orderbook import price_levels, top_levels
from hive_server_spark.sources.synthetic import order_events
from tests.conftest import SF_SMALL


def test_empty_event_log_folds_to_empty_state(spark, make_events):
    empty = make_events([])
    state = fold_order_events(empty)
    assert state.count() == 0
    assert top_levels(price_levels(state)).count() == 0


def test_amount_out_on_empty_book(spark, make_events):
    state = fold_order_events(make_events([]))
    rows = amount_out(state, "BUY", 100).collect()
    assert rows == []  # no pools → no result rows (reference: 404 per pool)


def test_unknown_pool_returns_empty_book(spark):
    orders = fold_order_events(order_events(spark, SF_SMALL))
    assert serving.order_book_json(orders, "pool_does_not_exist").count() == 0
    assert serving.order_json(orders, "pool_0", 10**9).count() == 0


def test_cancel_only_order_never_materializes(spark, make_events):
    from tests.conftest import ev

    only_cancel = make_events(
        [ev(seq=1, event_type="OrderCancelled", order_id=42)]
    )
    assert fold_order_events(only_cancel).count() == 0


def test_single_token_documents(spark):
    """Degenerate docs (< 3 tokens) still produce one deterministic shingle
    and a valid profile."""
    from pyspark.sql import Row

    from hive_server_spark.functions import text as T

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="one", lang="en", source="s", n_chars=3),
            Row(doc_id=2, text="two words", lang="en", source="s", n_chars=9),
        ]
    )
    sh = {r.doc_id: r.shingles for r in T.with_shingles(docs).collect()}
    assert sh[1] == ["one"] and sh[2] == ["two words"]
    prof = {r.doc_id: r for r in T.doc_profile(docs).collect()}
    assert prof[1].n_tokens == 1 and prof[2].n_tokens == 2
    assert 0 <= prof[1].quality_score <= 1
