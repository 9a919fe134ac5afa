from __future__ import annotations

import os
import sys
from datetime import datetime, timezone
from decimal import Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_server_spark.schemas import ORDER_EVENTS_SCHEMA  # noqa: E402
from hive_server_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


def next_job_id(spark) -> int:
    """The id the next Spark job will get, once the listener bus has
    delivered every job start so far to the status store: the jobs a code
    region submitted are the ids between two reads."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return 0 if jobs.isEmpty() else max(jobs.head().jobId(), jobs.last().jobId()) + 1


def tier1_session():
    """The tier-1 session: `scripts/explain_audit.py` builds its PLANS.md
    rows in this same session shape."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    return get_spark("hive-server-spark-tests", shuffle_partitions=4)


@pytest.fixture(scope="session")
def spark():
    yield tier1_session()


def ev(
    pool="pool_0",
    seq=0,
    event_type="OrderCreated",
    order_id=None,
    trader=None,
    price=None,
    amount=None,
    filled=None,
    remaining=None,
    new_amount=None,
    order_type=None,
    filled_amount=None,
):
    """Build one order_events row (FIXTURES.md §1 shape)."""
    d = Decimal
    return (
        pool,
        seq,
        datetime(2024, 1, 1, 0, 0, seq % 60, tzinfo=timezone.utc).replace(tzinfo=None),
        event_type,
        order_id,
        trader,
        d(str(price)) if price is not None else None,
        d(str(amount)) if amount is not None else None,
        d(str(filled)) if filled is not None else None,
        d(str(remaining)) if remaining is not None else None,
        d(str(new_amount)) if new_amount is not None else None,
        order_type,
        d(str(filled_amount)) if filled_amount is not None else None,
    )


@pytest.fixture()
def make_events(spark):
    def _make(rows):
        return spark.createDataFrame(rows, schema=ORDER_EVENTS_SCHEMA)

    return _make
