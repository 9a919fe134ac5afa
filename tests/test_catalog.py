"""Catalog boundary contract: `events.ts` must land as session TimestampType.

The driver has changed the physical parquet encoding of `events.ts` twice in
three rounds (TIMESTAMP(NANOS) → timestamp[us] NTZ), each time breaking every
`unix_micros` / `withWatermark` consumer. This test pins the contract at the
one place it is enforced — `catalog.load_table` — for all three encodings, so
the next driver-side flip is a test failure, not a round loss.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from hive_server_spark.catalog import load_table
from hive_server_spark.schemas import DRIVER_TABLES
from tests.conftest import SF_MED, SF_SMALL

# One canonical instant: 2024-01-01T00:00:01.234567Z
MICROS = 1_704_067_201_234_567


def _write_events(tmp_path, ts_array: pa.Array) -> str:
    """Write a minimal events.parquet with the given ts column encoding."""
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    out = os.path.join(str(tmp_path), "events.parquet")
    pq.write_table(table, out)
    return str(tmp_path)


ENCODINGS = {
    "nanos": pa.array([MICROS * 1000], pa.timestamp("ns")),
    "us_ntz": pa.array([MICROS], pa.timestamp("us")),
    "us_utc": pa.array([MICROS], pa.timestamp("us", tz="UTC")),
}


@pytest.mark.parametrize("encoding", sorted(ENCODINGS))
def test_events_ts_lands_as_session_timestamp(spark, tmp_path, encoding):
    sf_dir = _write_events(tmp_path, ENCODINGS[encoding])
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType), (
        f"events.ts must normalize to session TIMESTAMP, got "
        f"{df.schema['ts'].dataType} for parquet encoding {encoding!r}"
    )
    # Value contract: identical instant under the pinned UTC session tz,
    # and unix_micros (a consumer that once broke here) must resolve.
    [(got,)] = df.select(F.unix_micros("ts")).collect()
    assert got == MICROS, f"{encoding}: expected {MICROS}, got {got}"


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MED])
def test_driver_testdata_events_ts(spark, sf_dir):
    """Whatever encoding the driver regenerated this round, ts must land LTZ."""
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    # withWatermark is the strictest consumer — it must accept the column.
    df.withWatermark("ts", "1 second")


# the column contract every query pack assumes; a driver-side testdata
# regeneration that drops/renames a column should fail HERE with a table
# name, not deep inside some query plan (the ts-encoding lesson, applied
# to the rest of the schema — extra new columns are tolerated)
EXPECTED_COLUMNS = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey", "s_acctbal"},
    "part": {"p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"},
    "orders": {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    },
    "lineitem": {
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MED])
def test_all_driver_tables_load_with_expected_columns(spark, sf_dir):
    assert set(DRIVER_TABLES) >= set(EXPECTED_COLUMNS)
    for name, expected in EXPECTED_COLUMNS.items():
        missing = expected - set(load_table(spark, sf_dir, name).columns)
        assert not missing, (
            f"{name} at {sf_dir} lost column(s) {sorted(missing)} — the driver "
            f"regenerated testdata with a different schema; fix at the catalog "
            f"boundary (hive_server_spark/catalog.py), not in consumers"
        )


def test_load_table_infers_each_file_version_once(spark, tmp_path):
    """The first load of a table file infers its schema (one Spark job);
    later loads of the same file version reuse it and submit no job, with
    the schema and rows an inferring read returns. A rewrite of the file
    with other columns is a new version, so the next load infers again."""
    from collections import Counter

    from tests.conftest import next_job_id

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    load_table(spark, str(tmp_path), "t")

    first = next_job_id(spark)
    got = load_table(spark, str(tmp_path), "t")
    assert next_job_id(spark) == first, "a second load submitted a job"
    inferred = spark.read.parquet(path)
    assert got.schema == inferred.schema
    assert Counter(got.collect()) == Counter(inferred.collect())

    pq.write_table(pa.table({"c": [1.5, 2.5]}), path)
    first = next_job_id(spark)
    again = load_table(spark, str(tmp_path), "t")
    assert next_job_id(spark) - first == 1  # one inference, of the new file
    assert again.columns == ["c"]
    assert sorted(r.c for r in again.collect()) == [1.5, 2.5]
