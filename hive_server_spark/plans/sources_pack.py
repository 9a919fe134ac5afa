"""Source-format coverage: JSONL and CSV round trips, value-gated.

The reference ingests JSON exclusively (JSON-RPC responses and Redis JSON
blobs, reference src/utils/ethers.ts, src/models/order-book.ts:61-77); an
engine replacing it must read the same data from text formats without
corrupting types. Each gate query here lands the events table in a text
format, reads it back with an explicit schema, and aggregates — the oracle
aggregates the ORIGINAL parquet, so any loss in the round trip (timestamp
precision, double formatting, quoting/escaping) breaks the value hash.

Scale posture: schema-on-read with an explicit schema (no inference pass —
inference scans the data twice and is O(input)); timestamps are pinned to a
microsecond-precision format; the aggregation itself is the same one-shuffle
rollup as evt_hourly_rollup.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_server_spark.catalog import load_table
from hive_server_spark.registry import register
from hive_server_spark.session import session_scratch
from hive_server_spark.session_cache import shared

# microsecond-precision wire format: Spark's default JSON/CSV timestamp
# pattern keeps millis only, which would silently truncate event times
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

_ROLLUP_ORACLE = """
SELECT date_trunc('hour', ts) AS bucket, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    work = tempfile.mkdtemp(dir=session_scratch(f"src_{fmt}"))
    path = os.path.join(work, f"events_{fmt}")
    writer = ev.write
    reader = spark.read.schema(ev.schema)
    if fmt in ("json", "csv"):
        writer = writer.option("timestampFormat", _TS_FMT)
        reader = reader.option("timestampFormat", _TS_FMT)
    if fmt == "csv":
        writer = writer.option("header", "true")
        reader = reader.option("header", "true")
    getattr(writer, fmt)(path)
    return getattr(reader, fmt)(path)


def _rollup(e: DataFrame) -> DataFrame:
    return e.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


@register("src_jsonl_roundtrip", _ROLLUP_ORACLE)
def src_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rollup(_roundtrip(spark, sf_dir, "json"))


@register("src_csv_roundtrip", _ROLLUP_ORACLE)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rollup(_roundtrip(spark, sf_dir, "csv"))


@register("src_orc_roundtrip", _ROLLUP_ORACLE)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC is binary/typed like parquet, so the round trip checks the
    columnar path rather than text parsing — timestamps survive at full
    microsecond precision without a format pin."""
    return _rollup(_roundtrip(spark, sf_dir, "orc"))


# ---------------------------------------------------------------------------
# Z-order layout manifest: rows assigned to Z-contiguous files over two
# dimensions, manifest = per-file count + bounding boxes. Closed-form bit
# arithmetic, so the layout decision itself is value-gated.
# ---------------------------------------------------------------------------
from hive_server_spark.sources.zorder import zorder_manifest, zvalue_sql  # noqa: E402

_Z_X = "user_id % 256"
_Z_Y = "CAST(floor(value) AS BIGINT) % 256"
_Z_STRIDE = (1 << 16) // 16

_ZORDER_ORACLE = f"""
WITH pts AS (
  SELECT {_Z_X} AS zx, {_Z_Y} AS zy FROM events
), z AS (
  SELECT zx, zy, {zvalue_sql('zx', 'zy')} AS zval FROM pts
)
SELECT CAST(zval // {_Z_STRIDE} AS BIGINT) AS file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(zx) AS BIGINT) AS x_min,
       CAST(MAX(zx) AS BIGINT) AS x_max,
       CAST(MIN(zy) AS BIGINT) AS y_min,
       CAST(MAX(zy) AS BIGINT) AS y_max
FROM z GROUP BY 1
"""


@register("layout_zorder_manifest", _ZORDER_ORACLE)
def layout_zorder_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-curve file assignment over (user bucket, value bucket): each
    file's manifest row carries its (x, y) bounding box, which is what lets
    a 2-D range predicate prune to a handful of files — the Z-ORDER layout
    primitive of lakehouse tables, value-gated as pure integer math."""
    e = load_table(spark, sf_dir, "events")
    return zorder_manifest(
        e,
        x=F.expr(_Z_X),
        y=F.expr(_Z_Y),
        bits=8,
        files=16,
    )


# ---------------------------------------------------------------------------
# Hive-partitioned layout round trip: write events partitioned by
# event_type (the §2 layout primitive: partition columns become directory
# keys), read back ONE partition through a pushed filter, and aggregate.
# The oracle filters the original table, so partition-column type recovery
# and row routing are both value-gated; tests/test_scale_utils.py pins that
# the physical scan actually prunes (PartitionFilters, one directory).
# ---------------------------------------------------------------------------
_PART_TYPE = "purchase"

_PART_ORACLE = f"""
SELECT date_trunc('hour', ts) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE event_type = '{_PART_TYPE}'
GROUP BY date_trunc('hour', ts)
"""


# the partitioned layout is identical for every caller in a session (gate
# hash, bench timing loops, pruning test) — land it once per (session,
# sf_dir) like the streaming landings, and delete evicted dirs so
# long-lived processes don't leak disk
def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Write events hive-partitioned by event_type once per (session,
    sf_dir); callers read specific partitions back through pushed
    filters."""

    def land() -> str:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "value", "event_type"
        )
        work = tempfile.mkdtemp(dir=session_scratch("part"))
        path = os.path.join(work, "events_by_type")
        ev.write.partitionBy("event_type").parquet(path)
        return path

    return shared(
        spark,
        ("src:events_by_type", sf_dir),
        land,
        release=lambda d: shutil.rmtree(os.path.dirname(d), ignore_errors=True),
    )


@register("src_partitioned_roundtrip", _PART_ORACLE)
def src_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = partitioned_events_path(spark, sf_dir)
    back = spark.read.parquet(path).where(F.col("event_type") == _PART_TYPE)
    return back.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Compaction plan: the lakehouse small-file maintenance
# primitive — given a file manifest (documents standing in as the
# per-partition file listing: doc_id = file, n_chars = bytes, source =
# partition directory), assign input files to target-size output files by
# streaming first-fit: within each partition, files in manifest order are
# packed into output file floor(bytes_before / TARGET). Pure integer
# prefix-sum arithmetic, so the layout decision itself is value-gated.
# Scale shape: ONE shuffle keyed by the partition directory; the running
# sum is a per-partition ROWS window (parallel across partitions — a real
# lakehouse has orders of magnitude more partition dirs than executors);
# the per-output-file rollup is map-side combined. No global sort, no
# driver-side file listing loop.
# ---------------------------------------------------------------------------
_COMPACT_TARGET = 16384  # target output size (chars standing in for bytes)

_COMPACT_ORACLE = f"""
WITH c AS (
  SELECT source, doc_id, n_chars,
         COALESCE(SUM(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bytes_before
  FROM documents
)
SELECT source,
       CAST(bytes_before // {_COMPACT_TARGET} AS BIGINT) AS out_file,
       CAST(COUNT(*) AS BIGINT) AS n_inputs,
       CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
       CAST(MIN(doc_id) AS BIGINT) AS first_input,
       CAST(MAX(doc_id) AS BIGINT) AS last_input
FROM c GROUP BY source, out_file
"""


def compaction_plan(manifest: DataFrame, target: int = _COMPACT_TARGET) -> DataFrame:
    """Streaming first-fit bin packing of small files into target-size
    outputs, one plan row per output file with its input count, byte
    total, and input-id range — what an OPTIMIZE/compaction job executes.
    `manifest` columns: source (partition dir), doc_id (file), n_chars
    (bytes). See the block comment above for the plan shape."""
    docs = manifest.select("source", "doc_id", "n_chars")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = docs.withColumn(
        "bytes_before", F.coalesce(F.sum("n_chars").over(w), F.lit(0))
    )
    return c.groupBy(
        "source",
        F.expr(f"CAST(bytes_before DIV {target} AS BIGINT)").alias("out_file"),
    ).agg(
        F.count("*").cast("bigint").alias("n_inputs"),
        F.sum("n_chars").cast("bigint").alias("total_bytes"),
        F.min("doc_id").cast("bigint").alias("first_input"),
        F.max("doc_id").cast("bigint").alias("last_input"),
    )


@register("layout_compaction_plan", _COMPACT_ORACLE)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compaction_plan(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Zone-map data skipping: the min/max-statistics read-pruning
# primitive every lakehouse format (parquet row groups, Delta/Iceberg file
# stats) serves — computed and *evaluated* as a value-gated query. Events
# are grouped into synthetic files (file = event_id DIV 512, the same
# manifest stand-in documents played for the compaction plan); per file
# the zone map is min/max of ts, value, event_type plus the row count;
# four fixed predicates are then tested against the maps and the audit
# reports, per predicate: file count, files provably skippable, rows in
# the files that must still be scanned, and the exact matching row count
# (one conditional-aggregation pass — no per-predicate scans).
# The result is the classic zone-map lesson made measurable: ts predicates
# skip almost everything because the layout is ts-clustered (event_id
# rides ts order), while value/type predicates skip nothing because every
# file spans the full range — the quantitative case for the z-order
# manifest (layout_zorder_manifest) and OPTIMIZE (layout_compaction_plan).
# Scale shape: one map-side-combined agg per file for the maps (files ≫
# executors → parallel), a 4-entry literal stack over the file table, a
# single conditional-agg pass for ground truth, and a 4-row broadcast
# join — nothing corpus-sized shuffles twice.
# ---------------------------------------------------------------------------
_ZM_FILE_ROWS = 512

_ZM_PREDS = [
    ("ts_ge_jan28", "ts >= TIMESTAMP '2024-01-28 00:00:00'"),
    ("value_ge_450", "value >= 450.0"),
    ("value_band_100_101", "value >= 100.0 AND value <= 101.0"),
    ("type_eq_purchase", "event_type = 'purchase'"),
]

_ZM_SKIPS = [
    ("ts_ge_jan28", "max_ts < TIMESTAMP '2024-01-28 00:00:00'"),
    ("value_ge_450", "max_value < 450.0"),
    ("value_band_100_101", "max_value < 100.0 OR min_value > 101.0"),
    ("type_eq_purchase", "max_type < 'purchase' OR min_type > 'purchase'"),
]


def _zm_oracle() -> str:
    per_file = ", ".join(
        f"SUM(CASE WHEN NOT ({skip}) THEN n_rows ELSE 0 END) AS scan_{name}, "
        f"SUM(CASE WHEN {skip} THEN 1 ELSE 0 END) AS skip_{name}"
        for name, skip in _ZM_SKIPS
    )
    matched = ", ".join(
        f"SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS match_{name}"
        for name, pred in _ZM_PREDS
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS pred, z.n_files, CAST(z.skip_{name} AS BIGINT) AS n_skipped, "
        f"CAST(z.scan_{name} AS BIGINT) AS rows_scanned, CAST(m.match_{name} AS BIGINT) AS rows_matched "
        f"FROM z CROSS JOIN m"
        for name, _ in _ZM_PREDS
    )
    return f"""
WITH files AS (
  SELECT event_id // {_ZM_FILE_ROWS} AS file_id,
         COUNT(*) AS n_rows,
         MIN(ts) AS min_ts, MAX(ts) AS max_ts,
         MIN(value) AS min_value, MAX(value) AS max_value,
         MIN(event_type) AS min_type, MAX(event_type) AS max_type
  FROM events GROUP BY event_id // {_ZM_FILE_ROWS}
),
z AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_files, {per_file} FROM files),
m AS (SELECT {matched} FROM events)
{unions}
"""


@register("layout_zonemap_skipping", _zm_oracle())
def layout_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map skipping audit — see the block comment above."""
    ev = load_table(spark, sf_dir, "events")
    files = ev.groupBy(
        F.expr(f"event_id DIV {_ZM_FILE_ROWS}").alias("file_id")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min("event_type").alias("min_type"),
        F.max("event_type").alias("max_type"),
    )
    skip_cols = [
        c
        for name, skip in _ZM_SKIPS
        for c in (
            F.expr(
                f"SUM(CASE WHEN NOT ({skip}) THEN n_rows ELSE 0 END)"
            ).alias(f"scan_{name}"),
            F.expr(f"SUM(CASE WHEN {skip} THEN 1 ELSE 0 END)").alias(
                f"skip_{name}"
            ),
        )
    ]
    z = files.agg(F.count("*").cast("bigint").alias("n_files"), *skip_cols)
    m = ev.agg(
        *[
            F.expr(f"SUM(CASE WHEN {pred} THEN 1 ELSE 0 END)").alias(
                f"match_{name}"
            )
            for name, pred in _ZM_PREDS
        ]
    )
    stacked = z.crossJoin(F.broadcast(m)).select(
        "n_files",
        F.expr(
            "stack({n}, {args}) AS (pred, n_skipped, rows_scanned, rows_matched)".format(
                n=len(_ZM_PREDS),
                args=", ".join(
                    f"'{name}', CAST(skip_{name} AS BIGINT), "
                    f"CAST(scan_{name} AS BIGINT), CAST(match_{name} AS BIGINT)"
                    for name, _ in _ZM_PREDS
                ),
            )
        ),
    )
    return stacked.select(
        "pred", "n_files", "n_skipped", "rows_scanned", "rows_matched"
    )


# ---------------------------------------------------------------------------
# Deletion vectors: the lakehouse DML-without-rewrite primitive
# (Delta deletion vectors / Iceberg positional delete files, public specs) —
# a DELETE marks row POSITIONS inside immutable files instead of rewriting
# them; readers apply the per-file position bitmap. This query runs
# `DELETE WHERE event_type = 'error' AND value < 100.0` against the same
# synthetic file layout the compaction/zone-map queries use (file =
# event_id DIV 512) and emits each touched file's deletion vector as its
# ordered-position md5 (a deterministic stand-in for the serialized
# bitmap) plus the audit counts a MERGE/DELETE commit records.
# Completes the lakehouse-layout family: layout_zorder_manifest clusters,
# layout_compaction_plan compacts, layout_zonemap_skipping prunes reads,
# THIS mutates.
# Scale shape: one scan; positions are a per-file row_number window
# (parallel across files, bounded within — file size is the 512-row
# manifest contract); the vector itself is a per-file sort_array over the
# DELETED positions only (deletes per file ≤ file size by construction,
# and real DVs are per-file small — a mostly-deleted file goes to
# compaction instead). One map-side-combinable agg; no joins.
# ---------------------------------------------------------------------------
_DV_PRED = "event_type = 'error' AND value < 100.0"


_DV_ORACLE = f"""
WITH pos AS (
  SELECT event_id // {_ZM_FILE_ROWS} AS file_id,
         row_number() OVER (PARTITION BY event_id // {_ZM_FILE_ROWS}
                            ORDER BY event_id) AS pos,
         ({_DV_PRED}) AS deleted
  FROM events
)
SELECT file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       CAST(SUM(CASE WHEN deleted THEN 0 ELSE 1 END) AS BIGINT) AS n_live,
       CAST(COALESCE(SUM(CASE WHEN deleted THEN pos END), 0) AS BIGINT)
         AS pos_checksum,
       md5(array_to_string(list_sort(list(pos) FILTER (WHERE deleted)), ','))
         AS dv_md5
FROM pos
GROUP BY file_id
HAVING SUM(CASE WHEN deleted THEN 1 ELSE 0 END) > 0
"""


@register("layout_deletion_vectors", _DV_ORACLE)
def layout_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional deletion vectors for a predicate DELETE over the
    synthetic 512-row file layout (see block comment): per touched file,
    live/deleted audit counts and the md5 of the ordered deleted-position
    list."""
    ev = load_table(spark, sf_dir, "events").select(
        # integer DIV, matching the zone-map twin and both oracles: a
        # double division + truncate rounds for event_id beyond 2^53 and
        # would land rows in the wrong file at that scale
        F.expr(f"event_id DIV {_ZM_FILE_ROWS}").alias("file_id"),
        "event_id",
        F.expr(f"({_DV_PRED})").alias("deleted"),
    )
    w = Window.partitionBy("file_id").orderBy("event_id")
    pos = ev.withColumn("pos", F.row_number().over(w))
    return (
        pos.groupBy("file_id")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("deleted"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_deleted"),
            F.sum(F.when(F.col("deleted"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_live"),
            F.coalesce(
                F.sum(F.when(F.col("deleted"), F.col("pos"))), F.lit(0)
            )
            .cast("bigint")
            .alias("pos_checksum"),
            F.md5(
                F.array_join(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("deleted"), F.col("pos"))
                        )
                    ),
                    ",",
                )
            ).alias("dv_md5"),
        )
        .where(F.col("n_deleted") > 0)
    )


# ---------------------------------------------------------------------------
# Schema-evolution round trip: the read-side contract every
# long-lived lakehouse table depends on — a v1 batch written with three
# columns and a v2 batch with two ADDED columns are read back through
# parquet schema merging; pre-evolution rows must surface the added
# columns as NULL (never as a read error or silent column drop). The
# split is keyed on o_orderkey parity, so the oracle reconstructs the
# exact merged table from the original orders view with a CASE — null backfill,
# column-order independence, and aggregate semantics over the mixed
# batches are all value-gated. Scale: schema merging is a FOOTER
# operation (Spark unions the parquet schemas, it never rewrites data),
# so the read cost is the same scan either way; the write is two
# straight columnar dumps.
# ---------------------------------------------------------------------------

_EVO_ORACLE = """
WITH merged AS (
  SELECT o_custkey, o_totalprice,
         CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS status,
         CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS priority
  FROM orders
)
SELECT COALESCE(status, '<pre-evolution>') AS status_key,
       COALESCE(priority, '<pre-evolution>') AS priority_key,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_price_cents
FROM merged GROUP BY 1, 2
"""


@register("src_schema_evolution_roundtrip", _EVO_ORACLE)
def src_schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders as a 3-column v1 batch plus a 5-column v2 batch, read
    them back under mergeSchema, and aggregate across the evolution
    boundary (see block comment; '<pre-evolution>' keys the null-backfilled
    v1 rows)."""
    # the two-batch landing is identical for every caller in a session —
    # land once per (session, sf_dir) like the partitioned layout above,
    # instead of rewriting the orders table on every gate/bench/test call
    def land() -> str:
        o = load_table(spark, sf_dir, "orders")
        work = tempfile.mkdtemp(dir=session_scratch("evo"))
        o.where(F.expr("o_orderkey % 2 = 0")).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ).write.parquet(os.path.join(work, "v1"))
        o.where(F.expr("o_orderkey % 2 = 1")).select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderstatus",
            "o_orderpriority",
        ).write.parquet(os.path.join(work, "v2"))
        return work

    work = shared(
        spark,
        ("src:orders_evolution", sf_dir),
        land,
        release=lambda d: shutil.rmtree(d, ignore_errors=True),
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(work, "v1"), os.path.join(work, "v2")
    )
    return merged.groupBy(
        F.coalesce("o_orderstatus", F.lit("<pre-evolution>")).alias("status_key"),
        F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias("priority_key"),
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count_distinct("o_custkey").cast("bigint").alias("n_customers"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_price_cents"),
    )


# ---------------------------------------------------------------------------
# Snapshot manifest diff: what an incremental consumer (or a
# table-maintenance audit) sees between two versions of the synthetic
# 512-row-file layout. v2 applies (a) a RANGE-SCOPED predicate DELETE —
# the layout_deletion_vectors predicate restricted to 3 of every 5 file
# ranges, the shape a retention DELETE over a time range has — touched
# files are REWRITTEN in place, files outside the range (or with no
# matching rows) stay UNCHANGED; and (b) a structural whole-file drop
# (file_id % 17 = 3, the DROP PARTITION shape) — those files are
# REMOVED; the deleted rows from kept files land in fresh quarantine
# files keyed -(1 + file_id) — a keyspace DISJOINT from genuine
# non-negative file ids at any table size (a positive offset would
# collide once the table reaches offset×rows_per_file rows)
# — ADDED. A file is UNCHANGED iff its content hash (md5 over the
# int-sorted event-id list) is byte-identical. Scale: each manifest is ONE map-side-combined
# agg producing a file-count-sized table; the diff is a manifest-to-
# manifest full-outer equi-join on file_id (hint-free — manifests of a
# million-file table broadcast only if stats say so).
# ---------------------------------------------------------------------------
def _manifest_cte(rows_sql: str) -> str:
    """DuckDB manifest over `rows_sql` (must yield file_id, event_id);
    the Spark twin is _manifest_df below."""
    return (
        f"SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "md5(array_to_string(list_transform(list_sort(list(event_id)), "
        "x -> CAST(x AS VARCHAR)), ',')) AS content_md5 "
        f"FROM ({rows_sql}) GROUP BY file_id"
    )


_MD_V1_ROWS = f"SELECT event_id // {_ZM_FILE_ROWS} AS file_id, event_id FROM events"
# the DELETE is range-scoped (file ranges ≡ 0,1,3 mod 5): retention jobs
# target time ranges, and the scope guarantees genuinely-untouched files
_MD_DEL = f"({_DV_PRED}) AND (event_id // {_ZM_FILE_ROWS}) % 5 IN (0, 1, 3)"

_MD_V2_ROWS = f"""
SELECT CASE WHEN {_MD_DEL}
            THEN -(1 + (event_id // {_ZM_FILE_ROWS}))
            ELSE event_id // {_ZM_FILE_ROWS} END AS file_id,
       event_id
FROM events
WHERE (event_id // {_ZM_FILE_ROWS}) % 17 != 3
"""

_MANIFEST_DIFF_ORACLE = f"""
WITH v1 AS ({_manifest_cte(_MD_V1_ROWS)}),
v2 AS ({_manifest_cte(_MD_V2_ROWS)})
SELECT COALESCE(v1.file_id, v2.file_id) AS file_id,
       CASE WHEN v2.file_id IS NULL THEN 'removed'
            WHEN v1.file_id IS NULL THEN 'added'
            WHEN v1.content_md5 = v2.content_md5 THEN 'unchanged'
            ELSE 'rewritten' END AS status,
       CAST(COALESCE(v1.n_rows, 0) AS BIGINT) AS rows_v1,
       CAST(COALESCE(v2.n_rows, 0) AS BIGINT) AS rows_v2
FROM v1 FULL OUTER JOIN v2 ON v1.file_id = v2.file_id
"""


def _manifest_df(rows: DataFrame) -> DataFrame:
    return rows.groupBy("file_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.md5(
            F.array_join(
                F.expr(
                    "transform(sort_array(collect_list(event_id)), "
                    "x -> CAST(x AS STRING))"
                ),
                ",",
            )
        ).alias("content_md5"),
    )


@register("layout_manifest_diff", _MANIFEST_DIFF_ORACLE)
def layout_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file diff between two table snapshots — unchanged / rewritten /
    removed / added, with row counts on both sides (see block comment for
    the v2 construction and the manifest-join scale shape)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"event_id DIV {_ZM_FILE_ROWS}").alias("orig_file"),
        "event_id",
        F.expr(
            f"({_DV_PRED}) AND (event_id DIV {_ZM_FILE_ROWS}) % 5 IN (0, 1, 3)"
        ).alias("deleted"),
    )
    v1 = _manifest_df(ev.select(F.col("orig_file").alias("file_id"), "event_id"))
    v2 = _manifest_df(
        ev.where(F.expr("orig_file % 17 != 3")).select(
            F.when(F.col("deleted"), -(F.lit(1) + F.col("orig_file")))
            .otherwise(F.col("orig_file"))
            .alias("file_id"),
            "event_id",
        )
    )
    # FULL OUTER (a file may be in one manifest only) has no broadcast
    # form: a sort-merge join of two file-count-sized manifests
    j = v1.alias("v1").join(
        v2.alias("v2"), F.col("v1.file_id") == F.col("v2.file_id"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("v1.file_id"), F.col("v2.file_id")).alias("file_id"),
        F.when(F.col("v2.file_id").isNull(), "removed")
        .when(F.col("v1.file_id").isNull(), "added")
        .when(F.col("v1.content_md5") == F.col("v2.content_md5"), "unchanged")
        .otherwise("rewritten")
        .alias("status"),
        F.coalesce(F.col("v1.n_rows"), F.lit(0)).cast("bigint").alias("rows_v1"),
        F.coalesce(F.col("v2.n_rows"), F.lit(0)).cast("bigint").alias("rows_v2"),
    )


# ---------------------------------------------------------------------------
# Snapshot expiry / orphan-file report. The table-maintenance step AFTER the
# manifest diff: a versioned table keeps a CHAIN of snapshots, each
# referencing a set of physical files; expiring old snapshots makes every
# file referenced ONLY by expired snapshots reclaimable (Iceberg's
# expire_snapshots + orphan cleanup, Delta's VACUUM). Chain here:
#   v1 = the original 512-row-file layout;
#   v2 = layout_manifest_diff's second version (range-scoped DELETE
#        rewrites, whole-file drops, quarantine files for deleted rows);
#   v3 = v2 with the quarantine files COMPACTED into one file (id -1) —
#        the small-file maintenance pass a retention DELETE leaves behind.
# A physical file is (file_id, content_md5) — a rewrite under the same id
# is a DIFFERENT file (copy-on-write). Retention keeps {v2, v3}; expiring
# v1 reclaims exactly the files whose last reference is v1 (originals
# that v2 rewrote or dropped). Scale: snapshot expiry is METADATA work —
# three file-count-sized manifests unioned and grouped on (file_id,
# content_md5); no data file is read in a deployed table (manifests are
# stored); here they derive from rows so DuckDB can verify every byte.
# ---------------------------------------------------------------------------
_MD_V3_ROWS = f"""
SELECT CASE WHEN file_id < 0 THEN -1 ELSE file_id END AS file_id, event_id
FROM ({_MD_V2_ROWS}) v2rows
"""

_SNAPSHOT_EXPIRY_ORACLE = f"""
WITH v1 AS ({_manifest_cte(_MD_V1_ROWS)}),
v2 AS ({_manifest_cte(_MD_V2_ROWS)}),
v3 AS ({_manifest_cte(_MD_V3_ROWS)}),
refs AS (
  SELECT 1 AS snap, file_id, n_rows, content_md5 FROM v1
  UNION ALL SELECT 2, file_id, n_rows, content_md5 FROM v2
  UNION ALL SELECT 3, file_id, n_rows, content_md5 FROM v3
)
SELECT CAST(file_id AS BIGINT)      AS file_id,
       content_md5,
       CAST(MAX(n_rows) AS BIGINT)  AS n_rows,
       CAST(COUNT(*) AS BIGINT)     AS n_refs,
       CAST(MIN(snap) AS BIGINT)    AS first_snap,
       CAST(MAX(snap) AS BIGINT)    AS last_snap,
       MAX(snap) <= 1               AS reclaimable
FROM refs GROUP BY file_id, content_md5
"""


@register("layout_snapshot_expiry", _SNAPSHOT_EXPIRY_ORACLE)
def layout_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-physical-file snapshot-reference report over the v1→v2→v3
    chain, with the reclaimable verdict for a retention policy expiring
    v1 (see block comment). One row per (file_id, content_md5)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"event_id DIV {_ZM_FILE_ROWS}").alias("orig_file"),
        "event_id",
        F.expr(
            f"({_DV_PRED}) AND (event_id DIV {_ZM_FILE_ROWS}) % 5 IN (0, 1, 3)"
        ).alias("deleted"),
    )
    v1 = _manifest_df(ev.select(F.col("orig_file").alias("file_id"), "event_id"))
    v2_rows = ev.where(F.expr("orig_file % 17 != 3")).select(
        F.when(F.col("deleted"), -(F.lit(1) + F.col("orig_file")))
        .otherwise(F.col("orig_file"))
        .alias("file_id"),
        "event_id",
    )
    v2 = _manifest_df(v2_rows)
    v3 = _manifest_df(
        v2_rows.select(
            F.when(F.col("file_id") < 0, F.lit(-1))
            .otherwise(F.col("file_id"))
            .alias("file_id"),
            "event_id",
        )
    )
    refs = (
        v1.select(F.lit(1).alias("snap"), "file_id", "n_rows", "content_md5")
        .unionByName(
            v2.select(F.lit(2).alias("snap"), "file_id", "n_rows", "content_md5")
        )
        .unionByName(
            v3.select(F.lit(3).alias("snap"), "file_id", "n_rows", "content_md5")
        )
    )
    return refs.groupBy("file_id", "content_md5").agg(
        F.max("n_rows").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_refs"),
        F.min("snap").cast("bigint").alias("first_snap"),
        F.max("snap").cast("bigint").alias("last_snap"),
        (F.max("snap") <= 1).alias("reclaimable"),
    ).select(
        F.col("file_id").cast("bigint").alias("file_id"),
        "content_md5",
        "n_rows",
        "n_refs",
        "first_snap",
        "last_snap",
        "reclaimable",
    )


# ---------------------------------------------------------------------------
# Bucketed-table co-located join. The one layout
# primitive this family still lacked: PRE-SHUFFLED storage. Partitioning
# (src_partitioned_roundtrip) prunes scans; BUCKETING removes the join
# shuffle itself — both sides are written `bucketBy(N, key)` into the
# session catalog, so every scan already exits HashPartitioning(key, N)
# and the fact⋈dim join runs WITHOUT an Exchange on either side. At
# 100 TB this is the difference between re-shuffling the orders table on
# every analytical join and shuffling it ONCE at write time: the
# canonical warehouse layout for a fact table joined on the same key by
# every downstream query (Spark's native bucketing; Hive/Iceberg
# bucket transforms are the same contract).
#
# The gate is dual: the VALUE gate (the joined per-segment rollup must
# equal the plain-oracle join over the original parquet — bucket routing
# lost or double-counted rows would break the hash) and the PLAN gate
# (tests/test_scale_utils.py pins that the physical plan's join carries
# NO Exchange under it — exactly one Exchange total, for the final
# per-segment aggregate). The merge hint forces the SMJ read path the
# bucket layout exists to serve; without it the sf-scale stats would
# flip the dim side to a broadcast and the zero-exchange claim would be
# vacuously untested.
#
# Scale: the bucketed write is one shuffle each at landing time (cached
# per session like every other landed layout here — at deployment it is
# the table's storage format, not per-query work); the join is then
# map-side per bucket pair, and only the k-segment rollup exchanges.
# ---------------------------------------------------------------------------
_BUCKETED_ORACLE = """
SELECT c.c_mktsegment                               AS mktsegment,
       CAST(COUNT(*) AS BIGINT)                     AS n_orders,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT)  AS n_customers,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""

_N_BUCKETS = 8

# bucketed tables are session-catalog state; land them once per
# (session, sf_dir) like the partitioned/evolved layouts above
def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple:
    """Write orders and customer as bucketBy(8, custkey) external tables
    under the session scratch root (once per session and sf_dir); return
    the two catalog table names."""

    def land() -> tuple:
        import hashlib

        # stable across processes (python hash() is seed-randomized)
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        names = (f"orders_bkt_{tag}", f"customer_bkt_{tag}")
        work = session_scratch(f"bucketed_{tag}")
        # With a persistent metastore the catalog entry can
        # outlive its scratch-rooted data (the files die at interpreter
        # exit, the DROP in-session does not run across processes) — a
        # later session resolving the stale name would read a dangling
        # location. Drop first so catalog state and backing files re-sync
        # on every land, whatever metastore the session carries.
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.bucketBy(_N_BUCKETS, "o_custkey")
            .sortBy("o_custkey")
            .option("path", os.path.join(work, names[0]))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(names[0])
        )
        (
            load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment")
            .write.bucketBy(_N_BUCKETS, "c_custkey")
            .sortBy("c_custkey")
            .option("path", os.path.join(work, names[1]))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(names[1])
        )
        return names

    return shared(spark, ("src:bucketed", sf_dir), land)


@register("layout_bucketed_join", _BUCKETED_ORACLE)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment order rollup over the BUCKETED orders⋈customer
    join — both sides pre-shuffled by custkey at write time, so the join
    itself runs with no Exchange (see block comment; the plan contract is
    pinned in tests/test_scale_utils.py)."""
    ot, ct = bucketed_tables(spark, sf_dir)
    o = spark.table(ot)
    c = spark.table(ct)
    # merge hint: the bucket layout serves the SMJ path; sf-scale stats
    # would otherwise broadcast the dim side and leave the zero-exchange
    # contract untested
    j = o.join(
        c.hint("merge"), o["o_custkey"] == c["c_custkey"], "inner"
    )
    return j.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.count_distinct("o_custkey").cast("bigint").alias("n_customers"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_revenue"),
    )
