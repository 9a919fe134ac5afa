"""Seeded input generators. The same seed gives the same files, byte for
byte; `content_hash` is what the benchmark compares to prove it.

- `write_events`: an `events` table (event_id, ts, user_id,
  event_type, value, props) that `HiveApiServer` derives its order book from.
- `write_order_events`: an `order_events` log in ORDER_EVENTS_SCHEMA, landed
  as K parquet files with ascending mtimes, one file per micro-batch.
- `write_documents`: a `documents` corpus (doc_id, text, lang, source,
  n_chars) shaped like the test-data corpus, with near-duplicate copies.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_700_000_000_000_000
DEC = pa.decimal128(38, 18)  # schemas.DEC


def content_hash(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


# --------------------------------------------------------------------------
# serve: events.parquet
# --------------------------------------------------------------------------
def write_events(out_dir: str, seed: int, n: int) -> list[str]:
    rng = np.random.default_rng([seed, 1])
    ts = EPOCH_US + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    table = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, 5000, n),
        "event_type": rng.choice(["view", "click", "buy", "refund"], n),
        "value": np.round(rng.random(n) * 100, 3),
        "props": pa.array([f'{{"k":{k}}}' for k in rng.integers(0, 50, n)]),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(table, path)
    return [path]


# --------------------------------------------------------------------------
# ingest: order_events landed as K files
# --------------------------------------------------------------------------
def _dec(values: np.ndarray, mask: np.ndarray) -> pa.Array:
    """Integer-valued DECIMAL(38,18), null where `mask` is False."""
    return pa.array(values.astype(np.int64), mask=~mask).cast(DEC)


POOLS = 48
EARLY_SHARE = 0.08


def write_order_events(
    out_dir: str, seed: int, orders_per_file: list[int]
) -> tuple[list[str], list[int]]:
    """Land an order_events log as parquet files with ascending mtimes.
    File k creates `orders_per_file[k]` new orders (unique ids from a wide
    space, spread over POOLS pools); fills, updates and cancels of an order
    follow in the same or the next file, except that a seeded EARLY_SHARE of
    fills and cancels land one file before their create.
    Price ticks and market orders ride along without order ids.

    Returns (paths, distinct (pool, order) keys per file)."""
    rng = np.random.default_rng([seed, 2])
    files = len(orders_per_file)
    born = np.repeat(np.arange(files), orders_per_file)
    n_orders = born.size
    order_ids = 1_000_003 + np.arange(n_orders, dtype=np.int64) * 7_919
    order_pool = rng.integers(0, POOLS, n_orders)

    kind, oid, where = [], [], []  # event kind, order index, file index

    def follow(kind_code: int, p: float, lo: int, hi: int) -> None:
        pick = np.flatnonzero(rng.random(n_orders) < p)
        at = born[pick] + rng.integers(lo, hi + 1, pick.size)
        early = (rng.random(pick.size) < EARLY_SHARE) & (born[pick] > 0)
        at = np.where(early, born[pick] - 1, at)
        keep = at < files
        kind.append(np.full(keep.sum(), kind_code))
        oid.append(pick[keep])
        where.append(at[keep])

    kind.append(np.zeros(n_orders, dtype=np.int64))  # 0 created
    oid.append(np.arange(n_orders))
    where.append(born)
    follow(1, 0.6, 0, 0)  # filled
    follow(2, 0.15, 0, 1)  # cancelled
    follow(3, 0.15, 0, 0)  # updated
    n_market = n_orders // 5
    kind.append(np.where(rng.random(n_market) < 0.5, 4, 5))  # price / market
    oid.append(np.full(n_market, -1))
    where.append(rng.integers(0, files, n_market))

    kind_a = np.concatenate(kind)
    oid_a = np.concatenate(oid)
    file_a = np.concatenate(where)
    # log order: by file, and inside a file creates first, then a seeded
    # shuffle, so a same-file fill never precedes its create
    order = np.lexsort((rng.random(kind_a.size), kind_a != 0, file_a))
    kind_a, oid_a, file_a = kind_a[order], oid_a[order], file_a[order]
    n = kind_a.size
    seq = np.arange(n, dtype=np.int64)

    has_order = oid_a >= 0
    safe = np.where(has_order, oid_a, 0)
    pool = np.where(has_order, order_pool[safe], rng.integers(0, POOLS, n))
    created, filled, cancelled, updated = (kind_a == k for k in range(4))
    price_tick, market = kind_a == 4, kind_a == 5
    names = np.array(["OrderCreated", "OrderFilled", "OrderCancelled",
                      "OrderUpdated", "LatestPrice", "MarketOrderExecuted"])
    side = np.where(rng.random(n_orders) < 0.5, "BUY", "SELL")
    order_price = rng.integers(90, 160, n_orders)
    order_amount = rng.integers(10, 200, n_orders)
    trader = rng.integers(0, 200, n_orders)
    fill = rng.integers(0, 100, n)
    table = pa.table({
        "pool_address": pa.array(np.char.add("pool_", np.char.zfill(pool.astype(str), 3))),
        "seq": seq,
        "event_time": pa.array((EPOCH_US + seq * 250_000).astype("datetime64[us]")).cast(
            pa.timestamp("us", tz="UTC")
        ),
        "event_type": pa.array(names[kind_a]),
        "order_id": pa.array(order_ids[safe], mask=~has_order),
        "trader": pa.array(
            np.char.add("T", np.where(has_order, trader[safe], rng.integers(0, 200, n)).astype(str)),
            mask=~(has_order | market),
        ),
        "price": _dec(np.where(created, order_price[safe], rng.integers(90, 160, n)),
                      created | price_tick | market),
        "amount": _dec(order_amount[safe], created),
        "filled": _dec(fill, filled),
        "remaining": _dec(np.maximum(order_amount[safe] - fill, 0), filled),
        "new_amount": _dec(rng.integers(10, 200, n), updated),
        "order_type": pa.array(
            np.where(created, side[safe], np.where(rng.random(n) < 0.5, "BUY", "SELL")),
            mask=~(created | market),
        ),
        "filled_amount": _dec(rng.integers(1, 60, n), market),
    })
    os.makedirs(out_dir, exist_ok=True)
    paths, keys = [], []
    bounds = np.searchsorted(file_a, np.arange(files + 1))
    for k in range(files):
        lo, hi = bounds[k], bounds[k + 1]
        part = table.slice(lo, hi - lo)
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(part, path)
        # the file source orders files by mtime: one file per trigger, in order
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
        paths.append(path)
        sel = has_order[lo:hi]
        keys.append(len(set(zip(pool[lo:hi][sel], oid_a[lo:hi][sel]))))
    return paths, keys


# --------------------------------------------------------------------------
# curate: documents.parquet
# --------------------------------------------------------------------------
VOCAB = (
    "a the spark line column order small sort fast value scan hash slow group "
    "agg filter query big key window row part table stream merge data batch "
    "join vector customer"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_DUP_SHARE = 0.1
EXACT_DUP_SHARE = 0.03


def write_documents(out_dir: str, seed: int, n: int) -> list[str]:
    """`n` documents with unique doc_ids: bag-of-words texts of 8-90 words
    over a small vocabulary, plus near-duplicate copies (one word swapped)
    and exact copies of earlier documents."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(VOCAB)
    lens = rng.integers(8, 90, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    n_near, n_exact = int(n * NEAR_DUP_SHARE), int(n * EXACT_DUP_SHARE)
    originals = n - n_near - n_exact
    for j in range(n_near + n_exact):
        words = texts[int(rng.integers(0, originals))].split()
        if j < n_near:
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[originals + j] = " ".join(words)
    perm = rng.permutation(n)  # copies spread over the id range
    texts = [texts[i] for i in perm]
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return [path]
