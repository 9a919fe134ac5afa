"""Live JSON API daemon over the serving surface (SURVEY S9/S10).

The reference serves these routes from Express over in-memory listener state
(reference src/api/server.ts:26-51, src/api/routes.ts:11-17):

    GET /api/pools
    GET /api/pools/:address
    GET /api/pools/:address/orderbook
    GET /api/pools/:address/orders/:id
    GET /api/pools/:address/:trader/orders
    GET /api/pools/:address/:trader/market-orders
    GET /api/pools/:address/get-amount-out?amount=&orderType=

Spark-first equivalent: the daemon holds the *persisted* folded state (the
table the streaming layer maintains via MERGE at cluster scale) plus the
broadcastable pools dim (`serving.pools_dim`), and each request is a filter
+ tiny collect over those cached DataFrames. Every response is rendered by
operators/serving.py, the same renders the oracle-checked serving gate
queries (plans/serving_pack.py) call. No route ever collects more than its
response.

The reference's Socket.io orderbook push (server.ts:43-51, one room per
pool) maps to the CDC table (streaming/cdc.py) plus three transports:

    GET /api/cdc/:address?since=<version>       (pull: one-shot tail)
    GET /api/cdc/:address/stream?since=&timeout= (push: SSE subscription)
    GET /api/cdc/:address/ws?since=&timeout=     (push: RFC 6455 WebSocket)

All three read the committed `cdc_version=N` partitions from the directory
listing (names only), gated on Spark's _SUCCESS marker so a half-written
partition is never served, and serve each version from one render-once
cache: one Spark job renders a version for every pool. The pull tail
returns the level rows of every version after `since`, in version order.
The push transports replay those versions, then stay subscribed and push
each version the streaming fold lands, one event/frame per version (SSE
`id:` = version, so clients resume with Last-Event-ID semantics via
?since=). Zero non-stdlib dependencies (http.server); threads share the one
SparkSession (Spark reads are thread-safe).
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import re
import struct
import sys
import threading
import time
import traceback
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable, Iterable
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_server_spark.operators import serving
from hive_server_spark.operators.amount_out import amount_out
from hive_server_spark.operators.fold import fold_order_events
from hive_server_spark.sources.synthetic import order_events


def _parse_int(raw: str | None) -> int | None:
    """Strict base-10 int or None — route params must never 500 on bad input."""
    if raw is None:
        return None
    try:
        return int(raw, 10)
    except ValueError:
        return None


class _Refused(Exception):
    """A request refused before any byte of its reply is written."""

    def __init__(self, status: int, body: str) -> None:
        super().__init__(body)
        self.status, self.body = status, body


def _plain(handler: BaseHTTPRequestHandler, status: int, body: str) -> None:
    payload = body.encode()
    handler.send_response(status)
    handler.send_header("Content-Type", "application/json")
    handler.send_header("Content-Length", str(len(payload)))
    handler.end_headers()
    handler.wfile.write(payload)


def _json_array(elements: Iterable[str]) -> str:
    """Join rendered JSON documents into one JSON array, byte-exact per
    element (no re-parse/re-serialize round trip)."""
    return "[" + ",".join(elements) + "]"


def _json_rows(df: DataFrame) -> str:
    return _json_array(r.json for r in df.collect())


class HiveApiServer:
    """Serve the seven reference routes (+ the CDC tail) over one SparkSession.

    Parameters
    ----------
    spark / sf_dir : the session and driver-table directory to serve from.
    port : TCP port; 0 picks an ephemeral port (see `.port` after start()).
    cdc_dir : optional path of a CDC snapshot table written by
        streaming/cdc.run_incremental_fold_with_cdc; enables /api/cdc/:address.
    """

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        port: int = 0,
        cdc_dir: str | None = None,
    ) -> None:
        self.spark = spark
        ev = order_events(spark, sf_dir)
        # the daemon's state tables: persisted once, shared by every request —
        # the serving-time analogue of the reference holding books in memory
        self.events = ev.persist()
        self.orders = fold_order_events(ev).persist()
        self.pools = serving.pools_dim(ev).persist()
        self.pools.count()  # materialize eagerly; requests only filter
        self.cdc_root = cdc_dir
        # render-once cache: each landed CDC version is rendered ONCE — one
        # Spark job producing the level rows of EVERY pool — and served to
        # every tail read and subscriber from memory, the io.to(room).emit
        # shape of the reference (src/api/server.ts:43-51: one book per room,
        # broadcast). Without it, S subscribers x P pools would cost S*P
        # Spark jobs per version.
        # entries are (success_mtime, {pool: [level json, ...]}): the _SUCCESS
        # marker mtime invalidates the cache when a cdc_version dir is
        # REWRITTEN (foreachBatch replay after checkpoint restart overwrites
        # whole version dirs) — a stale render must not outlive the data
        self._snapshot_cache: dict[int, tuple[float, dict[str, list[str]]]] = {}
        self._snapshot_lock = threading.Lock()  # guards the two dicts only
        self._version_locks: dict[int, threading.Lock] = {}
        self.snapshot_materializations = 0  # test-visible Spark-job count
        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), self._make_handler())
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    # rendered versions kept in memory; a version older than the newest
    # SNAPSHOT_CACHE_VERSIONS re-materializes (once) if a late subscriber
    # replays from far back — bounded memory beats unbounded history
    SNAPSHOT_CACHE_VERSIONS = 64

    # -- route implementations (each returns (status, body-string)) ---------
    def _route(self, path: str, q: dict[str, list[str]]) -> tuple[int, str]:
        parts = [p for p in path.split("/") if p]
        if len(parts) < 2 or parts[0] != "api":
            return 404, '{"error":"not found"}'
        if parts[1] == "cdc" and len(parts) == 3:
            return self._cdc_tail(parts[2], q)
        if parts[1] != "pools":
            return 404, '{"error":"not found"}'
        if len(parts) == 2:
            return 200, _json_rows(serving.pools_json(self.pools))
        addr = parts[2]
        if len(parts) == 3:
            rows = serving.pool_info_json(self.pools, addr).collect()
            return (200, rows[0].json) if rows else (404, '{"error":"unknown pool"}')
        if len(parts) == 4 and parts[3] == "orderbook":
            rows = serving.order_book_json(self.orders, addr).collect()
            return (200, rows[0].json) if rows else (404, '{"error":"unknown pool"}')
        if len(parts) == 4 and parts[3] == "get-amount-out":
            # reference param is `orderType` (order-book-controller.ts:14)
            raw_side = q.get("orderType", [None])[0]
            raw_amt = q.get("amount", [None])[0]
            if raw_side is None or raw_side.upper() not in ("BUY", "SELL"):
                return 400, '{"error":"orderType must be BUY or SELL"}'
            amt = _parse_int(raw_amt)
            if amt is None or amt <= 0:
                return 400, '{"error":"amount must be a positive integer"}'
            res = amount_out(self.orders, raw_side.upper(), amt)
            rows = serving.amount_out_json(res, addr).collect()
            return (200, rows[0].json) if rows else (404, '{"error":"unknown pool"}')
        if len(parts) == 5 and parts[3] == "orders":
            order_id = _parse_int(parts[4])
            if order_id is None:
                return 404, '{"error":"unknown order"}'
            rows = serving.order_json(self.orders, addr, order_id).collect()
            return (200, rows[0].json) if rows else (404, '{"error":"unknown order"}')
        if len(parts) == 5 and parts[4] == "orders":
            trader_orders = self.orders.where(F.col("pool_address") == addr)
            return 200, _json_rows(serving.user_orders_json(trader_orders, parts[3]))
        if len(parts) == 5 and parts[4] == "market-orders":
            return 200, _json_rows(serving.market_orders_json(self.events, addr, parts[3]))
        return 404, '{"error":"not found"}'

    # -- CDC edge: committed versions, rendered once ------------------------
    def _cdc_versions_on_disk(self) -> list[int]:
        """Committed snapshot versions, from the partition directory NAMES —
        no data read; Spark's _SUCCESS marker gates half-written partitions
        (the CDC writer overwrites a whole cdc_version=N dir per batch)."""
        out = []
        for name in os.listdir(self.cdc_root):
            m = re.fullmatch(r"cdc_version=(\d+)", name)
            if m and os.path.exists(os.path.join(self.cdc_root, name, "_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)

    def _rendered_version(self, version: int) -> dict[str, list[str]]:
        """The level rows of EVERY pool's book at `version`
        (`serving.cdc_levels_json`), rendered by at most one Spark job per
        on-disk incarnation of the version, regardless of reader count.
        Locking: the global lock guards only dict lookups; the render itself
        runs under a per-version lock, so a slow render of version N never
        blocks readers of already-cached versions or the render of a
        different version. The cache entry is stamped with the _SUCCESS
        mtime — a rewritten version dir (foreachBatch replay after restart)
        re-renders instead of serving the pre-rewrite book."""
        stamp = os.path.getmtime(
            os.path.join(self.cdc_root, f"cdc_version={version}", "_SUCCESS")
        )
        with self._snapshot_lock:
            hit = self._snapshot_cache.get(version)
            if hit is not None and hit[0] == stamp:
                return hit[1]
            vlock = self._version_locks.setdefault(version, threading.Lock())
        with vlock:
            with self._snapshot_lock:
                hit = self._snapshot_cache.get(version)
                if hit is not None and hit[0] == stamp:
                    return hit[1]
            snapshot = self.spark.read.parquet(
                os.path.join(self.cdc_root, f"cdc_version={version}")
            )
            rendered = {
                r.pool_address: r.levels
                for r in serving.cdc_levels_json(snapshot, version).collect()
            }
            with self._snapshot_lock:
                self.snapshot_materializations += 1
                self._snapshot_cache[version] = (stamp, rendered)
                while len(self._snapshot_cache) > self.SNAPSHOT_CACHE_VERSIONS:
                    evicted = min(self._snapshot_cache)
                    del self._snapshot_cache[evicted]
                    self._version_locks.pop(evicted, None)
            return rendered

    # longest subscription a single request may hold (the reference's
    # Socket.io rooms are server-managed; here each subscription pins one
    # handler thread, so an unbounded client-supplied timeout would let a
    # handful of requests accumulate threads + per-version Spark jobs forever)
    SSE_MAX_TIMEOUT_S = 300

    def _cdc_args(
        self, q: dict[str, list[str]], last_event_id: int | None = None
    ) -> tuple[int, int]:
        """`(since, timeout_s)` of a CDC request, or `_Refused`. A usable
        `last_event_id` replaces ?since=."""
        if self.cdc_root is None:
            raise _Refused(404, '{"error":"cdc table not configured"}')
        since = last_event_id
        if since is None:
            since = _parse_int(q.get("since", ["-1"])[0])
        timeout_s = _parse_int(q.get("timeout", ["30"])[0])
        if since is None or timeout_s is None:
            raise _Refused(400, '{"error":"since/timeout must be integers"}')
        return since, min(timeout_s, self.SSE_MAX_TIMEOUT_S)

    def _cdc_tail(self, addr: str, q: dict[str, list[str]]) -> tuple[int, str]:
        """Pull tail: `addr`'s level rows of every committed version after
        ?since=, in version order."""
        since, _timeout_s = self._cdc_args(q)
        return 200, _json_array(
            level
            for version in self._cdc_versions_on_disk()
            if version > since
            for level in self._rendered_version(version).get(addr, [])
        )

    def _subscribe(
        self, addr: str, since: int, timeout_s: int, send: Callable[[int, str], None]
    ) -> None:
        """The push transports' one loop: replay the committed versions after
        `since` in order, then push each new one the streaming fold lands,
        until `timeout_s` passes. `send(version, payload)` frames one
        version's JSON array of `addr`'s level rows for its transport; a
        client that goes away surfaces as a broken pipe out of `send`."""
        last = since
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            for version in self._cdc_versions_on_disk():
                if version > last:
                    send(version, _json_array(self._rendered_version(version).get(addr, [])))
                    last = version
            time.sleep(0.2)

    def _cdc_stream_sse(self, handler, addr: str, q: dict[str, list[str]]) -> None:
        """Server-Sent Events subscription: one `book` event per version,
        `id:` = version. A reconnecting EventSource resumes from its
        `Last-Event-ID` header (standard SSE), plain HTTP clients via
        ?since=<v> — the header wins when both are present, because that is
        what the browser auto-reconnect sends. An unusable Last-Event-ID
        falls back to ?since= (per SSE convention a bad id is ignored, never
        a fatal non-200 — an EventSource treats any error status as
        stop-reconnecting)."""
        last_event_id = _parse_int(handler.headers.get("Last-Event-ID") or "")
        since, timeout_s = self._cdc_args(q, last_event_id)
        handler.send_response(200)
        handler.send_header("Content-Type", "text/event-stream")
        handler.send_header("Cache-Control", "no-cache")
        handler.end_headers()

        def send(version: int, payload: str) -> None:
            handler.wfile.write(f"id: {version}\nevent: book\ndata: {payload}\n\n".encode())
            handler.wfile.flush()

        self._subscribe(addr, since, timeout_s, send)

    # -- WebSocket push bridge (RFC 6455, stdlib-only) ----------------------
    # The reference pushes books over Socket.io rooms (reference
    # src/api/server.ts:26-51); Socket.io's browser transport is WebSocket.
    # This endpoint speaks actual RFC 6455: handshake (SHA-1 + base64
    # accept key), then unmasked server→client text frames, one per landed
    # CDC version. Send-only by design: the server never reads client
    # frames after the handshake (no ping/pong — a client close surfaces as
    # a broken pipe on the next push, exactly like an SSE disconnect), which
    # keeps the transport on the shared subscription loop and dependency-free.
    _WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

    @staticmethod
    def _ws_frame(payload: bytes, opcode: int = 0x1) -> bytes:
        """One unmasked server frame (FIN set): text by default, 0x8 close."""
        head = bytes([0x80 | opcode])
        n = len(payload)
        if n < 126:
            head += bytes([n])
        elif n < 65536:
            head += bytes([126]) + struct.pack(">H", n)
        else:
            head += bytes([127]) + struct.pack(">Q", n)
        return head + payload

    def _cdc_stream_ws(self, handler, addr: str, q: dict[str, list[str]]) -> None:
        """WebSocket subscription: each version delivered as one text frame
        `{"version": N, "data": [...]}`; a clean close frame ends the
        subscription at the timeout."""
        since, timeout_s = self._cdc_args(q)
        upgrade = (handler.headers.get("Upgrade") or "").lower()
        key = handler.headers.get("Sec-WebSocket-Key")
        if upgrade != "websocket" or not key:
            raise _Refused(400, '{"error":"websocket upgrade required"}')
        accept = base64.b64encode(
            hashlib.sha1((key + self._WS_GUID).encode()).digest()
        ).decode()
        handler.wfile.write(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\n"
                "Connection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {accept}\r\n\r\n"
            ).encode()
        )
        handler.wfile.flush()
        # http.server would try to read another request off this socket
        # after do_GET returns — the connection is a WS stream now
        handler.close_connection = True

        def send(version: int, payload: str) -> None:
            msg = f'{{"version":{version},"data":{payload}}}'
            handler.wfile.write(self._ws_frame(msg.encode()))
            handler.wfile.flush()

        self._subscribe(addr, since, timeout_s, send)
        handler.wfile.write(self._ws_frame(b"", opcode=0x8))
        handler.wfile.flush()

    # -- http plumbing ------------------------------------------------------
    def _make_handler(self):
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 (http.server API)
                u = urlparse(self.path)
                q = parse_qs(u.query)
                parts = [p for p in u.path.split("/") if p]
                push = None
                if len(parts) == 4 and parts[:2] == ["api", "cdc"]:
                    push = {"stream": outer._cdc_stream_sse, "ws": outer._cdc_stream_ws}.get(
                        parts[3]
                    )
                try:
                    if push is not None:
                        push(self, parts[2], q)
                        return
                    status, body = outer._route(u.path, q)
                except _Refused as r:
                    status, body = r.status, r.body
                except (BrokenPipeError, ConnectionResetError):
                    return  # subscriber went away mid-stream
                except Exception as e:
                    if push is not None:
                        # stream headers may already be on the wire, so no
                        # 500 response is possible — but never swallow
                        # silently: a mid-stream bug must be visible in logs
                        traceback.print_exc(file=sys.stderr)
                        return
                    status, body = 500, json.dumps({"error": str(e)})  # engine errors
                _plain(self, status, body)

            def log_message(self, *a) -> None:  # quiet test output
                pass

        return Handler

    def start(self) -> "HiveApiServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
        for df in (self.events, self.orders, self.pools):
            df.unpersist()
