"""Live-daemon tests: every reference route served over real HTTP
(reference src/api/routes.ts:11-17), plus the CDC tail endpoint."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from hive_server_spark.operators.api_server import HiveApiServer
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def server(spark):
    from hive_server_spark.plans.streaming_pack import fold_seq_slices

    _store, cdc_dir = fold_seq_slices(spark, SF_SMALL)
    srv = HiveApiServer(spark, SF_SMALL, cdc_dir=cdc_dir).start()
    yield srv
    srv.stop()


def _body(srv: HiveApiServer, path: str) -> str:
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
        return r.read().decode()


def _get(srv: HiveApiServer, path: str):
    return json.loads(_body(srv, path))


def _elements(body: str) -> list[str]:
    """The elements of a JSON array body, each as its exact bytes."""
    dec, out, i = json.JSONDecoder(), [], 1
    while body[i] != "]":
        _, j = dec.raw_decode(body, i)
        out.append(body[i:j])
        i = j + (body[j] == ",")
    return out


def test_all_pools(server):
    pools = _get(server, "/api/pools")
    assert len(pools) == 3
    assert {p["address"] for p in pools} == {"pool_0", "pool_1", "pool_2"}
    assert all(p["baseToken"]["symbol"].startswith("TK") for p in pools)


def test_pool_info(server):
    info = _get(server, "/api/pools/pool_0")
    assert info["address"] == "pool_0"
    assert float(info["latestPrice"]) > 0


def test_orderbook(server):
    book = _get(server, "/api/pools/pool_1/orderbook")
    assert book["pool"] == "pool_1"
    for side in ("bids", "asks"):
        assert side in book
        for lvl in book[side]:
            assert float(lvl["totalVolume"]) != 0 or lvl["orders"]


def test_order_point_get_and_404(server):
    row = server.orders.select("pool_address", "order_id").first()
    order = _get(server, f"/api/pools/{row.pool_address}/orders/{row.order_id}")
    assert order["id"] == row.order_id
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, f"/api/pools/{row.pool_address}/orders/999999")
    assert e.value.code == 404


def test_user_orders(server):
    row = (
        server.orders.where(F.col("trader").isNotNull())
        .select("pool_address", "trader")
        .first()
    )
    orders = _get(server, f"/api/pools/{row.pool_address}/{row.trader}/orders")
    assert orders and all(o["pool"] == row.pool_address for o in orders)


def test_market_orders(server):
    row = (
        server.events.where(F.col("event_type") == "MarketOrderExecuted")
        .select("pool_address", "trader")
        .first()
    )
    mos = _get(server, f"/api/pools/{row.pool_address}/{row.trader}/market-orders")
    assert mos and all(m["type"] in ("BUY", "SELL") for m in mos)


def test_amount_out(server):
    # reference clients send orderType (order-book-controller.ts:14)
    res = _get(server, "/api/pools/pool_0/get-amount-out?amount=500&orderType=BUY")
    assert set(res) <= {"isError", "errorMessage", "outputAmount", "prices"}
    sell = _get(server, "/api/pools/pool_0/get-amount-out?amount=500&orderType=SELL")
    assert sell is not None and sell != res, "orderType=SELL must not alias BUY"
    for bad in (
        "?orderType=LIMIT&amount=500",  # bad side
        "?amount=500",  # missing orderType
        "?orderType=BUY",  # missing amount
        "?orderType=BUY&amount=x",  # unparseable amount
        "?orderType=BUY&amount=-3",  # non-positive amount
    ):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(server, f"/api/pools/pool_0/get-amount-out{bad}")
        assert e.value.code == 400, bad


def test_rest_bodies_are_the_gate_renders(server, spark):
    """The bytes each oracle-checked route serves are its gate query's rows:
    for every pool, /api/pools/:addr, /api/pools/:addr/orderbook and
    /api/pools/:addr/T1/orders equal that pool's rows of
    serving_pool_info_json, serving_order_book_json and
    serving_user_orders_json byte for byte (the list route as a sorted
    element list)."""
    from hive_server_spark.plans import serving_pack

    pools = sorted(r.pool_address for r in server.pools.collect())
    info = dict(serving_pack.q_serving_pool_info_json(spark, SF_SMALL).collect())
    book = {
        r.pool_address: r.json
        for r in serving_pack.q_serving_order_book_json(spark, SF_SMALL).collect()
    }
    t1 = serving_pack.q_serving_user_orders_json(spark, SF_SMALL).collect()
    assert set(info) == set(book) == set(pools)
    for addr in pools:
        assert _body(server, f"/api/pools/{addr}") == info[addr]
        assert _body(server, f"/api/pools/{addr}/orderbook") == book[addr]
        t1_rows = sorted(r.json for r in t1 if r.pool_address == addr)
        assert t1_rows, f"{addr}: T1 must have orders"
        assert sorted(_elements(_body(server, f"/api/pools/{addr}/T1/orders"))) == t1_rows


def test_bad_param_types_never_500(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/pools/pool_0/orders/abc")
    assert e.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/cdc/pool_0?since=x")
    assert e.value.code == 400


def _read_sse_events(resp, n_events, deadline_s=20.0):
    """Parse n complete SSE events ({id, event, data}) from a live response."""
    import time

    events, cur = [], {}
    start = time.monotonic()
    while len(events) < n_events and time.monotonic() - start < deadline_s:
        line = resp.readline().decode()
        if line in ("\n", "\r\n"):
            if cur:
                events.append(cur)
                cur = {}
            continue
        key, _, value = line.rstrip("\n").partition(": ")
        cur[key] = value
    return events


def test_cdc_sse_push_bridge(server, spark, tmp_path):
    """The io.to(room).emit analogue (reference src/api/server.ts:43-51):
    a subscriber replays the committed versions in order, then receives a
    NEW version pushed while subscribed — actual push, not just backlog.
    Runs against a COPY of the CDC dir (own server) so landing the extra
    version never pollutes the session-shared fold output."""
    import shutil
    import threading

    cdc_copy = str(tmp_path / "cdc")
    shutil.copytree(server.cdc_root, cdc_copy)
    srv = HiveApiServer(spark, SF_SMALL, cdc_dir=cdc_copy).start()
    try:
        url = f"http://127.0.0.1:{srv.port}/api/cdc/pool_0/stream?since=-1&timeout=15"
        resp = urllib.request.urlopen(url)
        assert resp.headers["Content-Type"] == "text/event-stream"

        backlog = _read_sse_events(resp, 3)
        assert [e["id"] for e in backlog] == ["0", "1", "2"], "version-ordered replay"
        for e in backlog:
            assert e["event"] == "book"
            snaps = json.loads(e["data"])
            assert snaps and all(s["side"] in ("BUY", "SELL") for s in snaps)
            assert all(s["version"] == int(e["id"]) for s in snaps)

        # land a new CDC version while subscribed — must be pushed live
        def land_v3():
            v2 = spark.read.parquet(f"{cdc_copy}/cdc_version=2")
            v2.write.mode("overwrite").parquet(f"{cdc_copy}/cdc_version=3")

        t = threading.Thread(target=land_v3)
        t.start()
        live = _read_sse_events(resp, 1)
        t.join()
        assert live and live[0]["id"] == "3" and json.loads(live[0]["data"])
        resp.close()

        # Last-Event-ID-style resume: since=2 replays only 3
        resumed = urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/cdc/pool_0/stream?since=2&timeout=5"
        )
        assert [e["id"] for e in _read_sse_events(resumed, 1)] == ["3"]
        resumed.close()
    finally:
        srv.stop()
        shutil.rmtree(cdc_copy, ignore_errors=True)


def test_cdc_tail_versions(server):
    all_snaps = _get(server, "/api/cdc/pool_0?since=-1")
    assert all_snaps, "pool_0 must have CDC snapshots"
    versions = {s["version"] for s in all_snaps}
    assert versions == {0, 1, 2}, "3-slice landing must yield 3 CDC versions"
    later = _get(server, "/api/cdc/pool_0?since=1")
    assert {s["version"] for s in later} == {2}
    assert all(isinstance(s["price"], str) for s in all_snaps)


def test_cdc_tail_serves_versions_landed_after_first_read(server, spark, tmp_path):
    """The pull tail reads the committed versions on disk at every request,
    like the push transports: a version landed after the first tail read is
    served by the next one, in version order."""
    import os
    import shutil

    base = str(tmp_path)
    cdc_copy = os.path.join(base, "cdc")
    shutil.copytree(server.cdc_root, cdc_copy)
    held_back = os.path.join(base, "cdc_version=2")
    os.rename(os.path.join(cdc_copy, "cdc_version=2"), held_back)
    srv = HiveApiServer(spark, SF_SMALL, cdc_dir=cdc_copy).start()
    try:
        first = {s["version"] for s in _get(srv, "/api/cdc/pool_0?since=-1")}
        assert first == {0, 1}

        # land cdc_version=2, _SUCCESS marker included, in one rename
        assert os.path.exists(os.path.join(held_back, "_SUCCESS"))
        os.rename(held_back, os.path.join(cdc_copy, "cdc_version=2"))
        second = [s["version"] for s in _get(srv, "/api/cdc/pool_0?since=-1")]
        assert 2 in second, "a version landed after the first read must be served"
        assert set(second) == {0, 1, 2} and second == sorted(second)
    finally:
        srv.stop()
        shutil.rmtree(base, ignore_errors=True)


def test_cdc_sse_last_event_id_header_resume(server):
    """A reconnecting EventSource sends 'Last-Event-ID: <n>' as a HEADER
    (it cannot rewrite the query string) — the server must resume after it,
    overriding ?since=, instead of replaying the full backlog."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/api/cdc/pool_0/stream?since=-1&timeout=5",
        headers={"Last-Event-ID": "1"},
    )
    resp = urllib.request.urlopen(req)
    events = _read_sse_events(resp, 1)
    resp.close()
    assert [e["id"] for e in events] == ["2"], "header must override ?since"


def test_cdc_sse_malformed_last_event_id_falls_back(server):
    """A bad Last-Event-ID must be ignored (fall back to ?since=), never a
    400 — EventSource treats any non-200 as stop-reconnecting-forever."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/api/cdc/pool_0/stream?since=1&timeout=5",
        headers={"Last-Event-ID": "not-a-number"},
    )
    resp = urllib.request.urlopen(req)
    assert resp.status == 200
    events = _read_sse_events(resp, 1)
    resp.close()
    assert [e["id"] for e in events] == ["2"], "must resume from ?since=1"


def test_cdc_sse_concurrent_subscribers(server, spark, tmp_path):
    """Two concurrent subscribers (the Socket.io multi-room analogue) must
    each independently receive a version landed while both are connected."""
    import shutil
    import threading

    cdc_copy = str(tmp_path / "cdc")
    shutil.copytree(server.cdc_root, cdc_copy)
    srv = HiveApiServer(spark, SF_SMALL, cdc_dir=cdc_copy).start()
    try:
        url = f"http://127.0.0.1:{srv.port}/api/cdc/pool_0/stream?since=2&timeout=15"
        a = urllib.request.urlopen(url)
        b = urllib.request.urlopen(url)

        def land_v3():
            v2 = spark.read.parquet(f"{cdc_copy}/cdc_version=2")
            v2.write.mode("overwrite").parquet(f"{cdc_copy}/cdc_version=3")

        t = threading.Thread(target=land_v3)
        t.start()
        got_a = _read_sse_events(a, 1)
        got_b = _read_sse_events(b, 1)
        t.join()
        a.close(); b.close()
        assert [e["id"] for e in got_a] == ["3"]
        assert [e["id"] for e in got_b] == ["3"]
    finally:
        srv.stop()
        shutil.rmtree(cdc_copy, ignore_errors=True)


def test_cdc_sse_renders_each_version_once(server, spark, tmp_path):
    """S subscribers on one pool must NOT cost S Spark
    jobs per landed version — each version is rendered once (for all pools)
    and served from the cache, the reference's one-book-per-room broadcast
    (src/api/server.ts:43-51). Pinned via the server's materialization
    counter: 3 subscribers x (3 backlog + 1 live) versions -> exactly 4
    Spark-side renders, and a different pool's subscriber adds zero."""
    import shutil
    import threading

    cdc_copy = str(tmp_path / "cdc")
    shutil.copytree(server.cdc_root, cdc_copy)
    srv = HiveApiServer(spark, SF_SMALL, cdc_dir=cdc_copy).start()
    try:
        url = f"http://127.0.0.1:{srv.port}/api/cdc/pool_0/stream?since=-1&timeout=15"
        subs = [urllib.request.urlopen(url) for _ in range(3)]
        # a subscriber on a DIFFERENT pool shares the same per-version render
        other = urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/api/cdc/pool_1/stream?since=-1&timeout=15"
        )
        backlogs = [_read_sse_events(s, 3) for s in subs]
        other_backlog = _read_sse_events(other, 3)
        for got in backlogs + [other_backlog]:
            assert [e["id"] for e in got] == ["0", "1", "2"]
            assert all(json.loads(e["data"]) for e in got), "non-empty books"
        assert srv.snapshot_materializations == 3, (
            "3 backlog versions, 4 subscribers (2 pools) -> 3 renders, "
            f"got {srv.snapshot_materializations}"
        )

        def land_v3():
            v2 = spark.read.parquet(f"{cdc_copy}/cdc_version=2")
            v2.write.mode("overwrite").parquet(f"{cdc_copy}/cdc_version=3")

        t = threading.Thread(target=land_v3)
        t.start()
        lives = [_read_sse_events(s, 1) for s in subs]
        t.join()
        for s in subs:
            s.close()
        other.close()
        assert all([e["id"] for e in got] == ["3"] for got in lives)
        assert srv.snapshot_materializations == 4, (
            "one live version -> exactly one more render, "
            f"got {srv.snapshot_materializations}"
        )
    finally:
        srv.stop()
        shutil.rmtree(cdc_copy, ignore_errors=True)


def test_cdc_sse_cache_invalidated_on_version_rewrite(server, spark, tmp_path):
    """A rewritten cdc_version dir (foreachBatch replay after checkpoint
    restart overwrites whole version dirs) must re-render: the cache is
    stamped with the _SUCCESS mtime, so a late subscriber gets the book on
    disk, never a pre-rewrite render."""
    import os
    import shutil
    import time as _time

    cdc_copy = str(tmp_path / "cdc")
    shutil.copytree(server.cdc_root, cdc_copy)
    srv = HiveApiServer(spark, SF_SMALL, cdc_dir=cdc_copy).start()
    try:
        url = f"http://127.0.0.1:{srv.port}/api/cdc/pool_0/stream?since=1&timeout=5"
        first = urllib.request.urlopen(url)
        got = _read_sse_events(first, 1)
        first.close()
        assert [e["id"] for e in got] == ["2"]
        assert srv.snapshot_materializations == 1
        before = json.loads(got[0]["data"])

        # rewrite v2 with v1's data (different book) — mtime must change
        v1 = spark.read.parquet(f"{cdc_copy}/cdc_version=1").withColumn(
            "cdc_version", F.lit(2).cast("long")
        )
        _time.sleep(0.05)  # ensure a distinct _SUCCESS mtime
        v1.write.mode("overwrite").parquet(f"{cdc_copy}/cdc_version=2")
        os.utime(f"{cdc_copy}/cdc_version=2/_SUCCESS")

        second = urllib.request.urlopen(url)
        got2 = _read_sse_events(second, 1)
        second.close()
        assert srv.snapshot_materializations == 2, "rewrite must re-render"
        after = json.loads(got2[0]["data"])
        assert after != before, "subscriber must see the rewritten book"

        # unchanged dir: third subscriber is a pure cache hit
        third = urllib.request.urlopen(url)
        _read_sse_events(third, 1)
        third.close()
        assert srv.snapshot_materializations == 2
    finally:
        srv.stop()
        shutil.rmtree(cdc_copy, ignore_errors=True)


def _ws_connect(port: int, path: str):
    """Minimal RFC 6455 client: handshake on a raw socket, verify the
    Sec-WebSocket-Accept digest, return the connected socket."""
    import base64
    import hashlib
    import os as _os
    import socket

    s = socket.create_connection(("127.0.0.1", port), timeout=20)
    key = base64.b64encode(_os.urandom(16)).decode()
    s.sendall(
        (
            f"GET {path} HTTP/1.1\r\nHost: localhost\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    buf = b""
    while b"\r\n\r\n" not in buf:
        chunk = s.recv(4096)
        assert chunk, "server closed during handshake"
        buf += chunk
    head, rest = buf.split(b"\r\n\r\n", 1)
    lines = head.decode().split("\r\n")
    assert lines[0] == "HTTP/1.1 101 Switching Protocols", lines[0]
    want = base64.b64encode(
        hashlib.sha1(
            (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").encode()
        ).digest()
    ).decode()
    accept = [l.split(": ", 1)[1] for l in lines if l.startswith("Sec-WebSocket-Accept")]
    assert accept == [want], "RFC 6455 accept-key digest mismatch"
    return s, rest


def _ws_read_frames(sock, leftover: bytes, n_frames: int):
    """Parse n unmasked server frames; returns list of (opcode, payload)."""
    import struct as _struct

    frames, buf = [], leftover
    while len(frames) < n_frames:
        while len(buf) < 2:
            chunk = sock.recv(4096)
            assert chunk, f"socket closed after {len(frames)} frames"
            buf += chunk
        fin_op, ln = buf[0], buf[1] & 0x7F
        assert buf[1] & 0x80 == 0, "server frames must be unmasked"
        off = 2
        if ln == 126:
            while len(buf) < 4:
                buf += sock.recv(4096)
            ln = _struct.unpack(">H", buf[2:4])[0]
            off = 4
        elif ln == 127:
            while len(buf) < 10:
                buf += sock.recv(4096)
            ln = _struct.unpack(">Q", buf[2:10])[0]
            off = 10
        while len(buf) < off + ln:
            chunk = sock.recv(4096)
            assert chunk, "socket closed mid-frame"
            buf += chunk
        frames.append((fin_op & 0x0F, buf[off : off + ln]))
        buf = buf[off + ln :]
    return frames, buf


def test_cdc_websocket_push_bridge(server, spark, tmp_path):
    """RFC 6455 parity with the reference's Socket.io rooms: handshake with
    a verified accept digest, version-ordered backlog replay as text
    frames, a live-landed version pushed mid-subscription, and a clean
    close frame at the timeout. Shares the render-once snapshot cache with
    the SSE bridge."""
    import shutil
    import threading

    cdc_copy = str(tmp_path / "cdc")
    shutil.copytree(server.cdc_root, cdc_copy)
    srv = HiveApiServer(spark, SF_SMALL, cdc_dir=cdc_copy).start()
    try:
        sock, buf = _ws_connect(
            srv.port, "/api/cdc/pool_0/ws?since=-1&timeout=8"
        )
        frames, buf = _ws_read_frames(sock, buf, 3)
        assert [f[0] for f in frames] == [0x1, 0x1, 0x1], "text frames"
        msgs = [json.loads(f[1]) for f in frames]
        assert [m["version"] for m in msgs] == [0, 1, 2], "ordered replay"
        assert all(m["data"] for m in msgs), "non-empty books"
        assert all(
            s["side"] in ("BUY", "SELL") for m in msgs for s in m["data"]
        )

        def land_v3():
            v2 = spark.read.parquet(f"{cdc_copy}/cdc_version=2")
            v2.write.mode("overwrite").parquet(f"{cdc_copy}/cdc_version=3")

        t = threading.Thread(target=land_v3)
        t.start()
        live, buf = _ws_read_frames(sock, buf, 1)
        t.join()
        assert live[0][0] == 0x1 and json.loads(live[0][1])["version"] == 3

        # timeout -> clean close frame (opcode 0x8), not just a dead socket
        close, _ = _ws_read_frames(sock, buf, 1)
        assert close[0][0] == 0x8, "server must send a close frame"
        sock.close()
    finally:
        srv.stop()
        shutil.rmtree(cdc_copy, ignore_errors=True)


def test_cdc_websocket_requires_upgrade_headers(server):
    """A plain GET to the ws route (no Upgrade handshake) must get a JSON
    400, not a hung socket or a protocol error."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/cdc/pool_0/ws?since=-1&timeout=1")
    assert e.value.code == 400


def test_ws_frame_length_encodings():
    """RFC 6455 length fields: 7-bit (<126), 16-bit (126..65535), 64-bit
    (>65535) — pinned with the same parser the live test uses, over a
    loopback socket pair so recv() semantics match production."""
    import socket

    for n in (5, 126, 65535, 70000):
        payload = b"x" * n
        frame = HiveApiServer._ws_frame(payload)
        a, b = socket.socketpair()
        try:
            a.sendall(frame)
            a.shutdown(socket.SHUT_WR)
            frames, rest = _ws_read_frames(b, b"", 1)
        finally:
            a.close()
            b.close()
        assert frames == [(0x1, payload)] and rest == b""
    assert HiveApiServer._ws_frame(b"", opcode=0x8)[0] & 0x0F == 0x8
