"""serve: the read path. `operators.api_server.HiveApiServer` over a seeded
`events.parquet`, driven over HTTP on its seven reference routes.

Load comes from one process with at most nproc connections:
  (a) an open loop at a fixed rate below capacity, timing each request from
      when it was due, so a stall also delays the requests queued behind it;
  (b) a closed loop with nproc connections, for capacity.
The route mix is a fixed cycle weighted toward `orderbook` and
`get-amount-out`, shuffled per cycle by the seed; pool, trader, order and
amount parameters are seeded. Every response body must equal the direct
`serving.*_json` / `amount_out` render of the same request.

`start_server`, `keys_for`, `warm`, `sequential`, `check_replies` and
`route_layers` also drive the read phase of traced `ingest` runs.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import random
import threading
import time
from statistics import median

import inputs
from probes import quantile

N_EVENTS = 40_000
SETUP_REPS = 3
RATE_PER_S = 1.5
# one cycle of the route mix: 20 requests
MIX = {
    "orderbook": 6, "amount_out": 6, "order": 2, "trader_orders": 2,
    "market_orders": 2, "pool": 1, "pools": 1,
}
KEYS_PER_ROUTE = 4
TIMEOUT_S = 30


def _path(route: str, p: dict) -> str:
    pool = p.get("pool")
    return {
        "pools": "/api/pools",
        "pool": f"/api/pools/{pool}",
        "orderbook": f"/api/pools/{pool}/orderbook",
        "order": f"/api/pools/{pool}/orders/{p.get('order')}",
        "trader_orders": f"/api/pools/{pool}/{p.get('trader')}/orders",
        "market_orders": f"/api/pools/{pool}/{p.get('trader')}/market-orders",
        "amount_out": f"/api/pools/{pool}/get-amount-out?amount={p.get('amount')}"
                      f"&orderType={p.get('side')}",
    }[route]


def _direct(srv, route: str, p: dict) -> str:
    """The render each route serves, called directly on the server's frames."""
    from pyspark.sql import functions as F

    from hive_server_spark.operators import serving
    from hive_server_spark.operators.amount_out import amount_out

    def rows(df) -> str:
        return "[" + ",".join(r.json for r in df.collect()) + "]"

    def one(df) -> str:
        return df.collect()[0].json

    pool = p.get("pool")
    if route == "pools":
        return rows(serving.pools_json(srv.pools))
    if route == "pool":
        return one(serving.pool_info_json(srv.pools, pool))
    if route == "orderbook":
        return one(serving.order_book_json(srv.orders, pool))
    if route == "order":
        return one(serving.order_json(srv.orders, pool, p["order"]))
    if route == "trader_orders":
        return rows(serving.user_orders_json(
            srv.orders.where(F.col("pool_address") == pool), p["trader"]))
    if route == "market_orders":
        return rows(serving.market_orders_json(srv.events, pool, p["trader"]))
    return one(serving.amount_out_json(amount_out(srv.orders, p["side"], p["amount"]), pool))


def _canonical(body: str):
    """Parsed body; list elements sorted, since row order is not part of a
    list route's contract."""
    doc = json.loads(body)
    if isinstance(doc, list):
        return sorted(json.dumps(d, sort_keys=True) for d in doc)
    return doc


def keys_for(srv, rng: random.Random, k: int) -> dict[str, list[dict]]:
    """Up to `k` seeded parameter sets per route."""
    pools = sorted(r.pool_address for r in srv.pools.select("pool_address").collect())
    orders = sorted(
        (r.pool_address, r.order_id, r.trader)
        for r in srv.orders.select("pool_address", "order_id", "trader").collect()
    )
    traders = sorted({t for _, _, t in orders})
    picks = rng.sample(orders, k)
    return {
        "pools": [{}],
        "pool": [{"pool": p} for p in rng.sample(pools, min(k, len(pools)))],
        "orderbook": [{"pool": p} for p in rng.sample(pools, min(k, len(pools)))],
        "order": [{"pool": p, "order": o} for p, o, _ in picks],
        "trader_orders": [{"pool": rng.choice(pools), "trader": rng.choice(traders)}
                          for _ in range(k)],
        "market_orders": [{"pool": rng.choice(pools), "trader": rng.choice(traders)}
                          for _ in range(k)],
        "amount_out": [{"pool": rng.choice(pools), "amount": rng.choice([10, 50, 200, 1000]),
                        "side": rng.choice(["BUY", "SELL"])} for _ in range(k)],
    }


def _requests(keys: dict, rng: random.Random, n: int) -> list[tuple[str, int]]:
    """`n` (route, key index) pairs: whole mix cycles, each shuffled."""
    out = []
    while len(out) < n:
        cycle = [r for r, c in MIX.items() for _ in range(c)]
        rng.shuffle(cycle)
        out.extend((r, rng.randrange(len(keys[r]))) for r in cycle)
    return out[:n]


class Client:
    """One keep-alive HTTP connection."""

    def __init__(self, port: int) -> None:
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)

    def get(self, path: str) -> tuple[int, str]:
        try:
            self.conn.request("GET", path)
            resp = self.conn.getresponse()
            return resp.status, resp.read().decode()
        except (OSError, http.client.HTTPException) as e:
            self.conn.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=TIMEOUT_S)
            return 0, str(e)

    def close(self) -> None:
        self.conn.close()


def _open_loop(port: int, keys: dict, plan: list, clients: int) -> list[dict]:
    """Send plan[i] when due (t0 + i / RATE_PER_S) on the first free client."""
    todo: queue.Queue = queue.Queue()
    done: list[dict] = []
    lock = threading.Lock()

    def worker() -> None:
        c = Client(port)
        while True:
            item = todo.get()
            if item is None:
                break
            due, route, ki = item
            sent = time.perf_counter()
            status, body = c.get(_path(route, keys[route][ki]))
            end = time.perf_counter()
            with lock:
                done.append({"route": route, "key": ki, "due": due, "sent": sent,
                             "end": end, "status": status, "body": body})
        c.close()

    threads = [threading.Thread(target=worker) for _ in range(clients)]
    for t in threads:
        t.start()
    t0 = time.perf_counter() + 0.05
    for i, (route, ki) in enumerate(plan):
        due = t0 + i / RATE_PER_S
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        todo.put((due, route, ki))
    for _ in threads:
        todo.put(None)
    for t in threads:
        t.join()
    return done


def _closed_loop(port: int, keys: dict, plan: list, clients: int, seconds: float):
    """`clients` connections, each sending its next request on the previous
    reply, until `seconds` pass. Returns (replies, completed in time)."""
    done: list[dict] = []
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds

    def worker(offset: int) -> None:
        c = Client(port)
        i = offset
        while time.perf_counter() < deadline:
            route, ki = plan[i % len(plan)]
            sent = time.perf_counter()
            status, body = c.get(_path(route, keys[route][ki]))
            end = time.perf_counter()
            with lock:
                done.append({"route": route, "key": ki, "sent": sent, "end": end,
                             "status": status, "body": body})
            i += clients
        c.close()

    t0 = time.perf_counter()
    threads = [threading.Thread(target=worker, args=(k,)) for k in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    in_time = sum(1 for d in done if d["end"] <= deadline)
    return done, in_time / (deadline - t0)


def sequential(port: int, keys: dict, plan: list) -> list[dict]:
    """Send `plan` over one connection, each request after the last reply."""
    c = Client(port)
    done = []
    for route, ki in plan:
        sent = time.perf_counter()
        status, body = c.get(_path(route, keys[route][ki]))
        done.append({"route": route, "key": ki, "sent": sent, "end": time.perf_counter(),
                     "status": status, "body": body})
    c.close()
    return done


def check_replies(run, srv, keys: dict, replies: list[dict]) -> dict:
    """Render every key once by calling `serving` / `amount_out` directly
    (timed, one span each) and check every reply against its render.
    Returns {(route, key index): {"body", "ms", "span"}}."""
    direct: dict[tuple[str, int], dict] = {}
    for route, params in keys.items():
        layer = "operators.amount_out" if route == "amount_out" else "operators.serving"
        for ki, p in enumerate(params):
            with run.tracer.span(f"{layer}:{route}") as sp:
                t0 = time.perf_counter()
                try:
                    body = _direct(srv, route, p)
                except IndexError:  # no row: the route answers 404
                    body = None
                ms = (time.perf_counter() - t0) * 1000
            direct[(route, ki)] = {"body": body, "ms": ms, "span": sp}
    for d in replies:
        want = direct[(d["route"], d["key"])]["body"]
        ok = d["status"] == 200 and want is not None and _canonical(d["body"]) == _canonical(want)
        run.check(ok, f"{d['route']} {keys[d['route']][d['key']]}: {d['status']} "
                      f"{d['body'][:120]}")
    return direct


def route_layers(run, replies: list[dict], direct: dict, init_s: float) -> None:
    """The `operators.api_server` / `serving` / `amount_out` per-layer
    metrics of a traced run: per route, the service-time p50 over HTTP and
    the direct render's time, jobs and tasks."""
    if not run.trace:
        return
    service: dict[str, list[float]] = {}
    for d in replies:
        service.setdefault(d["route"], []).append((d["end"] - d["sent"]) * 1000)
    gaps = []
    for route in MIX:
        calls = [v for (r, _), v in direct.items() if r == route]
        d_ms = median([c["ms"] for c in calls])
        run.layer.update({
            f"serve.direct.{route}.ms": d_ms,
            f"serve.direct.{route}.jobs": median([c["span"]["jobs"] for c in calls]),
            f"serve.direct.{route}.tasks": median([c["span"]["tasks"] for c in calls]),
        })
        if route in service:
            r_ms = median(service[route])
            run.layer[f"serve.route.{route}.p50_ms"] = r_ms
            gaps.append(r_ms - d_ms)
    run.layer["serve.http_self_ms"] = median(gaps)
    run.layer["serve.init_s"] = init_s


def start_server(run, events_dir: str):
    """Construct `HiveApiServer` over `events_dir`, touch its persisted
    frames and start it; returns (server, seconds taken)."""
    from hive_server_spark.operators.api_server import HiveApiServer

    t0 = time.perf_counter()
    with run.tracer.span("operators.api_server:init"):
        srv = HiveApiServer(run.spark, events_dir)
        srv.events.count()
        srv.orders.count()
        srv.start()
    return srv, time.perf_counter() - t0


def warm(srv, keys: dict) -> None:
    """One request per route, so the timed requests run compiled plans."""
    c = Client(srv.port)
    for route in MIX:
        c.get(_path(route, keys[route][0]))
    c.close()


def run(run) -> dict:
    tracer = run.tracer
    clients = os.cpu_count() or 1
    rng = random.Random(run.seed)

    # -- setup: generate + construct (+ first touch of the persisted frames)
    # SETUP_REPS times; the last server stays up
    reps, inits, hashes, srv = [], [], [], None
    for i in range(SETUP_REPS):
        if srv is not None:
            srv.stop()
        t0 = time.perf_counter()
        with tracer.span("inputs:events"):
            paths = inputs.write_events(os.path.join(run.work, f"events{i}"), run.seed, N_EVENTS)
        srv, init_s = start_server(run, os.path.dirname(paths[0]))
        reps.append(time.perf_counter() - t0)
        inits.append(init_s)
        hashes.append(inputs.content_hash(paths))
    run.check(len(set(hashes)) == 1, "same seed gave different events files")
    keys = keys_for(srv, rng, KEYS_PER_ROUTE)
    t0 = time.perf_counter()
    warm(srv, keys)
    warmup_s = time.perf_counter() - t0

    # -- measured: open loop, then closed loop
    open_s, closed_s = run.seconds * 2 / 3, run.seconds / 3
    run.begin_measure()
    with tracer.span("operators.api_server:open_loop"):
        opened = _open_loop(srv.port, keys, _requests(keys, rng, int(open_s * RATE_PER_S)),
                            clients)
    with tracer.span("operators.api_server:closed_loop"):
        closed, capacity = _closed_loop(srv.port, keys, _requests(keys, rng, 400), clients,
                                        closed_s)
    run.end_measure()

    direct = check_replies(run, srv, keys, opened + closed)
    srv.stop()

    latency_ms = [(d["end"] - d["due"]) * 1000 for d in opened]
    late_ms = [(d["sent"] - d["due"]) * 1000 for d in opened]
    run.named.update({
        "serve.p50_ms": (median(latency_ms), "ms"),
        "serve.p90_ms": (quantile(latency_ms, 0.9), "ms"),
        "serve.capacity_rps": (capacity, "1/s"),
        "serve.failed_frac": (run.failed / max(run.attempted, 1), "ratio"),
    })
    run.record.update({
        "events": N_EVENTS,
        "open_loop_rate_per_s": RATE_PER_S,
        "open_loop_requests": len(opened),
        "open_loop_lateness_p50_ms": median(late_ms),
        "open_loop_lateness_max_ms": max(late_ms),
        "closed_loop_clients": clients,
        "closed_loop_requests": len(closed),
    })
    route_layers(run, opened + closed, direct, median(inits))
    return {
        "setup_s": run.session_s + median(reps) + warmup_s,
        "latency_ms": median(latency_ms),
        "throughput_per_s": capacity,
    }
