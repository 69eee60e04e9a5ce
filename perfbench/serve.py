"""serve_rw: open-loop reads beside writes against HttpGateway.

The gateway serves a ``KeyedTable`` of seed-generated rows keyed by
(user_id, ts_ms). Requests are mostly time-bounded ``GET /scan`` under one
user, some ``GET /kv`` for a whole user and a small share of ``POST``
upserts; keys are Zipf-skewed. Every request is one or more small Spark
jobs, and each POST merges into and rewrites the whole snapshot while
reads continue.

1. A short closed loop of ``GET /scan`` with ``nproc`` connections
   measures read capacity.
2. An open loop then sends requests at the fixed ``OFFERED_RATE`` from a
   seeded Poisson schedule through ``nproc`` connections; latency is timed
   from each request's due time, so queueing behind slow requests counts.

Every response is checked after the run against the generator's model of
the table: rows of a key written during the run may be seen before or
after the write, never half-applied.
"""

from __future__ import annotations

import http.client
import json
import queue
import statistics
import threading
import time
from urllib.parse import urlencode

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import meters

# (users, rows per user) of the served table
SIZES = {"bench": (400, 50), "tiny": (40, 10)}
# Requests/s of the open loop: about half the closed-loop capacity measured
# with 4 connections on a 4-core host (see README.md).
OFFERED_RATE = 7.5
MIX = (0.80, 0.12, 0.08)  # scan, kv, post
POST_ROWS = 4
CAPACITY_SHARE = 0.5  # closed-loop phase length as a share of --seconds


class Client:
    """One keep-alive-free HTTP client call per request; records timings
    and the parsed response for the post-run check."""

    def __init__(self, port: int) -> None:
        self.port = port

    def send(self, req: dict) -> dict:
        if req["op"] == "post":
            method, path = "POST", "/kv/t"
            body = json.dumps(req["rows"]).encode()
        else:
            params = {"user_id": req["key"]}
            if req["op"] == "scan":
                params.update({"from": req["from"], "until": req["until"]})
            table = req.get("table", "t")
            method, path, body = "GET", f"/{req['op']}/{table}?{urlencode(params)}", None
        t_send = time.perf_counter()
        status, payload = 0, None
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            conn.request(method, path, body=body,
                         headers={"Content-Type": "application/json"} if body else {})
            resp = conn.getresponse()
            status = resp.status
            payload = json.loads(resp.read() or b"null")
            conn.close()
        except Exception as e:  # noqa: BLE001
            payload = f"{type(e).__name__}: {e}"
        return {"req": req, "status": status, "payload": payload,
                "t_send": t_send, "t_recv": time.perf_counter()}


def closed_loop(client: Client, reqs: list[dict], conns: int, seconds: float) -> tuple[list, float]:
    """``conns`` threads send back to back until ``seconds`` pass; returns
    every result and the capacity (responses completed within the phase
    per second)."""
    done: list[dict] = []
    it = iter(reqs)
    lock = threading.Lock()
    t0 = time.perf_counter()

    def worker():
        while time.perf_counter() - t0 < seconds:
            with lock:
                req = next(it, None)
            if req is None:
                return
            res = client.send(req)
            with lock:
                done.append(res)

    threads = [threading.Thread(target=worker) for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return done, sum(r["t_recv"] - t0 <= seconds for r in done) / seconds


def open_loop(client: Client, reqs: list[dict], conns: int, tracer) -> tuple[list, float]:
    """Dispatch each request at its due time to a pool of ``conns``
    connections; returns results stamped with due and dispatch times."""
    work: queue.Queue = queue.Queue()
    done: list[dict] = []
    lock = threading.Lock()
    t0 = time.perf_counter()

    def worker():
        while True:
            item = work.get()
            if item is None:
                return
            req, t_due, t_disp = item
            tracer.set_request(req["id"])
            with tracer.span("client.request"):
                res = client.send(req)
            res.update(t_due=t_due, t_disp=t_disp)
            with lock:
                done.append(res)

    threads = [threading.Thread(target=worker) for _ in range(conns)]
    for t in threads:
        t.start()
    for req in reqs:
        t_due = t0 + req["due"]
        delay = t_due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        work.put((req, t_due, time.perf_counter()))
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()
    return done, time.perf_counter() - t0


class Model:
    """The generator's view of the table, for checking responses."""

    def __init__(self, rows: list[dict]) -> None:
        self.base: dict[int, set] = {}
        for r in rows:
            self.base.setdefault(r["user_id"], set()).add(_row(r))
        self.posts: list[dict] = []  # completed POST results

    def add_post(self, res: dict) -> None:
        self.posts.append(res)

    def check(self, res: dict) -> str | None:
        req = res["req"]
        if res["status"] != 200:
            return f"{req['op']} -> {res['status']}: {str(res['payload'])[:200]}"
        if req["op"] == "post":
            ok = res["payload"] == {"upserted": len(req["rows"])}
            return None if ok else f"post -> {res['payload']}"
        k = req["key"]
        lo, hi = (req["from"], req["until"]) if req["op"] == "scan" else (None, None)

        def in_range(t):
            return lo is None or lo <= t[1] < hi

        got = {_row(r) for r in res["payload"]}
        must = {t for t in self.base.get(k, ()) if in_range(t)}
        may = set(must)
        for p in self.posts:
            if p["req"]["key"] != k or p["status"] != 200:
                continue
            rows = {t for t in map(_row, p["req"]["rows"]) if in_range(t)}
            if p["t_recv"] < res["t_send"]:
                must |= rows  # committed before this read was sent
            elif p["t_send"] < res["t_recv"]:
                if rows & got and not rows <= got:
                    return f"{req['op']} key {k}: half of a POST visible"
            else:
                continue  # sent after this read finished: must be absent
            may |= rows
        if not must <= got:
            return f"{req['op']} key {k}: {len(must - got)} expected rows missing"
        if not got <= may:
            return f"{req['op']} key {k}: {len(got - may)} unexpected rows"
        return None


def _row(r: dict) -> tuple:
    return (int(r["user_id"]), int(r["ts_ms"]), int(r["cents"]), str(r["tag"]))


def run(run) -> dict:
    from affinity_spark.serving import ServingGateway
    from affinity_spark.serving_http import HttpGateway
    from affinity_spark.sources.keyed_table import KeyedTable

    n_keys, per_key = SIZES[run.scale]
    rows = gen.serve_rows(run.seed, n_keys, per_key)
    src = run.dir("input") + "/rows.parquet"
    pq.write_table(pa.Table.from_pylist(rows), src)
    conns = meters.ncpus()
    tr = run.tracer
    state: dict = {}

    def setup(spark):
        tbl = KeyedTable(spark, run.dir("table"), ["user_id", "ts_ms"], "ts_ms")
        tbl.overwrite(spark.read.parquet(src))
        gw = ServingGateway(table=tbl)
        edge = HttpGateway()
        edge.register("t", gw, tbl.read().schema)
        state.update(table=tbl, gateway=gw, edge=edge, port=edge.start())

    run.mark("inputs")
    setup_s = run.setup(setup)
    run.mark("setup")
    spark, tbl, gw, edge = run.spark, state["table"], state["gateway"], state["edge"]
    client = Client(state["port"])
    model = Model(rows)
    results: list[dict] = []
    try:
        # warm-up: compile the scan, get and merge plans (untimed)
        warm = gen.serve_requests(run.seed, 1, n_keys, 8, 100.0, (0.5, 0.25, 0.25), POST_ROWS)
        for req in warm:
            res = client.send(req)
            results.append(res)
            if req["op"] == "post":
                model.add_post(res)
        run.mark("warmup")
        if run.trace:
            from affinity_spark.sources import keyed_table

            for attr in ("prefix_range", "point_get", "upsert"):
                tr.patch(gw, attr, f"serving.{attr}")
            for attr in ("read", "upsert"):
                tr.patch(keyed_table.KeyedTable, attr, f"keyed_table.{attr}")
        cap_reqs = gen.serve_requests(run.seed, 2, n_keys, 10_000, 1.0, (1.0, 0.0, 0.0))
        cap_wall = max(1.0, run.seconds * CAPACITY_SHARE)
        cap_done, capacity = closed_loop(client, cap_reqs, conns, cap_wall)
        run.mark("capacity")
        results += cap_done

        sched = gen.serve_requests(run.seed, 0, n_keys, int(OFFERED_RATE * run.seconds),
                                   OFFERED_RATE, MIX, POST_ROWS)
        if run.inject == "bad-request":
            sched.append({"id": "bad", "due": run.seconds / 2, "op": "kv",
                          "key": 0, "table": "missing"})
            sched.sort(key=lambda r: r["due"])
        srv0 = json.loads(_get(state["port"], "/metrics"))
        jobs0 = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        before = meters.stage_snapshot(spark) if run.trace else None
        t_open = time.perf_counter()
        done, open_wall = open_loop(client, sched, conns, tr)
        run.mark("window")
        after = meters.stage_snapshot(spark) if run.trace else None
        jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None)) - jobs0
        server = json.loads(_get(state["port"], "/metrics"))
        tr.unpatch()
    finally:
        edge.stop()
    for res in done:
        if res["req"]["op"] == "post":
            model.add_post(res)
    results += done

    errors = [e for e in map(model.check, results) if e]
    gets = [r for r in done if r["req"]["op"] != "post"]
    posts = [r for r in done if r["req"]["op"] == "post"]
    lat = [(r["t_recv"] - r["t_due"]) * 1e3 for r in gets]
    post_lat = [(r["t_recv"] - r["t_due"]) * 1e3 for r in posts] or [0.0]
    named = {
        "get_p50_ms": statistics.median(lat),
        # about five samples beyond it per run: detail only
        "get_p90_ms": statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else lat[0],
        "post_p50_ms": statistics.median(post_lat),
        "serve_capacity_ops_per_s": capacity,
        "offered_rate_per_s": OFFERED_RATE,
        "achieved_rate_per_s": len(done) / (max(r["t_recv"] for r in done) - t_open),
        "open_requests": len(done),
        "posts": len(posts),
        "error_rate": len(errors) / len(results),
    }
    out = {
        "setup_s": setup_s,
        "p50_ms": named["get_p50_ms"],
        "throughput_per_s": capacity,
        "attempted": len(results),
        "failed": len(errors),
        "errors": errors,
        "named": named,
        "traced_wall_s": open_wall,
        "window": (t_open, t_open + open_wall),
        "breakdown": {"server_metrics": server},
    }
    if run.trace:
        fs = tbl.file_stats()
        server_ms = _window_mean_ms(srv0, server, "GET /scan/t")
        scans = [(r["t_recv"] - r["t_send"]) * 1e3 for r in done if r["req"]["op"] == "scan"]
        med = lambda name: statistics.median(tr.durations_ms(name) or [0.0])  # noqa: E731
        layers = meters.stage_metrics(meters.work_delta(before, after), open_wall)
        layers.update({
            "exec.jobs": jobs,
            "serving_http.server_ms": server_ms,
            "serving_http.wait_ms": statistics.mean(scans) - server_ms if scans else 0.0,
            "gen.lag_ms": statistics.median((r["t_disp"] - r["t_due"]) * 1e3 for r in done),
            "serving.prefix_range_ms": med("serving.prefix_range"),
            "serving.point_get_ms": med("serving.point_get"),
            "serving.upsert_ms": med("serving.upsert"),
            "keyed_table.read_ms": med("keyed_table.read"),
            "keyed_table.upsert_ms": med("keyed_table.upsert"),
            "keyed_table.conflicts": sum(r["status"] == 409 for r in results),
            "keyed_table.files": fs["n_files"],
            "keyed_table.bytes": fs["total_bytes"],
            "keyed_table.versions": len(tbl.versions()),
        })
        out["layers"] = layers
    return out


def _window_mean_ms(before: dict, after: dict, group: str) -> float:
    """Mean server-side duration of the ``group`` requests answered
    between two ``/metrics`` snapshots (lifetime counts x window means;
    exact while fewer requests than the metrics ring holds were served)."""
    def total(snap):
        g = snap.get(group, {})
        return g.get("count", 0), g.get("count", 0) * g.get("duration_ms", {}).get("mean", 0.0)

    (n0, t0), (n1, t1) = total(before), total(after)
    return (t1 - t0) / (n1 - n0) if n1 > n0 else 0.0


def _get(port: int, path: str) -> bytes:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    conn.request("GET", path)
    body = conn.getresponse().read()
    conn.close()
    return body
