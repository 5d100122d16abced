"""``iot_serve``: the reference's own traffic over the real ZMTP socket.

One REQ client drives an in-process ``ZestServer`` over loopback in a
closed loop (one request in flight), and one DEALER observer watches one
series. The store is seeded with the events mapping (100k rows, ~150
files) and the nation KV mapping. Requests come in blocks of ten: seven
tagged POST /ts, one POST or DELETE /kv, two GETs, in a fixed order
where every GET follows a write. Each commit bumps the table version,
so every /ts read misses the reader cache; with seeded positions, a GET
after a GET hit the cache on some seeds and not others. The GET kinds
(latest, last/N + filter, since + aggregate, range + median, length,
KV keys) rotate through a seeded order, four of each per run. The seed
picks series, values, keys, windows and filters.

Every run sends the same twelve blocks' worth of requests, so every
run ends at the same store size. Loads transport, protocol, api, streaming,
plans, storage, operators, serializers and the Spark session;
``functions`` stays idle.

A traced run traces every other request of each kind. After each traced read it
re-runs the read's final plan in parts for the operator and serializer
figures, outside the measured time.
"""

from __future__ import annotations

import json
import random
import threading
import time

import datagen
from harness import Checks, JobCounter, Op, Outcome, med, pct

EV = ["signup", "purchase", "view", "click", "error"]
OBSERVED = "click"
GET_KINDS = ["get_latest", "get_last_filter", "get_since_agg", "get_range_median", "get_length", "get_kv_keys"]
BLOCKS = 12
BLOCK = ["post_ts", "post_ts", "post_ts", "get", "post_ts", "post_ts", "kv", "post_ts", "post_ts", "get"]
JAN1 = 1_704_067_200_000
DAY = 86_400_000
TIMEOUT_S = 30.0


def make_inputs(out_dir: str, seed: int) -> str:
    return datagen.write_tables(out_dir, seed, {"events": 100_000})


def schedule(rng: random.Random, n_blocks: int, region: str) -> "list[dict]":
    """The run's requests, each ``{"kind", "method", "path", "payload", ...}``."""
    out: list[dict] = []
    live_keys: list[str] = []
    next_key = 0
    last_post: dict[str, float] = {}
    kinds: list[str] = []
    for _ in range(n_blocks):
        for slot in BLOCK:
            if slot == "post_ts":
                s = rng.choice(EV)
                body = {"value": round(rng.uniform(0, 200), 2), "k": str(rng.randint(0, 99))}
                out.append({"kind": "post_ts", "method": "POST", "path": f"/ts/{s}", "payload": body, "series": s})
                last_post[s] = body["value"]
            elif slot == "kv":
                if live_keys and rng.random() < 0.5:
                    key = live_keys.pop(rng.randrange(len(live_keys)))
                    out.append({"kind": "delete_kv", "method": "DELETE", "path": f"/kv/{region}/{key}"})
                else:
                    key = f"bench_k{next_key}"
                    next_key += 1
                    live_keys.append(key)
                    out.append({"kind": "post_kv", "method": "POST", "path": f"/kv/{region}/{key}",
                                "payload": {"v": next_key}})
            else:
                if not kinds:
                    kinds = list(GET_KINDS)
                    rng.shuffle(kinds)
                out.append(_get(rng, kinds.pop(), region, out, last_post))
    return out


def _get(rng, kind, region, sent, last_post) -> dict:
    s = rng.choice(EV)
    if kind == "get_latest":
        # the latest read targets the newest post, whose value it must return
        recent = next((r for r in reversed(sent) if r["kind"] == "post_ts"), None)
        s = recent["series"] if recent else s
        return {"kind": kind, "method": "GET", "path": f"/ts/{s}/latest",
                "expect": last_post.get(s)}
    # window sizes are fixed so each kind scans about as much on every
    # seed; the seed picks series, positions and filter values
    if kind == "get_last_filter":
        path = f"/ts/{s}/last/50/filter/k/equals/{rng.randint(0, 99)}"
    elif kind == "get_since_agg":
        agg = ("mean", "max", "sum", "count")[sum(r["kind"] == kind for r in sent) % 4]
        path = f"/ts/{s},{rng.choice(EV)}/since/{JAN1 + 23 * DAY}/{agg}"
    elif kind == "get_range_median":
        a = JAN1 + rng.randint(3, 20) * DAY
        path = f"/ts/{s}/range/{a}/{a + 3 * DAY}/median"
    elif kind == "get_length":
        path = f"/ts/{s}/length"
    else:
        path = f"/kv/{region}/keys"
    return {"kind": kind, "method": "GET", "path": path}


def _frame(req: dict) -> bytes:
    from zestdb_spark import protocol as P

    if req["method"] == "GET":
        return P.request_get(req["path"])
    if req["method"] == "DELETE":
        return P.request_delete(req["path"])
    return P.request_post(req["path"], json.dumps(req["payload"]).encode())


def _reply(data: bytes) -> "tuple[int, bytes]":
    from zestdb_spark import protocol as P

    frame = P.decode(data)
    return frame.code, frame.payload


EXPECT_CODE = {"POST": 65, "DELETE": 66, "GET": 69}


class Observer(threading.Thread):
    """Counts notifications pushed to one DEALER until stopped."""

    def __init__(self, endpoint: str, oid: str) -> None:
        super().__init__(daemon=True)
        from zestdb_spark.transport import ZestDealerClient

        self.dealer = ZestDealerClient(endpoint, oid)
        self.received = 0
        self.stopping = threading.Event()

    def run(self) -> None:
        while not self.stopping.is_set():
            try:
                self.dealer.recv(timeout_s=0.2)
                self.received += 1
            except (TimeoutError, OSError):
                continue

    def stop(self) -> None:
        self.stopping.set()
        self.join(timeout=5)
        self.dealer.close()


def run(spark, seed, tracer, data_dir, work) -> Outcome:
    import os

    from zestdb_spark.api import ZestEngine
    from zestdb_spark.io import fixtures
    from zestdb_spark import protocol as P
    from zestdb_spark.transport import ZestReqClient, ZestServer

    rng = random.Random(seed)
    region = rng.choice(datagen.REGIONS)
    reqs = schedule(rng, BLOCKS, region)

    # ---- setup: seed the store, start the server, warm every request kind
    t0 = time.perf_counter()
    eng = ZestEngine(spark, os.path.join(work, "store"))
    eng.ingest_bulk(fixtures.ts_numeric_from_events(spark, data_dir))
    eng.store.kv_ingest_bulk("json", fixtures.kv_json_from_nation(spark, data_dir))
    server = ZestServer(eng).start()
    client = ZestReqClient(server.rep.endpoint, timeout_s=TIMEOUT_S)
    code, oid = _reply(client.request(P.request_observe(f"/ts/{OBSERVED}")))
    observer = Observer(server.router.endpoint, oid.decode())
    observer.start()
    warm = [
        {"method": "POST", "path": "/ts/warmup", "payload": {"value": 1.0, "k": "1"}},
        {"method": "POST", "path": "/kv/warmup/k", "payload": {"v": 1}},
        {"method": "DELETE", "path": "/kv/warmup/k"},
    ] + [_get(random.Random(i), k, region, [], {}) for i, k in enumerate(GET_KINDS)]
    for req in warm:
        client.request(_frame(req))
    setup_s = time.perf_counter() - t0

    jobs = JobCounter(spark, tracer.enabled)
    loads: dict[int, list] = {}
    frames: dict[int, list] = {}
    split: dict[str, list[float]] = {"noop": [], "collect": [], "shape": [], "bytes": []}
    _patch(tracer, jobs, loads, frames)
    history0 = {t: len(eng.store.history(t)) for t in ("ts_numeric", "kv_json")}

    # ---- measured closed loop
    checks = Checks()
    ops: list[Op] = []
    errors: list[str] = []
    ledger: dict[str, list] = {s: [] for s in EV}
    kv_live = set()
    posts_observed = 0
    read_ops: set[int] = set()
    write_ops: set[int] = set()
    seen: dict[str, int] = {}
    untimed_s = 0.0
    t_meas = time.perf_counter()
    start_ms = int(time.time() * 1000)
    for op_id, req in enumerate(reqs, start=1):
        tracer.op = op_id
        n = seen[req["kind"]] = seen.get(req["kind"], 0) + 1
        tracer.on = tracer.enabled and n % 2 == 1
        frame = _frame(req)
        ok = True
        t = time.perf_counter()
        try:
            with tracer.span("client.request"):
                tracer.remote_parent = tracer.current()
                data = client.request(frame)
            dt = time.perf_counter() - t
            code, payload = _reply(data)
            ok = code == EXPECT_CODE[req["method"]]
        except (OSError, ValueError) as exc:
            dt = time.perf_counter() - t
            ok, payload = False, b""
            errors.append(f"{req['path']}: {type(exc).__name__}: {exc}"[:300])
            client.close()
            client = ZestReqClient(server.rep.endpoint, timeout_s=TIMEOUT_S)
        tracer.remote_parent = None
        checks.check(ok, f"ack for {req['method']} {req['path']}")
        ops.append(Op(req["kind"], dt, ok, tracer.on))
        if tracer.on:
            (read_ops if req["method"] == "GET" else write_ops).add(op_id)
        if ok and req["kind"] == "post_ts":
            ledger[req["series"]].append(req["payload"])
            posts_observed += req["series"] == OBSERVED
        elif ok and req["kind"] == "post_kv":
            kv_live.add(req["path"].rsplit("/", 1)[1])
        elif ok and req["kind"] == "delete_kv":
            kv_live.discard(req["path"].rsplit("/", 1)[1])
        if ok and req["method"] == "GET" and tracer.on:
            t = time.perf_counter()
            _split_read(req["path"], frames.get(op_id, []), payload, split)
            untimed_s += time.perf_counter() - t
        if ok and req["kind"] == "get_latest" and req.get("expect") is not None:
            got = json.loads(payload)
            checks.check(
                len(got) == 1 and got[0]["data"]["value"] == req["expect"],
                f"latest after post {req['path']}: {payload[:200]!r}",
            )
    tracer.on = False
    measured_s = time.perf_counter() - t_meas - untimed_s
    per_layer = {}
    if tracer.enabled:
        per_layer = _per_layer(tracer, jobs, loads, eng, read_ops, write_ops, history0)
        per_layer.update({
            "operators.exec_s": sum(split["noop"]),
            "serializers.collect_ms": med(split["collect"]) * 1e3,
            "serializers.shape_ms": med(split["shape"]) * 1e3,
            "serializers.result_bytes": med(split["bytes"]),
        })
    tracer.unpatch()

    # ---- output checks, untimed: every acknowledged write is readable
    for s, posted in ledger.items():
        code, payload = _reply(client.request(P.request_get(f"/ts/{s}/since/{start_ms}")))
        got = sorted((r["data"]["value"], r["data"].get("k")) for r in json.loads(payload or b"[]"))
        want = sorted((p["value"], p["k"]) for p in posted)
        checks.check(code == 69 and got == want, f"ledger /ts/{s}: {len(got)} rows, {len(want)} acknowledged")
    code, payload = _reply(client.request(P.request_get(f"/kv/{region}/keys")))
    seeded = {f"NATION_{i}" for i in range(25) if i % 5 == datagen.REGIONS.index(region)}
    checks.check(
        code == 69 and set(json.loads(payload)) == seeded | kv_live,
        f"kv ledger /kv/{region}: {payload[:200]!r}",
    )
    deadline = time.time() + 5
    while observer.received < posts_observed and time.time() < deadline:
        time.sleep(0.05)
    checks.check(
        observer.received == posts_observed,
        f"observer of /ts/{OBSERVED}: {observer.received} notifications, {posts_observed} posts",
    )
    if tracer.enabled:
        per_layer["streaming.delivered_ratio"] = observer.received / max(1, posts_observed)
    observer.stop()
    client.close()
    server.stop()

    writes = [o.charged() for o in ops if not o.kind.startswith("get")]
    reads = [o.charged() for o in ops if o.kind.startswith("get")]
    return Outcome(
        ops=ops,
        measured_s=measured_s,
        setup_s=setup_s,
        checks_attempted=checks.attempted,
        checks_failed=checks.failed,
        failures=errors[:10] + checks.messages,
        per_layer=per_layer,
        detail={
            "write_p50_ms": pct(writes, 50) * 1e3,
            "write_p95_ms": pct(writes, 95) * 1e3,
            "read_p50_ms": pct(reads, 50) * 1e3,
            "read_p90_ms": pct(reads, 90) * 1e3,
            "serve_ops_per_s": sum(o.ok for o in ops) / measured_s,
            "writes": len(writes),
            "reads": len(reads),
            "notifications": [observer.received, posts_observed],
            "median_ms": {k: med(o.seconds for o in ops if o.kind == k) * 1e3 for k in {o.kind for o in ops}},
        },
    )


class _Collected:
    """Stands in for a DataFrame whose rows are already on the driver,
    so a serializer call times its shaping alone."""

    def __init__(self, rows: list) -> None:
        self.rows = rows

    def collect(self) -> list:
        return self.rows


def _split_read(path: str, dfs: list, payload: bytes, split: dict) -> None:
    """After a read, untimed: run its final plan alone (a noop write:
    operator execution), collect it (driver-side transfer), and shape the
    collected rows with the serializer the engine used for this path."""
    from zestdb_spark import serializers
    from zestdb_spark.plans import compile_path

    split["bytes"].append(len(payload))
    for df in dfs:
        plan = compile_path(path)
        if plan.window.op == "length":
            shape = serializers.length_to_json
        elif plan.agg is not None:
            shape = serializers.aggregate_to_json
        else:
            shape = serializers.rows_to_json
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        split["noop"].append(time.perf_counter() - t)
        t = time.perf_counter()
        rows = df.collect()
        split["collect"].append(time.perf_counter() - t)
        t = time.perf_counter()
        shape(_Collected(rows))
        split["shape"].append(time.perf_counter() - t)


def _patch(tracer, jobs: JobCounter, loads: dict, frames: dict) -> None:
    """Span the public calls into each layer (traced runs only)."""
    if not tracer.enabled:
        return
    from zestdb_spark import api, protocol, serializers, storage
    from zestdb_spark.streaming import observe

    # job groups are per thread: tag each request's Spark jobs from the
    # server's own thread
    tracer.wrap(protocol.ZestFrameServer, "handle", "protocol.handle",
                before=lambda: jobs.enter(tracer.op))
    for verb in ("get", "post", "delete"):
        tracer.wrap(api.ZestEngine, verb, f"api.{verb}")
    for fn in ("write_numeric", "kv_upsert", "kv_delete"):
        tracer.wrap(storage.ZestStore, fn, "storage.write")
    tracer.wrap(storage.ZestStore, "audit_append", "storage.audit")
    tracer.wrap(storage.ZestStore, "load", "storage.load",
                after=lambda df: loads.setdefault(tracer.op, []).append(df))
    tracer.wrap(observe.ObserverRegistry, "publish_data", "streaming.publish")
    tracer.wrap(api, "compile_path", "plans.compile_path")
    tracer.wrap(api, "plan_to_dataframe", "plans.plan_to_dataframe",
                after=lambda df: frames.setdefault(tracer.op, []).append(df))
    for fn in ("rows_to_json", "aggregate_to_json", "length_to_json", "keys_to_json"):
        tracer.wrap(serializers, fn, "serializers.call")


def _per_layer(tracer, jobs, loads, eng, read_ops, write_ops, history0) -> dict:
    seen: list = []
    reused = 0
    files: list[int] = []
    for op in sorted(loads):
        n = 0
        for df in loads[op]:
            reused += any(df is s for s in seen)
            seen.append(df)
            n += len(df.inputFiles())
        if op in read_ops:
            files.append(n)
    counts = [jobs.collect(op) for op in sorted(read_ops)]
    return {
        "transport.self_ms": med(tracer.self_times("client.request")) * 1e3,
        "protocol.self_ms": med(tracer.self_times("protocol.handle")) * 1e3,
        "api.write_self_ms": med(tracer.self_times("api.post", write_ops) + tracer.self_times("api.delete", write_ops)) * 1e3,
        "api.read_self_ms": med(tracer.self_times("api.get", read_ops)) * 1e3,
        "api.audit_ms": med(tracer.durations("storage.audit")) * 1e3,
        "streaming.publish_ms": med(tracer.durations("streaming.publish")) * 1e3,
        "plans.compile_ms": med(tracer.durations("plans.compile_path")) * 1e3,
        "plans.build_ms": med(tracer.durations("plans.plan_to_dataframe")) * 1e3,
        "storage.write_ms": med(tracer.durations("storage.write")) * 1e3,
        "storage.load_ms": med(tracer.durations("storage.load")) * 1e3,
        "storage.reader_reuse_ratio": reused / max(1, len(seen)),
        "storage.files_per_read": med(files),
        "storage.live_files": eng.store.table_stats("ts_numeric")["n_files"],
        "storage.commits": sum(len(eng.store.history(t)) - n for t, n in history0.items()),
        "session.jobs_per_read": med(c[0] for c in counts),
        "session.tasks_per_read": med(c[1] for c in counts),
    }
