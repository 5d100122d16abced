"""Server entrypoint: ``python -m zestdb_spark.serve`` — the engine
behind the reference's two ZMQ endpoints.

Mirrors the reference CLI (src/server.re:1090-1140): a request/reply
endpoint (default tcp://0.0.0.0:5555) and a router endpoint for
observe notifications (default tcp://0.0.0.0:5556), serving a durable
store until interrupted. A reference deployment swaps its binary for::

    python -m zestdb_spark.serve --store-root /data/zest \\
        --request-endpoint tcp://0.0.0.0:5555 \\
        --router-endpoint tcp://0.0.0.0:5556

Token auth mounts exactly like the reference's --token-key: pass
``--token-key-file`` and every request's macaroon is verified against
it (engine ACL; the reference's enable_arbiter+token.re flow).
``--secret-key-file`` mirrors the reference's flag of the same name
(server.re:1102-1104): the file holds the server's Z85 curve secret,
both sockets then require the CurveZMQ mechanism (REP under the
configured key, ROUTER under a fresh per-start keypair whose public
key rides in observe acks, server.re:1122-1124/866-867), and clients
connect with ``server_key=`` the matching public key. Omit it for the
NULL-mechanism plaintext transport.
"""

from __future__ import annotations

import argparse
import signal
import threading


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m zestdb_spark.serve",
        description="Serve a zestdb_spark store over ZMTP REP/ROUTER sockets.",
    )
    p.add_argument("--store-root", required=True, help="durable table directory")
    p.add_argument(
        "--request-endpoint",
        default="tcp://0.0.0.0:5555",
        help="REQ/REP endpoint (reference default tcp://0.0.0.0:5555)",
    )
    p.add_argument(
        "--router-endpoint",
        default="tcp://0.0.0.0:5556",
        help="ROUTER/DEALER notification endpoint (reference default :5556)",
    )
    p.add_argument(
        "--secret-key-file",
        default=None,
        help="file holding the server's Z85 curve secret key — enables "
        "CurveZMQ encryption on both sockets (reference --secret-key-file)",
    )
    p.add_argument(
        "--token-key-file",
        default=None,
        help="macaroon root key file — enables token verification "
        "(omit for the reference's open/arbiter-less mode)",
    )
    p.add_argument(
        "--server-identity",
        default=None,
        help="identity macaroon 'target = <id>' caveats must name "
        "(default: this hostname, like the reference server)",
    )
    p.add_argument(
        "--vacuum-interval",
        type=float,
        default=0.0,
        help="seconds between maintenance vacuums of every data table "
        "(0 disables, the default — the reference's git store keeps "
        "all history; opt in to reclaim tombstoned/orphaned files)",
    )
    p.add_argument(
        "--vacuum-retention",
        type=float,
        default=None,
        help="tombstone retention for the maintenance vacuum in seconds "
        "(default: the store's standard retention window)",
    )
    p.add_argument(
        "--compact-every",
        type=int,
        default=0,
        help="compact the TS tables every Nth maintenance tick "
        "(0 disables, the default; needs --vacuum-interval > 0)",
    )
    p.add_argument(
        "--compact-window-ms",
        type=int,
        default=0,
        help="scope maintenance compaction to the trailing window "
        "(ms) — compact only the hot recent day-buckets; 0 compacts "
        "the whole table",
    )
    p.add_argument(
        "--warm",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="pay the session's cold-start cost (JVM/codegen warm-up, "
        "first manifest rewrite) on a throwaway store BEFORE accepting "
        "clients, so the first real request doesn't (--no-warm skips; "
        "default on — cold first ops measured ~10x slower, see "
        "SCALE.md 'Cold start')",
    )
    p.add_argument(
        "--app-name", default="zestdb_spark_server", help="Spark application name"
    )
    p.add_argument(
        "--coordinator",
        default=None,
        metavar="HOST:PORT",
        help="coordinate writes through a lock service at HOST:PORT "
        "(lockserver.LockServer, or any service the ServiceCoordinator "
        "protocol reaches) instead of the single-filesystem default — "
        "required when several servers/maintenance jobs on different "
        "hosts write one store (SCALE.md 'Coordination')",
    )
    return p


def warm(spark) -> "dict[str, float]":
    """Exercise the write/rewrite/read paths once on a THROWAWAY store
    so the session pays its cold-start cost (JVM threads, whole-stage
    codegen compilation, first shuffle, first parquet commit, first
    manifest rewrite) before the first client request. The costs are
    session-global, not store-specific, so a temp root warms everything
    while touching no durable state — the real store sees zero warm-up
    rows, logs, or manifest versions. Returns phase timings (seconds)
    for the startup line / SCALE.md's cold-vs-warm table."""
    import shutil
    import tempfile
    import time as _time

    from zestdb_spark.api import ZestEngine

    root = tempfile.mkdtemp(prefix="zest_warm_")
    timings: dict[str, float] = {}
    try:
        eng = ZestEngine(spark, root)
        t0 = _time.monotonic()
        with eng.store._request("POST", "/kv/WARM/x", "warm", "json"):
            eng.store.kv_upsert("json", "WARM", "x", '"warm"')
        timings["first_write"] = _time.monotonic() - t0
        t0 = _time.monotonic()
        with eng.store._request("DELETE", "/kv/WARM/x", "warm", "json"):
            eng.store.kv_delete("json", "WARM", "x")  # the manifest REWRITE path
        timings["first_rewrite"] = _time.monotonic() - t0
        t0 = _time.monotonic()
        eng.get("/kv/WARM/keys")  # read + serialize path
        timings["first_read"] = _time.monotonic() - t0
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return timings


def start_maintenance(
    store,
    interval_s: float,
    retention_s=None,
    stop_event=None,
    compact_every: int = 0,
    compact_window_ms: int = 0,
):
    """Background maintenance: vacuum every manifested table each
    ``interval_s`` (the ops loop a long-running server needs, since
    tombstones and crashed-writer orphans otherwise accumulate
    forever). With ``compact_every`` = N > 0, every Nth tick also
    compacts the TS tables — scoped to the trailing
    ``compact_window_ms`` when given (the OPTIMIZE-the-hot-partitions
    posture: per-write appends accumulate one file per request, and
    only recent day-buckets keep receiving them), whole-table
    otherwise. Returns (stop_event, thread); set the event to stop."""
    import threading as _threading

    from zestdb_spark import snapshots
    from zestdb_spark.storage import _TABLES, now_ms

    ev = stop_event or _threading.Event()
    retention = (
        snapshots.DEFAULT_RETENTION_S if retention_s is None else retention_s
    )

    def loop():
        tick = 0
        while not ev.wait(interval_s):
            tick += 1
            if compact_every and tick % compact_every == 0:
                since = now_ms() - compact_window_ms if compact_window_ms else None
                for table in ("ts_numeric", "ts_blob"):
                    try:
                        store.compact(
                            table,
                            vacuum_retention_s=retention,
                            since_ms=since,
                        )
                    except Exception as exc:  # noqa: BLE001 — keep serving
                        print(
                            f"maintenance compact of {table} failed: {exc}",
                            flush=True,
                        )
                # the logs grow one tiny file per mutation — merge them
                # on the same cadence (threshold keeps the common case
                # a no-op manifest read)
                for table in ("audit", "write_log"):
                    try:
                        if len(store._live_files(table)) > 64:
                            store.compact_log(
                                table, vacuum_retention_s=retention
                            )
                    except Exception as exc:  # noqa: BLE001 — keep serving
                        print(
                            f"maintenance log-compact of {table} failed: {exc}",
                            flush=True,
                        )
            for table in sorted(_TABLES) + sorted(store._generic):
                try:
                    store.vacuum(table, retention_s=retention)
                except Exception as exc:  # noqa: BLE001 — keep serving
                    print(f"maintenance vacuum of {table} failed: {exc}", flush=True)

    t = _threading.Thread(target=loop, daemon=True, name="zest-vacuum")
    t.start()
    return ev, t


def main(argv: list[str] | None = None, *, block: bool = True):
    """Build engine + servers; with ``block`` (the CLI default) serve
    until SIGINT/SIGTERM. Returns the started ZestServer (tests run
    with block=False and stop it themselves)."""
    args = build_parser().parse_args(argv)

    from zestdb_spark.api import ZestEngine
    from zestdb_spark.session import get_spark
    from zestdb_spark.transport import ZestServer

    spark = get_spark(args.app_name)
    if args.coordinator:
        from zestdb_spark import coordination
        from zestdb_spark.lockserver import ServiceCoordinator

        host, _, port = args.coordinator.rpartition(":")
        coordination.set_coordinator(ServiceCoordinator((host, int(port))))
    acl = None
    if args.token_key_file:
        from zestdb_spark.auth import MacaroonValidator

        import socket as _socket

        with open(args.token_key_file) as f:
            acl = MacaroonValidator(
                f.read().strip(),
                identity=args.server_identity or _socket.gethostname(),
            )
    curve_secret = None
    if args.secret_key_file:
        from zestdb_spark import curve

        if not curve.available():
            raise SystemExit(
                "--secret-key-file needs libsodium, which is not available"
            )
        with open(args.secret_key_file) as f:
            curve_secret = f.read().strip()
    if args.warm:
        t = warm(spark)
        print(
            "warm-up: "
            + ", ".join(f"{k} {v:.2f}s" for k, v in t.items()),
            flush=True,
        )
    engine = ZestEngine(spark, args.store_root, acl=acl)
    server = ZestServer(
        engine,
        rep_endpoint=args.request_endpoint,
        router_endpoint=args.router_endpoint,
        curve_secret=curve_secret,
    ).start()
    mech = f"curve, public key {server.rep.public_key}" if curve_secret else "null"
    print(
        f"zestdb_spark serving {args.store_root} on "
        f"{server.rep.endpoint} (rep) / {server.router.endpoint} (router) "
        f"[{mech}]",
        flush=True,
    )
    maint = None
    if args.vacuum_interval > 0:
        maint, _ = start_maintenance(
            engine.store,
            args.vacuum_interval,
            args.vacuum_retention,
            compact_every=args.compact_every,
            compact_window_ms=args.compact_window_ms,
        )

    if not block:
        return server

    stop = threading.Event()
    for sig in (signal.SIGINT, signal.SIGTERM):
        signal.signal(sig, lambda *_: stop.set())
    stop.wait()
    if maint is not None:
        maint.set()
    server.stop()
    spark.stop()
    return server


if __name__ == "__main__":
    main()
