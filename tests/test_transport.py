"""ZMTP transport tests: the reference's REP + ROUTER sockets served
over real TCP (loopback), driven by byte-faithful REQ/DEALER clients.

Covers: greeting/READY handshake, socket-type compatibility rejection,
short and long (>255 B) frame paths, REP envelope echo, request
dispatch into a real ZestEngine through ZestFrameServer, poisoned
frames not killing the loop, and the observe notification fan-out over
ROUTER/DEALER keyed by uuid identity (src/server.re:778-793,
src/protocol/zest.re:217-264)."""

from __future__ import annotations

import json
import os
import socket
import statistics
import struct
import threading
import time

import pytest

from zestdb_spark import curve, protocol
from zestdb_spark.api import ZestEngine
from zestdb_spark.transport import (
    TransportError,
    ZestDealerClient,
    ZestRepServer,
    ZestReqClient,
    ZestRouterServer,
    ZestServer,
    _Conn,
    _greeting,
)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    return ZestEngine(spark, str(tmp_path_factory.mktemp("transport_store")))


@pytest.fixture(scope="module")
def server(engine):
    # warm the write path OUTSIDE the socket deadline: the first Spark
    # job of a session costs seconds (more on a loaded host), and the
    # REQ clients' timeouts must measure the transport, not warmup
    engine.post("/kv/_warm/k", {"w": 1})
    srv = ZestServer(engine).start()
    yield srv
    srv.stop()


def test_echo_rep_roundtrip_short_and_long():
    """Framing layer alone: a REP server echoing bytes, exercised with
    a short (1-octet-length) and a long (8-octet-length) frame."""
    srv = ZestRepServer(lambda b: b[::-1]).start()
    try:
        cli = ZestReqClient(srv.endpoint)
        assert cli.request(b"abc") == b"cba"
        big = bytes(range(256)) * 64  # 16 KiB → LONG flag both ways
        assert cli.request(big) == big[::-1]
        cli.close()
    finally:
        srv.stop()


def test_rep_rejects_incompatible_socket_type():
    """A PUB peer must be refused by a REP socket (spec/23 validity)."""
    srv = ZestRepServer(lambda b: b).start()
    try:
        sock = socket.create_connection(("127.0.0.1", srv.port), timeout=5.0)
        conn = _Conn(sock, "PUB")  # invalid peer for REP
        with pytest.raises((TransportError, ConnectionError, OSError)):
            conn.handshake()
            # server closes on its side; our next read sees EOF
            conn.recv_message()
        conn.close()
    finally:
        srv.stop()


def test_greeting_rejects_wrong_mechanism():
    """A CURVE greeting at a NULL (keyless) server is refused loudly —
    mechanisms must match on both sides, as in libzmq."""
    srv = ZestRepServer(lambda b: b).start()
    try:
        sock = socket.create_connection(("127.0.0.1", srv.port), timeout=5.0)
        sock.sendall(_greeting(mechanism=b"CURVE"))
        sock.recv(64)  # server's greeting
        # server must close without completing a handshake
        sock.settimeout(5.0)
        rest = b""
        try:
            while True:
                chunk = sock.recv(4096)
                if not chunk:
                    break
                rest += chunk
        except OSError:
            pass
        # no READY command may arrive after our CURVE announcement;
        # whatever was in flight, the connection ends
        sock.close()
    finally:
        srv.stop()


def test_engine_get_post_over_tcp(server, engine):
    """The reference client flow over a real socket: POST /kv, GET it
    back, GET /hello — request BYTES in, reference response BYTES out
    (server.re:1075-1084 loop behind a REP socket)."""
    cli = ZestReqClient(server.rep.endpoint, timeout_s=60.0)
    try:
        # POST json → 65 Created
        resp = protocol.decode(
            cli.request(protocol.request_post("/kv/tnet/k1", b'{"a": 1}'))
        )
        assert resp.code == protocol.ACK_CREATED
        # GET it back → 69 Content + the stored JSON
        resp = protocol.decode(cli.request(protocol.request_get("/kv/tnet/k1")))
        assert resp.code == protocol.ACK_CONTENT
        assert json.loads(resp.payload.decode()) == {"a": 1}
        assert struct.unpack(">H", resp.option(protocol.OPT_CONTENT_FORMAT))[0] == 50
        # /hello → "world" (M3)
        resp = protocol.decode(cli.request(protocol.request_get("/hello")))
        assert json.loads(resp.payload.decode()) == "world"
    finally:
        cli.close()


def test_poisoned_frame_gets_128_and_loop_survives(server):
    cli = ZestReqClient(server.rep.endpoint)
    try:
        resp = protocol.decode(cli.request(b"\x01\x07"))  # truncated header
        assert resp.code == 128
        # same connection still serves the next request
        resp = protocol.decode(cli.request(protocol.request_get("/hello")))
        assert resp.code == protocol.ACK_CONTENT
    finally:
        cli.close()


def test_observe_notifications_routed_to_dealer(server, engine):
    """Observe over the wire: GET+observe returns the uuid; a DEALER
    connected to the ROUTER socket with that uuid as ZMTP Identity
    receives each matching write as a zest data-payload frame — the
    transport-complete version of the reference's notification path."""
    cli = ZestReqClient(server.rep.endpoint, timeout_s=60.0)
    try:
        resp = protocol.decode(
            cli.request(protocol.request_observe("/kv/tnet2/*", mode="data"))
        )
        assert resp.code == protocol.ACK_CONTENT
        oid = resp.payload.decode()
        assert oid  # the observer uuid

        dealer = ZestDealerClient(server.router.endpoint, identity=oid)
        try:
            # the dealer's READY has returned client-side; give the
            # server's conn thread a beat to register the identity (the
            # server also retries unpushed messages on the next request,
            # so this is belt-and-braces for a deterministic test)
            import time

            time.sleep(0.3)
            resp = protocol.decode(
                cli.request(protocol.request_post("/kv/tnet2/x", b'{"v": 7}'))
            )
            assert resp.code == protocol.ACK_CREATED
            note = protocol.decode(dealer.recv(timeout_s=60.0))
            assert note.code == protocol.ACK_CONTENT
            msg = json.loads(note.payload.decode())
            assert msg["path"] == "/kv/tnet2/x"
            assert msg["data"] == {"v": 7}
        finally:
            dealer.close()
    finally:
        cli.close()


def test_router_route_unknown_identity_drops():
    srv = ZestRouterServer().start()
    try:
        assert srv.route("nobody-home", b"payload") is False
    finally:
        srv.stop()


# ------------------------------------------------------- property/fuzz

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=30, deadline=None)
@given(
    frames=st.lists(
        st.binary(min_size=0, max_size=600),  # crosses the 255 B LONG line
        min_size=1,
        max_size=5,
    )
)
def test_framing_roundtrip_property(frames):
    """MORE/LONG framing is lossless for any message shape: what one
    _Conn sends over a socketpair, the peer _Conn receives frame-for-
    frame (sizes crossing the 1-octet/8-octet length encoding line)."""
    a, b = socket.socketpair()
    try:
        ca, cb = _Conn(a, "DEALER"), _Conn(b, "DEALER")
        ca.send_message(frames)
        assert cb.recv_message() == frames
    finally:
        a.close()
        b.close()


def test_garbage_bytes_do_not_hang_the_server():
    """A client that sends non-ZMTP garbage must be disconnected (bad
    signature/handshake), never serviced and never left hanging."""
    srv = ZestRepServer(lambda b: b).start()
    try:
        sock = socket.create_connection(("127.0.0.1", srv.port), timeout=5.0)
        sock.sendall(b"GET / HTTP/1.1\r\nHost: x\r\n\r\n" + b"\x00" * 64)
        sock.settimeout(5.0)
        # server closes after failing the signature check; we observe
        # EOF (possibly after its greeting bytes)
        seen = b""
        try:
            while len(seen) < 4096:
                chunk = sock.recv(1024)
                if not chunk:
                    break
                seen += chunk
        except OSError:
            pass
        sock.close()
    finally:
        srv.stop()


def test_staged_greeting_like_libzmq():
    """libzmq sends its greeting in stages (10-byte signature first,
    the rest after peer validation); the stream reader must assemble
    it regardless of TCP chunking."""
    import time

    srv = ZestRepServer(lambda b: b.upper()).start()
    try:
        sock = socket.create_connection(("127.0.0.1", srv.port), timeout=5.0)
        g = _greeting()
        sock.sendall(g[:10])
        time.sleep(0.05)
        sock.sendall(g[10:12])
        time.sleep(0.05)
        sock.sendall(g[12:])
        conn = _Conn(sock, "REQ")
        # complete the handshake manually from here: read server
        # greeting, exchange READY, then run one request
        greet = conn._recv_exact(64)
        assert greet[:1] == b"\xff" and greet[10] >= 3
        from zestdb_spark.transport import _encode_metadata

        conn._send_frame(
            b"\x05READY" + _encode_metadata({"Socket-Type": b"REQ"}), command=True
        )
        flags, body = conn._recv_frame()
        assert flags & 0x04 and body.startswith(b"\x05READY")
        conn.send_message([b"", b"abc"])
        frames = conn.recv_message()
        assert frames == [b"", b"ABC"]
        conn.close()
    finally:
        srv.stop()


def test_serve_entrypoint_end_to_end(spark, tmp_path):
    """``python -m zestdb_spark.serve`` wiring: parse reference-shaped
    flags, mount the store, serve over both sockets (block=False so the
    test owns the lifecycle; get_spark inside reuses this session)."""
    from zestdb_spark import serve

    srv = serve.main(
        [
            "--store-root",
            str(tmp_path / "served"),
            "--request-endpoint",
            "tcp://127.0.0.1:0",
            "--router-endpoint",
            "tcp://127.0.0.1:0",
        ],
        block=False,
    )
    try:
        cli = ZestReqClient(srv.rep.endpoint, timeout_s=60.0)
        resp = protocol.decode(
            cli.request(protocol.request_post("/ts/served/at/1000", b'{"value": 2.5}'))
        )
        assert resp.code == protocol.ACK_CREATED
        resp = protocol.decode(cli.request(protocol.request_get("/ts/served/latest")))
        assert json.loads(resp.payload.decode()) == [
            {"timestamp": 1000, "data": {"value": 2.5}}
        ]
        cli.close()
    finally:
        srv.stop()


def test_maintenance_vacuum_loop(spark, tmp_path):
    """serve's --vacuum-interval loop: tombstoned bytes are reclaimed
    in the background; stopping the event ends the thread."""
    import os
    import time as _time

    from zestdb_spark import snapshots
    from zestdb_spark.api import ZestEngine
    from zestdb_spark.serve import start_maintenance

    eng = ZestEngine(spark, str(tmp_path / "maint"))
    eng.post("/ts/a/at/100", {"value": 1.0})
    eng.delete("/ts/a/since/0")  # tombstones the appended file
    table_dir = eng.store._path("ts_numeric")
    assert snapshots.latest(table_dir).tombstones  # dead bytes on disk

    ev, thread = start_maintenance(eng.store, interval_s=0.05, retention_s=0.0)
    try:
        deadline = _time.time() + 10
        while snapshots.latest(table_dir).tombstones and _time.time() < deadline:
            _time.sleep(0.05)
        assert not snapshots.latest(table_dir).tombstones
        dead = [
            f
            for f in snapshots.list_data_files(table_dir)
            if f not in set(snapshots.latest(table_dir).files)
        ]
        assert dead == []  # bytes physically gone
    finally:
        ev.set()
    thread.join(timeout=5)
    assert not thread.is_alive()


def test_maintenance_vacuums_generic_tables(spark, tmp_path):
    """The maintenance loop reclaims a create_table table's tombstones
    too, not only the built-in tables'."""
    import time as _time

    from zestdb_spark import snapshots
    from zestdb_spark.api import ZestEngine
    from zestdb_spark.serve import start_maintenance

    eng = ZestEngine(spark, str(tmp_path / "gmaint"))
    eng.store.create_table(
        "docs", spark.createDataFrame([(1, "a"), (2, "b")], "id long, body string")
    )
    assert eng.store.delete_table_rows("docs", "id = 1") >= 1
    table_dir = eng.store._path("docs")
    dead = set(snapshots.latest(table_dir).tombstones)
    assert dead

    ev, thread = start_maintenance(eng.store, interval_s=0.05, retention_s=0.0)
    try:
        deadline = _time.time() + 10
        while snapshots.latest(table_dir).tombstones and _time.time() < deadline:
            _time.sleep(0.05)
        assert not snapshots.latest(table_dir).tombstones
        assert dead.isdisjoint(snapshots.list_data_files(table_dir))
    finally:
        ev.set()
    thread.join(timeout=5)
    assert [r.id for r in eng.store.load("docs").collect()] == [2]


def test_maintenance_compact_tick(spark, tmp_path):
    """serve's --compact-every: the maintenance loop compacts
    many-file leaves down to one file and keeps serving content
    verbatim."""
    import time as _time

    from zestdb_spark.api import ZestEngine
    from zestdb_spark.serve import start_maintenance

    eng = ZestEngine(spark, str(tmp_path / "cmaint"))
    for i in range(3):  # three per-write files in one leaf
        eng.post(f"/ts/a/at/{i * 1000}", {"value": float(i)})
    assert len(eng.store._live_files("ts_numeric")) == 3

    ev, thread = start_maintenance(
        eng.store, interval_s=0.05, retention_s=0.0, compact_every=1
    )
    try:
        deadline = _time.time() + 20
        while len(eng.store._live_files("ts_numeric")) > 1 and _time.time() < deadline:
            _time.sleep(0.1)
        assert len(eng.store._live_files("ts_numeric")) == 1
        got = sorted(
            (r.series_id, r.timestamp, r.value)
            for r in eng.store.load("ts_numeric").collect()
        )
        assert got == [("a", 0, 0.0), ("a", 1000, 1.0), ("a", 2000, 2.0)]
    finally:
        ev.set()
    thread.join(timeout=5)


def test_serve_warm_is_traceless_and_phased(spark, tmp_path):
    """--warm (default on): the pre-start warm-up exercises write /
    rewrite / read once on a THROWAWAY root — it must report the three
    phases and leave zero trace anywhere (the real store is not even
    created yet; the temp root is removed)."""
    import glob
    import tempfile

    from zestdb_spark import serve

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "zest_warm_*")))
    t = serve.warm(spark)
    assert set(t) == {"first_write", "first_rewrite", "first_read"}
    assert all(v >= 0 for v in t.values())
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "zest_warm_*")))
    assert after == before  # throwaway root removed

    # flag plumbing: --no-warm parses and disables
    args = serve.build_parser().parse_args(
        ["--store-root", str(tmp_path / "x"), "--no-warm"]
    )
    assert args.warm is False
    args = serve.build_parser().parse_args(["--store-root", str(tmp_path / "x")])
    assert args.warm is True


# ------------------------------------------------- per-message stall


class _RecordingSock:
    """Socket wrapper recording every ``sendall`` payload."""

    def __init__(self, sock):
        self._sock = sock
        self.writes: list[bytes] = []

    def sendall(self, data):
        self.writes.append(bytes(data))
        self._sock.sendall(data)

    def __getattr__(self, name):
        return getattr(self._sock, name)


def _nodelay(sock) -> bool:
    return sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY) != 0


def test_tcp_nodelay_on_server_and_client_sockets():
    """Every TCP socket a _Conn wraps disables Nagle — accepted server
    sockets, REQ clients and DEALER clients — so a small second frame
    never waits for the peer's delayed ACK."""
    rep = ZestRepServer(lambda b: b).start()
    router = ZestRouterServer().start()
    try:
        req = ZestReqClient(rep.endpoint)
        dealer = ZestDealerClient(router.endpoint, identity="nodelay")
        try:
            assert req.request(b"x") == b"x"  # accept has surely landed
            assert _nodelay(req._conn.sock)
            assert _nodelay(dealer._conn.sock)
            assert [_nodelay(c.sock) for c in rep._conns] == [True]
            deadline = time.time() + 5
            while not router._conns and time.time() < deadline:
                time.sleep(0.01)
            assert [_nodelay(c.sock) for c in router._conns] == [True]
        finally:
            req.close()
            dealer.close()
    finally:
        rep.stop()
        router.stop()


def test_multi_frame_message_is_one_write_null():
    """A message reaches the socket as exactly one ``sendall`` carrying
    the same bytes the spec/23 frame-by-frame encoding gives."""
    a, b = socket.socketpair()
    try:
        rec = _RecordingSock(a)
        ca, cb = _Conn(rec, "DEALER"), _Conn(b, "DEALER")
        frames = [b"", b"x" * 300, b"y"]
        ca.send_message(frames)
        assert rec.writes == [
            b"\x01\x00"
            + b"\x03" + struct.pack(">Q", 300) + b"x" * 300
            + b"\x00\x01y"
        ]
        assert cb.recv_message() == frames
    finally:
        a.close()
        b.close()


def _curve_pair(a, b):
    """Two _Conns over a socketpair, CURVE handshake completed."""
    s_pk, s_sk = curve.keypair()
    c_pk, c_sk = curve.keypair()
    server = _Conn(a, "ROUTER", curve_server=(s_sk, s_pk, None))
    client = _Conn(b, "DEALER", curve_client=(s_pk, c_pk, c_sk))
    t = threading.Thread(target=server.handshake)
    t.start()
    client.handshake()
    t.join(timeout=10)
    assert not t.is_alive()
    return server, client


@pytest.mark.skipif(not curve.available(), reason="libsodium not available")
def test_multi_frame_message_is_one_write_curve():
    """Under CURVE the encrypted MESSAGE commands of one message are
    concatenated into one ``sendall``."""
    a, b = socket.socketpair()
    try:
        rec = _RecordingSock(b)
        server, client = _curve_pair(a, rec)
        rec.writes.clear()
        frames = [b"", b"x" * 300, b"y"]
        client.send_message(frames)
        assert len(rec.writes) == 1
        # three MESSAGE commands: 33 octets of overhead each, the
        # 333-octet one LONG-framed, the others short-framed
        w = rec.writes[0]
        assert w[:2] == bytes([0x04, 33]) and w[2:10] == b"\x07MESSAGE"
        assert w[35] == 0x06 and struct.unpack(">Q", w[36:44])[0] == 333
        assert w[44 + 333] == 0x04 and w[44 + 333 + 1] == 34
        assert len(w) == 2 + 33 + 9 + 333 + 2 + 34
        assert server.recv_message() == frames
    finally:
        a.close()
        b.close()


def test_recv_exact_long_frame_byte_exact():
    """An 8 MiB frame survives the receive path byte-exact."""
    a, b = socket.socketpair()
    try:
        ca, cb = _Conn(a, "DEALER"), _Conn(b, "DEALER")
        big = os.urandom(8 << 20)
        t = threading.Thread(target=ca.send_message, args=([big],))
        t.start()
        assert cb.recv_message() == [big]
        t.join(timeout=10)
        assert not t.is_alive()
    finally:
        a.close()
        b.close()


@pytest.mark.parametrize("mechanism", ["NULL", "CURVE"])
def test_req_rep_round_trip_has_no_ack_stall(mechanism):
    """Loose latency guard: with a handler that returns at once, the
    median REQ/REP round trip on loopback stays far below the ~80 ms
    that delayed ACKs add to frame-by-frame writes."""
    if mechanism == "CURVE" and not curve.available():
        pytest.skip("libsodium not available")
    secret = curve.keypair()[1] if mechanism == "CURVE" else None
    srv = ZestRepServer(lambda b: b, curve_secret=secret).start()
    try:
        cli = ZestReqClient(srv.endpoint, server_key=srv.public_key or None)
        try:
            cli.request(b"warm")
            rtts = []
            for i in range(30):
                t0 = time.perf_counter()
                assert cli.request(b"%d" % i) == b"%d" % i
                rtts.append(time.perf_counter() - t0)
        finally:
            cli.close()
    finally:
        srv.stop()
    assert statistics.median(rtts) < 0.020
