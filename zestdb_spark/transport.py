"""ZMTP socket transport: REQ/REP + ROUTER/DEALER over TCP, pure stdlib.

The reference binds two ZeroMQ sockets — a REP socket for the
request/reply analytics surface and a ROUTER socket that pushes
observe notifications to DEALER clients keyed by uuid identity
(src/protocol/zest.re:237-272; endpoints default to tcp://0.0.0.0:5555
and :5556, src/server.re:3,5) — and runs one recv→handle→send loop
(src/server.re:1075-1084). pyzmq is not in this image, so this module
implements the PUBLIC ZMTP 3.0 wire protocol (https://rfc.zeromq.org/
spec/23/ — greeting, NULL-mechanism READY handshake, short/long
message framing, socket-type compatibility, ROUTER identity routing)
directly over ``socket``/``threading``, and mounts the existing
:class:`zestdb_spark.protocol.ZestFrameServer` behind it — a byte-level
ZMTP client (including real libzmq speaking NULL) can drive the engine
end-to-end over TCP.

Both mechanisms the reference uses are spoken: **NULL** (plaintext
READY handshake) and **CurveZMQ** (zest.re:242-243
``set_curve_server``/``set_curve_secretkey``; spec/26 handshake +
message encryption implemented in :mod:`zestdb_spark.curve` over the
system libsodium). A server constructed with ``curve_secret`` requires
CURVE of every client — like a libzmq socket with a curve secret
configured — and a client given ``server_key`` initiates it; with no
keys both sides speak NULL. Under CURVE the client's Socket-Type /
Identity metadata rides inside the INITIATE box and the server's
inside READY, and every subsequent message frame travels as an
encrypted MESSAGE command, per spec. Everything else about the
reference's transport — framing, REP envelope echo, ROUTER
identity-addressed pushes, the serve loop — is identical across
mechanisms and tested over real TCP connections
(tests/test_transport.py).

Scale posture: the transport is the engine's CONTROL-PLANE edge — one
driver-side thread per connection, request payloads are API-sized
(path + small JSON), and every data-plane operation behind it stays a
distributed DataFrame job. Bulk data never rides this socket (the
reference is the same: its server loop is one Lwt thread). Each
message goes out as ONE write on a socket with ``TCP_NODELAY`` set, as
libzmq does for every TCP socket: a REQ request and a REP reply are
both two small frames, and written frame by frame Nagle's algorithm
holds the second until the peer's delayed ACK (~40 ms on Linux) — a
stall paid twice per round trip.
"""

from __future__ import annotations

import socket
import struct
import threading
import uuid as uuid_mod
from typing import Callable, Optional

from zestdb_spark import curve as curve_mod

__all__ = [
    "TransportError",
    "ZestRepServer",
    "ZestRouterServer",
    "ZestServer",
    "ZestReqClient",
    "ZestDealerClient",
]

#: ZMTP 3.0 greeting: signature %xFF 8%x00 %x7F, version 3.0, mechanism
#: name zero-padded to 20 octets, as-server octet, 31 filler octets.
_SIGNATURE = b"\xff" + b"\x00" * 8 + b"\x7f"

#: frame flag bits (spec/23 §framing)
_F_MORE = 0x01
_F_LONG = 0x02
_F_COMMAND = 0x04

#: which peer socket types each local type accepts (spec/23 §sockets;
#: matches libzmq's compatibility matrix for the four types used here)
_VALID_PEERS = {
    "REQ": {"REP", "ROUTER"},
    "REP": {"REQ", "DEALER"},
    "DEALER": {"REP", "ROUTER", "DEALER"},
    "ROUTER": {"REQ", "DEALER", "ROUTER"},
}


class TransportError(Exception):
    """ZMTP protocol violation (bad greeting, incompatible socket type,
    malformed command) — the connection is closed, never limped along."""


def _parse_endpoint(endpoint: str) -> tuple[str, int]:
    """``tcp://host:port`` → (host, port); the only transport the
    reference configures (server.re:3,5)."""
    if not endpoint.startswith("tcp://"):
        raise ValueError(f"only tcp:// endpoints are supported, got {endpoint!r}")
    host, _, port = endpoint[len("tcp://"):].rpartition(":")
    if not host or not port:
        raise ValueError(f"endpoint {endpoint!r} is not tcp://host:port")
    return host, int(port)


def _frame_head(flags: int, size: int) -> bytes:
    """Flags octet + size: one octet up to 255, else LONG + 8 octets."""
    if size > 255:
        return bytes([flags | _F_LONG]) + struct.pack(">Q", size)
    return bytes([flags, size])


def _greeting(mechanism: bytes = b"NULL", as_server: bool = False) -> bytes:
    return (
        _SIGNATURE
        + bytes([3, 0])
        + mechanism.ljust(20, b"\x00")
        + (b"\x01" if as_server else b"\x00")
        + b"\x00" * 31
    )


def _encode_metadata(meta: dict[str, bytes]) -> bytes:
    out = b""
    for name, value in meta.items():
        nb = name.encode()
        out += bytes([len(nb)]) + nb + struct.pack(">I", len(value)) + value
    return out


def _decode_metadata(data: bytes) -> dict[str, bytes]:
    meta: dict[str, bytes] = {}
    pos = 0
    while pos < len(data):
        nlen = data[pos]
        pos += 1
        name = data[pos : pos + nlen].decode()
        pos += nlen
        (vlen,) = struct.unpack_from(">I", data, pos)
        pos += 4
        meta[name] = data[pos : pos + vlen]
        pos += vlen
    # ZMTP metadata names are case-insensitive (spec/23): normalize so
    # libzmq's "Socket-Type" and a lowercase variant read the same
    return {k.title(): v for k, v in meta.items()}


class _Conn:
    """One TCP connection speaking ZMTP 3.0, mechanism NULL or CURVE.

    ``curve_server`` = (secret, public, allowed_clients|None) makes the
    connection require the CURVE mechanism as the server side;
    ``curve_client`` = (server_public, client_public, client_secret)
    initiates it as the client. Leaving both None speaks NULL."""

    def __init__(
        self,
        sock: socket.socket,
        socket_type: str,
        identity: bytes = b"",
        curve_server: "tuple[bytes, bytes, set[bytes] | None] | None" = None,
        curve_client: "tuple[bytes, bytes, bytes] | None" = None,
    ):
        self.sock = sock
        self.socket_type = socket_type
        self.identity = identity  # OUR identity, sent in READY (clients)
        self.peer_type: str = ""
        self.peer_identity: bytes = b""
        self.peer_curve_key: bytes = b""  # client long-term key (server side)
        self._curve_server = curve_server
        self._curve_client = curve_client
        self._session: "curve_mod._Session | None" = None
        self._send_lock = threading.Lock()
        if sock.family in (socket.AF_INET, socket.AF_INET6):
            # AF_UNIX socketpairs (framing tests) have no TCP options
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

    # ------------------------------------------------------------- bytes

    def _recv_exact(self, n: int) -> bytes:
        # fill one preallocated buffer: linear in n even for frames
        # near the 1 GiB cap, where growing a bytes object is quadratic
        buf = bytearray(n)
        view = memoryview(buf)
        got = 0
        while got < n:
            k = self.sock.recv_into(view[got:])
            if not k:
                raise ConnectionError("peer closed")
            got += k
        return bytes(buf)

    # ------------------------------------------------------------ frames

    def _send_frame(self, body: bytes, more: bool = False, command: bool = False) -> None:
        flags = (_F_MORE if more else 0) | (_F_COMMAND if command else 0)
        with self._send_lock:
            self.sock.sendall(_frame_head(flags, len(body)) + body)

    def _recv_frame(self) -> tuple[int, bytes]:
        flags = self._recv_exact(1)[0]
        if flags & _F_LONG:
            (size,) = struct.unpack(">Q", self._recv_exact(8))
        else:
            size = self._recv_exact(1)[0]
        if size > (1 << 30):
            raise TransportError(f"frame of {size} bytes exceeds the 1 GiB cap")
        return flags, self._recv_exact(size) if size else b""

    def send_message(self, frames: list[bytes]) -> None:
        """One logical message = frames chained with MORE. Under CURVE
        each frame becomes one encrypted MESSAGE command whose inner
        flags byte carries the MORE bit (spec/26). The whole message
        leaves in a single ``sendall`` (see the module's scale posture);
        encryption runs under the send lock so nonce counters reach the
        wire in the order the peer's replay floor requires."""
        last = len(frames) - 1
        parts: list[bytes] = []
        with self._send_lock:
            for i, body in enumerate(frames):
                more = _F_MORE if i < last else 0
                if self._session is not None:
                    body = self._session.encrypt(more, body)
                    flags = _F_COMMAND
                else:
                    flags = more
                parts += (_frame_head(flags, len(body)), body)
            self.sock.sendall(b"".join(parts))

    def recv_message(self) -> list[bytes]:
        """Next complete message (command frames in between are
        serviced transparently: PING→PONG per spec/37, ERROR raises).
        Under CURVE, message frames arrive as MESSAGE commands and are
        decrypted/reassembled here; a plaintext data frame on an
        encrypted connection is a protocol violation."""
        frames: list[bytes] = []
        while True:
            flags, body = self._recv_frame()
            if flags & _F_COMMAND:
                if self._session is not None and body.startswith(b"\x07MESSAGE"):
                    iflags, payload = self._session.decrypt(body)
                    frames.append(payload)
                    if not iflags & _F_MORE:
                        return frames
                    continue
                self._handle_command(body)
                continue
            if self._session is not None:
                raise TransportError("plaintext frame on a CURVE connection")
            frames.append(body)
            if not flags & _F_MORE:
                return frames

    def _handle_command(self, body: bytes) -> None:
        name_len = body[0] if body else 0
        name = body[1 : 1 + name_len].decode("latin-1")
        rest = body[1 + name_len :]
        if name == "PING":  # ZMTP 3.1 heartbeat — answer, don't die
            self._send_frame(b"\x04PONG" + rest[2:], command=True)
        elif name == "ERROR":
            raise TransportError(f"peer ERROR: {rest[1:1 + (rest[0] if rest else 0)]!r}")
        # unknown commands are ignored (forward compatible)

    # --------------------------------------------------------- handshake

    def handshake(self) -> None:
        """Exchange greeting + security handshake (NULL READY, or the
        spec/26 CURVE HELLO/WELCOME/INITIATE/READY); validates
        mechanism agreement and socket-type compatibility (spec/23).
        Populates ``peer_type`` and ``peer_identity``."""
        ours = b"CURVE" if (self._curve_server or self._curve_client) else b"NULL"
        # as-server is 0 under NULL for both peers (spec/23; it signals
        # role only for PLAIN/CURVE); under CURVE the server sets it
        self.sock.sendall(_greeting(ours, as_server=self._curve_server is not None))
        greet = self._recv_exact(64)
        if greet[:1] != b"\xff" or greet[9:10] != b"\x7f":
            raise TransportError("bad ZMTP signature")
        if greet[10] < 3:
            raise TransportError(f"peer ZMTP major version {greet[10]} < 3")
        mech = greet[12:32].rstrip(b"\x00")
        if mech != ours:
            # like libzmq: both peers must announce the same mechanism —
            # a NULL client cannot talk to a CURVE server or vice versa
            raise TransportError(
                f"mechanism mismatch: peer {mech!r}, this end {ours!r}"
            )
        meta = {"Socket-Type": self.socket_type.encode()}
        if self.identity:
            meta["Identity"] = self.identity
        if ours == b"CURVE":
            peer_meta_bytes = self._curve_handshake(_encode_metadata(meta))
            peer_meta = _decode_metadata(peer_meta_bytes)
        else:
            self._send_frame(b"\x05READY" + _encode_metadata(meta), command=True)
            flags, body = self._recv_frame()
            if not flags & _F_COMMAND or not body.startswith(b"\x05READY"):
                raise TransportError("expected READY command")
            peer_meta = _decode_metadata(body[6:])
        self.peer_type = peer_meta.get("Socket-Type", b"").decode("latin-1")
        self.peer_identity = peer_meta.get("Identity", b"")
        if self.peer_type not in _VALID_PEERS.get(self.socket_type, set()):
            raise TransportError(
                f"socket type {self.peer_type or '?'} is not a valid peer "
                f"for {self.socket_type}"
            )

    def _curve_handshake(self, metadata: bytes) -> bytes:
        """Run the spec/26 command exchange over this connection's
        command frames; returns the peer's metadata bytes and installs
        the message session."""

        def send_command(body: bytes) -> None:
            self._send_frame(body, command=True)

        def recv_command() -> bytes:
            while True:
                flags, body = self._recv_frame()
                if not flags & _F_COMMAND:
                    raise TransportError("data frame during CURVE handshake")
                name_len = body[0] if body else 0
                if body[1 : 1 + name_len] == b"ERROR":
                    self._handle_command(body)  # raises
                return body

        try:
            if self._curve_server is not None:
                secret, public, allowed = self._curve_server
                self._session, meta, self.peer_curve_key = curve_mod.server_handshake(
                    send_command, recv_command, public, secret, metadata,
                    allowed_clients=allowed,
                )
            else:
                server_key, c_pk, c_sk = self._curve_client  # type: ignore[misc]
                self._session, meta = curve_mod.client_handshake(
                    send_command, recv_command, server_key, c_pk, c_sk, metadata
                )
        except curve_mod.CurveError as e:
            raise TransportError(f"CURVE handshake failed: {e}") from e
        return meta

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


class _TcpServer:
    """Shared accept-loop scaffolding for the two server sockets."""

    socket_type = ""

    def __init__(
        self,
        endpoint: str,
        curve_secret: "bytes | str | None" = None,
        allowed_clients: "set[bytes] | None" = None,
    ):
        host, port = _parse_endpoint(endpoint)
        self._listener = socket.create_server((host, port))
        self.port = self._listener.getsockname()[1]
        self.endpoint = f"tcp://{host}:{self.port}"
        self._curve: "tuple[bytes, bytes, set[bytes] | None] | None" = None
        self.public_key = ""  # Z85, set when curve_secret is configured
        if curve_secret is not None:
            # mirror of zest.re:242-243 set_curve_server/set_curve_secretkey:
            # a secret on the socket makes CURVE mandatory for every peer
            sk = curve_mod.decode_key(curve_secret)
            pk = curve_mod.public_from_secret(sk)
            self._curve = (sk, pk, allowed_clients)
            self.public_key = curve_mod.z85_encode(pk)
        self._conns: list[_Conn] = []
        self._threads: list[threading.Thread] = []
        self._stopping = threading.Event()
        self._accept_thread: Optional[threading.Thread] = None

    def start(self) -> "_TcpServer":
        t = threading.Thread(target=self._accept_loop, daemon=True)
        t.start()
        self._accept_thread = t
        return self

    def _accept_loop(self) -> None:
        while not self._stopping.is_set():
            try:
                sock, _addr = self._listener.accept()
            except OSError:
                return  # listener closed by stop()
            sock.settimeout(30.0)
            conn = _Conn(sock, self.socket_type, curve_server=self._curve)
            self._conns.append(conn)
            t = threading.Thread(target=self._serve_conn, args=(conn,), daemon=True)
            self._threads.append(t)
            t.start()

    def _serve_conn(self, conn: _Conn) -> None:  # pragma: no cover - override
        raise NotImplementedError

    def stop(self) -> None:
        self._stopping.set()
        try:
            self._listener.close()
        except OSError:
            pass
        for c in self._conns:
            c.close()


class ZestRepServer(_TcpServer):
    """The reference's REP socket (zest.re:237-246): strict
    request→reply per connection, each request dispatched through
    ``handle`` (frame bytes in → frame bytes out — exactly
    ZestFrameServer.handle, the server.re:1075-1084 loop body).

    REP envelope semantics per spec/23: frames up to and including the
    first empty delimiter are the routing envelope (a REQ client sends
    one, a DEALER builds its own) and are echoed verbatim on the reply;
    the remaining frames are the request body."""

    socket_type = "REP"

    def __init__(
        self,
        handle: Callable[[bytes], bytes],
        endpoint: str = "tcp://127.0.0.1:0",
        curve_secret: "bytes | str | None" = None,
        allowed_clients: "set[bytes] | None" = None,
    ):
        super().__init__(endpoint, curve_secret, allowed_clients)
        self.handle = handle

    def _serve_conn(self, conn: _Conn) -> None:
        try:
            conn.handshake()
            # the 30 s guard covers the handshake only; an established
            # client may idle indefinitely (stop() closing the socket
            # is what unblocks the read)
            conn.sock.settimeout(None)
            while not self._stopping.is_set():
                frames = conn.recv_message()
                if b"" not in frames:
                    raise TransportError("REP request without envelope delimiter")
                split = frames.index(b"")
                envelope, body = frames[: split + 1], frames[split + 1 :]
                reply = self.handle(b"".join(body))
                conn.send_message(envelope + [reply])
        except (ConnectionError, TransportError, OSError, socket.timeout):
            conn.close()


class ZestRouterServer(_TcpServer):
    """The reference's ROUTER socket (zest.re:248-257): DEALER clients
    connect with their observer uuid as ZMTP Identity, and
    ``route(ident, payload)`` pushes one frame to that peer — the
    notification fan-out of src/server.re:778-793. Unknown identities
    are dropped silently, matching ROUTER's default behavior."""

    socket_type = "ROUTER"

    def __init__(
        self,
        endpoint: str = "tcp://127.0.0.1:0",
        curve_secret: "bytes | str | None" = None,
        allowed_clients: "set[bytes] | None" = None,
    ):
        super().__init__(endpoint, curve_secret, allowed_clients)
        self._peers: dict[bytes, _Conn] = {}
        self._peers_lock = threading.Lock()

    def _serve_conn(self, conn: _Conn) -> None:
        try:
            conn.handshake()
            conn.sock.settimeout(None)  # observers idle between pushes
            ident = conn.peer_identity or uuid_mod.uuid4().bytes
            with self._peers_lock:
                self._peers[ident] = conn
            # inbound from dealers is not part of the reference flow;
            # keep reading to notice disconnect (and service PINGs)
            while not self._stopping.is_set():
                conn.recv_message()
        except (ConnectionError, TransportError, OSError, socket.timeout):
            with self._peers_lock:
                for k, v in list(self._peers.items()):
                    if v is conn:
                        del self._peers[k]
            conn.close()

    def route(self, ident: str | bytes, payload: bytes) -> bool:
        """Push one frame to the DEALER whose identity is ``ident``
        (Protocol.Zest.route, zest.re:217-220). Returns False when no
        such peer is connected (dropped, like ROUTER)."""
        key = ident.encode() if isinstance(ident, str) else ident
        with self._peers_lock:
            conn = self._peers.get(key)
        if conn is None:
            return False
        try:
            conn.send_message([payload])
            return True
        except OSError:
            return False


class ZestServer:
    """The composed reference server (src/server.re:1205-1213): one REP
    socket dispatching analytics frames + one ROUTER socket pushing
    observe notifications.

    Notification flow: the engine's ObserverRegistry buffers messages
    per observer uuid as requests mutate/read observed paths; after
    every handled request this server drains each observer's NEW
    messages and routes them as zest data-payload frames to the DEALER
    with that uuid identity — the transport equivalent of
    handle_post_write's inline Protocol.Zest.route calls
    (server.re:778-793). A uuid with no connected dealer keeps its
    buffer (the in-process ``messages()`` surface still serves it)."""

    def __init__(
        self,
        engine,
        rep_endpoint: str = "tcp://127.0.0.1:0",
        router_endpoint: str = "tcp://127.0.0.1:0",
        curve_secret: "bytes | str | None" = None,
    ):
        from zestdb_spark.protocol import FORMAT_ID, ZestFrameServer, ack_payload

        self.engine = engine
        self._frame_server = ZestFrameServer(engine)
        self._ack_payload = ack_payload
        self._json_fmt = FORMAT_ID["json"]
        router_secret: "bytes | None" = None
        if curve_secret is not None:
            # the reference encrypts the router with a FRESH keypair per
            # server start (server.re:1122-1124) and hands the public
            # key to observers in the observe ack (server.re:866-867)
            _router_pk, router_secret = curve_mod.keypair()
        self.rep = ZestRepServer(self._handle, rep_endpoint, curve_secret=curve_secret)
        self.router = ZestRouterServer(router_endpoint, curve_secret=router_secret)
        self._frame_server.router_public_key = self.router.public_key
        self._pushed: dict[str, int] = {}  # oid → messages already routed
        self._push_lock = threading.Lock()

    def start(self) -> "ZestServer":
        self.rep.start()
        self.router.start()
        return self

    def stop(self) -> None:
        self.rep.stop()
        self.router.stop()

    def _handle(self, frame_bytes: bytes) -> bytes:
        reply = self._frame_server.handle(frame_bytes)
        self._push_notifications()
        return reply

    def _push_notifications(self) -> None:
        import json

        with self._push_lock:
            for oid, obs in list(self.engine.observers._obs.items()):
                done = self._pushed.get(oid, 0)
                for msg in obs.messages[done:]:
                    body = msg if isinstance(msg, str) else json.dumps(msg)
                    if not self.router.route(
                        oid, self._ack_payload(self._json_fmt, body.encode())
                    ):
                        # dealer not connected (yet): keep the cursor so
                        # the message is retried on the next request —
                        # also closes the startup race where a dealer's
                        # handshake has completed client-side but its
                        # identity registration hasn't landed server-side
                        break
                    done += 1
                self._pushed[oid] = done


# ------------------------------------------------------------- clients
# Byte-faithful ZMTP peers for the two client roles the reference's
# test client exercises (test/client.re): REQ for request/reply, DEALER
# (identity = observer uuid) for notification receipt. Usable against
# any NULL-mechanism ZMTP 3.x REP/ROUTER — including libzmq — and used
# by tests/test_transport.py to drive the servers above over real TCP.


def _client_curve(
    server_key: "bytes | str | None",
    client_keys: "tuple[bytes, bytes] | None",
) -> "tuple[bytes, bytes, bytes] | None":
    """(server_pk, client_pk, client_sk) for _Conn, or None for NULL.
    Like the reference's test client, a fresh long-term client keypair
    is generated unless one is pinned explicitly."""
    if server_key is None:
        return None
    pk, sk = client_keys if client_keys is not None else curve_mod.keypair()
    return curve_mod.decode_key(server_key), pk, sk


class ZestReqClient:
    def __init__(
        self,
        endpoint: str,
        timeout_s: float = 10.0,
        server_key: "bytes | str | None" = None,
        client_keys: "tuple[bytes, bytes] | None" = None,
    ):
        host, port = _parse_endpoint(endpoint)
        sock = socket.create_connection((host, port), timeout=timeout_s)
        self._conn = _Conn(
            sock, "REQ", curve_client=_client_curve(server_key, client_keys)
        )
        self._conn.handshake()

    def request(self, frame_bytes: bytes) -> bytes:
        """Strict REQ send→recv: empty delimiter + body out, envelope
        stripped off the reply."""
        self._conn.send_message([b"", frame_bytes])
        frames = self._conn.recv_message()
        split = frames.index(b"")
        return b"".join(frames[split + 1 :])

    def close(self) -> None:
        self._conn.close()


class ZestDealerClient:
    def __init__(
        self,
        endpoint: str,
        identity: str,
        timeout_s: float = 10.0,
        server_key: "bytes | str | None" = None,
        client_keys: "tuple[bytes, bytes] | None" = None,
    ):
        host, port = _parse_endpoint(endpoint)
        sock = socket.create_connection((host, port), timeout=timeout_s)
        self._conn = _Conn(
            sock,
            "DEALER",
            identity=identity.encode(),
            curve_client=_client_curve(server_key, client_keys),
        )
        self._conn.handshake()

    def recv(self, timeout_s: float = 5.0) -> bytes:
        """Next pushed message (concatenated frames)."""
        self._conn.sock.settimeout(timeout_s)
        return b"".join(self._conn.recv_message())

    def close(self) -> None:
        self._conn.close()
