"""BristleIngestService over real HTTP/2-gRPC framing.

The reference mounts its service on a stock gRPC server
(ingest_service.go:63-65, bristle.proto:117-123); grpcio is
env-blocked here (PARITY.md), so this transport implements the gRPC
wire protocol itself on the repo's own RFC-7540/7541 stack (h2.py,
hpack.py): HTTP/2 preface + SETTINGS, HPACK-compressed request and
response headers, the 5-byte (compressed-flag + u32 length) gRPC
message framing inside DATA frames, and grpc-status trailers. The
``Streaming`` bidi RPC carries exactly the same
``StreamingClientMessage`` / ``StreamingServerMessage`` envelopes as
the TCP front door and runs the same session (service.StreamingSession:
register-type handshake, per-batch BatchResult acks, max_in_flight
admission, ErrUnsupported terminations), listener (service.FrontDoor)
and client loop (service.StreamingClient); this module adds only the
HTTP/2-gRPC framing, the trailers that end an RPC, TLS and the unary
``WriteBatch`` RPC — so a stock gRPC client implementing bristle.proto
can connect to this endpoint without speaking anything repo-specific.

As on the reference's stock gRPC server, every response leaves by one
path, ``_Rpc``'s: headers once, then messages, then a status in
``finish`` (trailers-only when no headers went out), whether the RPC is
``Streaming``, ``WriteBatch`` or an unknown method. Both clients are one
``_Call`` (connect, h2 set-up, request headers, event pump):
``GrpcIngestClient`` on the Streaming path, ``grpc_write_batch_unary``
on the WriteBatch path.

gRPC protocol details follow the public gRPC-over-HTTP/2 spec
(PROTOCOL-HTTP2.md in grpc/grpc): path = /<package>.<Service>/<Method>,
content-type application/grpc, trailers-only responses for unknown
methods (UNIMPLEMENTED), INTERNAL for an unsupported compressed-flag.

100 TB shape: identical to the socket front door — the transport
validates and durably lands payload files; the distributed streaming
job drains them. N transports behind a load balancer scale ingest
horizontally; nothing here touches Spark.
"""

from __future__ import annotations

import socket
import ssl
import threading

from bristle_spark.ingest import h2, metrics
from bristle_spark.ingest import service as svc

STREAMING_PATH = b"/bristle.BristleIngestService/Streaming"
WRITE_BATCH_PATH = b"/bristle.BristleIngestService/WriteBatch"
GRPC_CONTENT_TYPE = b"application/grpc"

# gRPC status codes (status.proto — public gRPC API)
GRPC_OK = 0
GRPC_UNKNOWN = 2
GRPC_RESOURCE_EXHAUSTED = 8
GRPC_UNIMPLEMENTED = 12
GRPC_INTERNAL = 13

# stock gRPC's default max receive message size; a peer declaring a
# larger length-prefix must not buffer unbounded bytes server-side
MAX_RECV_MESSAGE = 4 * 1024 * 1024


class MessageTooLarge(ValueError):
    def __init__(self, declared: int) -> None:
        super().__init__(
            f"received message larger than max ({declared} vs. {MAX_RECV_MESSAGE})"
        )
        self.declared = declared


def make_server_tls_context(certfile: str, keyfile: str) -> ssl.SSLContext:
    """Stdlib TLS context for the gRPC front door: TLS >= 1.2 with ALPN
    offering exactly ``h2`` — what a production bristle client's stock
    gRPC channel negotiates (gRPC-over-HTTP/2 requires ALPN h2 on TLS;
    RFC 7540 §3.3)."""
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.minimum_version = ssl.TLSVersion.TLSv1_2
    ctx.load_cert_chain(certfile, keyfile)
    ctx.set_alpn_protocols(["h2"])
    return ctx


def make_client_tls_context(cafile: str | None = None) -> ssl.SSLContext:
    """Client twin of make_server_tls_context. With ``cafile`` the
    server certificate is verified against it (the production shape);
    without, verification is disabled (loopback tests with a throwaway
    self-signed cert)."""
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    ctx.minimum_version = ssl.TLSVersion.TLSv1_2
    if cafile is not None:
        ctx.load_verify_locations(cafile)
    else:
        ctx.check_hostname = False
        ctx.verify_mode = ssl.CERT_NONE
    ctx.set_alpn_protocols(["h2"])
    return ctx


def _tls_connect(
    host: str,
    port: int,
    timeout: float,
    tls_context: ssl.SSLContext | None,
    server_hostname: str | None,
) -> socket.socket:
    """Create the client connection on the shared ``service.connect``
    (``TCP_NODELAY`` set), TLS-wrapped with ALPN ``h2`` enforced when a
    context is given."""
    conn = svc.connect(host, port, timeout)
    if tls_context is None:
        return conn
    try:
        tls = tls_context.wrap_socket(
            conn, server_hostname=server_hostname or host
        )
    except (ssl.SSLError, OSError) as exc:
        # OSError covers mid-handshake timeouts/resets, which are not
        # SSLError subclasses — without this the socket fd leaked and
        # the caller saw a raw OSError instead of the ConnectionError
        # contract (ConnectionError itself subclasses OSError, so the
        # ALPN check below stays OUTSIDE this try)
        conn.close()
        raise ConnectionError(f"TLS handshake failed: {exc}") from exc
    alpn = tls.selected_alpn_protocol()
    if alpn != "h2":
        tls.close()
        raise ConnectionError(f"server did not negotiate ALPN h2 (got {alpn!r})")
    return tls


def frame_message(msg: bytes) -> bytes:
    """gRPC length-prefixed message: compressed-flag (0) + u32 length."""
    return b"\x00" + len(msg).to_bytes(4, "big") + msg


def split_messages(buf: bytearray) -> list[bytes]:
    """Pop every complete gRPC message off ``buf`` (mutates it).
    Raises ValueError on a set compressed-flag — no encoding is
    negotiated (no grpc-encoding header is ever sent)."""
    out: list[bytes] = []
    while len(buf) >= 5:
        if buf[0] != 0:
            raise ValueError("compressed gRPC message without grpc-encoding")
        length = int.from_bytes(buf[1:5], "big")
        if length > MAX_RECV_MESSAGE:
            # reject on the PREFIX, before any bytes accumulate — the
            # stock-gRPC RESOURCE_EXHAUSTED behavior, and the reason a
            # 4 GiB declared length cannot buffer the server out of
            # memory
            raise MessageTooLarge(length)
        if len(buf) < 5 + length:
            break
        out.append(bytes(buf[5 : 5 + length]))
        del buf[: 5 + length]
    return out


# the HEADERS every response opens with, and a trailers-only one starts with
_RESPONSE_HEADERS = [(b":status", b"200"), (b"content-type", GRPC_CONTENT_TYPE)]
_METHODS = {STREAMING_PATH: "Streaming", WRITE_BATCH_PATH: "WriteBatch"}


class _Rpc(svc.StreamingSession):
    """Per-stream state of one RPC on an HTTP/2 connection, and the one
    path every response leaves by, whatever the ``method``
    (``"Streaming"``, ``"WriteBatch"`` or ``"unknown"``): response
    headers once (``_send_headers``), then gRPC messages in DATA frames
    (``send_msg``), then the status in trailers (``finish``), which is a
    trailers-only response when no headers went out. A ``Streaming`` RPC
    is the shared service.StreamingSession on that path; the end of the
    session maps to trailers, which the ``in_flight`` count holds back
    until the last ack is out. A ``WriteBatch`` RPC keeps its request
    messages until END_STREAM, then answers with one message."""

    def __init__(self, service, stream_id: int, h2c, lock, flush_locked, method: str) -> None:
        super().__init__(service, self.send_msg, "grpc-streaming")
        self.stream_id = stream_id
        self.h2c = h2c
        self.lock = lock
        self.flush_locked = flush_locked
        self.method = method
        self.buf = bytearray()
        self.received: list[bytes] = []  # a WriteBatch request's messages
        self.in_flight = 0
        self.recv_done = False
        self.headers_sent = False
        self.finished = False  # trailers sent
        metrics.RPC_STARTED.inc(method)

    def submit(self, batch: dict) -> None:
        # under `lock`: pool threads decrement under the same lock,
        # and a lost read-modify-write here either strands the
        # client (trailers never sent) or truncates the RPC early
        with self.lock:
            self.in_flight += 1
        super().submit(batch)

    def write_streaming_batch(self, batch: dict) -> None:
        super().write_streaming_batch(batch)
        with self.lock:
            self.in_flight -= 1
        self.maybe_finish()

    def end_request(self) -> None:
        """The client half-closed the stream (reader thread): a
        WriteBatch request is complete, and a Streaming RPC ends once its
        last ack is out."""
        if self.recv_done:
            return  # a repeated END_STREAM must not run the request twice
        self.recv_done = True
        if self.method == "WriteBatch":
            self.door._pool.submit(self.write_batch)
        else:
            self.maybe_finish()

    # -- the unary WriteBatch semantics (ingest_service.go:109-120)

    def write_batch(self) -> None:
        """The whole request, on a pool thread: every payload through the
        shared batch path, then one response message, or the first
        non-OK result as the status."""
        if self.finished:
            return  # reset before the pool got to it: nothing handled
        if self.buf:
            # a truncated/garbage tail after the last complete message
            # must not be silently accepted as a successful request
            self.finish(GRPC_INTERNAL, b"truncated gRPC message in request body")
            return
        if len(self.received) != 1:
            self.finish(GRPC_INTERNAL, b"expected exactly one WriteBatchRequest message")
            return
        try:
            _key, payloads = svc.decode_write_batch_request(self.received[0])
        except (ValueError, IndexError):
            self.finish(GRPC_INTERNAL, b"malformed request")
            return
        acknowledged = 0
        for type_name, bodies in payloads:
            # same validate-and-land path as the streaming RPC, so the
            # ack taxonomy is shared (writePayload, ingest_service.go:79-107)
            result = self.process(
                {
                    "id": 0,
                    "type_name": type_name,
                    "type_id": None,
                    "length": len(bodies),
                    "data": svc.wire.join_frames(bodies),
                }
            )
            metrics.BATCHES.inc("grpc-unary", svc.RESULT_NAMES[result])
            if result != svc.OK:
                # first non-OK payload aborts the request
                # (ingest_service.go:112-114); earlier payloads stay
                # landed, exactly like the reference's partial write
                self.finish(
                    GRPC_UNKNOWN,
                    f"WriteBatch error code {svc.RESULT_NAMES[result]}".encode(),
                )
                return
            acknowledged += 1
        self.send_msg(svc.encode_write_batch_response(acknowledged, 0))
        self.finish(GRPC_OK, b"")

    # -- the response path

    def _send_headers(self) -> None:
        # under `lock`: the response headers go out once per RPC
        if not self.headers_sent:
            self.headers_sent = True
            self.h2c.send_headers(self.stream_id, _RESPONSE_HEADERS)

    def open(self) -> None:
        """Streaming sends its response headers as the RPC opens."""
        with self.lock:
            self._send_headers()
            self.flush_locked()

    def send_msg(self, envelope: bytes) -> None:
        with self.lock:
            if self.finished:
                return
            self._send_headers()
            self.h2c.send_data(self.stream_id, frame_message(envelope))
            self.flush_locked()

    def maybe_finish(self) -> None:
        with self.lock:
            if self.finished or not self.recv_done or self.in_flight > 0:
                return
        self.finish(GRPC_OK, b"")

    def finish(self, status: int, message: bytes) -> None:
        with self.lock:
            if self.finished:
                return
            self.finished = True
            metrics.RPC_HANDLED.inc(self.method, str(status))
            trailers = [(b"grpc-status", str(status).encode())]
            if message:
                trailers.append((b"grpc-message", bytes(message)))
            if not self.headers_sent:
                # trailers-only response (gRPC spec): the one HEADERS
                # frame carries :status + content-type + grpc-status
                self.headers_sent = True
                trailers = _RESPONSE_HEADERS + trailers
            self.h2c.send_headers(self.stream_id, trailers, end_stream=True)
            try:
                self.flush_locked()
            except OSError:
                pass


class GrpcIngestService(svc.FrontDoor):
    """HTTP/2-gRPC front door: the shared listener and Streaming session
    (service.py) behind gRPC framing, plus the unary WriteBatch RPC."""

    def __init__(
        self,
        server,  # ingest.server.IngestServer
        host: str = "127.0.0.1",
        port: int = 0,
        max_in_flight: int = 12,  # reference NewStreamingClientSession(stream, 12)
        max_batch_len: int = 10_000,
        backoff_ms: int = 0,
        tls_context: ssl.SSLContext | None = None,
    ) -> None:
        super().__init__(server, host, port, max_in_flight, max_batch_len, backoff_ms)
        # when set: every accepted connection handshakes TLS with ALPN
        # h2 before any HTTP/2 bytes (make_server_tls_context); None =
        # cleartext h2c with prior knowledge, the loopback default
        self.tls_context = tls_context

    # -- connection handling

    def _serve_connection(self, conn: socket.socket) -> None:
        if self.tls_context is not None:
            # handshake in the per-connection thread so a slow or
            # misbehaving peer never blocks the accept loop
            try:
                conn = self.tls_context.wrap_socket(conn, server_side=True)
            except (ssl.SSLError, OSError):
                try:
                    conn.close()
                except OSError:
                    pass
                return
            if conn.selected_alpn_protocol() != "h2":
                # RFC 7540 §3.3: h2 over TLS REQUIRES the ALPN token;
                # a client that negotiated nothing gets no HTTP/2 bytes
                try:
                    conn.close()
                except OSError:
                    pass
                return
        h2c = h2.H2Connection(client_side=False)
        lock = threading.Lock()
        rpcs: dict[int, _Rpc] = {}

        def flush_locked() -> None:
            out = h2c.data_to_send()
            if out:
                conn.sendall(out)

        with conn:
            while True:
                chunk = conn.recv(65536)
                if not chunk:
                    return
                with lock:
                    try:
                        events = h2c.receive_data(chunk)
                    except h2.H2ConnectionError as exc:
                        h2c.send_goaway(exc.code)
                        flush_locked()
                        return
                    flush_locked()
                for ev in events:
                    self._handle_event(ev, h2c, lock, conn, rpcs, flush_locked)
                    if h2c.closed:
                        return

    # -- event handling (reader thread)

    def _handle_event(self, ev, h2c, lock, conn, rpcs, flush_locked) -> None:
        if isinstance(ev, h2.HeadersReceived):
            # sweep completed RPCs so a long-lived connection issuing
            # many RPCs doesn't grow per-connection state without bound
            # (the h2 layer already retires its streams; this map must
            # not re-introduce the leak). Amortized: each finished RPC
            # is swept exactly once.
            for done in [s for s, r in rpcs.items() if r.finished]:
                del rpcs[done]
            headers = dict(ev.headers)
            sid = ev.stream_id
            live = rpcs.get(sid)
            if live is not None and not live.finished:
                # HEADERS replay on an active RPC (client trailers have
                # no place in the gRPC request grammar): resetting keeps
                # the live RPC's type-id registry / buffered messages /
                # in-flight accounting from being silently discarded and
                # response headers from being re-sent on the same stream
                live.finished = True
                del rpcs[sid]
                with lock:
                    h2c.reset_stream(sid, h2.PROTOCOL_ERROR)
                    flush_locked()
                return
            method = _METHODS.get(headers.get(b":path"), "unknown")
            rpc = _Rpc(self, sid, h2c, lock, flush_locked, method)
            if method == "unknown":
                rpc.finish(GRPC_UNIMPLEMENTED, b"unknown method")
                return
            rpcs[sid] = rpc
            if method == "Streaming":
                rpc.open()
            if ev.end_stream:
                rpc.end_request()
        elif isinstance(ev, h2.DataReceived):
            rpc = rpcs.get(ev.stream_id)
            if rpc is None or rpc.finished:
                return
            rpc.buf += ev.data
            try:
                msgs = split_messages(rpc.buf)
            except MessageTooLarge as exc:
                rpc.finish(GRPC_RESOURCE_EXHAUSTED, str(exc).encode())
                return
            except ValueError:
                rpc.finish(GRPC_INTERNAL, b"unsupported compressed message")
                return
            if rpc.method == "WriteBatch":
                rpc.received += msgs
            else:
                for msg in msgs:
                    # the Streaming session rules (service.StreamingSession)
                    try:
                        end = rpc.receive(msg)
                    except (ValueError, IndexError):
                        rpc.finish(GRPC_INTERNAL, b"malformed envelope")
                        return
                    if end is not None:
                        # ErrUnsupported terminates the RPC
                        rpc.finish(GRPC_UNKNOWN, end.encode())
                        return
            if ev.end_stream:
                rpc.end_request()
        elif isinstance(ev, h2.StreamReset):
            rpc = rpcs.pop(ev.stream_id, None)
            if rpc is not None:
                rpc.finished = True


class _Call:
    """One client gRPC call on its own HTTP/2 connection, the call both
    clients make: the connect (``_tls_connect``, so ``TCP_NODELAY`` and
    optional TLS), the h2 set-up and the request headers for ``path``,
    then the event pump. ``_pump`` reads one chunk: DATA becomes gRPC
    messages in ``_messages``, the trailers become ``trailers`` (a non-OK
    grpc-status raises ConnectionError with the server's grpc-message),
    and RST_STREAM or GOAWAY raise ConnectionError."""

    def __init__(
        self,
        host: str,
        port: int,
        path: bytes,
        timeout: float = 30.0,
        tls_context: ssl.SSLContext | None = None,
        server_hostname: str | None = None,
        huffman: bool = True,
    ) -> None:
        self.conn = _tls_connect(host, port, timeout, tls_context, server_hostname)
        self._authority = f"{host}:{port}".encode()
        try:
            self._h2 = h2.H2Connection(client_side=True)
            self._h2._encoder.huffman = huffman
            self._h2.initiate()
            self._open(path)
        except OSError:
            self.conn.close()
            raise

    def _request_headers(self, path: bytes) -> list[tuple[bytes, bytes]]:
        return [
            (b":method", b"POST"),
            (b":scheme", b"http"),
            (b":path", path),
            (b":authority", self._authority),
            (b"content-type", GRPC_CONTENT_TYPE),
            (b"te", b"trailers"),
        ]

    def _open(self, path: bytes) -> None:
        """Start the call on the connection's next stream."""
        self.stream_id = self._h2.next_stream_id()
        self._buf = bytearray()
        self._messages: list[bytes] = []
        self.trailers: dict[bytes, bytes] | None = None
        self._h2.send_headers(self.stream_id, self._request_headers(path))
        self._flush()

    def _flush(self) -> None:
        out = self._h2.data_to_send()
        if out:
            self.conn.sendall(out)

    def _send(self, msg: bytes, end_stream: bool = False) -> None:
        self._h2.send_data(self.stream_id, frame_message(msg), end_stream=end_stream)
        self._flush()

    def _receive(self) -> list:
        """One chunk off the connection, as h2 events."""
        chunk = self.conn.recv(65536)
        if not chunk:
            raise ConnectionError("server closed the connection")
        events = self._h2.receive_data(chunk)
        self._flush()  # auto-replies: SETTINGS ack, WINDOW_UPDATE
        return events

    def _pump(self) -> None:
        for ev in self._receive():
            if isinstance(ev, h2.DataReceived) and ev.stream_id == self.stream_id:
                self._buf += ev.data
                self._messages += split_messages(self._buf)
            elif isinstance(ev, h2.HeadersReceived) and ev.stream_id == self.stream_id:
                hdrs = dict(ev.headers)
                if b"grpc-status" not in hdrs:
                    continue  # the response headers
                self.trailers = hdrs
                status = int(hdrs[b"grpc-status"])
                if status != GRPC_OK:
                    raise ConnectionError(
                        f"rpc terminated: grpc-status {status} "
                        f"{hdrs.get(b'grpc-message', b'').decode()}"
                    )
            elif isinstance(ev, h2.StreamReset) and ev.stream_id == self.stream_id:
                # e.g. REFUSED_STREAM past the concurrency cap: fail
                # promptly, not via socket timeout
                raise ConnectionError(
                    f"rpc stream reset by server (code {ev.error_code})"
                )
            elif isinstance(ev, h2.ConnectionTerminated):
                raise ConnectionError("server sent GOAWAY")


class GrpcIngestClient(_Call, svc.StreamingClient):
    """Synchronous gRPC Streaming client over the same stack — the
    loopback stand-in for a stock bristle client (client/client.go):
    the shared service.StreamingClient loop over one ``_Call`` on
    ``STREAMING_PATH``. ``huffman=True`` exercises the server's Huffman
    decode path with realistically-compressed headers."""

    def __init__(
        self,
        host: str,
        port: int,
        timeout: float = 30.0,
        huffman: bool = True,
        tls_context: ssl.SSLContext | None = None,
        server_hostname: str | None = None,
    ) -> None:
        svc.StreamingClient.__init__(self)
        _Call.__init__(
            self, host, port, STREAMING_PATH, timeout, tls_context, server_hostname, huffman
        )

    def close(self) -> None:
        try:
            self._h2.send_data(self.stream_id, b"", end_stream=True)
            self._h2.send_goaway(h2.NO_ERROR)
            self._flush()
        except OSError:
            pass
        finally:
            self.conn.close()

    def _send_envelope(self, envelope: bytes) -> None:
        self._send(envelope)

    def _recv(self) -> tuple[str, dict]:
        while not self._messages:
            if self.trailers is not None:
                raise ConnectionError("server closed the session")
            self._pump()
        return svc.decode_server_message(self._messages.pop(0))


def grpc_write_batch_unary(
    host: str,
    port: int,
    payloads: list[tuple[str, list[bytes]]],
    key: str = "",
    timeout: float = 30.0,
    tls_context: ssl.SSLContext | None = None,
    server_hostname: str | None = None,
) -> tuple[int, int]:
    """One unary ``WriteBatch`` call (bristle.proto:119) over a fresh
    HTTP/2 connection — the stand-in for a stock unary gRPC client, the
    simpler of the reference's two client APIs (ingest_service.go:109):
    one ``_Call`` on ``WRITE_BATCH_PATH`` that sends one message with
    END_STREAM and reads until the status arrives. Returns
    (acknowledged, dropped); raises ConnectionError with the server's
    grpc-message on a non-OK grpc-status, mirroring how a stock client
    surfaces the reference's aborted-request error
    (ingest_service.go:112-114)."""
    call = _Call(host, port, WRITE_BATCH_PATH, timeout, tls_context, server_hostname)
    try:
        call._send(svc.encode_write_batch_request(key, payloads), end_stream=True)
        while call.trailers is None:
            call._pump()
        if len(call._messages) != 1:
            raise ConnectionError("expected exactly one WriteBatchResponse")
        return svc.decode_write_batch_response(call._messages[0])
    finally:
        call.conn.close()
