"""Network ingest front doors: the reference's BristleIngestService
``Streaming`` protocol, one session over two framings.

The reference registers a gRPC service (ingest_service.go:63-65) whose
``Streaming`` RPC (ingest_service.go:184-234) carries
``StreamingClientMessage`` / ``StreamingServerMessage`` protos:
register-message-type handshakes, varint-framed write batches, and
per-batch ``BatchResult`` acks (bristle.proto, service + enum). This
module holds everything both front doors share: the envelope codec (on
the repo's own spec-driven wire module, wire.py, the same one the
decode path uses), the session rules (``StreamingSession``), the
listener (``FrontDoor``), the batch path (``process_batch``,
``land_payload``) and the client loop (``StreamingClient``). Each
transport adds only its framing of the same envelope bytes:

- TCP socket (``IngestSocketService`` / ``IngestSocketClient``, here):
  standard varint length prefixes between envelopes on a raw
  connection.
- HTTP/2-gRPC (``GrpcIngestService`` / ``GrpcIngestClient``,
  grpc_transport.py): the 5-byte gRPC message prefix inside HTTP/2 DATA
  frames, with the session's end mapped to grpc-status trailers.

Session semantics mirror ingest_service.go:

- register_message_type (ingest_service.go:196-217): assigns an
  incrementing per-session uint32 id and replies identify_message_type;
  a non-empty descriptor is ErrUnsupported and terminates the session,
  exactly like the reference's early return.
- write_batch (ingest_service.go:122-180, 218-227): resolved via the
  session's type-id map or the inline type name; unknown types ack
  UNK_MESSAGE, malformed bodies DECODE_ERR, an over-limit batch TOO_BIG
  (clickhouse_table.go WriteBatch's size check), and more than
  ``max_in_flight`` concurrent batches TOO_MANY_IN_FLIGHT_BATCHES
  (ingest_service.go:219-222, semaphore of 12).
- update_default (ingest_service.go:228-230): ErrUnsupported, session
  terminated — the reference's own behavior (S13).

Where the reference acks after writing rows into an in-memory buffer
that a ticker flushes to ClickHouse (best-effort: a failed flush drops
the batch), both front doors ack after landing the validated batch as a
durable payload parquet file in the bound table's landing zone; the
checkpointed Structured Streaming writer (server.py / ingest_stream.py)
then drains it exactly-once into the sink. TRANSCODE_ERR cannot occur
per-row here because bindings validate eagerly at bind time
(bindings.py, reference clickhouse_table.go:204-226); DECODE_ERR is
checked frame-by-frame before the ack.

100 TB shape: the listener is a thin, stateless ingress — it validates
and lands files, nothing else — so horizontal scale is N processes
behind a load balancer appending to one landing zone (an object-store
prefix in production), with Spark draining the zone continuously. The
heavy work (decode at scale, transcode, sink) stays in the distributed
streaming job, not in the connection handler.

Every ingest connection, client or accepted, sets ``TCP_NODELAY``
(``connect`` and ``FrontDoor._serve``): the reference's Go
``net`` and grpc-go default to it, and without it a small ack written
right after a WINDOW_UPDATE waits on Nagle for the peer's delayed ACK
(>= 40 ms on Linux) instead of leaving at once.
"""

from __future__ import annotations

import io
import os
import socket
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Self

from bristle_spark.ingest import metrics, wire

# BatchResult (bristle.proto enum)
OK = 0
TOO_BIG = 1
FULL = 2
UNK_MESSAGE = 3
DECODE_ERR = 4
TRANSCODE_ERR = 5
TOO_MANY_IN_FLIGHT_BATCHES = 6

RESULT_NAMES = {
    OK: "OK",
    TOO_BIG: "TOO_BIG",
    FULL: "FULL",
    UNK_MESSAGE: "UNK_MESSAGE",
    DECODE_ERR: "DECODE_ERR",
    TRANSCODE_ERR: "TRANSCODE_ERR",
    TOO_MANY_IN_FLIGHT_BATCHES: "TOO_MANY_IN_FLIGHT_BATCHES",
}

# StreamingClientMessage oneof field numbers (bristle.proto)
_CM_WRITE_BATCH = 1
_CM_UPDATE_DEFAULT = 2
_CM_REGISTER_TYPE = 3
# StreamingServerMessage oneof field numbers
_SM_WRITE_BATCH_RESULT = 1
_SM_BACKOFF = 2
_SM_IDENTIFY_TYPE = 3


# ------------------------------------------------------- envelope codec

# StreamingClientMessage and StreamingServerMessage: a oneof of three
# sub-messages, numbered _CM_* and _SM_* above
_ENVELOPE = wire.compile_decoder({n: ("bytes", False) for n in (1, 2, 3)})
_WRITE_BATCH = wire.compile_decoder(
    {
        1: ("uint32", False),  # id
        2: ("string", False),  # type_name
        3: ("uint32", False),  # type_id
        4: ("uint32", False),  # length
        5: ("bytes", False),  # data
    }
)
_REGISTER_TYPE = wire.compile_decoder({1: ("string", False), 2: ("bytes", False)})
_WRITE_BATCH_RESULT = wire.compile_decoder({1: ("uint32", False), 2: ("enum", False)})
_BACKOFF = wire.compile_decoder({1: ("uint64", False), 2: ("string", True)})
_IDENTIFY_TYPE = wire.compile_decoder({1: ("string", False), 2: ("uint32", False)})
# WriteBatchRequest{key, repeated Payload} and Payload{type, repeated
# body} share one shape
_WRITE_BATCH_REQUEST = _PAYLOAD = wire.compile_decoder(
    {1: ("string", False), 2: ("bytes", True)}
)
_WRITE_BATCH_RESPONSE = wire.compile_decoder({1: ("uint64", False), 2: ("uint64", False)})


def encode_write_batch(
    batch_id: int,
    bodies: list[bytes],
    type_name: str | None = None,
    type_id: int | None = None,
) -> bytes:
    """Client-side StreamingClientMessage{write_batch} (the repo's
    equivalent of the reference client's batch framing,
    client/client.go:148-156)."""
    inner = wire.encode_message(
        [
            (1, "uint32", batch_id, False),
            (2, "string", type_name, False),
            (3, "uint32", type_id, False),
            (4, "uint32", len(bodies), False),
            (5, "bytes", wire.join_frames(bodies), False),
        ]
    )
    return wire.encode_message([(_CM_WRITE_BATCH, "bytes", inner, False)])


def encode_register_type(type_name: str, descriptor: bytes = b"") -> bytes:
    inner = wire.encode_message(
        [(1, "string", type_name, False), (2, "bytes", descriptor or None, False)]
    )
    return wire.encode_message([(_CM_REGISTER_TYPE, "bytes", inner, False)])


def encode_update_default(type_name: str, default: bytes = b"") -> bytes:
    inner = wire.encode_message(
        [(1, "string", type_name, False), (2, "bytes", default or None, False)]
    )
    return wire.encode_message([(_CM_UPDATE_DEFAULT, "bytes", inner, False)])


def _encode_batch_result(batch_id: int, result: int) -> bytes:
    inner = wire.encode_message(
        [(1, "uint32", batch_id, False), (2, "enum", result or None, False)]
    )
    return wire.encode_message([(_SM_WRITE_BATCH_RESULT, "bytes", inner, False)])


def _encode_identify(type_name: str, type_id: int) -> bytes:
    inner = wire.encode_message(
        [(1, "string", type_name, False), (2, "uint32", type_id, False)]
    )
    return wire.encode_message([(_SM_IDENTIFY_TYPE, "bytes", inner, False)])


def encode_backoff(until_ms: int, types: list[str]) -> bytes:
    """StreamingServerMessageBackoff (bristle.proto:96-99): advise
    clients to defer sends for ``types`` (empty = all types) until the
    epoch-millisecond ``until``. Declared-only in the reference server
    (never emitted); this repo emits it as an admission-control advisory
    alongside TOO_MANY_IN_FLIGHT_BATCHES when configured."""
    inner = wire.encode_message(
        [(1, "uint64", until_ms or None, False), (2, "string", types, True)]
    )
    return wire.encode_message([(_SM_BACKOFF, "bytes", inner, False)])


def decode_server_message(buf: bytes) -> tuple[str, dict]:
    msg = _ENVELOPE(buf)
    if _SM_WRITE_BATCH_RESULT in msg:
        inner = _WRITE_BATCH_RESULT(msg[_SM_WRITE_BATCH_RESULT])
        return "write_batch_result", {
            "id": inner.get(1, 0),
            "result": inner.get(2, OK),
        }
    if _SM_BACKOFF in msg:
        inner = _BACKOFF(msg[_SM_BACKOFF])
        return "backoff", {"until": inner.get(1, 0), "types": inner.get(2, [])}
    inner = _IDENTIFY_TYPE(msg[_SM_IDENTIFY_TYPE])
    return "identify_message_type", {"type": inner.get(1, ""), "id": inner.get(2, 0)}


def encode_write_batch_request(
    key: str, payloads: list[tuple[str, list[bytes]]]
) -> bytes:
    """Unary WriteBatchRequest (bristle.proto:22-25): ``key`` + repeated
    Payload{type, repeated body} (bristle.proto:15-18)."""
    fields: list[tuple[int, str, object, bool]] = [(1, "string", key or None, False)]
    for type_name, bodies in payloads:
        inner = wire.encode_message(
            [(1, "string", type_name, False), (2, "bytes", bodies, True)]
        )
        fields.append((2, "bytes", inner, False))
    return wire.encode_message(fields)


def decode_write_batch_request(buf: bytes) -> tuple[str, list[tuple[str, list[bytes]]]]:
    msg = _WRITE_BATCH_REQUEST(buf)
    payloads: list[tuple[str, list[bytes]]] = []
    for raw in msg.get(2, []):
        inner = _PAYLOAD(raw)
        payloads.append((inner.get(1, ""), inner.get(2, [])))
    return msg.get(1, ""), payloads


def encode_write_batch_response(acknowledged: int, dropped: int) -> bytes:
    """WriteBatchResponse (bristle.proto:27-33). The reference hardcodes
    zeros (ingest_service.go:116-119); this implements the *intended*
    semantics the proto comments document — the count of acknowledged /
    dropped payloads (SURVEY §8.3)."""
    return wire.encode_message(
        [
            (1, "uint64", acknowledged or None, False),
            (2, "uint64", dropped or None, False),
        ]
    )


def decode_write_batch_response(buf: bytes) -> tuple[int, int]:
    msg = _WRITE_BATCH_RESPONSE(buf)
    return msg.get(1, 0), msg.get(2, 0)


def _decode_client_message(buf: bytes) -> tuple[str, dict]:
    msg = _ENVELOPE(buf)
    if _CM_WRITE_BATCH in msg:
        inner = _WRITE_BATCH(msg[_CM_WRITE_BATCH])
        return "write_batch", {
            "id": inner.get(1, 0),
            "type_name": inner.get(2),
            "type_id": inner.get(3),
            "length": inner.get(4, 0),
            "data": inner.get(5, b""),
        }
    if _CM_REGISTER_TYPE in msg:
        inner = _REGISTER_TYPE(msg[_CM_REGISTER_TYPE])
        return "register_message_type", {
            "type": inner.get(1, ""),
            "descriptor": inner.get(2, b""),
        }
    if msg.get(_CM_UPDATE_DEFAULT) is not None:
        return "update_default", {}
    raise ValueError("empty StreamingClientMessage")


# --------------------------------------------------------- socket framing


def _read_varint(sock_file: io.BufferedReader) -> int | None:
    """One varint off the stream; None on clean EOF at a boundary."""
    result = 0
    shift = 0
    first = True
    while True:
        b = sock_file.read(1)
        if not b:
            if first:
                return None
            raise ConnectionError("EOF mid-varint")
        first = False
        result |= (b[0] & 0x7F) << shift
        if not (b[0] & 0x80):
            return result
        shift += 7
        if shift >= 70:
            raise ValueError("malformed varint")


# largest envelope the socket front door will buffer: far above any
# legitimate WriteBatch (max_batch_len bounds rows, not bytes, so this
# is the byte-side backstop), far below a declared-length memory bomb
MAX_ENVELOPE = 64 * 1024 * 1024


def read_envelope(sock_file: io.BufferedReader) -> bytes | None:
    length = _read_varint(sock_file)
    if length is None:
        return None
    if length > MAX_ENVELOPE:
        # reject on the PREFIX — the read(length) below would otherwise
        # allocate toward whatever the peer declared
        raise ValueError(f"envelope length {length} exceeds {MAX_ENVELOPE}")
    data = sock_file.read(length)
    if len(data) != length:
        raise ConnectionError("EOF mid-envelope")
    return data


def frame_envelope(payload: bytes) -> bytes:
    return wire.encode_varint(len(payload)) + payload


# ------------------------------------------------------------ the session


class StreamingSession:
    """The rules of one ``Streaming`` session (StreamingClientSession,
    ingest_service.go:184-251), written once for both front doors.
    ``send`` writes one StreamingServerMessage envelope in the
    transport's framing and ``transport`` labels metrics.BATCHES. The
    reader thread feeds ``receive``; admitted batches are processed and
    acked on the front door's pool."""

    def __init__(self, door: "FrontDoor", send, transport: str) -> None:
        self.door = door
        self.send = send
        self.transport = transport
        self.sem = threading.Semaphore(door.max_in_flight)
        self.type_ids: dict[int, str] = {}
        self.next_type_id = 0

    def receive(self, envelope: bytes) -> str | None:
        """Apply one client envelope. Returns None while the session
        goes on, or why it must end (ErrUnsupported). A malformed
        envelope raises ValueError or IndexError."""
        kind, body = _decode_client_message(envelope)
        if kind == "register_message_type":
            if body["descriptor"]:
                return "descriptor registration unsupported"  # ingest_service.go:199-202
            self.next_type_id += 1
            self.type_ids[self.next_type_id] = body["type"]
            self.send(_encode_identify(body["type"], self.next_type_id))
        elif kind == "write_batch":
            if self.sem.acquire(blocking=False):
                self.submit(body)
            else:
                self._reject(body)
        elif kind == "update_default":
            return "update_default unsupported"  # ingest_service.go:228-230 (S13)
        return None

    def _reject(self, batch: dict) -> None:
        # advisory FIRST so a synchronous client has noted it by the
        # time the rejection ack unblocks its send loop
        if self.door.backoff_ms > 0:
            name = batch["type_name"] or self.type_ids.get(batch["type_id"])
            self.send(
                encode_backoff(
                    int(time.time() * 1000) + self.door.backoff_ms,
                    [name] if name else [],
                )
            )
        self._ack(batch["id"], TOO_MANY_IN_FLIGHT_BATCHES)

    def submit(self, batch: dict) -> None:
        self.door._pool.submit(self.write_streaming_batch, batch)

    def process(self, batch: dict) -> int:
        """One batch through ``process_batch``; returns the BatchResult."""
        try:
            return process_batch(
                self.door.server, self.type_ids, batch, self.door.max_batch_len
            )
        except Exception:
            # decode failures are returned explicitly by process_batch;
            # anything raising here is SERVER-side (landing I/O, disk
            # full) — FULL, the protocol's write-failure result, so
            # clients know the data was valid and a retry can succeed
            # (DECODE_ERR would mislabel it as permanently malformed)
            return FULL

    def write_streaming_batch(self, batch: dict) -> None:
        """The write path (writeStreamingBatch analog), on a pool thread."""
        try:
            result = self.process(batch)
        finally:
            self.sem.release()
        self._ack(batch["id"], result)

    def _ack(self, batch_id: int, result: int) -> None:
        metrics.BATCHES.inc(self.transport, RESULT_NAMES[result])
        try:
            self.send(_encode_batch_result(batch_id, result))
        except OSError:
            pass  # client hung up before the ack


# ------------------------------------------------------------ the listener


class FrontDoor:
    """The listener both front doors share, bound to an IngestServer's
    binding registry and payload landing zones: bind, the accept loop,
    the batch pool and the lifecycle. A subclass serves one accepted
    connection in ``_serve_connection``."""

    def __init__(
        self,
        server,  # ingest.server.IngestServer
        host: str = "127.0.0.1",
        port: int = 0,
        max_in_flight: int = 12,  # reference NewStreamingClientSession(stream, 12)
        max_batch_len: int = 10_000,
        backoff_ms: int = 0,
    ) -> None:
        self.server = server
        self.host = host
        self.max_in_flight = max_in_flight
        self.max_batch_len = max_batch_len
        # when > 0: an admission rejection also sends a Backoff advisory
        # (bristle.proto:96-99 — declared-only in the reference server;
        # the reference *client* honors it, client/client.go:128-136)
        self.backoff_ms = backoff_ms
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind((host, port))
        self.port = self._sock.getsockname()[1]
        self._stop = threading.Event()
        self._accept_thread: threading.Thread | None = None
        self._pool = ThreadPoolExecutor(max_workers=max(1, max_in_flight))

    # -- lifecycle

    def start(self) -> Self:
        self._sock.listen()
        self._accept_thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._accept_thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        try:
            self._sock.close()
        except OSError:
            pass
        self._pool.shutdown(wait=True)

    def __enter__(self) -> Self:
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- connection handling

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _addr = self._sock.accept()
            except OSError:
                if self._stop.is_set():
                    return  # listener closed by stop()
                # transient accept failure (e.g. EMFILE): back off and
                # keep serving — returning here would leave the port
                # bound but dead, hanging every future client
                time.sleep(0.05)
                continue
            threading.Thread(target=self._serve, args=(conn,), daemon=True).start()

    def _serve(self, conn: socket.socket) -> None:
        try:
            # before any TLS wrap, and in the connection's own thread so
            # a failing setsockopt drops this connection, not the listener
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            self._serve_connection(conn)
        except (OSError, ValueError, IndexError):
            # IndexError: a truncated varint inside a client envelope
            # (decode_varint reads past the buffer) — same malformed-
            # stream class as ValueError
            return  # malformed stream / client gone: drop the connection
        except RuntimeError:
            # pool.submit after stop() shut the executor — a teardown
            # race when a session is mid-envelope; anything else is a
            # real bug and must surface
            if self._stop.is_set():
                return
            raise

    def _serve_connection(self, conn: socket.socket) -> None:
        raise NotImplementedError


class IngestSocketService(FrontDoor):
    """TCP front door: Streaming envelopes with varint length prefixes."""

    def _serve_connection(self, conn: socket.socket) -> None:
        send_lock = threading.Lock()

        def send(envelope: bytes) -> None:
            with send_lock:
                conn.sendall(frame_envelope(envelope))

        session = StreamingSession(self, send, "socket")
        with conn, conn.makefile("rb") as rf:
            # None is io.EOF: a clean session end
            while (envelope := read_envelope(rf)) is not None:
                if session.receive(envelope) is not None:
                    return  # ErrUnsupported: close the connection


def process_batch(
    server, type_ids: dict[int, str], batch: dict, max_batch_len: int
) -> int:
    """Validate one write_batch against the server's binding registry
    and durably land it; returns the BatchResult. Transport-agnostic —
    shared by the TCP front door and the HTTP/2-gRPC transport
    (grpc_transport.py), so both speak byte-identical ack semantics."""
    if batch["type_id"] is not None and batch["type_name"] is None:
        type_name = type_ids.get(batch["type_id"])
        if type_name is None:
            return UNK_MESSAGE
    else:
        type_name = batch["type_name"]
    registry = server.registry
    try:
        binding = registry.for_type(type_name)
    except KeyError:
        return UNK_MESSAGE

    try:
        bodies = wire.split_frames(batch["data"])
    except (ValueError, IndexError):
        return DECODE_ERR
    if len(bodies) > max_batch_len:
        return TOO_BIG

    # frame-by-frame decode validation BEFORE the durable ack — the
    # reference's proto.Unmarshal loop (ingest_service.go:155-177);
    # the distributed pipeline re-decodes at scale on the drain path
    decode = binding.decoder
    try:
        for body in bodies:
            decode(body)
    except Exception:
        return DECODE_ERR

    land_payload(server, binding, type_name, bodies)
    return OK


def land_payload(server, binding, type_name: str, bodies: list[bytes]) -> None:
    """Durably land the validated batch as one payload parquet file
    in the table's landing zone (the ack-backing write)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    safe = binding.sink_table.replace(".", "__")
    payload_dir = os.path.join(server.data_root, "payloads", safe)
    os.makedirs(payload_dir, exist_ok=True)
    table = pa.table(
        {
            "type": pa.array([type_name] * len(bodies), pa.string()),
            "body": pa.array(bodies, pa.binary()),
        }
    )
    name = f"socket_{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(payload_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(payload_dir, name))
    # counted AFTER the atomic rename: these are documented as DURABLY
    # landed — incrementing before a failed write would over-count
    metrics.ROWS.inc(binding.sink_table, by=len(bodies))
    metrics.PAYLOAD_BYTES.inc(binding.sink_table, by=sum(len(b) for b in bodies))


# ------------------------------------------------------------- the client


class ClientBackoff:
    """Client-side honoring of server ``Backoff`` advisories. The
    reference client stores the high-water ``until`` off the receive
    loop (client/client.go:128-136) and checks it before every send —
    but its sleep duration is ``now - until``, a negative value that
    busy-loops (client/client.go:158-164; SURVEY §8.7 quirk). This
    implements the *intended* behavior: a non-negative wait of
    ``until - now``, scoped to the advisory's listed types (empty list =
    all types, per bristle.proto:96-99)."""

    def __init__(self) -> None:
        self.until_ms = 0
        self.types: frozenset[str] = frozenset()

    def note(self, body: dict) -> None:
        if body["until"] > self.until_ms:  # high-water, like the reference
            self.until_ms = body["until"]
            self.types = frozenset(body["types"])

    def delay_s(self, type_name: str | None, now_ms: int | None = None) -> float:
        """Seconds a send of ``type_name`` must defer; 0.0 if clear."""
        if now_ms is None:
            now_ms = int(time.time() * 1000)
        if now_ms >= self.until_ms:
            return 0.0
        if self.types and type_name not in self.types:
            return 0.0
        return (self.until_ms - now_ms) / 1000.0

    def wait(self, type_name: str | None) -> float:
        """Block until the advisory clears; returns seconds slept."""
        delay = self.delay_s(type_name)
        if delay > 0.0:
            time.sleep(delay)
        return delay


def connect(host: str, port: int, timeout: float) -> socket.socket:
    """The one client connect of both front doors: a TCP connection
    with ``TCP_NODELAY`` set, so a small envelope never waits on Nagle."""
    conn = socket.create_connection((host, port), timeout=timeout)
    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    return conn


class StreamingClient:
    """The client loop both transports share (the reference client
    library's role, client/client.go): register types for short ids,
    send write batches, collect acks, and defer sends on server Backoff
    advisories. Results may arrive out of order; responses are
    correlated by batch id. A subclass frames the envelopes:
    ``_send_envelope`` writes one, ``_recv`` returns the next decoded
    StreamingServerMessage."""

    def __init__(self) -> None:
        self._next_batch = 0
        self._results: dict[int, int] = {}
        self._type_names: dict[int, str] = {}
        self.backoff = ClientBackoff()

    def __enter__(self) -> Self:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _note(self) -> tuple[str, dict]:
        """Receive one server message, recording acks (possibly late,
        for an earlier batch) and Backoff advisories."""
        kind, body = self._recv()
        if kind == "write_batch_result":
            self._results[body["id"]] = body["result"]
        elif kind == "backoff":
            self.backoff.note(body)
        return kind, body

    def register_type(self, type_name: str) -> int:
        self._send_envelope(encode_register_type(type_name))
        while True:
            kind, body = self._note()
            if kind == "identify_message_type" and body["type"] == type_name:
                self._type_names[body["id"]] = body["type"]
                return body["id"]

    def write_batch(
        self,
        bodies: list[bytes],
        type_name: str | None = None,
        type_id: int | None = None,
    ) -> int:
        """Send one batch and block for its ack; returns the BatchResult.
        Defers the send while a server Backoff advisory covering this
        type is in force (client/client.go:158-164 intended behavior)."""
        self.backoff.wait(type_name or self._type_names.get(type_id))
        self._next_batch += 1
        batch_id = self._next_batch
        self._send_envelope(encode_write_batch(batch_id, bodies, type_name, type_id))
        while batch_id not in self._results:
            self._note()
        return self._results.pop(batch_id)

    def update_default(self, type_name: str, default: bytes = b"") -> None:
        self._send_envelope(encode_update_default(type_name, default))


class IngestSocketClient(StreamingClient):
    """Minimal synchronous client over the TCP front door."""

    def __init__(self, host: str, port: int, timeout: float = 30.0) -> None:
        super().__init__()
        self.conn = connect(host, port, timeout)
        self._rf = self.conn.makefile("rb")

    def close(self) -> None:
        try:
            self._rf.close()
        finally:
            self.conn.close()

    def _send_envelope(self, envelope: bytes) -> None:
        self.conn.sendall(frame_envelope(envelope))

    def _recv(self) -> tuple[str, dict]:
        envelope = read_envelope(self._rf)
        if envelope is None:
            raise ConnectionError("server closed the session")
        return decode_server_message(envelope)
