"""HTTP/2 framing layer (RFC 7540) — sans-IO, pure Python.

The transport under `grpc_transport.py`: the reference serves its
``BristleIngestService`` on a stock gRPC server (ingest_service.go:
63-65), i.e. over HTTP/2. grpcio / h2 wheels are env-blocked
(PARITY.md), so this module implements the connection state machine
from the public RFC directly. Sans-IO: `receive_data(bytes)` returns
protocol events and queues any protocol-mandated replies (SETTINGS
acks, PING acks, WINDOW_UPDATE replenishment); `data_to_send()` drains
the outbound buffer. One class serves both roles — the server side of
the ingest front door and the loopback test client.

Scope is the surface a gRPC bidi-streaming exchange touches, done
correctly rather than a full general-purpose stack: preface + SETTINGS
handshake, HEADERS/CONTINUATION assembly with HPACK, DATA with padding,
REAL flow control in both directions (send-side windows honoured with
per-stream pending queues, recv-side windows replenished), RST_STREAM,
PING, GOAWAY, INITIAL_WINDOW_SIZE retuning of live streams, and frame
size validation. PUSH is disabled and rejected; unknown frame types are
ignored as the RFC requires.

Priority signals are ignored, as grpc-go ignores them: the PRIORITY
frame is length-checked and dropped, and the RFC 9218 `priority` header
and PRIORITY_UPDATE frame have no effect. Flow-blocked streams therefore
have one flush path, `_flush_blocked`, an arrival-order pass run on
SETTINGS and on every WINDOW_UPDATE. Every local RST_STREAM on a live
stream goes through `_rst_and_retire`, which also drops the stream's
state, so a reset stream never counts toward the concurrency cap.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from bristle_spark.ingest import hpack

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"

# frame types
DATA = 0x0
HEADERS = 0x1
PRIORITY = 0x2
RST_STREAM = 0x3
SETTINGS = 0x4
PUSH_PROMISE = 0x5
PING = 0x6
GOAWAY = 0x7
WINDOW_UPDATE = 0x8
CONTINUATION = 0x9

# flags
FLAG_END_STREAM = 0x1
FLAG_ACK = 0x1
FLAG_END_HEADERS = 0x4
FLAG_PADDED = 0x8
FLAG_PRIORITY = 0x20

# settings ids
SETTINGS_HEADER_TABLE_SIZE = 0x1
SETTINGS_ENABLE_PUSH = 0x2
SETTINGS_MAX_CONCURRENT_STREAMS = 0x3
SETTINGS_INITIAL_WINDOW_SIZE = 0x4
SETTINGS_MAX_FRAME_SIZE = 0x5
SETTINGS_MAX_HEADER_LIST_SIZE = 0x6

# error codes
NO_ERROR = 0x0
PROTOCOL_ERROR = 0x1
INTERNAL_ERROR = 0x2
FLOW_CONTROL_ERROR = 0x3
STREAM_CLOSED = 0x5
FRAME_SIZE_ERROR = 0x6
REFUSED_STREAM = 0x7
CANCEL = 0x8
COMPRESSION_ERROR = 0x9
ENHANCE_YOUR_CALM = 0xB

DEFAULT_WINDOW = 65_535
MAX_WINDOW = (1 << 31) - 1
DEFAULT_MAX_FRAME = 16_384
# cap on an accumulated (HEADERS + CONTINUATION*) block: far above any
# legitimate gRPC request's headers, far below a memory-exhaustion flood
MAX_HEADER_BLOCK = 256 * 1024
# advertised + locally-enforced SETTINGS_MAX_CONCURRENT_STREAMS: a
# public-facing front door must bound per-connection stream state or a
# misbehaving peer grows `streams` without limit (§5.1.2)
DEFAULT_MAX_STREAMS = 256


class H2ConnectionError(Exception):
    """Fatal connection error; the caller should GOAWAY and close."""

    def __init__(self, code: int, message: str) -> None:
        super().__init__(message)
        self.code = code


# ------------------------------------------------------------------ events


@dataclass(frozen=True)
class HeadersReceived:
    stream_id: int
    headers: list[tuple[bytes, bytes]]
    end_stream: bool


@dataclass(frozen=True)
class DataReceived:
    stream_id: int
    data: bytes
    end_stream: bool


@dataclass(frozen=True)
class StreamReset:
    stream_id: int
    error_code: int


@dataclass(frozen=True)
class ConnectionTerminated:
    error_code: int
    last_stream_id: int


@dataclass(frozen=True)
class SettingsAcked:
    pass


@dataclass(frozen=True)
class PingAcked:
    data: bytes


@dataclass(frozen=True)
class WindowOpened:
    """Send-window grew; any application data deferred by flow control
    has been flushed into the outbound buffer."""

    stream_id: int


# ------------------------------------------------------------------ frames


def encode_frame(ftype: int, flags: int, stream_id: int, payload: bytes) -> bytes:
    return (
        len(payload).to_bytes(3, "big")
        + bytes([ftype, flags])
        + stream_id.to_bytes(4, "big")
        + payload
    )


@dataclass
class _Stream:
    stream_id: int
    send_window: int
    recv_window: int = DEFAULT_WINDOW
    recv_closed: bool = False
    send_closed: bool = False
    # a field block was already delivered on this stream: the next one
    # is trailers (no pseudo-fields allowed, RFC 9113 §8.1)
    recv_headers: bool = False
    # data accepted by send_data but deferred by flow control
    pending: list[tuple[bytes, bool]] = field(default_factory=list)
    # trailers accepted while DATA was still flow-blocked; held raw
    # (un-encoded) and HPACK-encoded only at transmit time so the
    # dynamic-table order matches wire order
    pending_trailers: list[tuple[bytes, bytes]] | None = None


class H2Connection:
    """Sans-IO HTTP/2 endpoint (RFC 7540), client or server role."""

    def __init__(self, client_side: bool) -> None:
        self.client_side = client_side
        self._out = bytearray()
        self._in = bytearray()
        self._preface_seen = client_side  # servers must see it first
        self._sent_initiate = False
        self._encoder = hpack.Encoder()
        self._decoder = hpack.Decoder()
        self.streams: dict[int, _Stream] = {}
        self._next_stream_id = 1 if client_side else 2
        self._highest_peer_stream = 0
        self._highest_local_opened = 0  # high-water of locally OPENED ids
        self.conn_send_window = DEFAULT_WINDOW
        self.conn_recv_window = DEFAULT_WINDOW
        self.peer_max_frame = DEFAULT_MAX_FRAME
        self.peer_initial_window = DEFAULT_WINDOW
        self.max_frame = DEFAULT_MAX_FRAME
        self.max_streams = DEFAULT_MAX_STREAMS  # cap on open peer streams
        # HEADERS fragment assembly state
        self._hdr_stream: int | None = None
        self._hdr_flags = 0
        self._hdr_buf = bytearray()
        self.closed = False

    # ------------------------------------------------------------ lifecycle

    def initiate(self) -> None:
        """Queue the preface (client) and the initial SETTINGS frame."""
        if self._sent_initiate:
            return
        self._sent_initiate = True
        if self.client_side:
            self._out += PREFACE
        pairs = [
            (SETTINGS_MAX_FRAME_SIZE, self.max_frame),
            (SETTINGS_INITIAL_WINDOW_SIZE, DEFAULT_WINDOW),
            (SETTINGS_MAX_CONCURRENT_STREAMS, self.max_streams),
        ]
        if self.client_side:
            # RFC 9113 §6.5.2: ENABLE_PUSH is a client-only setting —
            # stock stacks (golang.org/x/net/http2) treat it from a
            # server as a connection error.
            pairs.insert(0, (SETTINGS_ENABLE_PUSH, 0))
        settings = b"".join(
            sid.to_bytes(2, "big") + val.to_bytes(4, "big") for sid, val in pairs
        )
        self._out += encode_frame(SETTINGS, 0, 0, settings)

    def data_to_send(self) -> bytes:
        out = bytes(self._out)
        del self._out[:]
        return out

    # ------------------------------------------------------------- sending

    def next_stream_id(self) -> int:
        sid = self._next_stream_id
        self._next_stream_id += 2
        return sid

    def _stream_for_send(self, stream_id: int) -> _Stream | None:
        """The stream an application send goes out on, or None to drop
        the send: one whose send side already ended (or will end once
        its queued DATA or trailers go out), a retired stream, or a
        peer-numbered stream the peer has not opened (RFC 9113 §5.1.1:
        a server never sends first on an idle stream). Only a new
        locally-numbered id creates state."""
        st = self.streams.get(stream_id)
        if st is not None:
            if (
                st.send_closed
                or st.pending_trailers is not None
                or (st.pending and st.pending[-1][1])
            ):
                return None
            return st
        if self._peer_initiated(stream_id) or stream_id <= self._highest_local_opened:
            return None
        st = _Stream(stream_id, send_window=self.peer_initial_window)
        self.streams[stream_id] = st
        self._highest_local_opened = stream_id
        return st

    def send_headers(
        self,
        stream_id: int,
        headers: list[tuple[bytes, bytes]],
        end_stream: bool = False,
    ) -> None:
        st = self._stream_for_send(stream_id)
        if st is None:
            return
        if end_stream and st.pending:
            # flow-blocked DATA is still queued: emitting trailers now
            # would put HEADERS(END_STREAM) on the wire BEFORE that data
            # (frames on a stream are ordered — protocol violation and
            # data loss). Hold the raw trailers; _flush_stream emits
            # them the moment the queue drains.
            st.pending_trailers = list(headers)
            return
        self._emit_headers(st, headers, end_stream)

    def _emit_headers(
        self,
        st: _Stream,
        headers: list[tuple[bytes, bytes]],
        end_stream: bool,
    ) -> None:
        block = self._encoder.encode(headers)
        flags = FLAG_END_HEADERS | (FLAG_END_STREAM if end_stream else 0)
        # header blocks are not flow-controlled but are frame-size bound
        if len(block) <= self.peer_max_frame:
            self._out += encode_frame(HEADERS, flags, st.stream_id, block)
        else:
            first, rest = block[: self.peer_max_frame], block[self.peer_max_frame :]
            self._out += encode_frame(
                HEADERS, flags & ~FLAG_END_HEADERS, st.stream_id, first
            )
            while len(rest) > self.peer_max_frame:
                chunk, rest = rest[: self.peer_max_frame], rest[self.peer_max_frame :]
                self._out += encode_frame(CONTINUATION, 0, st.stream_id, chunk)
            self._out += encode_frame(
                CONTINUATION, FLAG_END_HEADERS, st.stream_id, rest
            )
        if end_stream:
            st.send_closed = True
            self._maybe_retire(st)

    def send_data(self, stream_id: int, data: bytes, end_stream: bool = False) -> None:
        """Queue DATA, honouring connection + stream send windows; what
        the windows cannot carry is deferred until WINDOW_UPDATE."""
        st = self._stream_for_send(stream_id)
        if st is None:
            return
        st.pending.append((bytes(data), end_stream))
        self._flush_stream(st)
        self._maybe_retire(st)

    def _flush_stream(self, st: _Stream) -> None:
        """Emit as much pending DATA as the windows allow, then any
        trailers that were waiting for the queue to drain."""
        while st.pending:
            data, end_stream = st.pending[0]
            if not data and end_stream:  # bare end-of-stream marker
                self._out += encode_frame(DATA, FLAG_END_STREAM, st.stream_id, b"")
                st.send_closed = True
                st.pending.pop(0)
                continue
            while data:
                budget = min(
                    len(data), self.conn_send_window, st.send_window, self.peer_max_frame
                )
                if budget <= 0:
                    st.pending[0] = (data, end_stream)
                    return
                chunk, data = data[:budget], data[budget:]
                last = not data and end_stream
                self._out += encode_frame(
                    DATA, FLAG_END_STREAM if last else 0, st.stream_id, chunk
                )
                self.conn_send_window -= len(chunk)
                st.send_window -= len(chunk)
                if last:
                    st.send_closed = True
            st.pending.pop(0)
        if st.pending_trailers is not None:
            # the DATA queue just drained: the deferred trailers can now
            # go out in order (encoded here, at transmit time, so HPACK
            # dynamic-table order matches wire order)
            trailers = st.pending_trailers
            st.pending_trailers = None
            self._emit_headers(st, trailers, end_stream=True)

    def _flush_blocked(self) -> list[object]:
        """The one flush path for flow-blocked streams, run whenever a
        send window may have grown (SETTINGS, connection or stream
        WINDOW_UPDATE): flush every stream with deferred DATA in arrival
        order and report each whose queue drained. Dict insertion order
        is arrival order — each stream is inserted once and a retired id
        is never re-created. Iterates a SNAPSHOT: a flush can emit
        deferred trailers and retire (pop) the stream, and mutating
        self.streams mid-iteration is a crash."""
        events: list[object] = []
        for st in list(self.streams.values()):
            if st.pending:
                self._flush_stream(st)
                self._maybe_retire(st)
                if not st.pending:
                    events.append(WindowOpened(st.stream_id))
        return events

    def send_goaway(self, code: int = NO_ERROR, debug: bytes = b"") -> None:
        payload = self._highest_peer_stream.to_bytes(4, "big") + code.to_bytes(
            4, "big"
        ) + debug
        self._out += encode_frame(GOAWAY, 0, 0, payload)
        self.closed = True

    def send_ping(self, data: bytes = b"\x00" * 8) -> None:
        self._out += encode_frame(PING, 0, 0, data)

    # ------------------------------------------------------------ receiving

    def receive_data(self, data: bytes) -> list[object]:
        self._in += data
        events: list[object] = []
        if not self._preface_seen:
            if len(self._in) < len(PREFACE):
                return events
            if bytes(self._in[: len(PREFACE)]) != PREFACE:
                raise H2ConnectionError(PROTOCOL_ERROR, "bad connection preface")
            del self._in[: len(PREFACE)]
            self._preface_seen = True
            self.initiate()  # server replies with its SETTINGS
        while True:
            if len(self._in) < 9:
                return events
            length = int.from_bytes(self._in[0:3], "big")
            if length > self.max_frame:
                raise H2ConnectionError(FRAME_SIZE_ERROR, "frame exceeds max size")
            if len(self._in) < 9 + length:
                return events
            ftype = self._in[3]
            flags = self._in[4]
            stream_id = int.from_bytes(self._in[5:9], "big") & 0x7FFFFFFF
            payload = bytes(self._in[9 : 9 + length])
            del self._in[: 9 + length]
            events.extend(self._handle_frame(ftype, flags, stream_id, payload))

    # -- frame dispatch

    def _handle_frame(
        self, ftype: int, flags: int, stream_id: int, payload: bytes
    ) -> list[object]:
        if self._hdr_stream is not None and ftype != CONTINUATION:
            raise H2ConnectionError(
                PROTOCOL_ERROR, "expected CONTINUATION for open header block"
            )
        if ftype == DATA:
            return self._on_data(flags, stream_id, payload)
        if ftype == HEADERS:
            return self._on_headers(flags, stream_id, payload)
        if ftype == CONTINUATION:
            return self._on_continuation(flags, stream_id, payload)
        if ftype == SETTINGS:
            return self._on_settings(flags, stream_id, payload)
        if ftype == WINDOW_UPDATE:
            return self._on_window_update(stream_id, payload)
        if ftype == RST_STREAM:
            return self._on_rst(stream_id, payload)
        if ftype == PING:
            if stream_id != 0:
                raise H2ConnectionError(PROTOCOL_ERROR, "PING on a stream")
            return self._on_ping(flags, payload)
        if ftype == GOAWAY:
            if stream_id != 0:
                raise H2ConnectionError(PROTOCOL_ERROR, "GOAWAY on a stream")
            return self._on_goaway(payload)
        if ftype == PRIORITY:
            if len(payload) != 5:
                raise H2ConnectionError(FRAME_SIZE_ERROR, "bad PRIORITY length")
            return []
        if ftype == PUSH_PROMISE:
            raise H2ConnectionError(PROTOCOL_ERROR, "push is disabled")
        return []  # unknown frame types are ignored (§4.1)

    def _peer_initiated(self, stream_id: int) -> bool:
        return (stream_id % 2 == 1) != self.client_side

    def _track_peer_stream(
        self, stream_id: int, create: bool = True
    ) -> _Stream | None:
        """Resolve the stream a received frame targets, policing stream
        identity (§5.1.1) and concurrency (§5.1.2). Returns None for a
        frame on a retired (fully-closed) stream — the caller ignores
        it; raises on protocol violations; sends REFUSED_STREAM past the
        concurrency cap instead of growing unbounded per-peer state.
        Only HEADERS may open a peer stream (``create=True``): §5.1
        makes any other frame type on an idle stream a connection-level
        PROTOCOL_ERROR."""
        st = self.streams.get(stream_id)
        if st is not None:
            return st
        if self._peer_initiated(stream_id):
            if stream_id <= self._highest_peer_stream:
                return None  # closed + retired: late frames are dropped
            if not create:
                raise H2ConnectionError(
                    PROTOCOL_ERROR, "non-HEADERS frame on an idle stream"
                )
            n_open = sum(
                1 for s in self.streams.values() if self._peer_initiated(s.stream_id)
            )
            if n_open >= self.max_streams:
                # refuse without creating state (the whole point of the cap)
                self._highest_peer_stream = stream_id
                self._out += encode_frame(
                    RST_STREAM, 0, stream_id, REFUSED_STREAM.to_bytes(4, "big")
                )
                return None
            self._highest_peer_stream = stream_id
            st = _Stream(stream_id, send_window=self.peer_initial_window)
            self.streams[stream_id] = st
            return st
        # locally-numbered id from the peer: never valid as a NEW stream
        if stream_id >= self._next_stream_id:
            raise H2ConnectionError(
                PROTOCOL_ERROR, "peer used a locally-numbered unopened stream id"
            )
        return None  # closed local stream: late frames are dropped

    def _maybe_retire(self, st: _Stream) -> None:
        """Drop fully-closed streams so per-connection state is bounded
        by the concurrency cap, not by connection lifetime."""
        if st.recv_closed and st.send_closed and not st.pending:
            self.streams.pop(st.stream_id, None)

    def _rst_and_retire(self, st: _Stream, code: int) -> None:
        """The one local-reset path: emit RST_STREAM and drop the
        stream's state. Any deferred response is abandoned, and a later
        send_headers/send_data on the retired id is a no-op."""
        self._out += encode_frame(
            RST_STREAM, 0, st.stream_id, code.to_bytes(4, "big")
        )
        self.streams.pop(st.stream_id, None)

    def _reset_half_closed(self, st: _Stream) -> list[object]:
        """A frame arrived after END_STREAM on a half-closed(remote)
        stream: RFC 9113 §5.1 requires a STREAM_CLOSED stream error;
        a StreamReset event tells the RPC layer to drop its state."""
        self._rst_and_retire(st, STREAM_CLOSED)
        return [StreamReset(st.stream_id, STREAM_CLOSED)]

    def reset_stream(self, stream_id: int, code: int = PROTOCOL_ERROR) -> None:
        """Application-initiated RST_STREAM (e.g. the gRPC layer refusing
        a HEADERS replay on an active RPC). No-op on unknown or retired
        streams: it never creates stream state."""
        st = self.streams.get(stream_id)
        if st is not None:
            self._rst_and_retire(st, code)

    def _on_data(self, flags: int, stream_id: int, payload: bytes) -> list[object]:
        if stream_id == 0:
            raise H2ConnectionError(PROTOCOL_ERROR, "DATA on stream 0")
        flow_len = len(payload)
        if flags & FLAG_PADDED:
            if not payload:
                raise H2ConnectionError(PROTOCOL_ERROR, "empty padded DATA")
            pad = payload[0]
            if pad >= len(payload):
                raise H2ConnectionError(PROTOCOL_ERROR, "pad length exceeds frame")
            payload = payload[1 : len(payload) - pad]
        st = self._track_peer_stream(stream_id, create=False)
        self.conn_recv_window -= flow_len
        if self.conn_recv_window < 0:
            raise H2ConnectionError(FLOW_CONTROL_ERROR, "recv window exceeded")
        if st is not None:
            st.recv_window -= flow_len
            if st.recv_window < 0:
                raise H2ConnectionError(FLOW_CONTROL_ERROR, "recv window exceeded")
        # replenish immediately: the ingest server consumes as it reads
        if flow_len:
            self._out += encode_frame(
                WINDOW_UPDATE, 0, 0, flow_len.to_bytes(4, "big")
            )
            self.conn_recv_window += flow_len
            if st is not None and not st.recv_closed and not (flags & FLAG_END_STREAM):
                self._out += encode_frame(
                    WINDOW_UPDATE, 0, stream_id, flow_len.to_bytes(4, "big")
                )
                st.recv_window += flow_len
        if st is None:
            # DATA on a closed (retired/refused) stream: §6.1 calls for
            # a STREAM_CLOSED stream error; the connection-level window
            # accounting above already replenished the flow it consumed
            self._out += encode_frame(
                RST_STREAM, 0, stream_id, STREAM_CLOSED.to_bytes(4, "big")
            )
            return []
        if st.recv_closed:
            # DATA after END_STREAM on a half-closed(remote) stream
            # (§5.1/§6.1): stream error STREAM_CLOSED. Never re-deliver
            # an event — a forged extra DATA must not land a payload a
            # second time at the RPC layer.
            return self._reset_half_closed(st)
        end = bool(flags & FLAG_END_STREAM)
        if end:
            st.recv_closed = True
            self._maybe_retire(st)
        return [DataReceived(stream_id, payload, end)]

    def _on_headers(self, flags: int, stream_id: int, payload: bytes) -> list[object]:
        if stream_id == 0:
            raise H2ConnectionError(PROTOCOL_ERROR, "HEADERS on stream 0")
        if flags & FLAG_PADDED:
            if not payload:
                raise H2ConnectionError(PROTOCOL_ERROR, "empty padded HEADERS")
            pad = payload[0]
            if pad >= len(payload):
                raise H2ConnectionError(PROTOCOL_ERROR, "pad length exceeds frame")
            payload = payload[1 : len(payload) - pad]
        if flags & FLAG_PRIORITY:
            if len(payload) < 5:
                raise H2ConnectionError(FRAME_SIZE_ERROR, "short priority block")
            payload = payload[5:]
        self._track_peer_stream(stream_id)
        if flags & FLAG_END_HEADERS:
            return self._finish_headers(stream_id, flags, payload)
        self._hdr_stream = stream_id
        self._hdr_flags = flags
        self._hdr_buf = bytearray(payload)
        return []

    def _on_continuation(
        self, flags: int, stream_id: int, payload: bytes
    ) -> list[object]:
        if self._hdr_stream is None or stream_id != self._hdr_stream:
            raise H2ConnectionError(PROTOCOL_ERROR, "unexpected CONTINUATION")
        if len(self._hdr_buf) + len(payload) > MAX_HEADER_BLOCK:
            # a CONTINUATION flood must not grow per-connection memory
            # without bound: cap the accumulated block (the compressed
            # analog of SETTINGS_MAX_HEADER_LIST_SIZE) and tear down
            raise H2ConnectionError(
                ENHANCE_YOUR_CALM, "header block exceeds the size cap"
            )
        self._hdr_buf += payload
        if flags & FLAG_END_HEADERS:
            block = bytes(self._hdr_buf)
            hflags = self._hdr_flags
            self._hdr_stream = None
            self._hdr_buf = bytearray()
            return self._finish_headers(stream_id, hflags, block)
        return []

    def _finish_headers(
        self, stream_id: int, flags: int, block: bytes
    ) -> list[object]:
        # ALWAYS decode, even for a dropped stream — HPACK state is
        # connection-level; skipping a block would corrupt every later one
        try:
            headers = self._decoder.decode(block)
        except hpack.HpackError as exc:
            raise H2ConnectionError(COMPRESSION_ERROR, str(exc)) from exc
        st = self.streams.get(stream_id)
        if st is None:
            return []  # retired/refused stream: headers dropped
        if st.recv_closed:
            # HEADERS after END_STREAM on a half-closed(remote) stream
            # (§5.1): STREAM_CLOSED, and no event reaches the RPC layer
            return self._reset_half_closed(st)
        if not self._field_block_ok(headers, is_trailers=st.recv_headers):
            # malformed field block (§8.2/§8.3): stream error — the
            # request/trailers never reach the application layer
            self._rst_and_retire(st, PROTOCOL_ERROR)
            return [StreamReset(stream_id, PROTOCOL_ERROR)]
        st.recv_headers = True
        end = bool(flags & FLAG_END_STREAM)
        if end:
            st.recv_closed = True
            self._maybe_retire(st)
        return [HeadersReceived(stream_id, headers, end)]

    # pseudo-fields legal in the block types this endpoint receives
    _REQUEST_PSEUDO = frozenset((b":method", b":scheme", b":path", b":authority"))
    _RESPONSE_PSEUDO = frozenset((b":status",))
    # connection-specific fields are forbidden in HTTP/2 (§8.2.2)
    _CONNECTION_FIELDS = frozenset(
        (b"connection", b"keep-alive", b"proxy-connection",
         b"transfer-encoding", b"upgrade")
    )

    def _field_block_ok(
        self, headers: list[tuple[bytes, bytes]], is_trailers: bool
    ) -> bool:
        """RFC 9113 §8.2/§8.3 malformed-field-block rules: lowercase
        field names, pseudo-fields before regular fields and never in
        trailers, only the defined pseudo-fields for the peer's role,
        no duplicates among them, no connection-specific fields, and
        ``te`` restricted to ``trailers``."""
        allowed = (
            self._RESPONSE_PSEUDO if self.client_side else self._REQUEST_PSEUDO
        )
        seen_regular = False
        seen_pseudo: set[bytes] = set()
        for name, value in headers:
            if not name or any(0x41 <= b <= 0x5A for b in name):
                return False  # empty or upper-case field name (§8.2.1)
            if name.startswith(b":"):
                if seen_regular or is_trailers:
                    return False  # pseudo after regular / in trailers
                if name not in allowed or name in seen_pseudo:
                    return False
                seen_pseudo.add(name)
            else:
                seen_regular = True
                if name in self._CONNECTION_FIELDS:
                    return False
                if name == b"te" and value != b"trailers":
                    return False
        return True

    def _on_settings(self, flags: int, stream_id: int, payload: bytes) -> list[object]:
        if stream_id != 0:
            raise H2ConnectionError(PROTOCOL_ERROR, "SETTINGS on a stream")
        if flags & FLAG_ACK:
            if payload:
                raise H2ConnectionError(FRAME_SIZE_ERROR, "SETTINGS ack with payload")
            return [SettingsAcked()]
        if len(payload) % 6:
            raise H2ConnectionError(FRAME_SIZE_ERROR, "bad SETTINGS length")
        for i in range(0, len(payload), 6):
            sid = int.from_bytes(payload[i : i + 2], "big")
            val = int.from_bytes(payload[i + 2 : i + 6], "big")
            if sid == SETTINGS_INITIAL_WINDOW_SIZE:
                if val > MAX_WINDOW:
                    raise H2ConnectionError(FLOW_CONTROL_ERROR, "window too large")
                delta = val - self.peer_initial_window
                self.peer_initial_window = val
                for st in self.streams.values():
                    st.send_window += delta
                    if st.send_window > MAX_WINDOW:
                        # §6.9.2: a retune that pushes any stream window
                        # past 2^31-1 is a connection flow-control error;
                        # silently keeping the overflowed window would
                        # permit over-sending
                        raise H2ConnectionError(
                            FLOW_CONTROL_ERROR,
                            "SETTINGS retune overflowed a stream window",
                        )
            elif sid == SETTINGS_MAX_FRAME_SIZE:
                if not (DEFAULT_MAX_FRAME <= val <= (1 << 24) - 1):
                    raise H2ConnectionError(PROTOCOL_ERROR, "bad max frame size")
                self.peer_max_frame = val
            elif sid == SETTINGS_HEADER_TABLE_SIZE:
                self._encoder.set_max_table_size(min(val, 4096))
            elif sid == SETTINGS_ENABLE_PUSH:
                # §6.5.2: only 0/1 are defined, and a server MUST NOT
                # send 1 (only clients may opt into receiving pushes)
                if val > 1 or (val == 1 and self.client_side):
                    raise H2ConnectionError(PROTOCOL_ERROR, "bad ENABLE_PUSH value")
            # MAX_CONCURRENT_STREAMS / MAX_HEADER_LIST_SIZE: stored
            # semantics not needed for this endpoint's behavior
        self._out += encode_frame(SETTINGS, FLAG_ACK, 0, b"")
        return self._flush_blocked()  # settings may have opened send windows

    def _on_window_update(self, stream_id: int, payload: bytes) -> list[object]:
        if len(payload) != 4:
            raise H2ConnectionError(FRAME_SIZE_ERROR, "bad WINDOW_UPDATE length")
        inc = int.from_bytes(payload, "big") & 0x7FFFFFFF
        if inc == 0:
            raise H2ConnectionError(PROTOCOL_ERROR, "zero window increment")
        if stream_id == 0:
            self.conn_send_window += inc
            if self.conn_send_window > MAX_WINDOW:
                raise H2ConnectionError(FLOW_CONTROL_ERROR, "window overflow")
        else:
            st = self.streams.get(stream_id)
            if st is None:
                # §5.1: WINDOW_UPDATE is legal on closed streams (late
                # frames) but a connection error on IDLE ones — the
                # same identity test RST_STREAM applies
                idle = (
                    stream_id > self._highest_peer_stream
                    if self._peer_initiated(stream_id)
                    else stream_id >= self._next_stream_id
                )
                if idle:
                    raise H2ConnectionError(
                        PROTOCOL_ERROR, "WINDOW_UPDATE on idle stream"
                    )
                return []
            st.send_window += inc
            if st.send_window > MAX_WINDOW:
                self._rst_and_retire(st, FLOW_CONTROL_ERROR)
                return [StreamReset(stream_id, FLOW_CONTROL_ERROR)]
        return self._flush_blocked()

    def _on_rst(self, stream_id: int, payload: bytes) -> list[object]:
        if len(payload) != 4:
            raise H2ConnectionError(FRAME_SIZE_ERROR, "bad RST_STREAM length")
        if stream_id == 0:
            raise H2ConnectionError(PROTOCOL_ERROR, "RST_STREAM on stream 0")
        code = int.from_bytes(payload, "big")
        if self.streams.pop(stream_id, None) is None:
            # RST for an idle stream is a connection error (§6.4); for a
            # retired (closed) stream it is ignored
            idle = (
                stream_id > self._highest_peer_stream
                if self._peer_initiated(stream_id)
                else stream_id >= self._next_stream_id
            )
            if idle:
                raise H2ConnectionError(PROTOCOL_ERROR, "RST_STREAM on idle stream")
            return []
        return [StreamReset(stream_id, code)]

    def _on_ping(self, flags: int, payload: bytes) -> list[object]:
        if len(payload) != 8:
            raise H2ConnectionError(FRAME_SIZE_ERROR, "bad PING length")
        if flags & FLAG_ACK:
            return [PingAcked(payload)]
        self._out += encode_frame(PING, FLAG_ACK, 0, payload)
        return []

    def _on_goaway(self, payload: bytes) -> list[object]:
        if len(payload) < 8:
            raise H2ConnectionError(FRAME_SIZE_ERROR, "bad GOAWAY length")
        last = int.from_bytes(payload[0:4], "big") & 0x7FFFFFFF
        code = int.from_bytes(payload[4:8], "big")
        self.closed = True
        return [ConnectionTerminated(code, last)]
