"""HTTP/2 sans-IO connection tests (RFC 7540): handshake, header
blocks (incl. CONTINUATION and padding), DATA with real flow control in
both directions, PING/RST/GOAWAY, and frame validation."""

from __future__ import annotations

import pytest

from bristle_spark.ingest import h2
from bristle_spark.ingest.h2 import (
    ConnectionTerminated,
    DataReceived,
    H2Connection,
    H2ConnectionError,
    HeadersReceived,
    PingAcked,
    SettingsAcked,
    StreamReset,
    WindowOpened,
    encode_frame,
)

REQ = [
    (b":method", b"POST"),
    (b":scheme", b"http"),
    (b":path", b"/bristle.BristleIngestService/Streaming"),
    (b":authority", b"localhost"),
    (b"content-type", b"application/grpc"),
    (b"te", b"trailers"),
]


def pump(a: H2Connection, b: H2Connection) -> list[object]:
    """Deliver everything a has queued to b; return b's events."""
    events: list[object] = []
    while True:
        out = a.data_to_send()
        if not out:
            return events
        events.extend(b.receive_data(out))
        a, b = b, a  # b's auto-replies (acks, window updates) flow back
        events_other = []  # swap back on next loop iteration
        a, b = b, a


def handshake() -> tuple[H2Connection, H2Connection]:
    client = H2Connection(client_side=True)
    server = H2Connection(client_side=False)
    client.initiate()
    sev = server.receive_data(client.data_to_send())
    cev = client.receive_data(server.data_to_send())
    sev += server.receive_data(client.data_to_send())
    assert any(isinstance(e, SettingsAcked) for e in cev + sev)
    return client, server


def test_handshake_settings_ack_both_ways():
    client, server = handshake()
    assert not client.closed and not server.closed


def test_preface_required():
    server = H2Connection(client_side=False)
    with pytest.raises(H2ConnectionError):
        server.receive_data(b"GET / HTTP/1.1\r\nHost: x\r\n\r\n" + b"\x00" * 10)


def test_headers_and_data_roundtrip():
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ)
    client.send_data(sid, b"hello grpc", end_stream=True)
    ev = server.receive_data(client.data_to_send())
    assert HeadersReceived(sid, REQ, False) in ev
    assert DataReceived(sid, b"hello grpc", True) in ev
    # server responds: headers, data, trailers
    server.send_headers(sid, [(b":status", b"200")])
    server.send_data(sid, b"resp")
    server.send_headers(sid, [(b"grpc-status", b"0")], end_stream=True)
    cev = client.receive_data(server.data_to_send())
    kinds = [type(e).__name__ for e in cev]
    assert kinds.count("HeadersReceived") == 2
    assert DataReceived(sid, b"resp", False) in cev


def test_large_header_block_uses_continuation():
    client, server = handshake()
    sid = client.next_stream_id()
    big = [(f"x-h-{i}".encode(), bytes([65 + i % 26]) * 400) for i in range(200)]
    client.send_headers(sid, REQ + big, end_stream=True)
    raw = client.data_to_send()
    # at least one CONTINUATION frame on the wire
    assert any(
        raw[i + 3] == h2.CONTINUATION
        for i in range(0, len(raw) - 9)
    )
    ev = server.receive_data(raw)
    hr = [e for e in ev if isinstance(e, HeadersReceived)]
    assert len(hr) == 1
    assert hr[0].headers == REQ + big
    assert hr[0].end_stream


def test_flow_control_defers_and_resumes():
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ)
    payload = bytes(range(256)) * 1024  # 256 KiB > 64 KiB initial window
    client.send_data(sid, payload, end_stream=True)
    st = client.streams[sid]
    assert st.pending  # deferred by the 65535-byte windows
    delivered = bytearray()
    for _ in range(20):
        ev = server.receive_data(client.data_to_send())
        for e in ev:
            if isinstance(e, DataReceived):
                delivered += e.data
        # server's auto WINDOW_UPDATEs flow back and reopen the window
        client.receive_data(server.data_to_send())
        if not client.streams[sid].pending:
            ev = server.receive_data(client.data_to_send())
            for e in ev:
                if isinstance(e, DataReceived):
                    delivered += e.data
            break
    assert bytes(delivered) == payload
    assert client.streams[sid].send_closed


def test_data_padding_stripped_but_flow_counted():
    client, server = handshake()
    sid = 1
    client.send_headers(sid, REQ)
    server.receive_data(client.data_to_send())
    pad = 10
    body = b"abc"
    frame = encode_frame(
        h2.DATA, h2.FLAG_PADDED, sid, bytes([pad]) + body + b"\x00" * pad
    )
    before = server.conn_recv_window
    ev = server.receive_data(frame)
    assert DataReceived(sid, body, False) in ev
    assert server.conn_recv_window == before  # replenished in full


def test_ping_is_acked():
    client, server = handshake()
    client.send_ping(b"12345678")
    server.receive_data(client.data_to_send())
    ev = client.receive_data(server.data_to_send())
    assert PingAcked(b"12345678") in ev


def test_rst_stream_event_and_drop():
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ)
    server.receive_data(client.data_to_send())
    server.reset_stream(sid, h2.CANCEL)
    ev = client.receive_data(server.data_to_send())
    assert StreamReset(sid, h2.CANCEL) in ev
    # further sends on the reset stream are dropped silently
    client.send_data(sid, b"late", end_stream=True)
    assert client.data_to_send() == b""


def test_goaway_terminates():
    client, server = handshake()
    server.send_goaway(h2.NO_ERROR)
    ev = client.receive_data(server.data_to_send())
    assert any(isinstance(e, ConnectionTerminated) for e in ev)
    assert server.closed


def test_zero_window_increment_is_protocol_error():
    client, server = handshake()
    with pytest.raises(H2ConnectionError):
        server.receive_data(
            encode_frame(h2.WINDOW_UPDATE, 0, 0, (0).to_bytes(4, "big"))
        )


def test_bad_settings_length_rejected():
    client, server = handshake()
    with pytest.raises(H2ConnectionError):
        server.receive_data(encode_frame(h2.SETTINGS, 0, 0, b"\x00\x01\x00"))


def test_oversized_frame_rejected():
    client, server = handshake()
    with pytest.raises(H2ConnectionError):
        server.receive_data(
            (1 << 20).to_bytes(3, "big") + bytes([h2.DATA, 0]) + (1).to_bytes(4, "big")
        )


def test_interleaved_frame_during_header_block_rejected():
    client, server = handshake()
    hdr = encode_frame(h2.HEADERS, 0, 1, b"")  # no END_HEADERS
    ping = encode_frame(h2.PING, 0, 0, b"\x00" * 8)
    server.receive_data(hdr)
    with pytest.raises(H2ConnectionError):
        server.receive_data(ping)


def test_initial_window_size_retunes_live_streams():
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ)
    server.receive_data(client.data_to_send())
    # server shrinks the initial window to 10 bytes
    frame = encode_frame(
        h2.SETTINGS,
        0,
        0,
        h2.SETTINGS_INITIAL_WINDOW_SIZE.to_bytes(2, "big") + (10).to_bytes(4, "big"),
    )
    client.receive_data(frame)
    client.send_data(sid, b"x" * 100_000)
    sent_now = client.data_to_send()
    # only the shrunken window's worth of DATA may leave (plus ack)
    data_bytes = sum(
        int.from_bytes(sent_now[i : i + 3], "big")
        for i in range(0, len(sent_now) - 8, 9)
        if sent_now[i + 3] == h2.DATA
    ) if sent_now else 0
    assert client.streams[sid].pending


def test_window_opened_event_after_update():
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ)
    client.send_data(sid, b"z" * (h2.DEFAULT_WINDOW + 5), end_stream=True)
    assert client.streams[sid].pending
    server.receive_data(client.data_to_send())
    ev = client.receive_data(server.data_to_send())
    assert any(isinstance(e, WindowOpened) for e in ev)
    assert not client.streams[sid].pending


# --- flow-blocked streams: one arrival-order flush pass ---

RESP = [(b":status", b"200"), (b"content-type", b"application/grpc")]
# RFC 9218 §7.1 frame type; h2 has no handler for it, so it falls to the
# unknown-frame rule (ignored), as in grpc-go
PRIORITY_UPDATE = 0x10


def _exhaust_conn_window(client: H2Connection, server: H2Connection) -> int:
    """Open a filler stream and spend the whole 65535-byte connection
    window on it, WITHOUT letting the server's replenishing
    WINDOW_UPDATEs flow back yet. Returns the filler stream id."""
    filler = client.next_stream_id()
    client.send_headers(filler, REQ)
    client.send_data(filler, b"x" * h2.DEFAULT_WINDOW)
    server.receive_data(client.data_to_send())
    assert client.conn_send_window == 0
    return filler


def _data_stream_order(conn: H2Connection, wire: bytes) -> list[int]:
    return [
        e.stream_id
        for e in conn.receive_data(wire)
        if isinstance(e, DataReceived) and e.data
    ]


def test_blocked_streams_complete_in_arrival_order():
    client, server = handshake()
    _exhaust_conn_window(client, server)
    s1 = client.next_stream_id()
    s2 = client.next_stream_id()
    client.send_headers(s1, REQ)
    client.send_headers(s2, REQ)
    client.send_data(s1, b"a" * 40_000)
    client.send_data(s2, b"b" * 40_000)
    server.receive_data(client.data_to_send())
    client.receive_data(server.data_to_send())
    order = _data_stream_order(server, client.data_to_send())
    # sequential completion in arrival order: every s1 frame precedes
    # every s2 frame in the burst
    assert order and max(i for i, s in enumerate(order) if s == s1) < min(
        i for i, s in enumerate(order) if s == s2
    )


def test_stream_window_blocked_stream_does_not_hold_back_later_stream():
    client, server = handshake()
    s1 = client.next_stream_id()
    s2 = client.next_stream_id()
    client.send_headers(s1, REQ)
    client.send_headers(s2, REQ)
    server.receive_data(client.data_to_send())
    server.send_headers(s1, RESP)
    server.send_headers(s2, RESP)
    server.send_data(s1, b"a" * h2.DEFAULT_WINDOW)  # spends s1's and the conn window
    server.send_data(s1, b"a" * 1000)  # blocked by both windows
    server.send_data(s2, b"b" * 1000)  # blocked by the connection window only
    client.receive_data(server.data_to_send())
    client.data_to_send()  # drop the client's replenishing WINDOW_UPDATEs
    assert server.conn_send_window == 0
    ev = server.receive_data(
        encode_frame(h2.WINDOW_UPDATE, 0, 0, (5000).to_bytes(4, "big"))
    )
    assert ev == [WindowOpened(s2)]
    assert _data_stream_order(client, server.data_to_send()) == [s2]
    assert server.streams[s1].pending  # still waiting on its own window


def test_stream_ended_by_a_window_update_flush_is_retired():
    """A stream whose END_STREAM DATA leaves on a stream WINDOW_UPDATE,
    after the request already ended, is fully closed: its state is dropped."""
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ, end_stream=True)
    server.receive_data(client.data_to_send())
    server.send_headers(sid, RESP)
    server.send_data(sid, b"r" * (h2.DEFAULT_WINDOW + 10), end_stream=True)
    assert server.streams[sid].pending
    client.receive_data(server.data_to_send())
    server.receive_data(client.data_to_send())  # conn + stream WINDOW_UPDATEs
    assert sid not in server.streams


def test_priority_signals_are_ignored():
    """Like grpc-go, the stack reads neither the RFC 9218 `priority`
    request header nor PRIORITY_UPDATE frames: a `u=0` header on the
    later stream and PRIORITY_UPDATEs on stream 0, on a stream and with
    a short payload raise nothing, and the blocked responses still
    complete in arrival order."""
    client, server = handshake()
    filler, s1, s2 = (client.next_stream_id() for _ in range(3))
    client.send_headers(filler, REQ)
    client.send_headers(s1, REQ)
    client.send_headers(s2, REQ + [(b"priority", b"u=0")])
    server.receive_data(client.data_to_send())
    for sid in (filler, s1, s2):
        server.send_headers(sid, RESP)
    server.send_data(filler, b"x" * h2.DEFAULT_WINDOW)  # spends the conn window
    server.send_data(s1, b"a" * 40_000)
    server.send_data(s2, b"b" * 40_000)
    client.receive_data(server.data_to_send())
    assert server.conn_send_window == 0
    for sid, payload in (
        (0, s2.to_bytes(4, "big") + b"u=0"),
        (s2, s2.to_bytes(4, "big") + b"u=0"),
        (0, b"\x00\x00"),
    ):
        assert server.receive_data(encode_frame(PRIORITY_UPDATE, 0, sid, payload)) == []
    server.receive_data(client.data_to_send())  # replenishing WINDOW_UPDATEs
    order = _data_stream_order(client, server.data_to_send())
    assert order and max(i for i, s in enumerate(order) if s == s1) < min(
        i for i, s in enumerate(order) if s == s2
    )


# --- round-10 hardening: stream-state policing + bounded state (§5.1) ---


def test_settings_retune_overflowing_stream_window_is_flow_control_error():
    """§6.9.2: INITIAL_WINDOW_SIZE retune that pushes a stream's send
    window past 2^31-1 must be a FLOW_CONTROL_ERROR, not silent."""
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ)
    server.receive_data(client.data_to_send())
    # manually open the stream's window near the max, then retune up
    st = client.streams[sid]
    st.send_window = h2.MAX_WINDOW - 10
    frame = encode_frame(
        h2.SETTINGS,
        0,
        0,
        h2.SETTINGS_INITIAL_WINDOW_SIZE.to_bytes(2, "big")
        + (h2.DEFAULT_WINDOW + 100).to_bytes(4, "big"),
    )
    with pytest.raises(H2ConnectionError) as ei:
        client.receive_data(frame)
    assert ei.value.code == h2.FLOW_CONTROL_ERROR


def test_peer_cannot_use_locally_numbered_unopened_stream_id():
    """§5.1.1: a server-numbered (even) id arriving from the client as a
    new stream is a PROTOCOL_ERROR."""
    client, server = handshake()
    block = server_encode_headers(server, REQ)
    frame = encode_frame(h2.HEADERS, h2.FLAG_END_HEADERS, 2, block)
    with pytest.raises(H2ConnectionError) as ei:
        server.receive_data(frame)
    assert ei.value.code == h2.PROTOCOL_ERROR


def server_encode_headers(conn: H2Connection, headers) -> bytes:
    # use a throwaway encoder compatible with conn's decoder defaults
    from bristle_spark.ingest import hpack

    return hpack.Encoder().encode(headers)


def test_concurrency_cap_refuses_excess_streams_without_state():
    client, server = handshake()
    server.max_streams = 4
    for _ in range(6):
        sid = client.next_stream_id()
        client.send_headers(sid, REQ)
    ev = server.receive_data(client.data_to_send())
    opened = [e for e in ev if isinstance(e, HeadersReceived)]
    assert len(opened) == 4
    n_peer = sum(1 for s in server.streams.values() if s.stream_id % 2 == 1)
    assert n_peer <= 4
    # the refused streams got RST_STREAM(REFUSED_STREAM) back
    cev = client.receive_data(server.data_to_send())
    refused = [e for e in cev if isinstance(e, StreamReset)]
    assert len(refused) == 2
    assert all(e.error_code == h2.REFUSED_STREAM for e in refused)


def test_fully_closed_streams_are_retired_from_state():
    """A request/response exchange must not leave per-stream state
    behind — state is bounded by concurrency, not connection lifetime."""
    client, server = handshake()
    for _ in range(8):
        sid = client.next_stream_id()
        client.send_headers(sid, REQ, end_stream=True)
        server.receive_data(client.data_to_send())
        server.send_headers(sid, [(b":status", b"200")], end_stream=True)
        client.receive_data(server.data_to_send())
    assert len(server.streams) == 0
    assert len(client.streams) == 0


def test_late_data_on_retired_stream_is_dropped_not_crashed():
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ, end_stream=True)
    server.receive_data(client.data_to_send())
    server.send_headers(sid, [(b":status", b"200")], end_stream=True)
    client.receive_data(server.data_to_send())
    assert sid not in server.streams
    # forge late DATA on the retired stream: dropped, no event, no error
    ev = server.receive_data(encode_frame(h2.DATA, 0, sid, b"zombie"))
    assert ev == []


def test_rst_on_idle_stream_is_protocol_error():
    client, server = handshake()
    frame = encode_frame(h2.RST_STREAM, 0, 99, h2.CANCEL.to_bytes(4, "big"))
    with pytest.raises(H2ConnectionError) as ei:
        server.receive_data(frame)
    assert ei.value.code == h2.PROTOCOL_ERROR


def test_trailers_defer_behind_flow_blocked_data():
    """Trailers sent while DATA is still flow-blocked must NOT overtake
    it on the wire (frames on a stream are ordered); they go out, in
    order, once the peer grants window."""
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ, end_stream=True)
    server.receive_data(client.data_to_send())
    server.send_headers(sid, [(b":status", b"200")])
    # exhaust the stream send window, then queue more DATA + trailers
    body = b"x" * h2.DEFAULT_WINDOW
    server.send_data(sid, body)
    server.send_data(sid, b"tail")
    server.send_headers(sid, [(b"grpc-status", b"0")], end_stream=True)
    ev = client.receive_data(server.data_to_send())
    datas = [e for e in ev if isinstance(e, DataReceived)]
    heads = [e for e in ev if isinstance(e, HeadersReceived)]
    assert sum(len(e.data) for e in datas) == h2.DEFAULT_WINDOW
    # only the response headers arrived; the trailers are still held
    assert len(heads) == 1 and not any(e.end_stream for e in heads)
    # client's auto window replenishment reaches the server...
    server.receive_data(client.data_to_send())
    ev = client.receive_data(server.data_to_send())
    datas = [e for e in ev if isinstance(e, DataReceived)]
    trailers = [e for e in ev if isinstance(e, HeadersReceived)]
    assert b"".join(e.data for e in datas) == b"tail"
    assert len(trailers) == 1 and trailers[0].end_stream
    assert (b"grpc-status", b"0") in trailers[0].headers
    # both sides fully closed and retired
    assert sid not in server.streams


def test_trailers_behind_data_that_ends_the_stream_are_refused():
    """Once queued DATA already ends the stream, a trailing
    send_headers(end_stream=True) is refused up front: nothing is parked
    that the flush would never send, and once the DATA drains only it
    reaches the wire and the stream retires with no trailers held."""
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ, end_stream=True)
    server.receive_data(client.data_to_send())
    server.send_headers(sid, RESP)
    server.send_data(sid, b"r" * (h2.DEFAULT_WINDOW + 10), end_stream=True)
    st = server.streams[sid]
    assert st.pending and not st.send_closed
    server.send_headers(sid, [(b"grpc-status", b"0")], end_stream=True)
    assert st.pending_trailers is None
    server.send_data(sid, b"late")  # refused too: the stream is ending
    ev = client.receive_data(server.data_to_send())
    server.receive_data(client.data_to_send())  # replenishing WINDOW_UPDATEs
    ev += client.receive_data(server.data_to_send())
    assert sum(len(e.data) for e in ev if isinstance(e, DataReceived)) == (
        h2.DEFAULT_WINDOW + 10
    )
    assert [e.end_stream for e in ev if isinstance(e, HeadersReceived)] == [False]
    assert st.send_closed and st.pending_trailers is None
    assert sid not in server.streams


def test_send_on_an_unopened_peer_stream_is_dropped():
    """RFC 9113 §5.1.1: a server must not send first on a client-numbered
    stream the client has not opened. The send is dropped without
    creating state, like a send on a retired stream."""
    client, server = handshake()
    sid = client.next_stream_id()
    server.send_headers(sid, RESP)
    server.send_data(sid + 2, b"x", end_stream=True)
    assert server.streams == {}
    assert server.data_to_send() == b""
    client.send_headers(sid, REQ)
    server.receive_data(client.data_to_send())
    server.send_headers(sid, RESP)  # opened by the client: allowed
    ev = client.receive_data(server.data_to_send())
    assert [e.stream_id for e in ev if isinstance(e, HeadersReceived)] == [sid]


# ----------------------------------------------- adversarial robustness


def test_random_bytes_never_crash_the_server():
    """A public front door must fail CLOSED on garbage: any byte stream
    either produces events or raises H2ConnectionError — never an
    unhandled exception type. Deterministic pseudo-random corpus (no
    RNG state in tests)."""
    import hashlib

    for seed in range(40):
        blob = b"".join(
            hashlib.md5(f"h2fuzz:{seed}:{i}".encode()).digest() for i in range(64)
        )
        server = H2Connection(client_side=False)
        try:
            server.receive_data(PREFACE_BYTES + blob)
        except H2ConnectionError:
            pass
        server.data_to_send()


def test_random_frame_soup_after_handshake_never_crashes():
    """Same, but past the preface/SETTINGS handshake with well-formed
    frame HEADERS and garbage payloads of every frame type."""
    import hashlib

    for seed in range(40):
        client, server = handshake()
        out = bytearray()
        for i in range(24):
            d = hashlib.md5(f"soup:{seed}:{i}".encode()).digest()
            ftype = d[0] % 12  # includes undefined types (ignored per §4.1)
            flags = d[1]
            sid = int.from_bytes(d[2:6], "big") % 64
            payload = d[6:] * (1 + d[1] % 3)
            out += encode_frame(ftype, flags, sid, payload)
        try:
            server.receive_data(bytes(out))
        except H2ConnectionError:
            pass
        server.data_to_send()


PREFACE_BYTES = h2.PREFACE


def test_settings_retune_while_trailers_deferred_does_not_crash():
    """Reproducer for the round-10 review finding: a SETTINGS
    INITIAL_WINDOW_SIZE retune that unblocks a stream whose deferred
    trailers then retire it must not mutate the stream dict
    mid-iteration (RuntimeError) — it must emit the data + trailers."""
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ, end_stream=True)
    server.receive_data(client.data_to_send())
    server.send_headers(sid, [(b":status", b"200")])
    server.send_data(sid, b"x" * h2.DEFAULT_WINDOW)  # exhausts the window
    server.send_data(sid, b"tail")
    server.send_headers(sid, [(b"grpc-status", b"0")], end_stream=True)
    client.data_to_send()  # discard; we drive the server directly
    # client retunes the initial window UP: the server-side loop flushes
    # every stream; the flush emits the deferred trailers and retires
    # the stream while the loop is iterating
    retune = encode_frame(
        h2.SETTINGS,
        0,
        0,
        h2.SETTINGS_INITIAL_WINDOW_SIZE.to_bytes(2, "big")
        + (h2.DEFAULT_WINDOW + 65536).to_bytes(4, "big"),
    )
    server.receive_data(retune)  # must not raise RuntimeError
    # the CONNECTION window is also exhausted: replenish it — this is
    # the second streams-iterating path the fix covers, and the one the
    # review reproduced the RuntimeError on
    server.receive_data(
        encode_frame(h2.WINDOW_UPDATE, 0, 0, (70000).to_bytes(4, "big"))
    )
    out = server.data_to_send()
    assert out  # tail DATA + trailers went out
    assert sid not in server.streams  # retired cleanly


def test_data_on_retired_stream_gets_stream_closed_rst():
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ, end_stream=True)
    server.receive_data(client.data_to_send())
    server.send_headers(sid, [(b":status", b"200")], end_stream=True)
    client.receive_data(server.data_to_send())
    assert sid not in server.streams
    server.receive_data(encode_frame(h2.DATA, 0, sid, b"zombie"))
    # assert at the WIRE level: the client's own state machine rightly
    # ignores RST on a stream it already closed, so parse the frames
    out = server.data_to_send()
    frames = []
    pos = 0
    while pos < len(out):
        length = int.from_bytes(out[pos : pos + 3], "big")
        ftype = out[pos + 3]
        fsid = int.from_bytes(out[pos + 5 : pos + 9], "big") & 0x7FFFFFFF
        payload = out[pos + 9 : pos + 9 + length]
        frames.append((ftype, fsid, payload))
        pos += 9 + length
    rsts = [f for f in frames if f[0] == h2.RST_STREAM and f[1] == sid]
    assert rsts and int.from_bytes(rsts[0][2], "big") == h2.STREAM_CLOSED


def _frames(buf: bytes) -> list[tuple[int, int, bytes]]:
    frames = []
    pos = 0
    while pos < len(buf):
        length = int.from_bytes(buf[pos : pos + 3], "big")
        ftype = buf[pos + 3]
        fsid = int.from_bytes(buf[pos + 5 : pos + 9], "big") & 0x7FFFFFFF
        frames.append((ftype, fsid, buf[pos + 9 : pos + 9 + length]))
        pos += 9 + length
    return frames


def test_data_after_end_stream_on_half_closed_stream_is_stream_closed():
    """RFC 9113 §5.1: a DATA frame on a half-closed(remote) stream (the
    response not yet sent, so the stream is still live) is a STREAM_CLOSED
    stream error — it must NOT be re-delivered as a normal DataReceived,
    or the RPC layer would land the payload twice."""
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ)
    client.send_data(sid, b"request", end_stream=True)
    ev = server.receive_data(client.data_to_send())
    assert [e for e in ev if isinstance(e, DataReceived)]
    assert sid in server.streams  # half-closed(remote): response pending
    # forge a second DATA+END_STREAM on the half-closed stream
    ev2 = server.receive_data(
        encode_frame(h2.DATA, h2.FLAG_END_STREAM, sid, b"forged")
    )
    assert not [e for e in ev2 if isinstance(e, DataReceived)]
    assert [e for e in ev2 if isinstance(e, StreamReset)]
    rsts = [f for f in _frames(bytes(server.data_to_send()))
            if f[0] == h2.RST_STREAM and f[1] == sid]
    assert rsts and int.from_bytes(rsts[0][2], "big") == h2.STREAM_CLOSED
    assert sid not in server.streams


def test_headers_after_end_stream_on_half_closed_stream_is_stream_closed():
    """Same §5.1 rule for a trailing HEADERS replay after END_STREAM."""
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ, end_stream=True)
    server.receive_data(client.data_to_send())
    assert sid in server.streams
    # forge a second HEADERS block on the half-closed stream (fresh
    # encoder state is fine: HPACK decode still succeeds server-side)
    enc = h2.hpack.Encoder()
    block = enc.encode(REQ)
    ev = server.receive_data(
        encode_frame(
            h2.HEADERS, h2.FLAG_END_HEADERS | h2.FLAG_END_STREAM, sid, block
        )
    )
    assert not [e for e in ev if isinstance(e, HeadersReceived)]
    assert [e for e in ev if isinstance(e, StreamReset)]
    rsts = [f for f in _frames(bytes(server.data_to_send()))
            if f[0] == h2.RST_STREAM and f[1] == sid]
    assert rsts and int.from_bytes(rsts[0][2], "big") == h2.STREAM_CLOSED


def test_data_on_idle_stream_is_protocol_error():
    """§5.1: only HEADERS opens a stream; DATA on an idle peer stream id
    is a connection-level PROTOCOL_ERROR (previously it silently opened
    the stream, and an over-cap open via DATA double-RST'd)."""
    client, server = handshake()
    with pytest.raises(H2ConnectionError) as ei:
        server.receive_data(encode_frame(h2.DATA, 0, 41, b"bare"))
    assert ei.value.code == h2.PROTOCOL_ERROR


def test_app_reset_stream_closes_and_noops_on_unknown():
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ)
    server.receive_data(client.data_to_send())
    assert sid in server.streams
    server.reset_stream(sid, h2.PROTOCOL_ERROR)
    assert sid not in server.streams
    rsts = [f for f in _frames(bytes(server.data_to_send()))
            if f[0] == h2.RST_STREAM and f[1] == sid]
    assert rsts and int.from_bytes(rsts[0][2], "big") == h2.PROTOCOL_ERROR
    server.reset_stream(999)  # unknown: no-op, no crash
    assert 999 not in server.streams


def test_stream_window_overflow_resets_retire_the_stream():
    """A stream reset for overflowing its send window (§6.9.1) is
    retired: as many overflows as the concurrency cap leave no state
    behind, and the next stream still opens."""
    client, server = handshake()
    server.max_streams = 4
    for _ in range(4):
        sid = client.next_stream_id()
        client.send_headers(sid, REQ)
        server.receive_data(client.data_to_send())
        ev = server.receive_data(
            encode_frame(h2.WINDOW_UPDATE, 0, sid, h2.MAX_WINDOW.to_bytes(4, "big"))
        )
        assert ev == [StreamReset(sid, h2.FLOW_CONTROL_ERROR)]
    assert server.streams == {}
    sid = client.next_stream_id()
    client.send_headers(sid, REQ)
    ev = server.receive_data(client.data_to_send())
    assert [e.stream_id for e in ev if isinstance(e, HeadersReceived)] == [sid]


@pytest.mark.parametrize(
    "headers",
    [
        # upper-case field name (§8.2.1)
        REQ + [(b"X-Custom", b"v")],
        # pseudo-field after a regular field (§8.3)
        [(b":method", b"POST"), (b"content-type", b"application/grpc"),
         (b":path", b"/x")],
        # response pseudo-field in a request
        REQ + [(b":status", b"200")],
        # duplicate pseudo-field
        [(b":method", b"POST"), (b":method", b"POST"), (b":scheme", b"http"),
         (b":path", b"/x")],
        # connection-specific field (§8.2.2)
        REQ + [(b"connection", b"keep-alive")],
        # te with anything but "trailers"
        [(b":method", b"POST"), (b":scheme", b"http"), (b":path", b"/x"),
         (b"te", b"gzip")],
    ],
)
def test_malformed_request_field_block_is_stream_error(headers):
    """RFC 9113 §8.2/§8.3: a malformed field block is a PROTOCOL_ERROR
    stream error — the request never reaches the application layer."""
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, headers, end_stream=True)
    ev = server.receive_data(client.data_to_send())
    assert not [e for e in ev if isinstance(e, HeadersReceived)]
    assert [e for e in ev if isinstance(e, StreamReset)]
    rsts = [f for f in _frames(bytes(server.data_to_send()))
            if f[0] == h2.RST_STREAM and f[1] == sid]
    assert rsts and int.from_bytes(rsts[0][2], "big") == h2.PROTOCOL_ERROR


def test_pseudo_field_in_trailers_is_stream_error():
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ)  # stream stays open
    server.receive_data(client.data_to_send())
    ev = server.receive_data(
        # trailers carrying a pseudo-field: malformed (§8.1)
        client_block(client, sid, [(b":path", b"/again")], end=True)
    )
    assert not [e for e in ev if isinstance(e, HeadersReceived)]
    assert [e for e in ev if isinstance(e, StreamReset)]


def client_block(client, sid, headers, end=False) -> bytes:
    client.send_headers(sid, headers, end_stream=end)
    return bytes(client.data_to_send())


def test_regular_only_trailers_still_delivered():
    """gRPC-style trailers (grpc-status, no pseudo-fields) stay legal."""
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ)
    server.receive_data(client.data_to_send())
    ev = server.receive_data(
        client_block(client, sid, [(b"grpc-status", b"0")], end=True)
    )
    delivered = [e for e in ev if isinstance(e, HeadersReceived)]
    assert delivered and delivered[0].headers == [(b"grpc-status", b"0")]
    assert delivered[0].end_stream


def test_continuation_flood_is_capped():
    """An attacker streaming CONTINUATION frames must hit the 256 KiB
    accumulated-block cap (connection error), not grow memory forever."""
    client, server = handshake()
    # HEADERS without END_HEADERS opens an accumulating block
    server.receive_data(
        encode_frame(h2.HEADERS, 0, 1, b"\x00" * 1000)
    )
    with pytest.raises(H2ConnectionError) as ei:
        for _ in range(300):
            server.receive_data(
                encode_frame(h2.CONTINUATION, 0, 1, b"\x00" * 1024)
            )
    assert ei.value.code == h2.ENHANCE_YOUR_CALM


def test_ping_and_goaway_on_a_stream_are_protocol_errors():
    client, server = handshake()
    with pytest.raises(H2ConnectionError) as ei:
        server.receive_data(encode_frame(h2.PING, 0, 3, b"\x00" * 8))
    assert ei.value.code == h2.PROTOCOL_ERROR
    client2, server2 = handshake()
    with pytest.raises(H2ConnectionError) as ei:
        server2.receive_data(
            encode_frame(h2.GOAWAY, 0, 3, b"\x00" * 8)
        )
    assert ei.value.code == h2.PROTOCOL_ERROR


def test_window_update_on_idle_stream_is_protocol_error():
    client, server = handshake()
    with pytest.raises(H2ConnectionError) as ei:
        server.receive_data(
            encode_frame(h2.WINDOW_UPDATE, 0, 41, (100).to_bytes(4, "big"))
        )
    assert ei.value.code == h2.PROTOCOL_ERROR


def test_window_update_on_closed_stream_is_ignored():
    client, server = handshake()
    sid = client.next_stream_id()
    client.send_headers(sid, REQ, end_stream=True)
    server.receive_data(client.data_to_send())
    server.send_headers(sid, [(b":status", b"200")], end_stream=True)
    client.receive_data(server.data_to_send())
    assert sid not in server.streams
    ev = server.receive_data(
        encode_frame(h2.WINDOW_UPDATE, 0, sid, (100).to_bytes(4, "big"))
    )
    assert ev == []  # late frame on a closed stream: dropped, no error


def test_enable_push_validation():
    # value > 1 is always a protocol error
    client, server = handshake()
    bad = (h2.SETTINGS_ENABLE_PUSH.to_bytes(2, "big") + (2).to_bytes(4, "big"))
    with pytest.raises(H2ConnectionError) as ei:
        server.receive_data(encode_frame(h2.SETTINGS, 0, 0, bad))
    assert ei.value.code == h2.PROTOCOL_ERROR
    # a server sending ENABLE_PUSH=1 is a protocol error at the client
    client2, server2 = handshake()
    one = (h2.SETTINGS_ENABLE_PUSH.to_bytes(2, "big") + (1).to_bytes(4, "big"))
    with pytest.raises(H2ConnectionError):
        client2.receive_data(encode_frame(h2.SETTINGS, 0, 0, one))
    # a CLIENT sending ENABLE_PUSH=1 (what our own initiate() does is 0,
    # but 1 is legal from clients) is accepted by the server
    client3, server3 = handshake()
    assert server3.receive_data(encode_frame(h2.SETTINGS, 0, 0, one)) == []
