"""End-to-end gRPC ingest: the HTTP/2-gRPC front door
(ingest/grpc_transport.py) feeding the same checkpointed streaming sink
as the TCP service — D1 transport literalism closed without grpcio. A
live client speaks the real gRPC-over-HTTP/2 wire protocol (connection
preface, SETTINGS, HPACK-compressed headers, 5-byte length-prefixed
gRPC messages in DATA frames, grpc-status trailers) against the
reference's Streaming bidi RPC semantics (ingest_service.go:184-234,
bristle.proto:117-123)."""

from __future__ import annotations

import os
import socket

import pytest

from bristle_spark.ingest import grpc_transport as gt
from bristle_spark.ingest import h2
from bristle_spark.ingest import service as svc
from bristle_spark.ingest.fixtures import encode_example_row
from bristle_spark.ingest.grpc_transport import GrpcIngestClient, GrpcIngestService
from tests.conftest import (
    _binance_body,
    _finnhub_body,
    check_batch_limits_and_backpressure,
    check_concurrent_clients,
    check_end_to_end_three_fixtures,
    check_server_side_failure_acks_full,
    check_unsupported_messages_terminate,
    grpc_response,
    median_ack_ms,
    nodelay,
)


def _trailers(call: gt._Call) -> dict[bytes, bytes]:
    """Pump ``call`` until its trailers arrive and return them; the
    ConnectionError the pump raises on a non-OK status is the expected
    end here, any other still raises."""
    try:
        while call.trailers is None:
            call._pump()
    except ConnectionError:
        if call.trailers is None:
            raise
    return call.trailers


# ---------------------------------------------------------- framing unit


def test_grpc_message_framing_roundtrip():
    buf = bytearray()
    buf += gt.frame_message(b"hello") + gt.frame_message(b"") + gt.frame_message(b"x" * 70000)
    assert gt.frame_message(b"hello")[:5] == b"\x00\x00\x00\x00\x05"
    assert gt.split_messages(buf) == [b"hello", b"", b"x" * 70000]
    assert buf == bytearray()


def test_grpc_split_partial_and_compressed_flag():
    buf = bytearray(gt.frame_message(b"abcdef")[:7])  # truncated mid-message
    assert gt.split_messages(buf) == []
    assert len(buf) == 7  # untouched until complete
    bad = bytearray(b"\x01\x00\x00\x00\x01z")  # compressed flag set
    with pytest.raises(ValueError):
        gt.split_messages(bad)


# ------------------------------------------------------------ end-to-end


def test_grpc_end_to_end_three_fixtures(spark, three_table_server):
    check_end_to_end_three_fixtures(spark, three_table_server, "grpc")


def test_grpc_and_socket_land_identical_payloads(spark, three_table_server, tmp_path):
    """Transport equivalence: the same batch sent through the gRPC front
    door and through the TCP front door lands byte-identical payload
    rows (process_batch is shared; only the wire differs)."""
    from bristle_spark.ingest.service import IngestSocketClient, IngestSocketService

    server = three_table_server
    bodies = [
        encode_example_row(name=f"eq_{i}", type_code=1, ts=(1_700_000_000, 0), value=i)
        for i in range(6)
    ]
    with GrpcIngestService(server) as service:
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            tid = client.register_type("ExampleMessage")
            assert client.write_batch(bodies, type_id=tid) == svc.OK
    with IngestSocketService(server) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            tid = client.register_type("ExampleMessage")
            assert client.write_batch(bodies, type_id=tid) == svc.OK

    payload_dir = os.path.join(server.data_root, "payloads", "default__example_table")
    files = sorted(os.listdir(payload_dir))
    assert len(files) == 2
    import pyarrow.parquet as pq

    first, second = (pq.read_table(os.path.join(payload_dir, f)) for f in files)
    assert first.to_pydict() == second.to_pydict()


def test_grpc_batch_limits_and_backpressure(spark, three_table_server):
    check_batch_limits_and_backpressure(three_table_server, "grpc")


def test_grpc_concurrent_clients(spark, three_table_server):
    check_concurrent_clients(spark, three_table_server, "grpc")


def test_grpc_plain_header_client_also_accepted(spark, three_table_server):
    """huffman=False sends literal (uncompressed) HPACK strings — both
    encodings are legal on the wire and the server must accept either."""
    server = three_table_server
    with GrpcIngestService(server) as service:
        with GrpcIngestClient("127.0.0.1", service.port, huffman=False) as client:
            assert client.register_type("ExampleMessage") == 1
            assert (
                client.write_batch(
                    [encode_example_row(name="plain", value=1)],
                    type_name="ExampleMessage",
                )
                == svc.OK
            )


# ------------------------------------------------- gRPC status semantics


def test_grpc_unknown_method_gets_trailers_only_unimplemented(spark, three_table_server):
    with GrpcIngestService(three_table_server) as service:
        call = gt._Call(
            "127.0.0.1", service.port, b"/bristle.BristleIngestService/NoSuchMethod", 10
        )
        try:
            trailers = _trailers(call)
            # trailers-only response: that one HEADERS ended the stream
            assert call._h2.streams[call.stream_id].recv_closed
            assert trailers[b":status"] == b"200"
            assert trailers[b"grpc-status"] == str(gt.GRPC_UNIMPLEMENTED).encode()
        finally:
            call.conn.close()


def test_response_wire_shapes(spark, three_table_server):
    """The frame sequence and header order of every response shape, read
    as raw h2 events on the call's stream (gRPC-over-HTTP/2 spec)."""
    response_headers = [(b":status", b"200"), (b"content-type", b"application/grpc")]
    with GrpcIngestService(three_table_server) as service:
        # unknown method: one trailers-only HEADERS
        assert grpc_response(service.port, b"/bristle.BristleIngestService/NoSuchMethod") == [
            (
                "HEADERS",
                response_headers
                + [(b"grpc-status", b"12"), (b"grpc-message", b"unknown method")],
                True,
            )
        ]
        # unary success: headers, one message, then the status
        request = svc.encode_write_batch_request(
            "k", [("ExampleMessage", [encode_example_row(name="w", value=1)])]
        )
        (h, hdrs, h_end), (d, data, d_end), (t, trailers, t_end) = grpc_response(
            service.port, gt.WRITE_BATCH_PATH, request
        )
        assert (h, hdrs, h_end) == ("HEADERS", response_headers, False)
        assert (d, d_end) == ("DATA", False)
        assert svc.decode_write_batch_response(gt.split_messages(bytearray(data))[0]) == (1, 0)
        assert (t, trailers, t_end) == ("HEADERS", [(b"grpc-status", b"0")], True)
        # Streaming: the response headers arrive before the first ack
        batch = svc.encode_write_batch(
            1, [encode_example_row(name="s", value=1)], type_name="ExampleMessage"
        )
        (h, hdrs, h_end), (d, data, d_end) = grpc_response(
            service.port, gt.STREAMING_PATH, batch, end_stream=False
        )
        assert (h, hdrs, h_end) == ("HEADERS", response_headers, False)
        assert d == "DATA" and not d_end
        assert svc.decode_server_message(gt.split_messages(bytearray(data))[0]) == (
            "write_batch_result",
            {"id": 1, "result": svc.OK},
        )


def test_grpc_unsupported_messages_terminate_rpc(spark, three_table_server):
    check_unsupported_messages_terminate(three_table_server, "grpc")


def test_grpc_compressed_flag_is_internal_error(spark, three_table_server):
    with GrpcIngestService(three_table_server) as service:
        client = GrpcIngestClient("127.0.0.1", service.port)
        try:
            # raw gRPC message with compressed-flag=1, no grpc-encoding
            env = svc.encode_register_type("ExampleMessage")
            client._h2.send_data(
                client.stream_id, b"\x01" + len(env).to_bytes(4, "big") + env
            )
            client._flush()
            with pytest.raises(ConnectionError, match="grpc-status 13"):
                client._recv()
        finally:
            client.close()


def test_grpc_server_side_failure_acks_full(spark, three_table_server, monkeypatch):
    check_server_side_failure_acks_full(three_table_server, "grpc", monkeypatch)


# ----------------------------------------------------- wire literalism


def test_grpc_wire_is_real_http2(spark, three_table_server):
    """Sniff the client's first bytes: the RFC 7540 connection preface,
    then a SETTINGS frame — i.e. a stock gRPC channel's opening bytes,
    not a repo-private dialect. And a raw non-HTTP/2 client is rejected
    without wedging the server."""
    with GrpcIngestService(three_table_server) as service:
        c = h2.H2Connection(client_side=True)
        c.initiate()
        opening = c.data_to_send()
        assert opening.startswith(h2.PREFACE)
        assert opening[len(h2.PREFACE) + 3] == 0x4  # frame type: SETTINGS

        # garbage preface: connection dropped, server stays up
        raw = socket.create_connection(("127.0.0.1", service.port), timeout=10)
        raw.sendall(b"GET / HTTP/1.1\r\nHost: x\r\n\r\n")
        drained = b""
        while True:  # server GOAWAYs (PROTOCOL_ERROR) then hangs up
            chunk = raw.recv(65536)
            if not chunk:
                break
            drained += chunk
        assert b"\x07" in drained[:64]  # a GOAWAY frame, not silence
        raw.close()
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            assert client.register_type("ExampleMessage") == 1


# -------------------------------------------------- unary WriteBatch RPC


def test_unary_write_batch_three_fixtures(spark, three_table_server):
    """The reference's OTHER public RPC (bristle.proto:119,
    ingest_service.go:109-120): one unary WriteBatch call carrying
    payloads for all three fixture tables lands them all."""
    server = three_table_server
    with GrpcIngestService(server) as service:
        ack, dropped = gt.grpc_write_batch_unary(
            "127.0.0.1",
            service.port,
            [
                (
                    "ExampleMessage",
                    [
                        encode_example_row(
                            name=f"u_{i}", type_code=1, ts=(1_700_000_000, 0), value=i
                        )
                        for i in range(4)
                    ],
                ),
                ("Trade", [_binance_body(i) for i in range(3)]),
                ("FinnhubTrade", [_finnhub_body(i) for i in range(2)]),
            ],
            key="unary-key",
        )
    # intended semantics (SURVEY §8.3): payloads acknowledged, none dropped
    assert (ack, dropped) == (3, 0)
    import pyarrow.parquet as pq

    for table, n in (
        ("default__example_table", 4),
        ("binance__trade_events", 3),
        ("finnhub__trades", 2),
    ):
        payload_dir = os.path.join(server.data_root, "payloads", table)
        files = os.listdir(payload_dir)
        assert len(files) == 1
        assert pq.read_table(os.path.join(payload_dir, files[0])).num_rows == n


def test_unary_first_non_ok_payload_aborts_request(spark, three_table_server):
    """ingest_service.go:110-114: the first non-OK payload aborts the
    whole request with a gRPC error; earlier payloads stay landed."""
    server = three_table_server
    with GrpcIngestService(server) as service:
        with pytest.raises(ConnectionError) as ei:
            gt.grpc_write_batch_unary(
                "127.0.0.1",
                service.port,
                [
                    ("ExampleMessage", [encode_example_row(name="pre", value=1)]),
                    ("no.such.Type", [b"x"]),
                    ("ExampleMessage", [encode_example_row(name="post", value=2)]),
                ],
            )
        assert "WriteBatch error code UNK_MESSAGE" in str(ei.value)
        with pytest.raises(ConnectionError) as ei:
            gt.grpc_write_batch_unary(
                "127.0.0.1",
                service.port,
                [("ExampleMessage", [b"\xff\xff\xff"])],
            )
        assert "WriteBatch error code DECODE_ERR" in str(ei.value)
    payload_dir = os.path.join(
        server.data_root, "payloads", "default__example_table"
    )
    files = os.listdir(payload_dir)
    assert len(files) == 1  # "pre" landed; "post" never processed
    import pyarrow.parquet as pq

    assert pq.read_table(os.path.join(payload_dir, files[0])).num_rows == 1


def test_unary_empty_request_acks_zero(spark, three_table_server):
    with GrpcIngestService(three_table_server) as service:
        assert gt.grpc_write_batch_unary("127.0.0.1", service.port, []) == (0, 0)


def test_socket_unary_and_bidi_land_identical_payloads(spark, three_table_server):
    """All THREE front doors — TCP socket, gRPC bidi Streaming, gRPC
    unary WriteBatch — land byte-identical payload rows for the same
    batch (process_batch is shared; only the wire differs)."""
    from bristle_spark.ingest.service import IngestSocketClient, IngestSocketService

    server = three_table_server
    bodies = [
        encode_example_row(name=f"tri_{i}", type_code=2, ts=(1_700_000_100, 0), value=i)
        for i in range(5)
    ]
    with GrpcIngestService(server) as service:
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            tid = client.register_type("ExampleMessage")
            assert client.write_batch(bodies, type_id=tid) == svc.OK
        assert gt.grpc_write_batch_unary(
            "127.0.0.1", service.port, [("ExampleMessage", bodies)]
        ) == (1, 0)
    with IngestSocketService(server) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            tid = client.register_type("ExampleMessage")
            assert client.write_batch(bodies, type_id=tid) == svc.OK

    payload_dir = os.path.join(server.data_root, "payloads", "default__example_table")
    files = sorted(os.listdir(payload_dir))
    assert len(files) == 3
    import pyarrow.parquet as pq

    tables = [pq.read_table(os.path.join(payload_dir, f)).to_pydict() for f in files]
    assert tables[0] == tables[1] == tables[2]


def test_unary_request_roundtrip_codec():
    payloads = [("a.B", [b"", b"xy"]), ("c.D", [b"zzz"])]
    key, got = svc.decode_write_batch_request(
        svc.encode_write_batch_request("k", payloads)
    )
    assert (key, got) == ("k", payloads)
    assert svc.decode_write_batch_response(
        svc.encode_write_batch_response(7, 2)
    ) == (7, 2)


def test_unary_truncated_tail_is_internal_error(spark, three_table_server):
    """A truncated gRPC message after the request must fail the RPC,
    not be silently dropped with a success status."""
    with GrpcIngestService(three_table_server) as service:
        call = gt._Call("127.0.0.1", service.port, gt.WRITE_BATCH_PATH, 10)
        try:
            body = gt.frame_message(svc.encode_write_batch_request("k", []))
            call._h2.send_data(call.stream_id, body + b"\x00\x00\x00\x00", end_stream=True)
            call._flush()
            assert int(_trailers(call)[b"grpc-status"]) == gt.GRPC_INTERNAL
        finally:
            call.conn.close()


def test_finished_rpc_state_is_pruned_per_connection(spark, three_table_server):
    """A long-lived connection issuing many unary RPCs must not grow
    per-connection RPC state without bound: finished entries are swept
    when the next RPC opens."""
    with GrpcIngestService(three_table_server) as service:
        # capture the rpcs dict of the connection via a wrapper
        captured = {}
        orig = service._handle_event

        def spy(ev, h2c, lock, conn, rpcs, flush_locked):
            captured["rpcs"] = rpcs
            return orig(ev, h2c, lock, conn, rpcs, flush_locked)

        service._handle_event = spy
        call = gt._Call("127.0.0.1", service.port, gt.WRITE_BATCH_PATH, 10)
        try:
            for i in range(8):
                if i:
                    call._open(gt.WRITE_BATCH_PATH)  # the next RPC, same connection
                call._send(svc.encode_write_batch_request("k", []), end_stream=True)
                assert int(_trailers(call)[b"grpc-status"]) == gt.GRPC_OK
            # all but at most the most recent RPC have been swept
            assert len(captured["rpcs"]) <= 2
        finally:
            call.conn.close()


def test_unary_forged_second_end_stream_never_lands_twice(spark, three_table_server):
    """ADVICE r10 (medium): a request followed by a forged extra
    DATA(END_STREAM) on the same stream used to re-deliver DataReceived
    and land every payload twice. The half-closed(remote) check now
    RSTs the stream (RFC 9113 §5.1) — payloads land AT MOST once."""
    with GrpcIngestService(three_table_server) as service:
        call = gt._Call("127.0.0.1", service.port, gt.WRITE_BATCH_PATH, 10)
        try:
            body = gt.frame_message(
                svc.encode_write_batch_request(
                    "forge-key",
                    [("ExampleMessage",
                      [encode_example_row(name=f"f_{i}", value=i) for i in range(4)])],
                )
            )
            call._h2.send_data(call.stream_id, body, end_stream=True)
            # the forged frame goes out back-to-back with the request so
            # the reader thread sees it before the pool thread responds
            forged = h2.encode_frame(h2.DATA, h2.FLAG_END_STREAM, call.stream_id, b"")
            call.conn.sendall(call._h2.data_to_send() + forged)
            # drain until RST/status/close — any of the three is fine
            call.conn.settimeout(5)
            try:
                _trailers(call)
            except OSError:
                pass
        finally:
            call.conn.close()
    payload_dir = os.path.join(
        three_table_server.data_root, "payloads", "default__example_table"
    )
    files = os.listdir(payload_dir) if os.path.isdir(payload_dir) else []
    # AT MOST once: before the fix this was 2 files / 8 rows
    assert len(files) <= 1
    if files:
        import pyarrow.parquet as pq

        assert pq.read_table(os.path.join(payload_dir, files[0])).num_rows == 4


def test_headers_replay_on_active_rpc_resets_stream(spark, three_table_server):
    """ADVICE r10 (low): a second HEADERS on an already-active stream
    used to overwrite rpcs[sid] with a fresh _Rpc (discarding the live
    type-id registry) and re-send response headers on the same stream.
    The replay now resets the stream instead."""
    with GrpcIngestService(three_table_server) as service:
        call = gt._Call("127.0.0.1", service.port, gt.STREAMING_PATH, 5)
        try:
            # wait for the server's response headers (RPC is now active)
            while not any(isinstance(ev, h2.HeadersReceived) for ev in call._receive()):
                pass
            # replay the request HEADERS on the SAME open stream
            call._h2.send_headers(call.stream_id, call._request_headers(gt.STREAMING_PATH))
            call._flush()
            saw_reset = False
            extra_headers = 0
            try:
                while not saw_reset:
                    for ev in call._receive():
                        saw_reset |= isinstance(ev, h2.StreamReset)
                        extra_headers += isinstance(ev, h2.HeadersReceived)
            except OSError:
                pass
            assert saw_reset, "replayed HEADERS must reset the stream"
            assert extra_headers == 0, "response headers must not be re-sent"
        finally:
            call.conn.close()


def test_oversized_message_prefix_is_resource_exhausted(spark, three_table_server):
    """A 4 GiB declared length-prefix must terminate the RPC with
    RESOURCE_EXHAUSTED on the PREFIX (stock-gRPC max-recv-message-size
    behavior), never buffer toward it."""
    with GrpcIngestService(three_table_server) as service:
        call = gt._Call("127.0.0.1", service.port, gt.STREAMING_PATH, 10)
        try:
            # declared length 2^32-1, only a few real bytes behind it
            call._h2.send_data(call.stream_id, b"\x00\xff\xff\xff\xff" + b"x" * 64)
            call._flush()
            trailers = _trailers(call)
            assert int(trailers[b"grpc-status"]) == gt.GRPC_RESOURCE_EXHAUSTED
            assert b"larger than max" in trailers[b"grpc-message"]
        finally:
            call.conn.close()


def test_grpc_connections_set_nodelay(spark, three_table_server, monkeypatch):
    """Every gRPC client connection turns Nagle off, as grpc-go does: the
    Streaming client's and the unary call's (the accepted side is pinned
    by test_socket_service.py::test_socket_connections_set_nodelay)."""
    opened = []
    real_connect = svc.connect

    def recording_connect(*args):
        conn = real_connect(*args)
        opened.append(nodelay(conn))
        return conn

    with GrpcIngestService(three_table_server) as service:
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            assert nodelay(client.conn)
        monkeypatch.setattr(svc, "connect", recording_connect)
        assert gt.grpc_write_batch_unary("127.0.0.1", service.port, []) == (0, 0)
    assert len(opened) == 1 and opened[0]


def test_grpc_ack_does_not_wait_on_delayed_ack(spark, three_table_server):
    """A small ack follows the WINDOW_UPDATE the reader thread flushes
    for the batch's DATA; with Nagle on, that second small write waits for
    the peer's delayed ACK (>= 40 ms on Linux) on every batch. The median
    ack must stay under half that floor."""
    with GrpcIngestService(three_table_server) as service:
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            assert median_ack_ms(client) < 20.0
