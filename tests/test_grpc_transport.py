"""End-to-end gRPC ingest: the HTTP/2-gRPC front door
(ingest/grpc_transport.py) feeding the same checkpointed streaming sink
as the TCP service — D1 transport literalism closed without grpcio. A
live client speaks the real gRPC-over-HTTP/2 wire protocol (connection
preface, SETTINGS, HPACK-compressed headers, 5-byte length-prefixed
gRPC messages in DATA frames, grpc-status trailers) against the
reference's Streaming bidi RPC semantics (ingest_service.go:184-234,
bristle.proto:117-123)."""

from __future__ import annotations

import json
import os
import socket
import statistics
import threading
import time

import pytest

from bristle_spark.ingest import grpc_transport as gt
from bristle_spark.ingest import h2
from bristle_spark.ingest import service as svc
from bristle_spark.ingest.fixtures import (
    binance_ddl_columns,
    binance_descriptor_set,
    encode_example_row,
    example_descriptor_set,
    finnhub_ddl_columns,
    finnhub_descriptor_set,
)
from bristle_spark.ingest.grpc_transport import GrpcIngestClient, GrpcIngestService
from bristle_spark.ingest.server import IngestServer


def _cols_cfg(cols) -> list[dict]:
    return [
        {"name": c.name, "type": c.ch_type, "default": c.default} for c in cols
    ]


@pytest.fixture()
def three_table_server(spark, tmp_path):
    from bristle_spark.ingest.fixtures import example_binding

    for fname, blob in (
        ("example.pb", example_descriptor_set()),
        ("binance.pb", binance_descriptor_set()),
        ("finnhub.pb", finnhub_descriptor_set()),
    ):
        (tmp_path / fname).write_bytes(blob)
    cfg = {
        "autobind": True,
        "proto_descriptor_paths": ["example.pb", "binance.pb", "finnhub.pb"],
        "tables": [
            {
                "name": "default.example_table",
                "columns": _cols_cfg(example_binding().sink_columns),
                "ts_column": "timestamp",
            },
            {"name": "binance.trade_events", "columns": _cols_cfg(binance_ddl_columns())},
            {"name": "finnhub.trades", "columns": _cols_cfg(finnhub_ddl_columns())},
        ],
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    yield IngestServer(spark, str(cfg_path), str(tmp_path / "data"))


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
    from tests.test_socket_service import _binance_body, _finnhub_body

    server = three_table_server
    with GrpcIngestService(server) as service:
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            ex_id = client.register_type("ExampleMessage")
            assert ex_id == 1

            day1 = [
                encode_example_row(
                    name=f"d1_{i}", type_code=1, ts=(1_700_000_000 + i, 0), value=i
                )
                for i in range(4)
            ]
            day2 = [
                encode_example_row(
                    name=f"d2_{i}", type_code=2, ts=(1_700_100_000 + i, 0), value=i
                )
                for i in range(3)
            ]
            assert client.write_batch(day1, type_id=ex_id) == svc.OK
            assert client.write_batch(day2, type_id=ex_id) == svc.OK
            assert (
                client.write_batch([_binance_body(i) for i in range(5)], type_name="Trade")
                == svc.OK
            )
            assert (
                client.write_batch(
                    [_finnhub_body(i) for i in range(2)], type_name="FinnhubTrade"
                )
                == svc.OK
            )

            # error taxonomy over gRPC — same BatchResult enum (D12)
            assert client.write_batch([b"x"], type_name="no.such.Type") == svc.UNK_MESSAGE
            assert (
                client.write_batch([b"\xff\xff\xff"], type_name="ExampleMessage")
                == svc.DECODE_ERR
            )
            assert client.write_batch([b"x"], type_id=999) == svc.UNK_MESSAGE

    server.pump()
    sink_root = os.path.join(server.data_root, "sink")
    ex = spark.read.parquet(os.path.join(sink_root, "default__example_table"))
    assert ex.count() == 7
    days = {
        d
        for d in os.listdir(os.path.join(sink_root, "default__example_table"))
        if d.startswith("_day=")
    }
    assert len(days) == 2
    bn = spark.read.parquet(os.path.join(sink_root, "binance__trade_events"))
    assert bn.count() == 5
    fh = spark.read.parquet(os.path.join(sink_root, "finnhub__trades"))
    assert fh.collect()[0]["tradeConditions"] == ["1", "12"]

    # exactly-once across a re-pump
    server.pump()
    assert spark.read.parquet(os.path.join(sink_root, "default__example_table")).count() == 7


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
    server = three_table_server
    bodies = [encode_example_row(name="x", value=1)] * 3
    with GrpcIngestService(server, max_batch_len=2) as service:
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            assert client.write_batch(bodies, type_name="ExampleMessage") == svc.TOO_BIG
    with GrpcIngestService(server, max_in_flight=0) as service:
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            assert (
                client.write_batch(bodies[:1], type_name="ExampleMessage")
                == svc.TOO_MANY_IN_FLIGHT_BATCHES
            )


def test_grpc_concurrent_clients(spark, three_table_server):
    server = three_table_server
    results = []

    def run_client(cid: int, port: int) -> None:
        with GrpcIngestClient("127.0.0.1", port) as client:
            tid = client.register_type("ExampleMessage")
            for b in range(3):
                bodies = [
                    encode_example_row(
                        name=f"g{cid}_b{b}_{i}",
                        type_code=1,
                        ts=(1_700_000_000, 0),
                        value=i,
                    )
                    for i in range(10)
                ]
                results.append(client.write_batch(bodies, type_id=tid))

    with GrpcIngestService(server) as service:
        threads = [
            threading.Thread(target=run_client, args=(c, service.port))
            for c in range(4)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    assert results == [svc.OK] * 12
    server.pump()
    sink = os.path.join(server.data_root, "sink", "default__example_table")
    out = spark.read.parquet(sink)
    assert out.count() == 120
    assert out.select("name").distinct().count() == 120


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
        conn = socket.create_connection(("127.0.0.1", service.port), timeout=10)
        try:
            c = h2.H2Connection(client_side=True)
            c.initiate()
            sid = c.next_stream_id()
            c.send_headers(
                sid,
                [
                    (b":method", b"POST"),
                    (b":scheme", b"http"),
                    (b":path", b"/bristle.BristleIngestService/NoSuchMethod"),
                    (b":authority", b"localhost"),
                    (b"content-type", b"application/grpc"),
                    (b"te", b"trailers"),
                ],
            )
            conn.sendall(c.data_to_send())
            trailers = None
            while trailers is None:
                chunk = conn.recv(65536)
                assert chunk, "server closed before responding"
                for ev in c.receive_data(chunk):
                    if isinstance(ev, h2.HeadersReceived) and ev.stream_id == sid:
                        trailers = dict(ev.headers)
                        assert ev.end_stream  # trailers-only response
                out = c.data_to_send()
                if out:
                    conn.sendall(out)
            assert trailers[b":status"] == b"200"
            assert trailers[b"grpc-status"] == str(gt.GRPC_UNIMPLEMENTED).encode()
        finally:
            conn.close()


def test_grpc_unsupported_messages_terminate_rpc(spark, three_table_server):
    with GrpcIngestService(three_table_server) as service:
        # register with inline descriptor: ErrUnsupported ends the RPC
        client = GrpcIngestClient("127.0.0.1", service.port)
        client._send_envelope(svc.encode_register_type("ExampleMessage", descriptor=b"\x01"))
        with pytest.raises(ConnectionError, match="grpc-status 2"):
            client._recv()
        client.close()

        # update_default: ErrUnsupported (S13)
        client = GrpcIngestClient("127.0.0.1", service.port)
        client.update_default("ExampleMessage", b"")
        with pytest.raises(ConnectionError, match="grpc-status 2"):
            client._recv()
        client.close()

        # a fresh RPC on a fresh connection still works
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            assert client.register_type("ExampleMessage") == 1


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
    server = three_table_server
    with GrpcIngestService(server) as service:
        def boom(server, binding, type_name, bodies):
            raise OSError("disk full")

        monkeypatch.setattr(svc, "land_payload", boom)
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            body = encode_example_row(name="ok", value=1)
            assert client.write_batch([body], type_name="ExampleMessage") == svc.FULL


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
    from tests.test_socket_service import _binance_body, _finnhub_body

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
    import socket as socket_mod

    from bristle_spark.ingest import h2 as h2m

    with GrpcIngestService(three_table_server) as service:
        conn = socket_mod.create_connection(("127.0.0.1", service.port), timeout=10)
        try:
            h2c = h2m.H2Connection(client_side=True)
            h2c.initiate()
            sid = h2c.next_stream_id()
            h2c.send_headers(
                sid,
                [
                    (b":method", b"POST"), (b":scheme", b"http"),
                    (b":path", gt.WRITE_BATCH_PATH),
                    (b":authority", b"x"),
                    (b"content-type", gt.GRPC_CONTENT_TYPE),
                    (b"te", b"trailers"),
                ],
            )
            body = gt.frame_message(svc.encode_write_batch_request("k", []))
            h2c.send_data(sid, body + b"\x00\x00\x00\x00", end_stream=True)
            conn.sendall(h2c.data_to_send())
            status = None
            while status is None:
                chunk = conn.recv(65536)
                assert chunk, "server closed without a status"
                for ev in h2c.receive_data(chunk):
                    if isinstance(ev, h2m.HeadersReceived):
                        hdrs = dict(ev.headers)
                        if b"grpc-status" in hdrs:
                            status = int(hdrs[b"grpc-status"])
                out = h2c.data_to_send()
                if out:
                    conn.sendall(out)
            assert status == gt.GRPC_INTERNAL
        finally:
            conn.close()


def test_finished_rpc_state_is_pruned_per_connection(spark, three_table_server):
    """A long-lived connection issuing many unary RPCs must not grow
    per-connection RPC state without bound: finished entries are swept
    when the next RPC opens."""
    from bristle_spark.ingest import h2 as h2m
    import socket as socket_mod

    with GrpcIngestService(three_table_server) as service:
        # capture the rpcs dict of the connection via a wrapper
        captured = {}
        orig = service._handle_event

        def spy(ev, h2c, lock, conn, rpcs, flush_locked):
            captured["rpcs"] = rpcs
            return orig(ev, h2c, lock, conn, rpcs, flush_locked)

        service._handle_event = spy
        conn = socket_mod.create_connection(("127.0.0.1", service.port), timeout=10)
        try:
            h2c = h2m.H2Connection(client_side=True)
            h2c.initiate()
            for _ in range(8):
                sid = h2c.next_stream_id()
                h2c.send_headers(
                    sid,
                    [
                        (b":method", b"POST"), (b":scheme", b"http"),
                        (b":path", gt.WRITE_BATCH_PATH),
                        (b":authority", b"x"),
                        (b"content-type", gt.GRPC_CONTENT_TYPE),
                        (b"te", b"trailers"),
                    ],
                )
                h2c.send_data(
                    sid,
                    gt.frame_message(svc.encode_write_batch_request("k", [])),
                    end_stream=True,
                )
                conn.sendall(h2c.data_to_send())
                status = None
                while status is None:
                    chunk = conn.recv(65536)
                    assert chunk
                    for ev in h2c.receive_data(chunk):
                        if isinstance(ev, h2m.HeadersReceived):
                            hdrs = dict(ev.headers)
                            if b"grpc-status" in hdrs:
                                status = int(hdrs[b"grpc-status"])
                    out = h2c.data_to_send()
                    if out:
                        conn.sendall(out)
                assert status == gt.GRPC_OK
            # all but at most the most recent RPC have been swept
            assert len(captured["rpcs"]) <= 2
        finally:
            conn.close()


def test_unary_forged_second_end_stream_never_lands_twice(spark, three_table_server):
    """ADVICE r10 (medium): a request followed by a forged extra
    DATA(END_STREAM) on the same stream used to re-deliver DataReceived
    and land every payload twice. The half-closed(remote) check now
    RSTs the stream (RFC 9113 §5.1) — payloads land AT MOST once."""
    import socket as socket_mod

    from bristle_spark.ingest import h2 as h2m

    with GrpcIngestService(three_table_server) as service:
        conn = socket_mod.create_connection(("127.0.0.1", service.port), timeout=10)
        try:
            h2c = h2m.H2Connection(client_side=True)
            h2c.initiate()
            sid = h2c.next_stream_id()
            h2c.send_headers(
                sid,
                [
                    (b":method", b"POST"), (b":scheme", b"http"),
                    (b":path", gt.WRITE_BATCH_PATH),
                    (b":authority", b"x"),
                    (b"content-type", gt.GRPC_CONTENT_TYPE),
                    (b"te", b"trailers"),
                ],
            )
            body = gt.frame_message(
                svc.encode_write_batch_request(
                    "forge-key",
                    [("ExampleMessage",
                      [encode_example_row(name=f"f_{i}", value=i) for i in range(4)])],
                )
            )
            h2c.send_data(sid, body, end_stream=True)
            wire = bytes(h2c.data_to_send())
            # the forged frame goes out back-to-back with the request so
            # the reader thread sees it before the pool thread responds
            forged = h2m.encode_frame(h2m.DATA, h2m.FLAG_END_STREAM, sid, b"")
            conn.sendall(wire + forged)
            # drain until RST/status/close — any of the three is fine
            conn.settimeout(5)
            saw_reset = saw_status = False
            try:
                while not (saw_reset or saw_status):
                    chunk = conn.recv(65536)
                    if not chunk:
                        break
                    for ev in h2c.receive_data(chunk):
                        if isinstance(ev, h2m.StreamReset):
                            saw_reset = True
                        if isinstance(ev, h2m.HeadersReceived) and b"grpc-status" in dict(ev.headers):
                            saw_status = True
                    out = h2c.data_to_send()
                    if out:
                        conn.sendall(out)
            except (TimeoutError, OSError):
                pass
        finally:
            conn.close()
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
    import socket as socket_mod

    from bristle_spark.ingest import h2 as h2m

    with GrpcIngestService(three_table_server) as service:
        conn = socket_mod.create_connection(("127.0.0.1", service.port), timeout=10)
        try:
            h2c = h2m.H2Connection(client_side=True)
            h2c.initiate()
            sid = h2c.next_stream_id()
            req = [
                (b":method", b"POST"), (b":scheme", b"http"),
                (b":path", gt.STREAMING_PATH),
                (b":authority", b"x"),
                (b"content-type", gt.GRPC_CONTENT_TYPE),
                (b"te", b"trailers"),
            ]
            h2c.send_headers(sid, req)  # stream stays open (no END_STREAM)
            conn.sendall(h2c.data_to_send())
            # wait for the server's response headers (RPC is now active)
            conn.settimeout(5)
            got_headers = False
            while not got_headers:
                chunk = conn.recv(65536)
                assert chunk
                for ev in h2c.receive_data(chunk):
                    if isinstance(ev, h2m.HeadersReceived):
                        got_headers = True
                out = h2c.data_to_send()
                if out:
                    conn.sendall(out)
            # replay the request HEADERS on the SAME open stream
            h2c.send_headers(sid, req)
            conn.sendall(h2c.data_to_send())
            saw_reset = False
            extra_headers = 0
            try:
                while not saw_reset:
                    chunk = conn.recv(65536)
                    if not chunk:
                        break
                    for ev in h2c.receive_data(chunk):
                        if isinstance(ev, h2m.StreamReset):
                            saw_reset = True
                        if isinstance(ev, h2m.HeadersReceived):
                            extra_headers += 1
                    out = h2c.data_to_send()
                    if out:
                        conn.sendall(out)
            except (TimeoutError, OSError):
                pass
            assert saw_reset, "replayed HEADERS must reset the stream"
            assert extra_headers == 0, "response headers must not be re-sent"
        finally:
            conn.close()


def test_oversized_message_prefix_is_resource_exhausted(spark, three_table_server):
    """A 4 GiB declared length-prefix must terminate the RPC with
    RESOURCE_EXHAUSTED on the PREFIX (stock-gRPC max-recv-message-size
    behavior), never buffer toward it."""
    import socket as socket_mod

    from bristle_spark.ingest import h2 as h2m

    with GrpcIngestService(three_table_server) as service:
        conn = socket_mod.create_connection(("127.0.0.1", service.port), timeout=10)
        try:
            h2c = h2m.H2Connection(client_side=True)
            h2c.initiate()
            sid = h2c.next_stream_id()
            h2c.send_headers(
                sid,
                [
                    (b":method", b"POST"), (b":scheme", b"http"),
                    (b":path", gt.STREAMING_PATH),
                    (b":authority", b"x"),
                    (b"content-type", gt.GRPC_CONTENT_TYPE),
                    (b"te", b"trailers"),
                ],
            )
            # declared length 2^32-1, only a few real bytes behind it
            h2c.send_data(sid, b"\x00\xff\xff\xff\xff" + b"x" * 64)
            conn.sendall(h2c.data_to_send())
            conn.settimeout(10)
            status = None
            while status is None:
                chunk = conn.recv(65536)
                assert chunk, "server closed without a grpc-status"
                for ev in h2c.receive_data(chunk):
                    if isinstance(ev, h2m.HeadersReceived):
                        hdrs = dict(ev.headers)
                        if b"grpc-status" in hdrs:
                            status = int(hdrs[b"grpc-status"])
                            message = hdrs.get(b"grpc-message", b"")
                out = h2c.data_to_send()
                if out:
                    conn.sendall(out)
            assert status == gt.GRPC_RESOURCE_EXHAUSTED
            assert b"larger than max" in message
        finally:
            conn.close()


def median_ack_ms(client, acks: int = 20, rows: int = 100) -> float:
    """Median wall time of ``acks`` closed-loop ``rows``-row write_batch
    round trips on one Streaming RPC."""
    tid = client.register_type("ExampleMessage")
    bodies = [
        encode_example_row(name=f"t_{i}", type_code=1, ts=(1_700_000_000, 0), value=i)
        for i in range(rows)
    ]
    times = []
    for _ in range(acks):
        t0 = time.perf_counter()
        assert client.write_batch(bodies, type_id=tid) == svc.OK
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def test_grpc_connections_set_nodelay(spark, three_table_server, monkeypatch):
    """Every gRPC client connection turns Nagle off, as grpc-go does: the
    Streaming client's and the unary call's (the accepted side is pinned
    by test_socket_service.py::test_socket_connections_set_nodelay)."""
    from tests.test_socket_service import nodelay

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
