"""End-to-end network ingest: the wire-protocol TCP front door
(ingest/service.py) feeding the checkpointed streaming sink — the D1/D2
closure test. A live client session registers the three example message
types (reference examples/*.proto), streams varint-framed write batches
through a real socket, receives per-batch BatchResult acks, and the
server pump drains the landed payloads into (day-partitioned) parquet
sinks exactly-once."""

from __future__ import annotations

import json
import os
import queue
import socket

import pytest

from bristle_spark.ingest import service as svc
from bristle_spark.ingest import wire
from bristle_spark.ingest.fixtures import (
    binance_ddl_columns,
    binance_descriptor_set,
    encode_example_row,
    example_descriptor_set,
    finnhub_ddl_columns,
    finnhub_descriptor_set,
)
from bristle_spark.ingest.server import IngestServer
from bristle_spark.ingest.service import IngestSocketClient, IngestSocketService


def _cols_cfg(cols) -> list[dict]:
    return [
        {"name": c.name, "type": c.ch_type, "default": c.default} for c in cols
    ]


def _example_cols_cfg() -> list[dict]:
    from bristle_spark.ingest.fixtures import example_binding

    return _cols_cfg(example_binding().sink_columns)


@pytest.fixture()
def three_table_server(spark, tmp_path):
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
                "columns": _example_cols_cfg(),
                "ts_column": "timestamp",  # day-partitioned sink
            },
            {"name": "binance.trade_events", "columns": _cols_cfg(binance_ddl_columns())},
            {"name": "finnhub.trades", "columns": _cols_cfg(finnhub_ddl_columns())},
        ],
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    server = IngestServer(spark, str(cfg_path), str(tmp_path / "data"))
    yield server


def _binance_body(i: int) -> bytes:
    return wire.encode_message(
        [
            (1, "string", "trade", False),
            (2, "uint64", 1_700_000_000_000 + i, False),
            (3, "string", "BTCUSDT", False),
            (4, "uint64", 1000 + i, False),
            (5, "double", 42000.5 + i, False),
            (6, "double", 0.25, False),
            (7, "uint64", 1, False),
            (8, "uint64", 2, False),
            (9, "uint64", 1_700_000_000_000 + i, False),
            (10, "bool", i % 2 == 0, False),
            (11, "bool", True, False),
        ]
    )


def _finnhub_body(i: int) -> bytes:
    return wire.encode_message(
        [
            (1, "string", "AAPL", False),
            (2, "double", 180.0 + i, False),
            (3, "uint64", 1_700_000_000_000 + i, False),
            (4, "double", 10.0, False),
            (5, "string", ["1", "12"], True),
        ]
    )


def test_socket_end_to_end_three_fixtures(spark, three_table_server):
    server = three_table_server
    with IngestSocketService(server) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            # register-type handshake -> short id (ingest_service.go:196-217)
            ex_id = client.register_type("ExampleMessage")
            assert ex_id == 1

            # two day-partitions across two batches, sent by type id
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

            # the other two fixtures go by inline type name
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

            # error taxonomy on the live socket (D12)
            assert client.write_batch([b"x"], type_name="no.such.Type") == svc.UNK_MESSAGE
            assert (
                client.write_batch([b"\xff\xff\xff"], type_name="ExampleMessage")
                == svc.DECODE_ERR
            )
            assert client.write_batch([b"x"], type_id=999) == svc.UNK_MESSAGE

    # drain the landed payloads through the checkpointed streaming writers
    server.pump()

    sink_root = os.path.join(server.data_root, "sink")
    ex = spark.read.parquet(os.path.join(sink_root, "default__example_table"))
    assert ex.count() == 7
    assert sorted(r["name"] for r in ex.collect())[:2] == ["d1_0", "d1_1"]
    # day-partitioned layout (ClickHouse PARTITION BY toYYYYMMDD analog)
    days = {
        d
        for d in os.listdir(os.path.join(sink_root, "default__example_table"))
        if d.startswith("_day=")
    }
    assert len(days) == 2

    bn = spark.read.parquet(os.path.join(sink_root, "binance__trade_events"))
    assert bn.count() == 5
    assert {r["symbol"] for r in bn.collect()} == {"BTCUSDT"}

    fh = spark.read.parquet(os.path.join(sink_root, "finnhub__trades"))
    assert fh.count() == 2
    assert fh.collect()[0]["tradeConditions"] == ["1", "12"]

    # exactly-once: a second pump with no new payloads adds nothing
    server.pump()
    assert spark.read.parquet(os.path.join(sink_root, "default__example_table")).count() == 7


def test_batch_limits_and_backpressure(spark, three_table_server):
    server = three_table_server
    bodies = [encode_example_row(name="x", value=1)] * 3
    with IngestSocketService(server, max_batch_len=2) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            assert client.write_batch(bodies, type_name="ExampleMessage") == svc.TOO_BIG
    with IngestSocketService(server, max_in_flight=0) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            assert (
                client.write_batch(bodies[:1], type_name="ExampleMessage")
                == svc.TOO_MANY_IN_FLIGHT_BATCHES
            )


def test_acked_payloads_survive_server_restart(spark, three_table_server, tmp_path):
    """Durability contract of the ack: once a batch is acked OK it is
    landed on disk, so a crash before the drain loses nothing — a FRESH
    server process over the same data root pumps it into the sink
    (where the reference drops buffered batches on writer failure,
    clickhouse_table_writer.go:100-104)."""
    server = three_table_server
    with IngestSocketService(server) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            tid = client.register_type("ExampleMessage")
            bodies = [
                encode_example_row(name=f"dur_{i}", type_code=1, ts=(1_700_000_000, 0))
                for i in range(8)
            ]
            assert client.write_batch(bodies, type_id=tid) == svc.OK
    # no pump on the original server: simulate a crash after the ack
    fresh = IngestServer(spark, server.config_path, server.data_root)
    fresh.pump()
    sink = os.path.join(server.data_root, "sink", "default__example_table")
    out = spark.read.parquet(sink)
    assert out.count() == 8
    assert sorted(r["name"] for r in out.collect()) == [f"dur_{i}" for i in range(8)]


def test_concurrent_clients(spark, three_table_server):
    """Four clients streaming in parallel: every batch acks OK and the
    drained sink holds exactly the union of all rows."""
    import threading

    server = three_table_server
    results = []

    def run_client(cid: int, port: int) -> None:
        with IngestSocketClient("127.0.0.1", port) as client:
            tid = client.register_type("ExampleMessage")
            for b in range(3):
                bodies = [
                    encode_example_row(
                        name=f"c{cid}_b{b}_{i}",
                        type_code=1,
                        ts=(1_700_000_000, 0),
                        value=i,
                    )
                    for i in range(10)
                ]
                results.append(client.write_batch(bodies, type_id=tid))

    with IngestSocketService(server) as service:
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


def test_reload_during_live_session(spark, three_table_server, tmp_path):
    """A config reload (same bindings) between batches of one live
    session: both batches ack OK and drain exactly-once — the writer
    swap keeps checkpoints keyed by table, so nothing replays."""
    server = three_table_server
    with IngestSocketService(server) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            tid = client.register_type("ExampleMessage")
            pre = [
                encode_example_row(name=f"pre_{i}", type_code=1, ts=(1_700_000_000, 0))
                for i in range(4)
            ]
            assert client.write_batch(pre, type_id=tid) == svc.OK
            server.pump()
            assert server.reload() is True
            post = [
                encode_example_row(name=f"post_{i}", type_code=1, ts=(1_700_000_000, 0))
                for i in range(5)
            ]
            assert client.write_batch(post, type_id=tid) == svc.OK
    server.pump()
    sink = os.path.join(server.data_root, "sink", "default__example_table")
    out = spark.read.parquet(sink)
    assert out.count() == 9
    assert out.select("name").distinct().count() == 9


def test_unsupported_messages_terminate_session(spark, three_table_server):
    with IngestSocketService(three_table_server) as service:
        # register with inline descriptor: ErrUnsupported, session closed
        client = IngestSocketClient("127.0.0.1", service.port)
        client._send_envelope(svc.encode_register_type("ExampleMessage", descriptor=b"\x01"))
        with pytest.raises(ConnectionError):
            client._recv()
        client.close()

        # update_default: ErrUnsupported, session closed (S13)
        client = IngestSocketClient("127.0.0.1", service.port)
        client.update_default("ExampleMessage", b"")
        with pytest.raises(ConnectionError):
            client._recv()
        client.close()

        # a fresh session still works after others died
        with IngestSocketClient("127.0.0.1", service.port) as client:
            assert client.register_type("ExampleMessage") == 1


def test_server_side_failure_acks_full_not_decode_err(spark, three_table_server, monkeypatch):
    """A landing-zone I/O failure on a VALID batch must ack FULL (the
    protocol's server-side write failure — retryable), never DECODE_ERR
    (which tells the client its data is permanently malformed)."""
    server = three_table_server
    with IngestSocketService(server) as service:
        def boom(server, binding, type_name, bodies):
            raise OSError("disk full")

        monkeypatch.setattr(svc, "land_payload", boom)
        with IngestSocketClient("127.0.0.1", service.port) as client:
            body = encode_example_row(name="ok", value=1)
            assert (
                client.write_batch([body], type_name="ExampleMessage") == svc.FULL
            )


def test_oversized_envelope_prefix_drops_session(spark, three_table_server):
    """A declared multi-GiB envelope length must drop the session on the
    PREFIX, never allocate toward it (the socket twin of the gRPC
    max-recv-message-size bound)."""
    import socket as socket_mod

    from bristle_spark.ingest import wire
    from bristle_spark.ingest.service import IngestSocketService

    with IngestSocketService(three_table_server) as service:
        conn = socket_mod.create_connection(("127.0.0.1", service.port), timeout=10)
        try:
            conn.sendall(wire.encode_varint(1 << 33))  # 8 GiB declared
            conn.settimeout(10)
            # server must close the connection (malformed stream)
            assert conn.recv(1) == b""
        finally:
            conn.close()


def nodelay(conn: socket.socket) -> int:
    return conn.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)


class NodelayRecordingDoor(svc.FrontDoor):
    """A front door that serves nothing: it records ``TCP_NODELAY`` of
    each accepted connection as ``_serve_connection`` receives it."""

    def __init__(self) -> None:
        super().__init__(None)
        self.seen: queue.Queue[int] = queue.Queue()

    def _serve_connection(self, conn: socket.socket) -> None:
        self.seen.put(nodelay(conn))
        conn.close()


def test_socket_connections_set_nodelay():
    """Both ends of a socket front-door connection turn Nagle off, as Go's
    net default does: the client connect and the accepted connection,
    before the transport serves it."""
    with NodelayRecordingDoor() as door:
        with IngestSocketClient("127.0.0.1", door.port) as client:
            assert nodelay(client.conn)
            assert door.seen.get(timeout=10)
