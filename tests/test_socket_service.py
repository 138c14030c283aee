"""End-to-end network ingest: the wire-protocol TCP front door
(ingest/service.py) feeding the checkpointed streaming sink — the D1/D2
closure test. A live client session registers the three example message
types (reference examples/*.proto), streams varint-framed write batches
through a real socket, receives per-batch BatchResult acks, and the
server pump drains the landed payloads into (day-partitioned) parquet
sinks exactly-once. The checks the gRPC front door shares are written
once in conftest.py."""

from __future__ import annotations

import os
import queue
import socket

from bristle_spark.ingest import service as svc
from bristle_spark.ingest import wire
from bristle_spark.ingest.fixtures import encode_example_row
from bristle_spark.ingest.server import IngestServer
from bristle_spark.ingest.service import IngestSocketClient, IngestSocketService
from tests.conftest import (
    check_batch_limits_and_backpressure,
    check_concurrent_clients,
    check_end_to_end_three_fixtures,
    check_server_side_failure_acks_full,
    check_unsupported_messages_terminate,
    nodelay,
)


def test_socket_end_to_end_three_fixtures(spark, three_table_server):
    check_end_to_end_three_fixtures(spark, three_table_server, "socket")


def test_batch_limits_and_backpressure(spark, three_table_server):
    check_batch_limits_and_backpressure(three_table_server, "socket")


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
    check_concurrent_clients(spark, three_table_server, "socket")


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
    check_unsupported_messages_terminate(three_table_server, "socket")


def test_server_side_failure_acks_full_not_decode_err(spark, three_table_server, monkeypatch):
    check_server_side_failure_acks_full(three_table_server, "socket", monkeypatch)


def test_oversized_envelope_prefix_drops_session(spark, three_table_server):
    """A declared multi-GiB envelope length must drop the session on the
    PREFIX, never allocate toward it (the socket twin of the gRPC
    max-recv-message-size bound)."""
    with IngestSocketService(three_table_server) as service:
        conn = socket.create_connection(("127.0.0.1", service.port), timeout=10)
        try:
            conn.sendall(wire.encode_varint(1 << 33))  # 8 GiB declared
            conn.settimeout(10)
            # server must close the connection (malformed stream)
            assert conn.recv(1) == b""
        finally:
            conn.close()


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
