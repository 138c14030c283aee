"""D18 observability (ingest/metrics.py): Prometheus text-format
/metrics + thread-dump debug endpoint, and the front-door counter
instrumentation — the debug_server.go:32-47 + grpc-prometheus
(ingest_service.go:52-66) analog, stdlib-only.

The counter families are process-wide (like a Prometheus default
registry), so the integration tests assert DELTAS around the traffic
they generate, never absolute values."""

from __future__ import annotations

import urllib.request

import pytest

from bristle_spark.ingest import metrics as M
from bristle_spark.ingest import service as svc
from tests.conftest import grpc_response


# ------------------------------------------------------------ unit level


def test_counter_vec_labels_and_values():
    reg = M.MetricsRegistry()
    c = reg.counter("x_total", "help", ("a", "b"))
    c.inc("1", "2")
    c.inc("1", "2", by=2.5)
    c.inc("3", "4")
    assert c.value("1", "2") == 3.5
    assert c.value("3", "4") == 1.0
    assert c.value("9", "9") == 0.0
    with pytest.raises(ValueError):
        c.inc("only-one-label")
    with pytest.raises(ValueError):
        reg.counter("x_total", "help", ("different",))


def test_render_text_exposition_format():
    reg = M.MetricsRegistry()
    c = reg.counter("bristle_test_total", "A test counter.", ("table",))
    c.inc("default.example", by=7)
    c.inc('we"ird\nlabel', by=1)
    text = reg.render()
    assert "# HELP bristle_test_total A test counter." in text
    assert "# TYPE bristle_test_total counter" in text
    assert 'bristle_test_total{table="default.example"} 7' in text
    # label escaping per the exposition format
    assert 'bristle_test_total{table="we\\"ird\\nlabel"} 1' in text
    # process collector gauges (Linux /proc)
    assert "process_resident_memory_bytes" in text
    assert "process_cpu_seconds_total" in text


def _get(url: str) -> tuple[int, str]:
    try:
        with urllib.request.urlopen(url, timeout=10) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as exc:
        return exc.code, ""


def test_debug_server_serves_metrics_and_threads():
    reg = M.MetricsRegistry()
    reg.counter("bristle_up", "Up.", ()).inc()
    with M.DebugServer(registry=reg) as server:
        code, body = _get(f"http://127.0.0.1:{server.port}/metrics")
        assert code == 200
        assert "bristle_up 1" in body
        code, body = _get(f"http://127.0.0.1:{server.port}/debug/threads")
        assert code == 200
        assert "thread dump" in body and "MainThread" in body
        # pprof-style alias
        code, _ = _get(f"http://127.0.0.1:{server.port}/debug/pprof/goroutine")
        assert code == 200
        code, _ = _get(f"http://127.0.0.1:{server.port}/nope")
        assert code == 404


def test_metrics_gate_matches_reference_config():
    """config.Metrics=false keeps the debug endpoints but 404s /metrics
    (debug_server.go:45-47: /metrics mounts only when enabled)."""
    with M.DebugServer(metrics_enabled=False) as server:
        code, _ = _get(f"http://127.0.0.1:{server.port}/metrics")
        assert code == 404
        code, _ = _get(f"http://127.0.0.1:{server.port}/debug/threads")
        assert code == 200


def test_debug_server_from_config():
    assert M.debug_server_from_config({}) is None
    assert M.debug_server_from_config({"debugging": {}}) is None
    server = M.debug_server_from_config(
        {"debugging": {"bind": "127.0.0.1:0", "metrics": True}}
    )
    try:
        code, body = _get(f"http://127.0.0.1:{server.port}/metrics")
        assert code == 200 and "process_" in body
    finally:
        server.stop()


# ----------------------------------------------------- front-door deltas


def test_socket_front_door_advances_counters(three_table_server):
    from bristle_spark.ingest.fixtures import encode_example_row
    from bristle_spark.ingest.service import IngestSocketClient, IngestSocketService

    server = three_table_server
    bodies = [encode_example_row(name=f"m_{i}", value=i) for i in range(5)]
    ok0 = M.BATCHES.value("socket", "OK")
    unk0 = M.BATCHES.value("socket", "UNK_MESSAGE")
    rows0 = M.ROWS.value("default.example_table")
    bytes0 = M.PAYLOAD_BYTES.value("default.example_table")
    with IngestSocketService(server) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            assert client.write_batch(bodies, type_name="ExampleMessage") == svc.OK
            assert (
                client.write_batch([b"x"], type_name="no.such.Type")
                == svc.UNK_MESSAGE
            )
    assert M.BATCHES.value("socket", "OK") == ok0 + 1
    assert M.BATCHES.value("socket", "UNK_MESSAGE") == unk0 + 1
    assert M.ROWS.value("default.example_table") == rows0 + 5
    assert M.PAYLOAD_BYTES.value("default.example_table") == bytes0 + sum(
        len(b) for b in bodies
    )

    # admission rejection: counted once under the socket label, no OK
    full0 = M.BATCHES.value("socket", "TOO_MANY_IN_FLIGHT_BATCHES")
    with IngestSocketService(server, max_in_flight=0) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            assert (
                client.write_batch(bodies, type_name="ExampleMessage")
                == svc.TOO_MANY_IN_FLIGHT_BATCHES
            )
    assert M.BATCHES.value("socket", "TOO_MANY_IN_FLIGHT_BATCHES") == full0 + 1
    assert M.BATCHES.value("socket", "OK") == ok0 + 1


def test_grpc_front_door_advances_rpc_counters(three_table_server):
    from bristle_spark.ingest.fixtures import encode_example_row
    from bristle_spark.ingest.grpc_transport import (
        GrpcIngestClient,
        GrpcIngestService,
        grpc_write_batch_unary,
    )

    server = three_table_server
    started0 = M.RPC_STARTED.value("WriteBatch")
    handled0 = M.RPC_HANDLED.value("WriteBatch", "0")
    s_started0 = M.RPC_STARTED.value("Streaming")
    u_started0 = M.RPC_STARTED.value("unknown")
    u_handled0 = M.RPC_HANDLED.value("unknown", "12")
    unary0 = M.BATCHES.value("grpc-unary", "OK")
    stream0 = M.BATCHES.value("grpc-streaming", "OK")
    bodies = [encode_example_row(name="g", value=1)]
    with GrpcIngestService(server) as service:
        assert grpc_write_batch_unary(
            "127.0.0.1", service.port, [("ExampleMessage", bodies)]
        ) == (1, 0)
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            assert client.write_batch(bodies, type_name="ExampleMessage") == svc.OK
        grpc_response(service.port, b"/bristle.BristleIngestService/NoSuchMethod")
    assert M.RPC_STARTED.value("WriteBatch") == started0 + 1
    assert M.RPC_HANDLED.value("WriteBatch", "0") == handled0 + 1
    assert M.RPC_STARTED.value("Streaming") == s_started0 + 1
    assert M.RPC_STARTED.value("unknown") == u_started0 + 1
    assert M.RPC_HANDLED.value("unknown", "12") == u_handled0 + 1
    assert M.BATCHES.value("grpc-unary", "OK") == unary0 + 1
    assert M.BATCHES.value("grpc-streaming", "OK") == stream0 + 1

    # admission rejection: counted once under the grpc-streaming label
    full0 = M.BATCHES.value("grpc-streaming", "TOO_MANY_IN_FLIGHT_BATCHES")
    with GrpcIngestService(server, max_in_flight=0) as service:
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            assert (
                client.write_batch(bodies, type_name="ExampleMessage")
                == svc.TOO_MANY_IN_FLIGHT_BATCHES
            )
    assert (
        M.BATCHES.value("grpc-streaming", "TOO_MANY_IN_FLIGHT_BATCHES") == full0 + 1
    )
    assert M.BATCHES.value("grpc-streaming", "OK") == stream0 + 1
