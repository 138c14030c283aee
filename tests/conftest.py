"""Shared fixtures: one SparkSession per test session, a DuckDB oracle
connection with the same tables as views, a canonicalizing comparator
that mirrors the driver's order-insensitive value comparison, and the
ingest front-door fixtures and checks the socket, gRPC and TLS modules
share.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import socket
import statistics
import threading
import time

import duckdb
import pytest

from bristle_spark.catalog import TABLES
from bristle_spark.ingest import fixtures, h2, wire
from bristle_spark.ingest import grpc_transport as gt
from bristle_spark.ingest import service as svc
from bristle_spark.ingest.server import IngestServer
from bristle_spark.session import get_spark

SF_DIR = os.environ.get("BRISTLE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    # cpus=8 re-measured in r16: 16 task slots made the fast gate
    # SLOWER (6:23 vs 5:36) — the ~0.4 s/test long tail is per-query
    # planning/scheduling, not task throughput.
    spark = get_spark(app_name="bristle-spark-tests", cpus=8, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def oracle(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()


def canon_cell(v):
    """Canonical, engine-independent representation of one value.

    Numbers are normalized across int/float/Decimal carriers (pandas
    conversion differs between Spark and DuckDB for e.g. DECIMAL), but
    non-integral floats still compare exactly via repr."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer():
            return f"n:{int(v)}"
        return f"n:{v!r}"
    if isinstance(v, int):
        return f"n:{v}"
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return f"n:{int(v)}"
        return f"n:{float(v)!r}"
    if isinstance(v, datetime.datetime):
        return "t:" + v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return "t:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return "x:" + v.hex()
    return "s:" + str(v)


def canon_frame(pdf):
    """Sort columns by name, canonicalize cells column-wise (iterrows
    would upcast mixed-dtype rows to float), sort rows."""
    cols = sorted(pdf.columns)
    columns = [[canon_cell(_from_numpy(v)) for v in pdf[c].tolist()] for c in cols]
    rows = sorted(zip(*columns)) if cols else []
    return cols, rows


def _from_numpy(v):
    import numpy as np
    import pandas as pd

    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, np.ndarray):
        return [_from_numpy(x) for x in v]
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v


def assert_frames_match(spark_pdf, oracle_pdf, name: str):
    s_cols, s_rows = canon_frame(spark_pdf)
    o_cols, o_rows = canon_frame(oracle_pdf)
    assert s_cols == o_cols, f"{name}: column mismatch spark={s_cols} oracle={o_cols}"
    assert len(s_rows) == len(o_rows), (
        f"{name}: row count mismatch spark={len(s_rows)} oracle={len(o_rows)}"
    )
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        assert sr == orow, f"{name}: first differing row #{i}:\n spark={sr}\noracle={orow}"


# --- the ingest front doors -------------------------------------------------
# One three-table server and the helpers the socket, gRPC and TLS front-door
# modules share, so no test module imports another.


def _cols_cfg(cols) -> list[dict]:
    return [{"name": c.name, "type": c.ch_type, "default": c.default} for c in cols]


@pytest.fixture()
def three_table_server(spark, tmp_path):
    """An IngestServer bound to the three example tables (reference
    examples/*.proto): example (day-partitioned), binance and finnhub."""
    for fname, blob in (
        ("example.pb", fixtures.example_descriptor_set()),
        ("binance.pb", fixtures.binance_descriptor_set()),
        ("finnhub.pb", fixtures.finnhub_descriptor_set()),
    ):
        (tmp_path / fname).write_bytes(blob)
    cfg = {
        "autobind": True,
        "proto_descriptor_paths": ["example.pb", "binance.pb", "finnhub.pb"],
        "tables": [
            {
                "name": "default.example_table",
                "columns": _cols_cfg(fixtures.example_binding().sink_columns),
                "ts_column": "timestamp",  # day-partitioned sink
            },
            {"name": "binance.trade_events", "columns": _cols_cfg(fixtures.binance_ddl_columns())},
            {"name": "finnhub.trades", "columns": _cols_cfg(fixtures.finnhub_ddl_columns())},
        ],
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    yield IngestServer(spark, str(cfg_path), str(tmp_path / "data"))


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


def nodelay(conn: socket.socket) -> int:
    return conn.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)


def median_ack_ms(client, acks: int = 20, rows: int = 100) -> float:
    """Median wall time of ``acks`` closed-loop ``rows``-row write_batch
    round trips on one Streaming RPC."""
    tid = client.register_type("ExampleMessage")
    bodies = [
        fixtures.encode_example_row(
            name=f"t_{i}", type_code=1, ts=(1_700_000_000, 0), value=i
        )
        for i in range(rows)
    ]
    times = []
    for _ in range(acks):
        t0 = time.perf_counter()
        assert client.write_batch(bodies, type_id=tid) == svc.OK
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


# the checks both front doors must pass, written once: each takes the door
# by name; the third entry is what a session-ending error must match
FRONT_DOORS = {
    "socket": (svc.IngestSocketService, svc.IngestSocketClient, None),
    "grpc": (gt.GrpcIngestService, gt.GrpcIngestClient, "grpc-status 2"),
}


def check_end_to_end_three_fixtures(spark, server, door: str) -> None:
    """A live client session registers the three example message types,
    streams write batches, gets per-batch acks, and the server pump
    drains the landed payloads into day-partitioned sinks exactly-once."""
    service_cls, client_cls, _ = FRONT_DOORS[door]
    with service_cls(server) as service:
        with client_cls("127.0.0.1", service.port) as client:
            # register-type handshake -> short id (ingest_service.go:196-217)
            ex_id = client.register_type("ExampleMessage")
            assert ex_id == 1

            # two day-partitions across two batches, sent by type id
            for day, t0, n in ((1, 1_700_000_000, 4), (2, 1_700_100_000, 3)):
                rows = [
                    fixtures.encode_example_row(
                        name=f"d{day}_{i}", type_code=day, ts=(t0 + i, 0), value=i
                    )
                    for i in range(n)
                ]
                assert client.write_batch(rows, type_id=ex_id) == svc.OK

            # the other two fixtures go by inline type name
            assert (
                client.write_batch([_binance_body(i) for i in range(5)], type_name="Trade")
                == svc.OK
            )
            assert (
                client.write_batch([_finnhub_body(i) for i in range(2)], type_name="FinnhubTrade")
                == svc.OK
            )

            # error taxonomy on the live connection, the same BatchResult enum (D12)
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


def check_batch_limits_and_backpressure(server, door: str) -> None:
    service_cls, client_cls, _ = FRONT_DOORS[door]
    bodies = [fixtures.encode_example_row(name="x", value=1)] * 3
    with service_cls(server, max_batch_len=2) as service:
        with client_cls("127.0.0.1", service.port) as client:
            assert client.write_batch(bodies, type_name="ExampleMessage") == svc.TOO_BIG
    with service_cls(server, max_in_flight=0) as service:
        with client_cls("127.0.0.1", service.port) as client:
            assert (
                client.write_batch(bodies[:1], type_name="ExampleMessage")
                == svc.TOO_MANY_IN_FLIGHT_BATCHES
            )


def check_concurrent_clients(spark, server, door: str) -> None:
    """Four clients streaming in parallel: every batch acks OK and the
    drained sink holds exactly the union of all rows."""
    service_cls, client_cls, _ = FRONT_DOORS[door]
    results = []

    def run_client(cid: int, port: int) -> None:
        with client_cls("127.0.0.1", port) as client:
            tid = client.register_type("ExampleMessage")
            for b in range(3):
                bodies = [
                    fixtures.encode_example_row(
                        name=f"c{cid}_b{b}_{i}", type_code=1, ts=(1_700_000_000, 0), value=i
                    )
                    for i in range(10)
                ]
                results.append(client.write_batch(bodies, type_id=tid))

    with service_cls(server) as service:
        threads = [
            threading.Thread(target=run_client, args=(c, service.port)) for c in range(4)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    assert results == [svc.OK] * 12
    server.pump()
    out = spark.read.parquet(os.path.join(server.data_root, "sink", "default__example_table"))
    assert out.count() == 120
    assert out.select("name").distinct().count() == 120


def check_unsupported_messages_terminate(server, door: str) -> None:
    service_cls, client_cls, ended = FRONT_DOORS[door]
    with service_cls(server) as service:
        # register with inline descriptor: ErrUnsupported ends the session
        client = client_cls("127.0.0.1", service.port)
        client._send_envelope(svc.encode_register_type("ExampleMessage", descriptor=b"\x01"))
        with pytest.raises(ConnectionError, match=ended):
            client._recv()
        client.close()

        # update_default: ErrUnsupported, session ended (S13)
        client = client_cls("127.0.0.1", service.port)
        client.update_default("ExampleMessage", b"")
        with pytest.raises(ConnectionError, match=ended):
            client._recv()
        client.close()

        # a fresh session on a fresh connection still works after others died
        with client_cls("127.0.0.1", service.port) as client:
            assert client.register_type("ExampleMessage") == 1


def check_server_side_failure_acks_full(server, door: str, monkeypatch) -> None:
    """A landing-zone I/O failure on a VALID batch must ack FULL (the
    protocol's server-side write failure — retryable), never DECODE_ERR
    (which tells the client its data is permanently malformed)."""
    service_cls, client_cls, _ = FRONT_DOORS[door]
    with service_cls(server) as service:

        def boom(server, binding, type_name, bodies):
            raise OSError("disk full")

        monkeypatch.setattr(svc, "land_payload", boom)
        with client_cls("127.0.0.1", service.port) as client:
            body = fixtures.encode_example_row(name="ok", value=1)
            assert client.write_batch([body], type_name="ExampleMessage") == svc.FULL


def grpc_response(
    port: int, path: bytes, request: bytes | None = None, end_stream: bool = True
) -> list[tuple]:
    """One gRPC call on a fresh cleartext connection, built from raw h2
    so that it does not depend on the clients under test. Returns the
    response on the call's stream as ``("HEADERS", headers, end_stream)``
    and ``("DATA", data, end_stream)`` tuples: up to END_STREAM, or, when
    ``end_stream`` is False and the request stays open, up to the first
    DATA."""
    conn = socket.create_connection(("127.0.0.1", port), timeout=10)
    try:
        c = h2.H2Connection(client_side=True)
        c.initiate()
        sid = c.next_stream_id()
        c.send_headers(
            sid,
            [
                (b":method", b"POST"),
                (b":scheme", b"http"),
                (b":path", path),
                (b":authority", b"localhost"),
                (b"content-type", b"application/grpc"),
                (b"te", b"trailers"),
            ],
            end_stream=request is None,
        )
        if request is not None:
            c.send_data(sid, gt.frame_message(request), end_stream=end_stream)
        conn.sendall(c.data_to_send())
        frames: list[tuple] = []
        while not frames or not (frames[-1][2] or (frames[-1][0] == "DATA" and not end_stream)):
            chunk = conn.recv(65536)
            assert chunk, "server closed before the response ended"
            for ev in c.receive_data(chunk):
                if isinstance(ev, h2.HeadersReceived) and ev.stream_id == sid:
                    frames.append(("HEADERS", list(ev.headers), ev.end_stream))
                elif isinstance(ev, h2.DataReceived) and ev.stream_id == sid:
                    frames.append(("DATA", ev.data, ev.end_stream))
            out = c.data_to_send()
            if out:
                conn.sendall(out)
        return frames
    finally:
        conn.close()


# --- fast-gate tiering (VERDICT r15 ask #2) --------------------------------
# The default run is the fast deterministic gate (pytest.ini deselects
# `slow`); these modules / param families form the heavyweight
# end-to-end tier that still gates every closing round via `-m ""`.
# Module-level: real Structured Streaming jobs (multi-second
# availableNow micro-batch floors per test), server reload and CLI
# end-to-ends, event-log balance probes, and the iterative-trainer
# numpy pins. Param-level: the s_* streaming keys inside otherwise-fast
# parametrized suites (each runs a full micro-batch stream).
# The ingest front doors (socket and gRPC services, TLS, Backoff,
# metrics, wire framing, h2/HPACK, forwarder) are in the fast tier: they
# are what the system is for, and they need no streaming job.
SLOW_MODULES = {
    "test_streaming.py",
    "test_stream_restart_replay.py",
    "test_stream_ingest.py",
    "test_stateful_and_skew.py",
    "test_determinism.py",
    "test_canonicalizer_safety.py",
    "test_scale_shapes.py",
    "test_cli.py",
    "test_server_reload.py",
    "test_maintenance.py",
    "test_pca_project.py",
    "test_ingest_pipeline.py",
    "test_jdbc_sink.py",
    "test_clickhouse_sink.py",
    # registry-wide SWEEPS (one plan/robustness probe per key, ~300
    # params each): valuable, but the per-key pins in test_plans.py and
    # the full batch oracle parity already gate the fast tier
    "test_no_global_windows.py",
    "test_empty_tables.py",
}


# individually heavyweight tests inside otherwise-fast modules
SLOW_TESTS = (
    "test_pq_recall_against_exact",
    "test_matches_reference_python_bpe",
    "test_chained_merge_respects_symbol_boundaries",
    "test_funnel_runs_propagation_once",
    "test_winnowing_guarantee_shared_run_shares_fingerprint",
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = os.path.basename(item.nodeid.split("::")[0])
        if (
            mod in SLOW_MODULES
            or "[s_" in item.nodeid
            or any(t in item.nodeid for t in SLOW_TESTS)
        ):
            item.add_marker(pytest.mark.slow)
