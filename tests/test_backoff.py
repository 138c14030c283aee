"""Server Backoff advisories and client-side honoring (D13).

The reference declares ``StreamingServerMessageBackoff``
(bristle.proto:96-99) and never emits it server-side, but its client
DOES honor it: the receive loop stores the high-water ``until``
(client/client.go:128-136) and ``WriteBatchSync`` defers sends while it
is in force — with a sleep of ``now - until``, a negative duration that
busy-loops (client/client.go:158-164; SURVEY §8.7 quirk). This repo
implements both halves with the *intended* semantics: the services can
emit the advisory alongside a TOO_MANY_IN_FLIGHT_BATCHES admission
rejection (``backoff_ms`` knob, default off = reference behavior), and
every client (socket, gRPC, the JSON forwarder through them) defers
sends of the listed types with a correct non-negative wait."""

from __future__ import annotations

import json
import time

import pytest

from bristle_spark.ingest import service as svc
from bristle_spark.ingest.fixtures import example_binding
from bristle_spark.ingest.service import (
    ClientBackoff,
    IngestSocketClient,
    IngestSocketService,
)


# ------------------------------------------------------------ unit level


def test_backoff_envelope_roundtrip():
    kind, body = svc.decode_server_message(
        svc.encode_backoff(1_700_000_000_123, ["a.B", "c.D"])
    )
    assert kind == "backoff"
    assert body == {"until": 1_700_000_000_123, "types": ["a.B", "c.D"]}
    kind, body = svc.decode_server_message(svc.encode_backoff(0, []))
    assert (kind, body) == ("backoff", {"until": 0, "types": []})


def test_client_backoff_high_water_and_scoping():
    bo = ClientBackoff()
    bo.note({"until": 5_000, "types": ["x.T"]})
    bo.note({"until": 3_000, "types": ["y.U"]})  # lower: ignored (reference)
    assert bo.until_ms == 5_000
    # listed type defers for exactly the remaining time
    assert bo.delay_s("x.T", now_ms=4_000) == pytest.approx(1.0)
    # unlisted type does not defer
    assert bo.delay_s("y.U", now_ms=4_000) == 0.0
    # expired advisory never defers — and never goes NEGATIVE (the
    # reference's now-until sleep bug, client/client.go:162)
    assert bo.delay_s("x.T", now_ms=6_000) == 0.0
    # empty types list = all types
    bo2 = ClientBackoff()
    bo2.note({"until": 5_000, "types": []})
    assert bo2.delay_s("anything", now_ms=4_500) == pytest.approx(0.5)


def test_client_backoff_wait_sleeps_remaining():
    bo = ClientBackoff()
    bo.note({"until": int(time.time() * 1000) + 150, "types": []})
    t0 = time.monotonic()
    slept = bo.wait("any.T")
    elapsed = time.monotonic() - t0
    assert slept > 0.0
    assert elapsed >= 0.1


# ------------------------------------------------------- service loop


def _body(i: int) -> bytes:
    from bristle_spark.ingest.fixtures import encode_example_row

    return encode_example_row(name=f"bo_{i}", value=i)


def test_socket_service_emits_backoff_and_client_defers(spark, three_table_server):
    """Admission rejection with backoff_ms set sends the advisory; the
    client's next send of that type defers by the remaining window."""
    with IngestSocketService(
        three_table_server, max_in_flight=0, backoff_ms=400
    ) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            t0 = time.monotonic()
            assert (
                client.write_batch([_body(0)], type_name="ExampleMessage")
                == svc.TOO_MANY_IN_FLIGHT_BATCHES
            )
            # the advisory rode in with (or right behind) the ack; pull
            # it off the wire via the next call's receive loop
            r2 = client.write_batch([_body(1)], type_name="ExampleMessage")
            elapsed = time.monotonic() - t0
            assert r2 == svc.TOO_MANY_IN_FLIGHT_BATCHES
            assert client.backoff.until_ms > 0
            assert elapsed >= 0.25  # deferred (400ms window minus slack)


def test_backoff_scoped_to_listed_type_socket(spark, three_table_server):
    """An advisory naming one type does not defer sends of another."""
    with IngestSocketService(
        three_table_server, max_in_flight=0, backoff_ms=10_000
    ) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            client.write_batch([_body(0)], type_name="ExampleMessage")
            # drain the advisory deterministically
            while client.backoff.until_ms == 0:
                kind, body = client._recv()
                if kind == "backoff":
                    client.backoff.note(body)
            assert client.backoff.types == frozenset({"ExampleMessage"})
            # a different type is NOT deferred: returns quickly
            t0 = time.monotonic()
            client.write_batch([b"x"], type_name="other.Type")
            assert time.monotonic() - t0 < 2.0


def test_grpc_client_defers_on_backoff(spark, three_table_server):
    from bristle_spark.ingest.grpc_transport import (
        GrpcIngestClient,
        GrpcIngestService,
    )

    with GrpcIngestService(
        three_table_server, max_in_flight=0, backoff_ms=400
    ) as service:
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            t0 = time.monotonic()
            assert (
                client.write_batch([_body(0)], type_name="ExampleMessage")
                == svc.TOO_MANY_IN_FLIGHT_BATCHES
            )
            r2 = client.write_batch([_body(1)], type_name="ExampleMessage")
            elapsed = time.monotonic() - t0
            assert r2 == svc.TOO_MANY_IN_FLIGHT_BATCHES
            assert client.backoff.until_ms > 0
            assert elapsed >= 0.25


def test_forwarder_defers_on_backoff(spark, three_table_server):
    """The JSON forwarder (D14) inherits deferral through its client:
    after an admission rejection arms the advisory, the next flush
    waits out the window before sending."""
    from bristle_spark.ingest.forwarder import JsonForwarder

    line = json.dumps({"name": "fw", "value": 1})
    with IngestSocketService(
        three_table_server, max_in_flight=0, backoff_ms=500
    ) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            fw = JsonForwarder(client, example_binding(), max_buffer=1)
            t0 = time.monotonic()
            fw.feed(line)  # flush #1: TOO_MANY + advisory
            fw.feed(line)  # flush #2: must defer until the window clears
            elapsed = time.monotonic() - t0
            assert client.backoff.until_ms > 0
            assert elapsed >= 0.3
            assert fw.stats.results.get("TOO_MANY_IN_FLIGHT_BATCHES", 0) >= 2


def test_backoff_off_by_default(spark, three_table_server):
    """backoff_ms=0 (the default) reproduces the reference server's
    behavior exactly: no advisory is ever emitted."""
    with IngestSocketService(three_table_server, max_in_flight=0) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            client.write_batch([_body(0)], type_name="ExampleMessage")
            client.write_batch([_body(1)], type_name="ExampleMessage")
            assert client.backoff.until_ms == 0
