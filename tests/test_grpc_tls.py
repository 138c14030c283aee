"""TLS/ALPN on the HTTP/2-gRPC front door (VERDICT r10 ask #4): a
production bristle client connects over TLS with ALPN ``h2``; stdlib
``ssl`` supports both, so the transport gains a tls_context without any
new dependency. A throwaway self-signed cert is generated per test
session with the openssl CLI."""

from __future__ import annotations

import os
import socket
import ssl
import subprocess

import pytest

from bristle_spark.ingest import grpc_transport as gt
from bristle_spark.ingest import service as svc
from bristle_spark.ingest.fixtures import encode_example_row
from bristle_spark.ingest.grpc_transport import GrpcIngestClient, GrpcIngestService
from tests.conftest import _binance_body, _finnhub_body, median_ack_ms, nodelay


@pytest.fixture(scope="module")
def certpair(tmp_path_factory):
    d = tmp_path_factory.mktemp("tls")
    cert, key = str(d / "cert.pem"), str(d / "key.pem")
    subprocess.run(
        [
            "openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
            "-keyout", key, "-out", cert, "-days", "1",
            "-subj", "/CN=localhost",
            "-addext", "subjectAltName=DNS:localhost,IP:127.0.0.1",
        ],
        check=True, capture_output=True,
    )
    return cert, key


@pytest.fixture()
def tls_server(three_table_server, certpair):
    cert, key = certpair
    return three_table_server, gt.make_server_tls_context(cert, key), cert


def test_tls_end_to_end_three_fixtures(spark, tls_server):
    """The three-fixture end-to-end over TLS: streaming bidi RPC with a
    CA-verifying client (the production shape), then unary WriteBatch on
    the same TLS listener."""
    server, ctx, cert = tls_server
    with GrpcIngestService(server, tls_context=ctx) as service:
        cctx = gt.make_client_tls_context(cafile=cert)
        with GrpcIngestClient(
            "127.0.0.1", service.port,
            tls_context=cctx, server_hostname="localhost",
        ) as client:
            assert client.conn.selected_alpn_protocol() == "h2"
            for type_name, bodies in (
                ("ExampleMessage",
                 [encode_example_row(name=f"t_{i}", type_code=1,
                                     ts=(1_700_000_000, 0), value=i)
                  for i in range(4)]),
                ("Trade", [_binance_body(i) for i in range(3)]),
                ("FinnhubTrade", [_finnhub_body(i) for i in range(2)]),
            ):
                tid = client.register_type(type_name)
                assert client.write_batch(bodies, type_id=tid) == svc.OK
        ack, dropped = gt.grpc_write_batch_unary(
            "127.0.0.1", service.port,
            [("ExampleMessage", [encode_example_row(name="u", value=9)])],
            tls_context=gt.make_client_tls_context(cafile=cert),
            server_hostname="localhost",
        )
        assert (ack, dropped) == (1, 0)
    import pyarrow.parquet as pq

    for table, n in (
        ("default__example_table", 5),  # 4 streaming + 1 unary
        ("binance__trade_events", 3),
        ("finnhub__trades", 2),
    ):
        payload_dir = os.path.join(server.data_root, "payloads", table)
        total = sum(
            pq.read_table(os.path.join(payload_dir, f)).num_rows
            for f in os.listdir(payload_dir)
        )
        assert total == n


def test_tls_rejects_cleartext_client(spark, tls_server):
    """A cleartext h2c client against the TLS listener must fail the
    connection cleanly (no HTTP/2 bytes served), not hang."""
    server, ctx, _cert = tls_server
    with GrpcIngestService(server, tls_context=ctx) as service:
        with pytest.raises((ConnectionError, OSError, TimeoutError, ValueError)):
            # the constructor may buffer its preface without error; the
            # register round-trip REQUIRES a server response, which a
            # TLS listener never gives a cleartext client
            client = GrpcIngestClient("127.0.0.1", service.port, timeout=3)
            client.register_type("ExampleMessage")


def test_tls_requires_alpn_h2(spark, tls_server):
    """A TLS client that does NOT offer ALPN h2 handshakes but gets no
    HTTP/2 service: RFC 7540 §3.3 makes the token mandatory."""
    server, ctx, cert = tls_server
    with GrpcIngestService(server, tls_context=ctx) as service:
        plain = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
        plain.check_hostname = False
        plain.verify_mode = ssl.CERT_NONE  # no ALPN offered at all
        raw = socket.create_connection(("127.0.0.1", service.port), timeout=5)
        tls = plain.wrap_socket(raw, server_hostname="localhost")
        try:
            assert tls.selected_alpn_protocol() is None
            tls.sendall(b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n")
            tls.settimeout(5)
            try:
                data = tls.recv(4096)
            except (ssl.SSLError, OSError, TimeoutError):
                data = b""
            assert data == b"", "server served HTTP/2 without ALPN h2"
        finally:
            tls.close()


def test_tls_client_verifies_server_cert(spark, tls_server):
    """A verifying client with the WRONG CA must refuse the server."""
    server, ctx, _cert = tls_server
    with GrpcIngestService(server, tls_context=ctx) as service:
        strict = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)  # system CAs only
        strict.set_alpn_protocols(["h2"])
        with pytest.raises((ConnectionError, ssl.SSLError)):
            gt._tls_connect("127.0.0.1", service.port, 5, strict, "localhost")


def test_cleartext_path_still_works(spark, tls_server):
    """tls_context=None keeps the h2c prior-knowledge path byte-for-byte
    unchanged."""
    server, _ctx, _cert = tls_server
    with GrpcIngestService(server) as service:  # no TLS
        ack, dropped = gt.grpc_write_batch_unary(
            "127.0.0.1", service.port,
            [("ExampleMessage", [encode_example_row(name="c", value=1)])],
        )
        assert (ack, dropped) == (1, 0)


def test_tls_connection_sets_nodelay_and_acks_fast(spark, tls_server):
    """Over TLS the option is set on the TCP socket before the wrap, so
    the TLS client keeps it, and the median ack of 20 closed-loop
    100-row batches stays under half of Linux's 40 ms delayed-ACK floor."""
    server, ctx, cert = tls_server
    with GrpcIngestService(server, tls_context=ctx) as service:
        with GrpcIngestClient(
            "127.0.0.1", service.port,
            tls_context=gt.make_client_tls_context(cafile=cert),
            server_hostname="localhost",
        ) as client:
            assert nodelay(client.conn)
            assert median_ack_ms(client) < 20.0
