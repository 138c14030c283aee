"""Drive the CLI as a user would (subprocess — the real surface)."""

from __future__ import annotations

import json
import subprocess
import sys

REPO = "/root/repo"
CONFIG = f"{REPO}/examples/config.json"


def _run(*args: str, timeout: int = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "bristle_spark", *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_list_queries():
    r = _run("list-queries", timeout=120)
    assert r.returncode == 0, r.stderr
    out = r.stdout
    assert "r_hash_agg" in out and "l_dedup_minhash" in out and "s_proto_roundtrip" in out
    assert out.count("\n") >= 60


def test_forward_json_end_to_end(tmp_path, spark):
    lines = [
        json.dumps(
            {"s": f"SYM{i}", "p": 1.5 + i, "t": 1_700_000_000_000 + i, "v": 10.0, "c": ["1"]}
        )
        for i in range(25)
    ]
    src = tmp_path / "trades.jsonl"
    src.write_text("\n".join(lines))
    sink = tmp_path / "sink"
    r = _run(
        "forward-json",
        "--config", CONFIG,
        "--type", "bristle.examples.finnhub.FinnhubTrade",
        "--input", str(src),
        "--sink", str(sink),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    back = spark.read.parquet(str(sink))
    assert back.count() == 25
    assert back.columns == ["symbol", "price", "trade_time", "volume", "trade_conditions"]


def test_ingest_stream_drains_backlog_in_one_microbatch(tmp_path, spark):
    """ingest-stream with the default byte bound takes a 3-file backlog
    in one micro-batch."""
    from bristle_spark.ingest.fixtures import finnhub_binding
    from tests.test_stream_ingest import _write_payload_chunks

    payloads, sink = str(tmp_path / "payloads"), str(tmp_path / "sink")
    total = _write_payload_chunks(spark, payloads, finnhub_binding(), n_chunks=3)
    r = _run(
        "ingest-stream",
        "--config", CONFIG,
        "--type", "bristle.examples.finnhub.FinnhubTrade",
        "--input", payloads,
        "--sink", sink,
        "--checkpoint", str(tmp_path / "ckpt"),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "processed 1 micro-batches" in r.stderr
    assert spark.read.parquet(sink).count() == total


def test_cli_unknown_query():
    r = _run("query", "--name", "nope_not_real", timeout=200)
    assert r.returncode == 2
    assert "unknown query" in r.stderr


def test_query_docs_fresh():
    """QUERIES.md must be regenerated whenever the registry changes."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "scripts/gen_query_docs.py", "--check"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_serve_pumps_payloads(tmp_path, spark):
    """CLI serve: autobind config + payload files -> pumped to sink."""
    import os

    from pyspark.sql import types as T

    from bristle_spark.ingest.fixtures import encode_example_row, example_binding
    from tests.test_server_reload import _explicit_config

    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps(_explicit_config()))
    data_root = tmp_path / "data"
    payload_dir = data_root / "payloads" / "default__example_table"

    b = example_binding()
    rows = [
        (b.message_name, bytearray(encode_example_row(name=f"d{i}", value=i)))
        for i in range(5)
    ]
    spark.createDataFrame(
        rows,
        schema=T.StructType(
            [T.StructField("type", T.StringType()), T.StructField("body", T.BinaryType())]
        ),
    ).coalesce(1).write.mode("overwrite").parquet(str(payload_dir))

    r = _run(
        "serve", "--config", str(cfg), "--data-root", str(data_root), "--pumps", "1"
    )
    assert r.returncode == 0, r.stderr
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["batches"]["default.example_table"] >= 1
    sink = data_root / "sink" / "default__example_table"
    assert os.path.isdir(sink)
    assert spark.read.parquet(str(sink)).count() == 5


def test_serve_mounts_grpc_front_door(tmp_path, spark):
    """CLI serve --grpc-listen: the HTTP/2-gRPC front door binds, is
    reported on stderr, serves a live unary WriteBatch during the pump
    loop, and shuts down cleanly."""
    import os
    import threading

    from pyspark.sql import types as T

    from bristle_spark.ingest.fixtures import encode_example_row, example_binding
    from tests.test_server_reload import _explicit_config

    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps(_explicit_config()))
    data_root = tmp_path / "data"
    os.makedirs(data_root, exist_ok=True)
    type_name = example_binding().message_name

    # run serve in-process (shares the test Spark session) with a pump
    # interval long enough to land a unary write mid-loop
    import bristle_spark.__main__ as cli

    argv = [
        "serve", "--config", str(cfg), "--data-root", str(data_root),
        "--pumps", "4", "--pump-interval", "5", "--grpc-listen", "127.0.0.1:0",
    ]
    import io
    from contextlib import redirect_stderr

    err = io.StringIO()
    result = {}

    def run():
        with redirect_stderr(err):
            result["rc"] = cli.main(argv)

    t = threading.Thread(target=run)
    t.start()
    # wait for the bind line
    import time

    port = None
    for _ in range(100):
        for line in err.getvalue().splitlines():
            if '"grpc"' in line:
                port = int(json.loads(line)["grpc"].rsplit(":", 1)[1])
        if port:
            break
        time.sleep(0.1)
    assert port, err.getvalue()
    from bristle_spark.ingest.grpc_transport import grpc_write_batch_unary

    ack, dropped = grpc_write_batch_unary(
        "127.0.0.1", port,
        [(type_name, [encode_example_row(name="cli", value=1)])],
    )
    assert (ack, dropped) == (1, 0)
    t.join(timeout=120)
    assert not t.is_alive()
    assert result["rc"] == 0
    payload_dir = data_root / "payloads" / "default__example_table"
    assert os.path.isdir(payload_dir)
