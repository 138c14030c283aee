"""Streaming ingest end-to-end: landed payload files (raw columns) ->
transcode -> checkpointed parquet sink, with exactly-once restart
semantics (the durability the reference lacks — SURVEY.md §8.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from bristle_spark.ingest import metrics, pipeline, wire
from bristle_spark.ingest import service as svc
from bristle_spark.ingest.fixtures import finnhub_binding
from bristle_spark.streaming.ingest_stream import run_stream_ingest


def _write_payload_chunks(payload_dir, binding, n_chunks=3, per_chunk=20, first=0):
    """Land ``n_chunks`` payload files as the front door does; chunk
    ``c`` holds symbols ``SYM{c}_*``, so chunks written with distinct
    ``first`` never share a row."""
    rows_total = 0
    for c in range(first, first + n_chunks):
        bodies = [
            wire.encode_message(
                [
                    (1, "string", f"SYM{c}_{i}", False),
                    (2, "double", float(c * 100 + i), False),
                    (3, "uint64", 1_700_000_000_000 + (c * per_chunk + i) * 1000, False),
                ]
            )
            for i in range(per_chunk)
        ]
        rows_total += len(bodies)
        columns, errors = binding.column_decoder(bodies)
        assert errors == []
        svc.land_payload(payload_dir, binding, bodies, columns)
    return rows_total


def _drain_counters(binding) -> tuple[float, float]:
    table = binding.sink_table
    return metrics.DRAIN_MICROBATCHES.value(table), metrics.DRAIN_ROWS.value(table)


def _assert_counted(binding, before, microbatches, rows):
    after = _drain_counters(binding)
    assert (after[0] - before[0], after[1] - before[1]) == (microbatches, rows)


def test_stream_ingest_exactly_once(spark, tmp_path):
    binding = finnhub_binding()
    payload_dir = str(tmp_path / "payloads")
    sink_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    total = _write_payload_chunks(payload_dir, binding)
    before = _drain_counters(binding)
    n1 = run_stream_ingest(
        spark, payload_dir, binding, sink_dir, ckpt, ts_column="trade_time"
    )
    # the default byte bound takes the whole 3-file backlog in one trigger
    assert n1 == 1
    _assert_counted(binding, before, 1, total)
    out = spark.read.parquet(sink_dir)
    assert out.count() == total
    assert "_day" in out.columns  # day-partitioned sink layout

    # restart with the same checkpoint: nothing new -> no duplicates
    before = _drain_counters(binding)
    n2 = run_stream_ingest(
        spark, payload_dir, binding, sink_dir, ckpt, ts_column="trade_time"
    )
    assert n2 == 0
    _assert_counted(binding, before, 0, 0)
    assert spark.read.parquet(sink_dir).count() == total

    # new data arrives -> only the delta lands
    more = _write_payload_chunks(payload_dir, binding, n_chunks=1)
    n3 = run_stream_ingest(
        spark, payload_dir, binding, sink_dir, ckpt, ts_column="trade_time"
    )
    assert n3 == 1
    assert spark.read.parquet(sink_dir).count() == total + more


def test_byte_bound_below_one_file_still_drains(spark, tmp_path):
    """A bound smaller than any landed file cannot stall the drain: the
    file source admits one file per trigger."""
    binding = finnhub_binding()
    payload_dir = str(tmp_path / "payloads")
    sink_dir = str(tmp_path / "sink")
    n_files = 3
    total = _write_payload_chunks(payload_dir, binding, n_chunks=n_files)
    before = _drain_counters(binding)
    n = run_stream_ingest(
        spark, payload_dir, binding, sink_dir, str(tmp_path / "ckpt"),
        max_bytes_per_trigger=1,
    )
    assert n == n_files
    _assert_counted(binding, before, n_files, total)
    assert spark.read.parquet(sink_dir).count() == total


def test_drain_rows_not_added_short_when_progress_is_dropped(spark, tmp_path):
    """When a drain runs more micro-batches than Spark keeps progress
    events for, the row counter is left alone (with a warning) instead
    of counting only the retained events; the micro-batch counter stays
    exact."""
    binding = finnhub_binding()
    payload_dir = str(tmp_path / "payloads")
    sink_dir = str(tmp_path / "sink")
    n_files = 3
    total = _write_payload_chunks(payload_dir, binding, n_chunks=n_files)
    key = "spark.sql.streaming.numRecentProgressUpdates"
    saved = spark.conf.get(key)
    spark.conf.set(key, n_files - 1)
    try:
        before = _drain_counters(binding)
        with pytest.warns(RuntimeWarning, match="drain_rows_total not updated"):
            n = run_stream_ingest(
                spark, payload_dir, binding, sink_dir, str(tmp_path / "ckpt"),
                max_bytes_per_trigger=1,
            )
    finally:
        spark.conf.set(key, saved)
    assert n == n_files
    _assert_counted(binding, before, n_files, 0)
    assert spark.read.parquet(sink_dir).count() == total


def test_file_bounded_checkpoint_resumes_under_byte_bound(spark, tmp_path):
    """Upgrade path: a checkpoint written by the one-file-per-trigger
    drain resumes under the byte bound with no duplicates and no loss."""
    binding = finnhub_binding()
    payload_dir = str(tmp_path / "payloads")
    sink_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    landed = _write_payload_chunks(payload_dir, binding, n_chunks=2)

    stream = (
        spark.readStream.schema(T.StructType([T.StructField("body", T.BinaryType())]))
        .option("maxFilesPerTrigger", 1)
        .parquet(payload_dir)
    )
    old = pipeline.transcode(pipeline.decode(stream, binding), binding)
    q = (
        old.writeStream.foreachBatch(
            lambda df, _id: pipeline.write_sink(df, sink_dir, ts_column="trade_time")
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # one micro-batch per file
    assert [p.numInputRows for p in q.recentProgress] == [20, 20]

    # two more files land; the byte-bounded drain takes them in one trigger
    more = _write_payload_chunks(payload_dir, binding, n_chunks=2, first=2)
    before = _drain_counters(binding)
    n = run_stream_ingest(spark, payload_dir, binding, sink_dir, ckpt, ts_column="trade_time")
    assert n == 1
    _assert_counted(binding, before, 1, more)
    out = spark.read.parquet(sink_dir)
    assert out.count() == landed + more
    assert out.select("symbol").distinct().count() == landed + more


def test_wire_journal_survives_server_restart(spark, tmp_path):
    """The full practical shape of the D1 row (wire door -> durable
    journal -> readStream -> sink) across a PROCESS RESTART: batches
    acked by server generation 1 and drained mid-stream must not be
    re-landed by generation 2, and batches acked between the crash and
    the restart drain land exactly once — the checkpoint's file-offset
    log plus the atomically-renamed journal files are the only state
    that survives, exactly like a redeployed ingest node."""
    import json
    import os

    from bristle_spark.ingest import service as svc
    from bristle_spark.ingest.fixtures import (
        encode_example_row,
        example_binding,
        example_descriptor_set,
    )
    from bristle_spark.ingest.server import IngestServer
    from bristle_spark.ingest.service import (
        IngestSocketClient,
        IngestSocketService,
    )

    (tmp_path / "example.pb").write_bytes(example_descriptor_set())
    cfg = {
        "autobind": True,
        "proto_descriptor_paths": ["example.pb"],
        "tables": [
            {
                "name": "default.example_table",
                "columns": [
                    {"name": c.name, "type": c.ch_type, "default": c.default}
                    for c in example_binding().sink_columns
                ],
                "ts_column": "timestamp",
            }
        ],
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    data_root = str(tmp_path / "data")
    sink = os.path.join(data_root, "sink", "default__example_table")

    def rows(tag: str, n: int) -> list[bytes]:
        return [
            encode_example_row(
                name=f"{tag}_{i}", type_code=1, ts=(1_700_000_000 + i, 0), value=i
            )
            for i in range(n)
        ]

    # --- generation 1: ack two batches, drain ONE pump, then "crash"
    gen1 = IngestServer(spark, str(cfg_path), data_root)
    with IngestSocketService(gen1) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            assert client.write_batch(rows("a", 4), type_name="ExampleMessage") == svc.OK
            gen1.pump()  # mid-stream drain: checkpoint now covers batch a
            assert client.write_batch(rows("b", 3), type_name="ExampleMessage") == svc.OK
            # crash here: batch b is journaled + acked but NOT drained
    del gen1

    # --- generation 2: fresh server object over the same durable state
    gen2 = IngestServer(spark, str(cfg_path), data_root)
    with IngestSocketService(gen2) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            assert client.write_batch(rows("c", 2), type_name="ExampleMessage") == svc.OK
    gen2.pump()

    out = spark.read.parquet(sink)
    names = sorted(r["name"] for r in out.collect())
    assert names == sorted(
        [f"a_{i}" for i in range(4)]
        + [f"b_{i}" for i in range(3)]
        + [f"c_{i}" for i in range(2)]
    )
    # idempotence: another restart + pump adds nothing
    gen3 = IngestServer(spark, str(cfg_path), data_root)
    gen3.pump()
    assert spark.read.parquet(sink).count() == 9


def test_stream_ingest_schema_matches_batch(spark, tmp_path):
    binding = finnhub_binding()
    payload_dir = str(tmp_path / "payloads")
    _write_payload_chunks(payload_dir, binding, n_chunks=1, per_chunk=5)
    run_stream_ingest(
        spark, payload_dir, binding, str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    out = spark.read.parquet(str(tmp_path / "sink"))
    expected = [c.name for c in sorted(binding.sink_columns, key=lambda c: c.position)]
    assert out.columns == expected


def test_uint64_poison_pill_is_refused_at_the_ack(spark, tmp_path):
    """A uint64 of 2^63 or more does not fit the raw int64 column, so the
    front door refuses its batch (DECODE_ERR) instead of acking a body
    the drain can never land; the good batches around it all drain."""
    import json

    from bristle_spark.ingest.server import IngestServer
    from bristle_spark.ingest.service import IngestSocketClient, IngestSocketService
    from tests.test_server_reload import _explicit_config

    binding = finnhub_binding()
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(_explicit_config(binding)))
    server = IngestServer(spark, str(cfg_path), str(tmp_path / "data"))

    def rows(tag, n, trade_time=1_700_000_000_000):
        return [
            wire.encode_message(
                [(1, "string", f"{tag}{i}", False), (3, "uint64", trade_time + i, False)]
            )
            for i in range(n)
        ]

    with IngestSocketService(server) as service:
        with IngestSocketClient("127.0.0.1", service.port) as client:
            assert client.write_batch(rows("a", 10), type_name=binding.message_name) == svc.OK
            server.pump()
            poison = rows("bad", 1, trade_time=(1 << 63) + 5)
            assert client.write_batch(poison, type_name=binding.message_name) == svc.DECODE_ERR
            assert client.write_batch(rows("b", 10), type_name=binding.message_name) == svc.OK
    server.pump()
    server.pump()
    sink = tmp_path / "data" / "sink" / binding.sink_table.replace(".", "__")
    names = sorted(r["symbol"] for r in spark.read.parquet(str(sink)).collect())
    assert names == sorted([f"a{i}" for i in range(10)] + [f"b{i}" for i in range(10)])
