"""Hot-reload server analog (D17; reference server.go:51-126): full
state rebuild on reload, old-state-preserved on error, writer-group
swap with exactly-once handoff across generations."""

from __future__ import annotations

import json
import os

import pytest

from bristle_spark.ingest import service as svc
from bristle_spark.ingest.fixtures import (
    encode_example_row,
    example_binding,
    example_descriptor_set,
)
from bristle_spark.ingest.server import IngestServer


def _explicit_config(b=None) -> dict:
    b = b or example_binding()
    return {
        "tables": [
            {
                "name": b.sink_table,
                "columns": [
                    {"name": c.name, "type": c.ch_type, "default": c.default}
                    for c in b.sink_columns
                ],
                "messages": [b.message_name],
            }
        ],
        "messages": {
            b.message_name: {
                "fields": [
                    {
                        "number": f.number,
                        "name": f.name,
                        "kind": f.kind,
                        "repeated": f.repeated,
                        "column": f.column,
                        "json_name": f.json_name,
                    }
                    for f in b.fields
                ]
            }
        },
    }


def _autobind_config(pb_path: str) -> dict:
    b = example_binding()
    return {
        "autobind": True,
        "proto_descriptor_paths": [pb_path],
        "tables": [
            {
                "name": b.sink_table,
                "columns": [
                    {"name": c.name, "type": c.ch_type, "default": c.default}
                    for c in b.sink_columns
                ],
            }
        ],
    }


def _write_payload(server, message_name: str, rows: list[bytes]):
    """Land one batch as the front door does, under the binding that
    ``message_name`` resolves to in the server's live registry."""
    binding = server.registry.for_type(message_name)
    columns, errors = binding.column_decoder(rows)
    assert errors == []
    svc.land_payload(svc.landing_dir(server.data_root, binding.sink_table), binding, rows, columns)


def _bodies(start: int, n: int) -> list[bytes]:
    return [
        encode_example_row(
            name=f"doc{i}", type_code=1, ts=(1_700_000_000 + i, 0), value=i
        )
        for i in range(start, start + n)
    ]


def test_server_pump_reload_and_exactly_once_handoff(spark, tmp_path):
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(_explicit_config()))
    server = IngestServer(spark, str(cfg_path), str(tmp_path / "data"))

    b = example_binding()
    _write_payload(server, b.message_name, _bodies(0, 10))
    assert server.pump()[b.sink_table] >= 1
    sink = os.path.join(server.data_root, "sink", "default__example_table")
    assert spark.read.parquet(sink).count() == 10

    # reload into descriptor-set autobind mode (message name changes to
    # the descriptor's full name, table stays the same)
    pb_path = tmp_path / "example.pb"
    pb_path.write_bytes(example_descriptor_set())
    cfg_path.write_text(json.dumps(_autobind_config(str(pb_path))))
    assert server.reload() is True
    assert server.registry.for_type("ExampleMessage").sink_table == b.sink_table

    # second generation payloads decode under the autobound binding;
    # the checkpoint carried over, so generation-1 files are not replayed
    _write_payload(server, "ExampleMessage", _bodies(10, 5))
    server.pump()
    out = spark.read.parquet(sink)
    assert out.count() == 15  # exactly-once across the swap
    assert out.select("name").distinct().count() == 15


def test_reload_error_keeps_old_state(spark, tmp_path):
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(_explicit_config()))
    server = IngestServer(spark, str(cfg_path), str(tmp_path / "data"))
    old_registry = server.registry

    cfg_path.write_text("{ not json")
    assert server.reload() is False
    assert server.registry is old_registry

    # structurally valid JSON, semantically broken (unknown message ref)
    bad = _explicit_config()
    bad["tables"][0]["messages"] = ["no.such.Message"]
    cfg_path.write_text(json.dumps(bad))
    assert server.reload() is False
    assert server.registry is old_registry


def test_reload_drain_failure_restores_old_state(spark, tmp_path):
    """ADVICE r5: if the OLD writer group's drain throws after the swap,
    reload() must report False with the old state actually serving —
    not the new state silently live."""
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(_explicit_config()))
    server = IngestServer(spark, str(cfg_path), str(tmp_path / "data"))
    old_registry, old_group, old_config = (
        server.registry,
        server.writer_group,
        server.config,
    )

    def boom(_spark):
        raise RuntimeError("drain failed")

    old_group.close = boom
    pb_path = tmp_path / "example.pb"
    pb_path.write_bytes(example_descriptor_set())
    cfg_path.write_text(json.dumps(_autobind_config(str(pb_path))))
    assert server.reload() is False
    assert server.registry is old_registry
    assert server.writer_group is old_group
    assert server.config is old_config


def test_reload_refuses_sink_schema_change(spark, tmp_path):
    """ADVICE r5: sink dirs survive reloads; a reload that rebinds a
    table to a different column set must be refused (else later reads
    silently resolve one footer's schema)."""
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(_explicit_config()))
    server = IngestServer(spark, str(cfg_path), str(tmp_path / "data"))
    old_registry = server.registry

    b = example_binding()
    _write_payload(server, b.message_name, _bodies(0, 5))
    server.pump()

    renamed = _explicit_config()
    for c in renamed["tables"][0]["columns"]:
        if c["name"] == "value":
            c["name"] = "value_renamed"
    for f in renamed["messages"][b.message_name]["fields"]:
        if (f["column"] or f["name"]) == "value":
            f["column"] = "value_renamed"
    cfg_path.write_text(json.dumps(renamed))
    assert server.reload() is False
    assert server.registry is old_registry

    # the same rebinding against an EMPTY sink is fine
    server2 = IngestServer(spark, str(cfg_path), str(tmp_path / "data2"))
    assert server2.registry is not None


def test_reload_refuses_raw_schema_change(spark, tmp_path):
    """Landed files carry the binding's raw columns, and the drain reads
    every one of them with the binding's raw schema: a reload that
    changes it (here a field renamed on the same sink column) is refused
    with the old state serving, like a change of sink columns."""
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(_explicit_config()))
    server = IngestServer(spark, str(cfg_path), str(tmp_path / "data"))
    old_registry, old_group = server.registry, server.writer_group

    b = example_binding()
    _write_payload(server, b.message_name, _bodies(0, 5))
    renamed = _explicit_config()
    for f in renamed["messages"][b.message_name]["fields"]:
        if f["name"] == "value":
            f["name"], f["column"] = "amount", "value"
    cfg_path.write_text(json.dumps(renamed))
    assert server.reload() is False
    assert server.registry is old_registry and server.writer_group is old_group

    # the landed batch still drains under the old binding
    server.pump()
    sink = os.path.join(server.data_root, "sink", "default__example_table")
    assert spark.read.parquet(sink).count() == 5


def test_batch_landed_in_the_swap_window_drains(spark, tmp_path):
    """A batch acked under the new binding after the swap, but before the
    old writer group's closing drain, shares the table's landing dir and
    checkpoint with the old group: its rows reach the sink."""
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(_explicit_config()))
    server = IngestServer(spark, str(cfg_path), str(tmp_path / "data"))
    b = example_binding()
    _write_payload(server, b.message_name, _bodies(0, 10))

    old_group = server.writer_group
    close = old_group.close

    def land_then_close(spark_):
        _write_payload(server, "ExampleMessage", _bodies(10, 5))  # the new name
        close(spark_)

    old_group.close = land_then_close
    pb_path = tmp_path / "example.pb"
    pb_path.write_bytes(example_descriptor_set())
    cfg_path.write_text(json.dumps(_autobind_config(str(pb_path))))
    assert server.reload() is True
    server.pump()
    out = spark.read.parquet(os.path.join(server.data_root, "sink", "default__example_table"))
    assert sorted(r["name"] for r in out.collect()) == sorted(f"doc{i}" for i in range(15))


def test_start_upgrades_legacy_landing_files(spark, tmp_path):
    """Files an older server landed in the (type, body) layout, some
    drained by the older drain and some not, plus a temporary file a
    crash left: a start on the raw-column layout removes the temporary
    file and rewrites every legacy file in place (same path and mtime),
    and the next pump lands each row exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from bristle_spark.ingest import pipeline

    b = example_binding()
    data_root = tmp_path / "data"
    payload_dir = svc.landing_dir(str(data_root), b.sink_table)
    sink = os.path.join(data_root, "sink", "default__example_table")
    ckpt = os.path.join(data_root, "ckpt", "default__example_table")
    os.makedirs(payload_dir)

    def land_legacy(i, rows):
        table = pa.table(
            {
                "type": pa.array([b.message_name] * len(rows), pa.string()),
                "body": pa.array(rows, pa.binary()),
            }
        )
        pq.write_table(table, os.path.join(payload_dir, f"socket_legacy{i}.parquet"))

    def legacy_drain():
        schema = T.StructType(
            [T.StructField("type", T.StringType()), T.StructField("body", T.BinaryType())]
        )
        stream = spark.readStream.schema(schema).parquet(payload_dir)
        q = (
            pipeline.ingest(stream, b)
            .writeStream.foreachBatch(lambda df, _id: pipeline.write_sink(df, sink))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land_legacy(0, _bodies(0, 4))
    land_legacy(1, _bodies(4, 3))
    legacy_drain()
    assert spark.read.parquet(sink).count() == 7
    land_legacy(2, _bodies(7, 2))
    land_legacy(3, _bodies(9, 3))
    stale = os.path.join(payload_dir, ".socket_cut.parquet.tmp")
    with open(stale, "wb") as fh:
        fh.write(b"PAR1")
    mtimes = {n: os.stat(os.path.join(payload_dir, n)).st_mtime_ns for n in os.listdir(payload_dir)}

    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(_explicit_config()))
    server = IngestServer(spark, str(cfg_path), str(data_root))
    assert not os.path.exists(stale)
    for i in range(4):
        path = os.path.join(payload_dir, f"socket_legacy{i}.parquet")
        assert pq.read_schema(path).equals(svc.landing_schema(b))
        assert os.stat(path).st_mtime_ns == mtimes[f"socket_legacy{i}.parquet"]
    server.pump()
    out = spark.read.parquet(sink)
    assert sorted(r["name"] for r in out.collect()) == sorted(f"doc{i}" for i in range(12))


def test_relative_descriptor_paths_resolve_against_config_dir(spark, tmp_path):
    """ADVICE r5: `serve --config some/dir/cfg.json` must work from any
    CWD — relative proto_descriptor_paths are config-file-relative."""
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "example.pb").write_bytes(example_descriptor_set())
    cfg = _autobind_config("example.pb")  # relative to the config file
    (sub / "config.json").write_text(json.dumps(cfg))
    server = IngestServer(spark, str(sub / "config.json"), str(tmp_path / "data"))
    assert server.registry.for_type("ExampleMessage") is not None


def test_server_init_fails_hard_on_bad_config(spark, tmp_path):
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text("{ not json")
    with pytest.raises(Exception):
        IngestServer(spark, str(cfg_path), str(tmp_path / "data"))
