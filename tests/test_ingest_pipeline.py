"""End-to-end ingest path: encoded protobuf bodies -> decode ->
transcode -> sink-typed rows, over the reference's example fixtures
(FIXTURES.md §A). This replaces the reference's nonexistent test suite
(SURVEY.md §5) with golden-frame round-trips.
"""

from __future__ import annotations

import datetime
from types import SimpleNamespace

from pyspark.sql import functions as F
from pyspark.sql import types as T

from bristle_spark.ingest import pipeline, service, wire
from bristle_spark.ingest.bindings import BindingRegistry, FieldSpec, MessageBinding, SinkColumn
from bristle_spark.ingest.fixtures import (
    binance_binding,
    encode_example_row,
    example_binding,
    finnhub_binding,
)

UTC = datetime.timezone.utc

PAYLOAD_SCHEMA = T.StructType(
    [T.StructField("type", T.StringType()), T.StructField("body", T.BinaryType())]
)


def _payloads(spark, binding, bodies):
    return spark.createDataFrame(
        [(binding.message_name, b) for b in bodies], schema=PAYLOAD_SCHEMA
    )


def test_example_message_full_roundtrip(spark):
    binding = example_binding()
    bodies = [
        encode_example_row(
            name="row1",
            type_code=2,
            ts=(1700000000, 123_456_789),
            value=42,
            tags={"zz": "2", "aa": "1"},
            labels=["x", "y"],
        ),
        # proto3 all-unset message: zero values / NULL / empty arrays (S1)
        encode_example_row(),
    ]
    out = pipeline.ingest(_payloads(spark, binding, bodies), binding)
    rows = {r["name"]: r for r in out.collect()}
    r1 = rows["row1"]
    assert r1["type"] == 2  # enum code, Enum8 -> tinyint (S5)
    assert r1["timestamp"] == datetime.datetime(2023, 11, 14, 22, 13, 20, 123456)  # ns->µs (S2)
    assert r1["value"] == 42
    assert r1["tags.key"] == ["aa", "zz"] and r1["tags.value"] == ["1", "2"]  # S3/S4 sorted
    assert r1["labels"] == ["x", "y"]
    r0 = rows[""]
    assert r0["type"] == 0
    assert r0["timestamp"] == datetime.datetime(1970, 1, 1)  # time.Unix(0,0).UTC()
    assert r0["value"] is None  # Nullable(Int64): unset -> NULL, not 0 (intended S1)
    assert r0["tags.key"] == [] and r0["tags.value"] == []
    assert r0["labels"] == []  # Array DEFAULT []


def test_example_sink_schema_types(spark):
    binding = example_binding()
    out = pipeline.ingest(_payloads(spark, binding, [encode_example_row(name="x")]), binding)
    dtypes = dict(out.dtypes)
    assert dtypes["type"] == "tinyint"  # Enum8
    assert dtypes["timestamp"] == "timestamp"
    assert dtypes["value"] == "bigint"
    assert dtypes["tags.key"] == "array<string>"
    assert out.columns == [c.name for c in sorted(binding.sink_columns, key=lambda c: c.position)]


def test_binance_trade_transcode(spark):
    binding = binance_binding()
    body = wire.encode_message(
        [
            (1, "string", "trade", False),
            (2, "uint64", 1_700_000_000_123, False),  # epoch ms -> DateTime64(3)
            (3, "string", "BTCUSDT", False),
            (4, "uint64", 987654321, False),
            (5, "double", 42123.45678901, False),
            (6, "double", 0.25, False),
            (9, "uint64", 1_700_000_000_456, False),
            (10, "bool", True, False),
            (11, "bool", False, False),
        ]
    )
    out = pipeline.ingest(_payloads(spark, binding, [body]), binding)
    r = out.collect()[0]
    assert r["event_type"] == "trade"  # S12 rename eventType -> event_type
    assert r["event_time"] == datetime.datetime(2023, 11, 14, 22, 13, 20, 123000)
    assert str(r["price"]) == "42123.45678901"  # Decimal(38,8) fidelity
    assert r["trade_id"] == 987654321  # UInt64 -> Decimal(20,0)
    assert r["market_maker"] == 1 and r["m"] == 0  # bool -> UInt8 (S8)
    assert r["buy_order_id"] == 0  # unset uint64 -> proto zero (S1)


def test_finnhub_repeated_strings(spark):
    binding = finnhub_binding()
    body = wire.encode_message(
        [
            (1, "string", "AAPL", False),
            (2, "double", 189.5, False),
            (3, "uint64", 1_700_000_001_000, False),
            (4, "double", 100.0, False),
            (5, "string", ["1", "12"], True),
        ]
    )
    no_conditions = wire.encode_message([(1, "string", "MSFT", False)])
    out = pipeline.ingest(_payloads(spark, binding, [body, no_conditions]), binding)
    rows = {r["symbol"]: r for r in out.collect()}
    assert rows["AAPL"]["trade_conditions"] == ["1", "12"]
    assert rows["MSFT"]["trade_conditions"] == []  # Array(String) DEFAULT []
    assert rows["AAPL"]["price"] == 189.5


def test_stream_framing_explode(spark):
    """D2: varint-framed batch -> one row per message."""
    binding = finnhub_binding()
    bodies = [
        wire.encode_message([(1, "string", f"SYM{i}", False), (2, "double", float(i), False)])
        for i in range(5)
    ]
    framed = wire.join_frames(bodies)
    batches = spark.createDataFrame(
        [(binding.message_name, bytearray(framed))],
        schema=T.StructType(
            [T.StructField("type", T.StringType()), T.StructField("data", T.BinaryType())]
        ),
    )
    exploded = pipeline.explode_frames(batches)
    assert exploded.count() == 5
    out = pipeline.ingest(exploded, binding)
    assert sorted(r["symbol"] for r in out.collect()) == [f"SYM{i}" for i in range(5)]


def test_decode_error_quarantine(spark):
    """Malformed bodies land in quarantine with DECODE_ERR, not batch
    failure (per-row refinement of the reference's all-or-nothing
    TRANSCODE_ERR, ingest_service.go:99-101)."""
    binding = finnhub_binding()
    good = wire.encode_message([(1, "string", "OK", False)])
    bad = b"\xff\xff\xff\xff\xff\xff\xff\xff\xff\xff\xff"  # malformed varint
    decoded = pipeline.decode(_payloads(spark, binding, [good, bad]), binding)
    assert pipeline.quarantined(decoded).count() == 1
    err = pipeline.quarantined(decoded).collect()[0][pipeline.ERROR_COL]
    assert err.startswith("DECODE_ERR")
    assert pipeline.transcode(decoded, binding).count() == 1


def test_wire_type_mismatch_is_acked_and_lands_with_null_field(spark, tmp_path):
    """A known field on the wrong wire type is an unknown field to
    protobuf-go, so the front door acks the batch OK, and the drain
    decodes that field as NULL (unset) and lands the row, instead of
    failing the task on an int in the string column. A truncated field
    still acks DECODE_ERR."""
    binding = finnhub_binding()
    registry = BindingRegistry()
    registry.register(binding)
    server = SimpleNamespace(registry=registry, data_root=str(tmp_path))
    poison = b"\x08\x05"  # field 1, the string symbol, sent as a varint
    good = wire.encode_message([(1, "string", "AAPL", False), (2, "double", 1.5, False)])

    def batch(bodies):
        return {"id": 1, "type_name": binding.message_name, "type_id": None,
                "data": wire.join_frames(bodies)}

    assert service.process_batch(server, {}, batch([poison, good]), 10) == service.OK
    assert service.process_batch(server, {}, batch([b"\x0a\x05ab"]), 10) == service.DECODE_ERR
    landed = spark.read.parquet(str(tmp_path / "payloads" / binding.sink_table.replace(".", "__")))
    decoded = pipeline.decode(landed, binding)
    assert pipeline.quarantined(decoded).count() == 0
    assert sorted(r["symbol"] or "-" for r in decoded.collect()) == ["-", "AAPL"]
    # the sink's String and Float64 columns take the proto3 zero value
    rows = pipeline.transcode(decoded, binding).collect()
    assert sorted((r["symbol"], r["price"]) for r in rows) == [("", 0.0), ("AAPL", 1.5)]


def test_binding_validation_rejects_missing_column():
    binding = MessageBinding(
        message_name="m",
        sink_table="t",
        fields=[FieldSpec(1, "nope", "string")],
        sink_columns=[SinkColumn("other", 1, "String")],
    )
    try:
        binding.validate()
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "missing sink column" in str(e)


def test_registry_first_table_binding_wins():
    reg = BindingRegistry()
    b1 = finnhub_binding()
    reg.register(b1)
    b2 = MessageBinding(
        message_name="other.Message",
        sink_table=b1.sink_table,  # same table -> ignored
        fields=[FieldSpec(1, "symbol", "string")],
        sink_columns=[SinkColumn("symbol", 1, "String")],
    )
    reg.register(b2)
    assert reg.message_types() == [b1.message_name]


def test_write_sink_partitions_by_day(spark, tmp_path):
    binding = finnhub_binding()
    bodies = [
        wire.encode_message(
            [(1, "string", f"S{i}", False), (3, "uint64", 1_700_000_000_000 + i * 86_400_000, False)]
        )
        for i in range(3)
    ]
    out = pipeline.ingest(_payloads(spark, binding, bodies), binding)
    dest = str(tmp_path / "sink")
    pipeline.write_sink(out, dest, ts_column="trade_time", order_by=["trade_time", "symbol"])
    back = spark.read.parquet(dest)
    assert back.count() == 3
    assert back.select("_day").distinct().count() == 3  # one partition per day
