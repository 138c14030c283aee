"""Batch ingest path: (type, body) -> decode -> transcode -> sink.

Mirrors the reference's unary WriteBatch lifecycle (SURVEY.md §3.1)
Spark-first:

    payload DataFrame (body binary, optional type string)  D1 source
      -> filter(type == binding.message_name)              routing (D1)
      -> mapInArrow(binding.column_decoder)                D4 proto decode
      -> select(transcode.build_select(binding))           D6 transcode
      -> write parquet partitioned by day                  D10 sink

plus the bidi-stream framing (D2): ``explode_frames`` splits
varint-length-prefixed message batches into individual bodies.

The decode step is Arrow-batched Python (the environment has no
spark-protobuf JVM module — see wire.py): the same column decoder the
front door runs before its ack, so both paths produce the same raw
columns. Everything after it is pure Catalyst. The streaming drain
(streaming/ingest_stream.py) has no decode step: the front door lands
the raw columns. Error handling follows the D12 taxonomy but per-row
(quarantine column) instead of the reference's all-or-nothing batch
rejection: a DECODE_ERR row carries its error and NULL fields rather
than failing the batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bristle_spark.ingest import wire
from bristle_spark.ingest.bindings import MessageBinding
from bristle_spark.transcode import build_select, raw_schema

ERROR_COL = "_decode_error"


def decoded_schema(binding: MessageBinding) -> T.StructType:
    schema = raw_schema(binding)
    return T.StructType(schema.fields + [T.StructField(ERROR_COL, T.StringType())])


def decode(payloads: DataFrame, binding: MessageBinding, body_col: str = "body") -> DataFrame:
    """Decode protobuf bodies into a typed DataFrame (D4).

    Routing by message type happens here when a `type` column exists,
    like the reference's binding lookup (ingest_service.go:81-85)."""
    if "type" in payloads.columns:
        payloads = payloads.filter(F.col("type") == binding.message_name)
    decoder = binding.column_decoder
    schema = binding.raw_arrow_schema.append(pa.field(ERROR_COL, pa.string()))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            arrays, errors = decoder(batch.column(0).to_pylist())
            quarantine = [None] * batch.num_rows
            for row, message in errors:
                quarantine[row] = f"DECODE_ERR: {message}"
            yield pa.RecordBatch.from_arrays(
                [*arrays, pa.array(quarantine, pa.string())], schema=schema
            )

    return payloads.select(body_col).mapInArrow(run, decoded_schema(binding))


def explode_frames(batches: DataFrame, data_col: str = "data") -> DataFrame:
    """D2: split varint-length-prefixed concatenated protos into one row
    per message body (reference ingest_service.go:152-177). Pure-Spark
    path would be a JVM UDF; here an Arrow-batched splitter keeps the
    row explosion inside the executor."""
    out_schema = T.StructType(
        [f for f in batches.schema.fields if f.name != data_col]
        + [T.StructField("body", T.BinaryType())]
    )
    other_cols = [f.name for f in out_schema.fields if f.name != "body"]

    def run(record_batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in record_batches:
            frame_lists = [wire.split_frames(d) for d in batch.column(data_col).to_pylist()]
            # each input row's index once per frame it holds: the
            # passthrough columns are taken by it, not rebuilt per row
            rows = pa.array([i for i, frames in enumerate(frame_lists) for _ in frames], pa.int64())
            bodies = pa.array([f for frames in frame_lists for f in frames], pa.binary())
            yield pa.RecordBatch.from_arrays(
                [batch.column(c).take(rows) for c in other_cols] + [bodies],
                names=other_cols + ["body"],
            )

    return batches.mapInArrow(run, schema=out_schema)


def transcode(decoded: DataFrame, binding: MessageBinding) -> DataFrame:
    """D6: the compiled per-binding projection (whole-stage codegen'd)."""
    ok = decoded.filter(F.col(ERROR_COL).isNull())
    return ok.select(*build_select(binding))


def quarantined(decoded: DataFrame) -> DataFrame:
    """Rows that failed decode, with their D12-style error."""
    return decoded.filter(F.col(ERROR_COL).isNotNull())


def ingest(payloads: DataFrame, binding: MessageBinding) -> DataFrame:
    """decode + transcode in one call (the whole D1/D4/D6 path)."""
    return transcode(decode(payloads, binding), binding)


def write_sink(
    df: DataFrame,
    path: str,
    ts_column: str | None = None,
    order_by: list[str] | None = None,
    mode: str = "append",
    clickhouse_url: str | None = None,
    binding: MessageBinding | None = None,
) -> None:
    """D10 sink with the physical layout the reference's example DDL
    prescribes: partition by day, order within partitions
    (reference examples/binance.sql:15-16 PARTITION BY toYYYYMMDD /
    ORDER BY). At 100 TB this is what makes time-range queries prune.

    With ``clickhouse_url`` (and its ``binding``), routes to the live
    ClickHouse JDBC branch instead of parquet — the reference's
    prepared batch INSERT path (clickhouse_table_writer.go:115-149)."""
    if clickhouse_url is not None:
        if binding is None:
            raise ValueError("clickhouse_url requires the table binding")
        from bristle_spark.ingest import clickhouse

        clickhouse.write_jdbc(df, binding, clickhouse_url)
        return
    writer = df
    partition_cols: list[str] = []
    if ts_column is not None:
        writer = writer.withColumn("_day", F.to_date(F.col(ts_column)))
        partition_cols = ["_day"]
        if order_by:
            writer = writer.repartition(*[F.col(c) for c in partition_cols]).sortWithinPartitions(
                *order_by
            )
    w = writer.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)
