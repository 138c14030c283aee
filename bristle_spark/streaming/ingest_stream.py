"""Streaming ingest: the full bristle dataflow as one Structured
Streaming query (SURVEY.md §3 "Spark lifecycle equivalent"):

    payload file stream (type, body)        D1/D2 source
      -> decode (mapInPandas, wire.py)      D4
      -> transcode (Catalyst projection)    D6
      -> foreachBatch parquet sink          D9/D10 (micro-batch ≈ flush tick)
      with checkpointing                    the durability bristle lacks
                                            (ack-before-write, SURVEY.md §8.2)

``trigger(processingTime=...)`` plays the reference's FlushInterval
ticker (clickhouse_table_writer.go:91-98); the source rate limit
(maxFilesPerTrigger) plays MaxBatchSize; the checkpoint makes restart
exactly-once where the reference silently drops failed flushes
(clickhouse_table_writer.go:100-104).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bristle_spark.ingest import pipeline
from bristle_spark.ingest.bindings import MessageBinding

PAYLOAD_SCHEMA = T.StructType(
    [T.StructField("type", T.StringType()), T.StructField("body", T.BinaryType())]
)


def payload_stream(
    spark: SparkSession, payload_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(PAYLOAD_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(payload_dir)
    )


def run_stream_ingest(
    spark: SparkSession,
    payload_dir: str,
    binding: MessageBinding,
    sink_dir: str,
    checkpoint_dir: str,
    ts_column: str | None = None,
    max_files_per_trigger: int = 1,
) -> int:
    """Drain all available payload files through decode+transcode into a
    parquet sink, exactly-once. Returns the number of micro-batches
    processed this run (0 when the checkpoint says everything is done —
    the restart-idempotence the reference lacks)."""
    stream = payload_stream(spark, payload_dir, max_files_per_trigger)
    decoded = pipeline.decode(stream, binding)
    transcoded = pipeline.transcode(decoded, binding)

    n_batches = 0

    def sink(df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        pipeline.write_sink(df, sink_dir, ts_column=ts_column)

    q = (
        transcoded.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches
