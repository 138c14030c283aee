"""Streaming ingest: the full bristle dataflow as one Structured
Streaming query (SURVEY.md §3 "Spark lifecycle equivalent"):

    landed payload files (raw columns)      D1/D2 source; decoded once
                                            at the front door (D4)
      -> transcode (Catalyst projection)    D6
      -> foreachBatch parquet sink          D9/D10 (micro-batch ≈ flush tick)
      with checkpointing                    the durability bristle lacks
                                            (ack-before-write, SURVEY.md §8.2)

The front door lands each batch with the binding's raw columns
(service.land_payload), so the drain reads them with ``raw_schema``
(column pruning skips the raw ``body``) and runs no Python: the plan is
a file scan, a projection and the sink.

``trigger(processingTime=...)`` plays the reference's FlushInterval
ticker (clickhouse_table_writer.go:91-98); the source rate limit
``maxBytesPerTrigger`` (landed payload bytes per micro-batch,
``MAX_BYTES_PER_TRIGGER``) plays MaxBatchSize, so a backlog of many
small landed files drains in few micro-batches instead of one each; the
checkpoint makes restart exactly-once where the reference silently
drops failed flushes (clickhouse_table_writer.go:100-104).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession

from bristle_spark.ingest import metrics, pipeline
from bristle_spark.ingest.bindings import MessageBinding
from bristle_spark.transcode import build_select, raw_schema

# Landed payload bytes one drain micro-batch may take: the byte analog of
# the reference's MaxBatchSize rows per flush (clickhouse_table_writer.go:
# 91-113). Every micro-batch pays a fixed planning, WAL and commit cost,
# so the bound sits far above the 1.2 MB, 30-file backlog of the
# ingest_grpc_mixed benchmark, which it drains in one trigger. A backlog
# just under the bound (88 files, 63.5 MB, 5.28M finnhub rows) drained
# in one 34 s micro-batch with a 2.5 GB JVM peak RSS on 4 cores. The file
# source always admits at least one file, so a bound below one file
# still drains one per trigger.
MAX_BYTES_PER_TRIGGER = 64 * 1024 * 1024


def run_stream_ingest(
    spark: SparkSession,
    payload_dir: str,
    binding: MessageBinding,
    sink_dir: str,
    checkpoint_dir: str,
    ts_column: str | None = None,
    max_bytes_per_trigger: int = MAX_BYTES_PER_TRIGGER,
) -> int:
    """Drain all available landed payload files through transcode into a
    parquet sink, exactly-once. Returns the number of micro-batches
    processed this run (0 when the checkpoint says everything is done —
    the restart-idempotence the reference lacks), and adds it and the
    rows read to the table's drain counters in ``metrics``."""
    transcoded = (
        spark.readStream.schema(raw_schema(binding))
        .option("maxBytesPerTrigger", max_bytes_per_trigger)
        .parquet(payload_dir)
        .select(*build_select(binding))
    )

    batch_ids: list[int] = []

    def sink(df: DataFrame, batch_id: int) -> None:
        batch_ids.append(batch_id)
        pipeline.write_sink(df, sink_dir, ts_column=ts_column)

    q = (
        transcoded.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    metrics.DRAIN_MICROBATCHES.inc(binding.sink_table, by=len(batch_ids))
    # rows come from the progress events Spark already keeps, so the
    # counter costs no extra job. Spark keeps only the last
    # spark.sql.streaming.numRecentProgressUpdates (100) events; when some
    # of this run's micro-batches have fallen out, the rows are not added
    # at all rather than added short.
    rows = {p.batchId: p.numInputRows for p in q.recentProgress}
    if all(b in rows for b in batch_ids):
        metrics.DRAIN_ROWS.inc(binding.sink_table, by=sum(rows[b] for b in batch_ids))
    else:
        warnings.warn(
            f"{binding.sink_table}: {len(batch_ids)} drain micro-batches outran "
            f"the {len(rows)} progress events Spark keeps; "
            "bristle_ingest_drain_rows_total not updated",
            RuntimeWarning,
            stacklevel=2,
        )
    return len(batch_ids)
