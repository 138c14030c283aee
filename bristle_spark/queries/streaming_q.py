"""Group S — streaming semantics. Each query runs a real Structured
Streaming job (file-stream micro-batches, availableNow) and returns its
result as a batch DataFrame.

Since round 7, every query with a deterministic final state is
ORACLE-BACKED via batch replay: the landed state must hash-match the
equivalent DuckDB SQL over the same events. Where append-mode
watermarking would hold trailing windows in state forever, the source
appends flush-sentinel micro-batches (split_events_files_with_flush)
— watermark punctuation, the same keep-alive events a production
stream carries.

One drain, one landing. Every key builds its source with
``_event_stream`` and runs it through ``_run`` (availableNow on a
throwaway checkpoint, or the persistent one under a restart replay).
Keys whose state lands as per-batch partials go through ``_drain``:
each micro-batch's ``partial(batch)`` lands with ``_land_idempotent``
and is read back with ``_landed``. foreachBatch is at-least-once — a
crash between the parquet write and the checkpoint commit replays the
batch — so a sink is exactly-once only if re-landing a batch_id
replaces its earlier landing. Landing under a batch_id-keyed
directory with overwrite gives every key that property, whether its
merge is additive (counts would double) or duplicate-insensitive
(bloom OR, skyline dominance). The upsert and CDC keys keep a
generation-swapped sink instead (``_merge_generation``), which is
idempotent per batch_id the same way.

Still rows-only by SURVEY §2.D contract (accounting, not state):
- s_microbatch_flush: D9 — one micro-batch per trigger, sizes bounded
  by the source rate limit (maxFilesPerTrigger), foreachBatch sink.
- s_drop_policies:    D8 — bounded-buffer overflow accounting for
  drop-oldest / drop-newest / block around a lossless sink.
- s_late_data:        watermarked tumbling window; late rows dropped —
  the event-time analog of buffer overflow (intentionally lossy, so
  no batch equivalence exists).
- s_proto_roundtrip:  D4/D6 — encode fixture rows to protobuf wire
  bytes, stream-decode + transcode, verify equality with the source.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from bristle_spark.catalog import load_table
from bristle_spark.registry import register
from bristle_spark.functions.rounding import r6, rN, rN_sql
from bristle_spark.streaming.buffer import POLICIES, BoundedBuffer
from bristle_spark.streaming.source import (
    FLUSH_EVENT_TYPE,
    active_replay,
    events_file_stream,
    split_events_files,
    split_events_files_with_flush,
)

MAX_BATCH_SIZE = 5000  # reference MaxBatchSize analog (config.go:88)


_LAYOUT_VERSION = "v3"  # bump to invalidate cached chunk dirs in /tmp (v3: TIMESTAMP not NTZ)


def _workdir(sf_dir: str, tag: str) -> str:
    import hashlib

    # key the cross-process chunk cache by the FULL resolved fixture
    # path, not just its basename — two roots both ending in "sf0.01"
    # (or a re-created fixture at a new path) must never share cached
    # chunks
    resolved = os.path.realpath(sf_dir)
    sf = (
        os.path.basename(resolved)
        + "-"
        + hashlib.md5(resolved.encode()).hexdigest()[:8]
    )
    d = os.path.join(tempfile.gettempdir(), "bristle_spark_stream", _LAYOUT_VERSION, sf, tag)
    os.makedirs(d, exist_ok=True)
    return d


def _event_stream(
    spark: SparkSession, sf_dir: str, tag: str, split=split_events_files, **split_kw
) -> tuple[str, DataFrame]:
    """The ``events`` table replayed as a file stream, one chunk file per
    micro-batch. ``split(spark, sf_dir, chunks, **split_kw)`` writes the
    chunk dir (cached across runs) under the one ``chunks`` dir of the
    fixture, which every key shares: each chunker names its own subdir,
    so a split is built once per fixture, not once per key. Returns
    ``(the key's own work dir, stream)``; the key lands under its work
    dir."""
    data_dir = split(spark, sf_dir, _workdir(sf_dir, "chunks"), **split_kw)
    stream = events_file_stream(spark, data_dir, load_table(spark, sf_dir, "events").schema)
    return _workdir(sf_dir, tag), stream


def _fresh_dir(path: str, mkdir: bool = False) -> str:
    """Start the query's emission dir clean — EXCEPT under stage 2 of a
    restart replay, where the stage-1 emissions ARE the recovered state
    being tested and must survive the re-invocation."""
    ctl = active_replay()
    keep = ctl is not None and ctl.stage >= 2
    if os.path.exists(path) and not keep:
        shutil.rmtree(path)
    if mkdir:
        os.makedirs(path, exist_ok=True)
    return path


def _run(df: DataFrame, output_mode: str, sink) -> None:
    """Run ``df`` to the end of its source as an availableNow query,
    handing each micro-batch to ``sink(batch, batch_id)``."""
    ctl = active_replay()
    with tempfile.TemporaryDirectory() as ckpt:
        # restart replay: the persistent checkpoint (offset log + state
        # store) replaces the throwaway dir, so stage 2 resumes from
        # stage 1's recorded offsets instead of replaying file 0
        q = (
            df.writeStream.outputMode(output_mode)
            .foreachBatch(sink)
            .option("checkpointLocation", ctl.checkpoint_dir() if ctl else ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def _land_idempotent(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Land one micro-batch's partial under its own batch_id-keyed
    subdirectory with ``mode('overwrite')``: a replayed batch replaces
    its previous landing instead of landing twice. Read back with
    ``_landed()``.

    coalesce(1) (r15, guide §6): the partials are one row per key per
    batch — orders of magnitude smaller than the batch — and the
    default shuffle partitioning was landing ~32 KB-sized files per
    micro-batch, paying 32 write tasks and a 32-files-per-batch listing
    on every serve-time read-back.  One right-sized file per batch
    partial is the correct layout at any scale (a deployment whose
    per-batch partial frame approaches file-size limits raises the
    count with its batch size)."""
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, f"b{batch_id:06d}")
    )


def _landed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read every batch partial landed by ``_land_idempotent`` (plain
    subdir names, not ``key=value`` — no phantom partition column)."""
    return spark.read.parquet(os.path.join(out_dir, "b*"))


def _drain(
    spark: SparkSession, df: DataFrame, work: str, output_mode: str, partial=None
) -> DataFrame:
    """Run ``df`` through ``_run``, land ``partial(batch)`` (the batch
    itself by default) for every micro-batch with ``_land_idempotent``
    under a fresh per-process dir in ``work``, and return the landed
    partials. The landed rows stay executor-side: nothing but the
    batch id crosses to the driver. With no micro-batch there is
    nothing to read back, so the result is an empty frame with the
    schema ``partial`` gives a batch of ``df``."""
    partial = partial or (lambda batch: batch)
    out_dir = _fresh_dir(os.path.join(work, f"landed_{os.getpid()}"))
    _run(df, output_mode, lambda batch, batch_id: _land_idempotent(partial(batch), out_dir, batch_id))
    if not os.path.isdir(out_dir):
        return partial(spark.createDataFrame([], df.schema))
    return _landed(spark, out_dir)


@register("s_microbatch_flush", oracle=None)
def s_microbatch_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 timed-flush analog: the stream lands in micro-batches of at most
    MaxBatchSize rows each (source rate limit = maxFilesPerTrigger),
    foreachBatch = the bulk INSERT (clickhouse_table_writer.go:91-113)."""
    _, stream = _event_stream(spark, sf_dir, "flush")
    batches: list[tuple[int, int]] = []
    _run(stream, "append", lambda df, batch_id: batches.append((batch_id, df.count())))
    total = load_table(spark, sf_dir, "events").count()
    out = [
        (int(bid), int(n), int(n <= MAX_BATCH_SIZE)) for bid, n in sorted(batches)
    ]
    df = spark.createDataFrame(
        out, schema="batch_id bigint, n_rows bigint, within_limit int"
    )
    return df.withColumn("total_rows_ok", F.lit(int(sum(n for _, n in batches) == total)))


@register("s_drop_policies", oracle=None)
def s_drop_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 overflow accounting: replay the stream into one BoundedBuffer
    per policy (capacity 600, flush 400/tick — small enough that the
    sf0.01 chunks overflow) and report written/dropped/rejected/flushed
    per policy, plus a TOO_BIG probe."""
    _, stream = _event_stream(spark, sf_dir, "drop")
    buffers = {p: BoundedBuffer(max_size=600, on_full=p) for p in POLICIES}

    def sink(df: DataFrame, batch_id: int) -> None:
        # Only the micro-batch SIZE crosses to the driver: every stat the
        # buffer reports (written/dropped/rejected/flushed/remaining) is a
        # pure function of sub-batch sizes, never of row identity, so the
        # accounting needs df.count() — not a per-row collect (round-3
        # verdict, "What's wrong" #2).
        n = int(df.count())
        for p, buf in buffers.items():
            # sub-batch to stay under TOO_BIG, like the reference client
            # batcher splitting large writes (client/batcher.go:51-113)
            for i in range(0, n, 500):
                buf.write_batch(list(range(min(500, n - i))))
            buf.flush_batch(400)  # one flush tick per micro-batch (D9)

    _run(stream.select("event_id"), "append", sink)

    rows = []
    for p, buf in sorted(buffers.items()):
        too_big = buf.write_batch(list(range(1000)))  # TOO_BIG probe
        s = buf.stats
        rows.append(
            (
                p,
                s.written,
                s.dropped_oldest,
                s.dropped_newest,
                s.rejected_full,
                s.rejected_too_big,
                s.flushed,
                len(buf),
                too_big.value,
            )
        )
    return spark.createDataFrame(
        rows,
        schema=(
            "policy string, written bigint, dropped_oldest bigint, "
            "dropped_newest bigint, rejected_full bigint, rejected_too_big bigint, "
            "flushed bigint, remaining bigint, too_big_result string"
        ),
    )


@register("s_late_data", oracle=None)
def s_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts in append mode: rows arriving
    behind the 1-hour watermark are dropped — the event-time analog of
    the reference's lossy buffer (SURVEY.md §2.D Group S)."""
    work, stream = _event_stream(spark, sf_dir, "late")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("hour_start"), "n_events")
    )
    return _drain(spark, agg, work, "append").orderBy("hour_start")


@register(
    "s_session_window",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, new_sess DESC
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM marked
    )
    SELECT user_id,
           min(ts)                        AS session_start,
           max(ts) + INTERVAL 30 MINUTE   AS session_end,
           CAST(count(*) AS BIGINT)       AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def s_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (30-min gap) with watermark —
    the streaming twin of the batch l_sessionize query. Sessions close
    when the watermark passes their gap; append mode emits only
    finalized sessions.

    Oracle-backed (round 7): the flush-sentinel source closes every real
    session (the sentinels' own far-future sessions never close, so they
    simply never land), making the emitted session set equal the batch
    islands-and-gaps SQL: a session breaks where the gap to the previous
    event is >= 30 minutes (session_window intervals are half-open), and
    session_end = last event + gap."""
    work, stream = _event_stream(spark, sf_dir, "sessionw", split_events_files_with_flush)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    # (no sentinel filter inside the streaming plan — Catalyst would
    # push a user_id predicate below the EventTimeWatermark node, see
    # s_stream_rollup; sentinel sessions never close, so filtering the
    # LANDED table below is belt-and-braces)
    return (
        _drain(spark, agg, work, "append")
        .filter(F.col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    )


DEDUP_ORACLE = """
    SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


def _duplicated_chunks(spark: SparkSession, sf_dir: str, work: str) -> str:
    """Every source chunk copied twice (a/b, interleaved mtimes) so each
    event arrives in two different micro-batches."""
    import glob

    base_dir = split_events_files(spark, sf_dir, work, n_chunks=4)
    dup_dir = os.path.join(work, "dup_chunks")
    if not os.path.exists(os.path.join(dup_dir, "_done")):
        os.makedirs(dup_dir, exist_ok=True)
        base = 1_700_000_000
        for j, f in enumerate(sorted(glob.glob(os.path.join(base_dir, "*.parquet")))):
            stem = os.path.basename(f).removesuffix(".parquet")
            for k, suffix in enumerate(("a", "b")):
                dst = os.path.join(dup_dir, f"{stem}_{suffix}.parquet")
                shutil.copy(f, dst)
                os.utime(dst, (base + 2 * j + k, base + 2 * j + k))
        open(os.path.join(dup_dir, "_done"), "w").close()
    return dup_dir


def _run_dedup_stream(spark: SparkSession, sf_dir: str, tag: str, dedup) -> DataFrame:
    """Shared shape for both dedup flavors: duplicated chunk replay ->
    dedup operator -> parquet-landed emissions -> the kept rows
    themselves. The source duplicates are byte-identical, so whichever
    copy the state store keeps, the kept row set must equal the original
    events table exactly — the registered oracle."""
    work, stream = _event_stream(spark, sf_dir, tag, _duplicated_chunks)
    return (
        _drain(spark, dedup(stream), work, "update")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("event_id")
    )


@register("s_stream_dedup", oracle=DEDUP_ORACLE)
def s_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch streaming dedup: every source file is duplicated, so
    each event arrives twice in different micro-batches;
    dropDuplicates("event_id") holds seen-keys in the state store and
    emits each event exactly once. (At 100 TB use
    dropDuplicatesWithinWatermark so state is bounded by the lateness
    horizon instead of growing forever.)

    Oracle-backed (round 7): returns the kept rows themselves; the
    duplicates are byte-identical so exactly-once means the kept set
    equals the original events table."""
    return _run_dedup_stream(
        spark, sf_dir, "dedup", lambda s: s.dropDuplicates(["event_id"])
    )


@register(
    "s_stateful_totals",
    oracle=f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT)  AS n_events,
           {rN_sql("sum(value)", 4)} AS total_value
    FROM events GROUP BY user_id
    """,
)
def s_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running (count, value-total) state across micro-batches; the final
    emission per user equals the batch aggregate — now the registered
    oracle (round 7), with the running double total rounded to 4 places
    on both sides so accumulation-order ULP drift can't flip the
    hash."""
    from bristle_spark.streaming.stateful import running_user_totals

    work, stream = _event_stream(spark, sf_dir, "stateful")
    emitted = _drain(spark, running_user_totals(stream), work, "update")
    # the operator emits a user only in batches holding that user's
    # rows, so each emission's running n_events is strictly larger than
    # the last: the latest emission per user is the one with max n_events
    return (
        emitted.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            rN(F.max_by("total_value", "n_events").cast("double"), 4).alias(
                "total_value"
            ),
        )
        .orderBy("user_id")
    )


@register("s_proto_roundtrip", oracle=None)
def s_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4/D6 round-trip: fixture rows -> protobuf wire bytes (client
    side, client/client.go:148-156) -> varint-framed batch -> stream
    decode + transcode -> compare against the directly-built frame."""
    from bristle_spark.ingest import pipeline, wire
    from bristle_spark.ingest.fixtures import encode_example_row, example_binding

    binding = example_binding()
    n = 100
    bodies = [
        encode_example_row(
            name=f"doc{i}",
            type_code=i % 3,
            ts=(1_700_000_000 + i * 60, (i * 1000) % 1_000_000_000),
            value=None if i % 5 == 0 else i * 11,
            tags={f"k{j}": str(i + j) for j in range(i % 3)},
            labels=[f"l{j}" for j in range(i % 4)],
        )
        for i in range(n)
    ]
    framed = wire.join_frames(bodies)
    batches = spark.createDataFrame(
        [(binding.message_name, bytearray(framed))],
        schema=T.StructType(
            [T.StructField("type", T.StringType()), T.StructField("data", T.BinaryType())]
        ),
    )
    decoded = pipeline.ingest(pipeline.explode_frames(batches), binding)
    # array columns serialized to delimited strings so the driver's
    # pandas canonicalizer can sort/hash the result
    ok = decoded.select(
        "name",
        "type",
        "timestamp",
        "value",
        F.array_join(F.col("`tags.key`"), ",").alias("tag_keys"),
        F.array_join(F.col("`tags.value`"), ",").alias("tag_values"),
        F.array_join("labels", ",").alias("labels"),
    ).orderBy("name")
    return ok


@register(
    "s_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           CAST(count(*) AS BIGINT) AS n_clicks_10m
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <  p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    GROUP BY p.event_id, p.user_id
    """,
)
def s_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks on both sides — the
    streaming twin of the batch r_range_join (clicks within the 10
    minutes before each purchase, same user). The watermark + time-range
    condition bounds the join state Spark must retain, which is what
    makes a stream-stream join viable at 100 TB; append mode emits each
    matched pair exactly once, so the result is batching-invariant.

    Oracle-backed (round 7): the replay is EVENT-TIME-ordered
    (order_col="ts") — the realistic arrival shape, and the one under
    which watermark state eviction provably loses no cross-batch match
    (a click's matchable purchases lie within 10 minutes of it, i.e. in
    its own or the next chunk, both arriving before the 1-hour horizon
    expires its state). The streamed pair set then equals the batch
    range join exactly. An ingest-ordered replay (event_id chunks,
    time-shuffled) would legitimately evict state mid-stream — that
    lossy-by-design shape stays covered by s_late_data.

    The (unbounded at scale) pair stream never touches the driver: each
    micro-batch writes its pairs to a parquet sink executor-side, and
    the per-purchase click count is a batch aggregation over the sink."""
    work, stream = _event_stream(spark, sf_dir, "sjoin", order_col="ts")
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        F.expr(
            "c_user_id = user_id AND c_ts >= p_ts - INTERVAL 10 MINUTES AND c_ts < p_ts"
        ),
        "inner",
    )

    pairs = _drain(
        spark, joined, work, "append",
        lambda batch: batch.select("purchase_id", "user_id", "click_id"),
    )
    return (
        pairs.groupBy("purchase_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks_10m"))
        .orderBy("purchase_id")
    )


@register("s_stream_dedup_watermark", oracle=DEDUP_ORACLE)
def s_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state twin of s_stream_dedup: dropDuplicatesWithinWatermark
    expires seen-keys once the event-time watermark passes them, so the
    dedup state is bounded by the lateness horizon instead of growing
    with the corpus — the only viable shape at 100 TB. Every duplicate
    file here arrives in the next micro-batch (well inside the 2-hour
    horizon), so the result is still exactly-once — and the kept row
    set must equal the original events table (the shared oracle)."""
    return _run_dedup_stream(
        spark,
        sf_dir,
        "dedup_wm",
        lambda s: s.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
            ["event_id"]
        ),
    )


@register(
    "s_stream_enrich",
    oracle="""
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def s_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-to-static dimension enrichment: the events stream joins the
    customer dimension with an explicit broadcast — the canonical lookup
    shape (no shuffle of the stream, no state store; each micro-batch
    probes the broadcast hash table map-side, exactly how a 100 TB
    stream joins a dimension). Per-batch per-nation aggregates land in
    parquet executor-side (no driver collects); the summed landed
    totals must hash-match the batch join (the registered oracle —
    round 7; no watermark is involved, so every row lands)."""
    work, stream = _event_stream(spark, sf_dir, "enrich")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    enriched = stream.join(F.broadcast(cust), "user_id")
    return (
        _drain(
            spark, enriched, work, "append",
            lambda batch: batch.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n")),
        )
        .groupBy("c_nationkey")
        .agg(F.sum("n").cast("bigint").alias("n_events"))
        .orderBy("c_nationkey")
    )


@register(
    "s_stream_rollup",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts)        AS bucket_start,
               event_type,
               CAST(count(*) AS BIGINT)      AS n_events,
               {rN_sql("sum(value)", 2)}     AS total_value
        FROM events GROUP BY 1, 2
    ),
    daily AS (
        SELECT date_trunc('day', bucket_start)   AS bucket_start,
               event_type,
               CAST(sum(n_events) AS BIGINT)     AS n_events,
               {rN_sql("sum(total_value)", 2)}   AS total_value
        FROM hourly GROUP BY 1, 2
    )
    SELECT 'hour' AS granularity, bucket_start, event_type, n_events, total_value
    FROM hourly
    UNION ALL
    SELECT 'day' AS granularity, bucket_start, event_type, n_events, total_value
    FROM daily
    """,
)
def s_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading continuous aggregate: the event stream
    maintains an HOURLY rollup (watermarked tumbling windows, append
    mode, parquet-landed per micro-batch), and the DAILY rollup is
    derived FROM the hourly table — never from raw events. That cascade
    is the scale-correct design: at 100 TB the day aggregation reads
    |hours| x |types| rows instead of re-scanning the raw stream, and
    each coarser granularity costs the same small re-aggregation.

    Oracle-backed (VERDICT r6 #8): the final state is deterministic —
    every real window emits because the source appends a far-future
    ``__flush__`` sentinel batch (watermark punctuation, see
    split_events_files_with_flush) — so the landed hourly table plus its
    daily cascade must hash-match the batch-replay SQL exactly.

    Returns both granularities stacked."""
    work, stream = _event_stream(spark, sf_dir, "rollup", split_events_files_with_flush)
    # NOTE: the flush sentinels are NOT filtered here — a filter between
    # withWatermark and the aggregation gets pushed below the
    # EventTimeWatermark operator by Catalyst, so the sentinel would
    # never reach the watermark accumulator and trailing windows would
    # stay in state. Sentinel rows flow through the aggregation (their
    # own far-future windows are never closed, hence never land) and the
    # landed table is filtered on read below.
    hourly = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rN(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    hour_tbl = _drain(spark, hourly, work, "append").filter(
        F.col("event_type") != FLUSH_EVENT_TYPE
    )
    day_tbl = (
        hour_tbl.groupBy(
            F.date_trunc("day", "bucket_start").alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            rN(F.sum("total_value"), 2).alias("total_value"),
        )
    )
    return (
        hour_tbl.select(F.lit("hour").alias("granularity"), "*")
        .union(day_tbl.select(F.lit("day").alias("granularity"), "*"))
        .orderBy("granularity", "bucket_start", "event_type")
    )


_GEN_COLS = ("user_id", "event_type", "ts", "event_id", "value")


def _generations(gen_root: str) -> list[int]:
    return sorted(int(d.split("_")[1]) for d in os.listdir(gen_root))


def _merge_generation(
    batch: DataFrame, gen_root: str, batch_id: int, keys, extra_cols=()
) -> None:
    """MERGE one micro-batch into a latest-row-wins sink keyed on
    ``keys``: union the batch with the latest generation, keep the
    max-(ts, event_id) row per key, and write generation
    ``g_{batch_id}`` — an atomic pointer swap, so readers never see a
    half-written merge. Latest-row-wins absorbs a row merged twice, and
    a replayed batch overwrites its own generation, so the sink is
    idempotent per batch_id."""
    current = batch.select(*_GEN_COLS, *extra_cols)
    prev = _generations(gen_root)
    if prev:
        current = (
            batch.sparkSession.read.parquet(os.path.join(gen_root, f"g_{prev[-1]}"))
            .unionByName(current)
        )
    w = Window.partitionBy(*keys).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    merged = (
        current.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    merged.write.mode("overwrite").parquet(os.path.join(gen_root, f"g_{batch_id}"))


def _drain_generations(
    spark: SparkSession, stream: DataFrame, work: str, keys, extra_cols=()
) -> DataFrame:
    """Run ``stream`` through ``_run`` into a ``_merge_generation`` sink
    and return the final generation (empty, same columns, if no
    micro-batch ran)."""
    gen_root = _fresh_dir(os.path.join(work, f"gen_{os.getpid()}"), mkdir=True)
    _run(
        stream,
        "append",
        lambda batch, batch_id: _merge_generation(batch, gen_root, batch_id, keys, extra_cols),
    )
    gens = _generations(gen_root)
    if not gens:
        return spark.createDataFrame([], stream.select(*_GEN_COLS, *extra_cols).schema)
    return spark.read.parquet(os.path.join(gen_root, f"g_{gens[-1]}"))


@register(
    "s_stream_upsert",
    oracle="""
    SELECT user_id, event_type, ts, event_id, value FROM (
        SELECT user_id, event_type, ts, event_id, value,
               row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def s_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed streaming upsert: each micro-batch MERGEs into a
    latest-row-wins sink keyed on (user_id, event_type) — the CDC
    compaction ClickHouse models as ReplacingMergeTree and lakehouses
    as MERGE INTO. foreachBatch unions the incoming batch with the
    current sink generation, keeps the max-(ts, event_id) row per key,
    and writes the NEXT generation directory (an atomic pointer swap —
    readers never observe a half-written merge; at 100 TB the rewrite
    narrows to the partitions a batch touches, the semantics pinned
    here are unchanged).

    Oracle-backed (VERDICT r6 #8): returns the FINAL sink generation
    itself — latest-row-wins is deterministic (event_id breaks ties), so
    the sink must hash-match the batch argMax SQL over the same
    events."""
    work, stream = _event_stream(spark, sf_dir, "upsert")
    sink = _drain_generations(spark, stream, work, ("user_id", "event_type"))
    return sink.select(*_GEN_COLS).orderBy("user_id", "event_type")


STREAM_TOPK = 3


@register(
    "s_stream_topk",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts)   AS bucket_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT bucket_start, event_type, n_events, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY bucket_start ORDER BY n_events DESC, event_type
        ) AS rk
        FROM hourly
    ) WHERE rk <= {STREAM_TOPK}
    """,
)
def s_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous per-window top-k: the stream maintains hourly
    event-type counts (watermarked tumbling windows, append mode,
    flush-sentinel punctuation so every real window lands), and the
    top-{STREAM_TOPK} per window is derived FROM the landed aggregate
    table — the ClickHouse-materialized-view / continuous-query shape
    where the ranking always reads the compacted aggregate, never the
    raw stream.

    Oracle-backed: deterministic tie-break (count desc, event_type
    asc), batch-replay SQL over the same events. The ranking window is
    PARTITIONED by bucket (per-window work); at 100 TB the aggregate
    table is |windows| x |types| rows, so the rank stage is
    dimension-sized, not stream-sized."""
    work, stream = _event_stream(spark, sf_dir, "topk", split_events_files_with_flush)
    hourly = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n_events")
    )
    tbl = _drain(spark, hourly, work, "append").filter(
        F.col("event_type") != FLUSH_EVENT_TYPE
    )
    w = Window.partitionBy("bucket_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        tbl.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= STREAM_TOPK)
        .orderBy("bucket_start", "rk")
    )


# ------------------------------------------------- streaming anomaly gate
ANOM_Z = 2.5  # |value - mean| > Z * stddev flags the event


@register(
    "s_stream_anomaly",
    oracle=f"""
    WITH base AS (
        SELECT event_type,
               {rN_sql("avg(value)", 6)}        AS m,
               round(stddev_pop(value), 4)      AS sd
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round(e.value, 2)                          AS value,
           {rN_sql("(e.value - b.m) / b.sd", 6)}      AS z
    FROM events e JOIN base b ON e.event_type = b.event_type
    WHERE b.sd > 0 AND abs(e.value - b.m) > {ANOM_Z} * b.sd
    """,
)
def s_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly gate: per-event-type mean/stddev baselines are
    computed BATCH-side from history (the metrics-pipeline split: a
    nightly job fits the baseline, the stream only probes it), broadcast
    into the event stream, and every micro-batch flags events more than
    {ANOM_Z} standard deviations from their type's mean — the alerting
    front door every ops pipeline runs on its metric stream.

    Scale shape: the baseline is |event_types| rows (ONE
    map-side-combinable aggregation over history), broadcast so the
    stream never shuffles and carries NO state store — each micro-batch
    is a map-side probe + filter, which is why the same plan holds at
    any stream rate. Anomalies land in parquet executor-side.

    Oracle-backed: no watermark and a stateless filter make the final
    landed set deterministic — it must hash-match the batch replay
    (baseline mean rounded to 6 dp, stddev to 4 dp, z to 6 dp — the
    r_stats_agg rounding discipline, so both engines gate identically)."""
    work, stream = _event_stream(spark, sf_dir, "anomaly")
    base = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            rN(F.avg("value"), 6).alias("m"),
            F.round(F.stddev_pop("value"), 4).alias("sd"),
        )
        .filter(F.col("sd") > 0)
    )
    flagged = (
        stream.join(F.broadcast(base), "event_type")
        .filter(F.abs(F.col("value") - F.col("m")) > ANOM_Z * F.col("sd"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            rN((F.col("value") - F.col("m")) / F.col("sd"), 6).alias("z"),
        )
    )
    return _drain(spark, flagged, work, "append").orderBy("event_id")


CDC_DELETE_TYPE = "error"  # events of this type are CDC delete markers


@register(
    "s_stream_cdc",
    oracle=f"""
    SELECT user_id, ts, event_id, event_type, value FROM (
        SELECT user_id, ts, event_id, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1 AND event_type <> '{CDC_DELETE_TYPE}'
    """,
)
def s_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with deletes: the event stream is read as a change
    feed keyed on user_id — '{CDC_DELETE_TYPE}' rows are DELETE
    markers, everything else an UPSERT — and each micro-batch MERGEs
    into a generation-swapped sink.  Unlike s_stream_upsert (pure
    latest-row-wins), deletes write TOMBSTONES that persist across
    generations: a tombstone carries the delete's (ts, event_id), so a
    late-arriving older update can never resurrect a deleted key —
    the is_deleted-column ReplacingMergeTree / Delta-CDF apply
    semantics, decided per key by one (ts, event_id) window over
    union(previous generation, batch).

    The final state filters tombstones out; the batch-replay oracle is
    the same argmax — last change per key wins, keys whose last change
    is a delete are absent.

    Scale shape: per batch, one window over |live keys + batch| rows
    partitioned by key; generations are atomic directory swaps, and at
    100 TB the rewrite narrows to the key partitions a batch touches.
    Tombstones are GC'd in production by a retention horizon; kept
    forever here so the gate is deterministic."""
    work, stream = _event_stream(spark, sf_dir, "cdc")
    is_deleted = (F.col("event_type") == CDC_DELETE_TYPE).cast("int").alias("is_deleted")
    sink = _drain_generations(spark, stream, work, ("user_id",), (is_deleted,))
    return (
        sink.filter(F.col("is_deleted") == 0)
        .select("user_id", "ts", "event_id", "event_type", "value")
        .orderBy("user_id")
    )


# ------------------------------------------------ streaming Count-Min merge
STREAM_CMS_TOP = 10


def _cms_partials(df: DataFrame) -> DataFrame:
    """Per-batch Count-Min partials over user_id: (i, bucket, c) cells."""
    from bristle_spark.functions.hashing import hash60
    from bristle_spark.queries.corpus import CMS_D, CMS_W

    k = F.col("user_id").cast("string")
    buckets = F.array(
        *[
            hash60(F.concat(F.lit(str(i)), F.lit(":"), k)) % CMS_W
            for i in range(CMS_D)
        ]
    )
    return (
        df.select(F.posexplode(buckets).alias("i", "bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def _stream_cms_oracle() -> str:
    from bristle_spark.functions.hashing import hash60_sql
    from bristle_spark.queries.corpus import CMS_D, CMS_W

    return f"""
    WITH exact AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id
    ),
    cms AS (
        SELECT r.i AS i,
               {hash60_sql("r.i || ':' || CAST(e.user_id AS VARCHAR)")} % {CMS_W} AS bucket,
               CAST(count(*) AS BIGINT) AS c
        FROM events e CROSS JOIN range({CMS_D}) r(i)
        GROUP BY 1, 2
    ),
    probes AS (
        SELECT user_id, n FROM exact ORDER BY n DESC, user_id LIMIT {STREAM_CMS_TOP}
    ),
    est AS (
        SELECT p.user_id, min(c.c) AS est
        FROM probes p CROSS JOIN range({CMS_D}) r(i)
        JOIN cms c
          ON c.i = r.i
         AND c.bucket = {hash60_sql("r.i || ':' || CAST(p.user_id AS VARCHAR)")} % {CMS_W}
        GROUP BY p.user_id
    )
    SELECT p.user_id, p.n AS exact_n, e.est AS cms_est
    FROM probes p JOIN est e USING (user_id)
    ORDER BY exact_n DESC, user_id
    """


@register("s_stream_count_min", oracle=_stream_cms_oracle())
def s_stream_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained Count-Min sketch: each micro-batch lands
    its own d x w partial cell counts, and the served sketch is the
    CELL-WISE SUM of all landed partials — the defining mergeability of
    CMS (merge(partials) == sketch(union)), which is why a pipeline can
    sketch per shard / per micro-batch and never rescan. Because the
    merge is exact integer addition under the same md5 hash family, the
    streamed sketch equals the batch-built sketch BIT-FOR-BIT, so this
    is oracle-backed (DuckDB rebuilds the batch sketch and probes the
    same top-{STREAM_CMS_TOP} heavy users), not a rows-only check —
    the streaming analog of l_count_min exactly as s_stream_rollup is
    the streaming analog of r_incremental_rollup.

    Scale shape: the per-batch partial is map-side-combined to at most
    d x w cells per task regardless of batch size; the stateless
    foreachBatch sink keeps no state store; the merge aggregates
    |batches| x d x w cells, never raw events."""
    work, stream = _event_stream(spark, sf_dir, "cms")
    from bristle_spark.functions.hashing import hash60
    from bristle_spark.queries.corpus import CMS_D, CMS_W

    merged = (
        _drain(spark, stream, work, "append", _cms_partials)
        .groupBy("i", "bucket")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_n")
    )
    probes = exact.orderBy(F.desc("exact_n"), "user_id").limit(STREAM_CMS_TOP)
    k = F.col("user_id").cast("string")
    buckets = F.array(
        *[
            hash60(F.concat(F.lit(str(i)), F.lit(":"), k)) % CMS_W
            for i in range(CMS_D)
        ]
    )
    probe_cells = probes.select(
        "user_id", "exact_n", F.posexplode(buckets).alias("i", "bucket")
    )
    return (
        merged.join(F.broadcast(probe_cells), ["i", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_est"))
        .orderBy(F.desc("exact_n"), "user_id")
    )


# ------------------------------------------------ streaming Bloom merge
SBLOOM_M = 4096  # filter bits (64 words)
SBLOOM_SEEDS = (1, 2)
SBLOOM_ABSENT = 100  # synthetic absent probes for the FP measurement


def _sbloom_word_partials(df: DataFrame) -> DataFrame:
    """Per-batch Bloom word partials over user_id (md5 hash family so
    the oracle can rebuild the identical filter)."""
    from bristle_spark.functions.hashing import hash60

    pos = F.explode(
        F.array(
            *[
                hash60(
                    F.concat(
                        F.lit(str(sd)),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                )
                % SBLOOM_M
                for sd in SBLOOM_SEEDS
            ]
        )
    ).alias("p")
    return (
        df.select(pos)
        .select(
            # 32-bit words: DuckDB rejects 1::BIGINT << 63 (signed
            # overflow), so the word layout must never touch bit 63
            (F.col("p") / 32).cast("bigint").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bm"))
    )


def _sbloom_oracle() -> str:
    from bristle_spark.functions.hashing import hash60_sql

    def pos_sql(seed: int, ucol: str) -> str:
        key = f"'{seed}:' || CAST({ucol} AS VARCHAR)"
        return f"({hash60_sql(key)} % {SBLOOM_M})"

    seed_union = " UNION ALL ".join(
        f"SELECT user_id, {pos_sql(sd, 'user_id')} AS p FROM users"
        for sd in SBLOOM_SEEDS
    )
    probe_union = " UNION ALL ".join(
        f"SELECT uid, {pos_sql(sd, 'uid')} AS p, present FROM probes"
        for sd in SBLOOM_SEEDS
    )
    return f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    mx AS (SELECT max(user_id) AS mu FROM events),
    pos AS ({seed_union}),
    words AS (
        SELECT p // 32 AS w,
               bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bm
        FROM pos GROUP BY 1
    ),
    probes AS (
        SELECT user_id AS uid, 1 AS present FROM users
        UNION ALL
        SELECT mu + r.k AS uid, 0 AS present
        FROM mx CROSS JOIN range(1, {SBLOOM_ABSENT + 1}) r(k)
    ),
    ppos AS ({probe_union}),
    checked AS (
        SELECT uid, present,
               bool_and(coalesce(words.bm & (1::BIGINT << CAST(p % 32 AS INT)), 0) <> 0)
                   AS contained
        FROM ppos LEFT JOIN words ON words.w = p // 32
        GROUP BY uid, present
    )
    SELECT CAST(count(*) FILTER (WHERE present = 1) AS BIGINT) AS n_users,
           (SELECT CAST(sum(bit_count(bm)) AS BIGINT) FROM words) AS n_set_bits,
           CAST(count(*) FILTER (WHERE present = 1 AND NOT contained) AS BIGINT)
               AS n_missing_present,
           CAST(count(*) FILTER (WHERE present = 0 AND contained) AS BIGINT)
               AS n_false_positives
    FROM checked
    """


@register("s_stream_bloom_merge", oracle=_sbloom_oracle())
def s_stream_bloom_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-built Bloom membership filter: each micro-batch
    lands its own word partials (bit_or of the k={len(SBLOOM_SEEDS)}
    hash positions of every user in the batch) and the served filter is
    the word-wise OR of all partials. OR is idempotent and commutative,
    so the streamed filter equals the batch-built filter BIT-FOR-BIT
    regardless of batching — like s_stream_count_min this makes the
    query oracle-backed: DuckDB rebuilds the same md5-positioned filter
    and probes it identically. The gate asserts the Bloom contract:
    ZERO false negatives over every present user (n_missing_present =
    0), and the measured false-positive count over {SBLOOM_ABSENT}
    synthetic absent ids — the at-scale pre-join pruning filter
    (r_bloom_prune) built incrementally at ingest instead of by a batch
    pass.

    Scale shape: per-batch partials are map-side-combined to at most
    m/32 = {SBLOOM_M // 32} words per task regardless of batch size
    (32-bit words keep the sign bit untouched in both engines);
    the sink is stateless foreachBatch; the merge aggregates
    |batches| x m/64 words; probing broadcasts the {SBLOOM_M // 64}-row
    word table."""
    work, stream = _event_stream(spark, sf_dir, "sbloom")
    from bristle_spark.functions.hashing import hash60

    words = (
        _drain(spark, stream, work, "append", _sbloom_word_partials)
        .groupBy("w")
        .agg(F.bit_or("bm").alias("bm"))
    )
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    mx = ev.agg(F.max("user_id").alias("mu"))
    absent = (
        spark.range(1, SBLOOM_ABSENT + 1, 1, 1)
        .crossJoin(F.broadcast(mx))
        .select((F.col("mu") + F.col("id")).alias("uid"), F.lit(0).alias("present"))
    )
    probes = users.select(
        F.col("user_id").alias("uid"), F.lit(1).alias("present")
    ).union(absent)
    ppos = probes.select(
        "uid",
        "present",
        F.explode(
            F.array(
                *[
                    (
                        hash60(
                            F.concat(
                                F.lit(str(sd)),
                                F.lit(":"),
                                F.col("uid").cast("string"),
                            )
                        )
                        % SBLOOM_M
                    )
                    for sd in SBLOOM_SEEDS
                ]
            )
        ).alias("p"),
    )
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))")
    checked = (
        ppos.withColumn("pw", (F.col("p") / 32).cast("bigint"))
        .join(F.broadcast(words), F.col("pw") == F.col("w"), "left")
        .select(
            "uid",
            "present",
            (F.coalesce(F.col("bm").bitwiseAND(mask), F.lit(0)) != 0).alias("hit"),
        )
        .groupBy("uid", "present")
        .agg(F.min(F.col("hit").cast("int")).alias("contained"))
    )
    n_set_bits = words.agg(
        F.sum(F.bit_count("bm")).cast("bigint").alias("n_set_bits")
    )
    return (
        checked.agg(
            F.count_if(F.col("present") == 1).cast("bigint").alias("n_users"),
            F.count_if((F.col("present") == 1) & (F.col("contained") == 0))
            .cast("bigint")
            .alias("n_missing_present"),
            F.count_if((F.col("present") == 0) & (F.col("contained") == 1))
            .cast("bigint")
            .alias("n_false_positives"),
        )
        .crossJoin(F.broadcast(n_set_bits))
        .select("n_users", "n_set_bits", "n_missing_present", "n_false_positives")
    )


# ---------------------------------------- streaming histogram quantiles
# Fixed-bound equi-width histogram: mergeability demands bounds agreed
# a-priori (not data-dependent), so every partial buckets identically.
HQ_LO = 0.0
HQ_HI = 1000.0
HQ_BUCKETS = 256
HQ_QS_PPM = (500_000, 900_000, 990_000)  # q as integer ppm


def _hq_bucket(value):
    raw = F.floor((value - F.lit(HQ_LO)) / F.lit(HQ_HI - HQ_LO) * HQ_BUCKETS)
    return F.least(
        F.lit(HQ_BUCKETS - 1), F.greatest(F.lit(0), raw.cast("bigint"))
    ).cast("bigint")


def _hq_partials(df: DataFrame) -> DataFrame:
    return (
        df.select(_hq_bucket(F.col("value")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def _hq_bucket_sql(col: str) -> str:
    return (
        f"CAST(least({HQ_BUCKETS - 1}, greatest(0, "
        f"CAST(floor(({col} - {HQ_LO}) / {HQ_HI - HQ_LO} * {HQ_BUCKETS}) AS BIGINT)"
        f")) AS BIGINT)"
    )


def _stream_hq_oracle() -> str:
    qs = ", ".join(str(q) for q in HQ_QS_PPM)
    return f"""
    WITH hist AS (
        SELECT {_hq_bucket_sql("value")} AS bucket,
               CAST(count(*) AS BIGINT)  AS c
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT bucket, c,
               sum(c) OVER (ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_le
        FROM hist
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    q AS (
        SELECT CAST(unnest([{qs}]) AS BIGINT) AS q_ppm
    ),
    ranks AS (
        -- rank computed in HUGEINT then narrowed: q_ppm*n would pass
        -- int64 max near 9.2e12 rows, inside this sketch's design range
        SELECT q.q_ppm,
               CAST((CAST(q.q_ppm AS HUGEINT) * tot.n + 999999) // 1000000
                    AS BIGINT) AS r
        FROM q CROSS JOIN tot
    )
    SELECT k.q_ppm,
           min(cum.bucket)                                       AS bucket,
           round({HQ_LO} + (min(cum.bucket) + 1)
                 * {(HQ_HI - HQ_LO) / HQ_BUCKETS}, 6)            AS est_value,
           CAST(min(cum.n_le) AS BIGINT)                         AS n_le
    FROM ranks k
    JOIN cum ON cum.n_le >= k.r
    GROUP BY k.q_ppm
    """


@register("s_stream_histogram_quantiles", oracle=_stream_hq_oracle())
def s_stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained mergeable quantile sketch: each
    micro-batch lands a fixed-bound equi-width histogram partial over
    ``value`` ({HQ_BUCKETS} buckets on [{HQ_LO}, {HQ_HI}], out-of-range
    clamped to the edge buckets), and the served sketch is the
    bucket-wise SUM of all partials. Fixed bounds make the merge exact
    integer addition, so the streamed histogram equals the batch-built
    histogram BIT-FOR-BIT — the oracle rebuilds it in DuckDB and reads
    the same quantile cuts (first bucket whose cumulative count reaches
    ceil(q*n), compared in integer ppm so no float CDF is involved).
    The rank-error contract is the histogram's by construction: the
    estimate is exact to within one bucket width. Completes the
    mergeable-sketch family (count-min, bloom, HLL) with the quantile
    member — at scale this is how percentile dashboards are maintained
    without rescanning (the fixed-grid cousin of t-digest/KLL, chosen
    because its merge is deterministic).

    Scale shape: per-batch partials are map-side-combined to at most
    {HQ_BUCKETS} cells per task regardless of batch size; the sink is
    stateless foreachBatch; the merge aggregates |batches| x
    {HQ_BUCKETS} cells; the cumulative cut windows over the
    {HQ_BUCKETS}-row merged histogram."""
    work, stream = _event_stream(spark, sf_dir, "hq")
    merged = (
        _drain(spark, stream, work, "append", _hq_partials)
        .groupBy("bucket")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = merged.withColumn("n_le", F.sum("c").over(w))
    tot = merged.agg(F.sum("c").cast("bigint").alias("n"))
    qs = spark.createDataFrame(
        [(q,) for q in HQ_QS_PPM], "q_ppm bigint"
    )
    width = (HQ_HI - HQ_LO) / HQ_BUCKETS
    # rank in decimal then narrowed back: q_ppm*n as bigint would wrap
    # past ~9.2e12 total rows — inside this sketch's design range
    ranks = qs.crossJoin(F.broadcast(tot)).select(
        "q_ppm",
        F.expr(
            "CAST(floor((CAST(q_ppm AS DECIMAL(38,0)) * n + 999999) / 1000000)"
            " AS BIGINT)"
        ).alias("r"),
    )
    return (
        ranks.join(F.broadcast(cum), F.col("n_le") >= F.col("r"))
        .groupBy("q_ppm")
        .agg(
            F.min("bucket").alias("bucket"),
            F.round(F.lit(HQ_LO) + (F.min("bucket") + 1) * F.lit(width), 6).alias(
                "est_value"
            ),
            F.min("n_le").cast("bigint").alias("n_le"),
        )
    )


# ---------------------------------------------- streaming decayed LTV
# Forward (anchor-free) half-life weights: w = 2^((days_since_base
# DIV 2)), base pinned to 2024-01-01. A row's weight depends only on
# its OWN timestamp, so every micro-batch weighs rows identically
# without knowing the final watermark and merged partials never need
# re-weighting as time moves — that maintainability is the design
# point. The served Σv·w/Σw is the BASE-RELATIVE decayed average (the
# 2-day banding is pinned to the base date); it is scale-invariant
# (multiplying all weights by a constant cancels) but NOT identical to
# r_exp_decay_avg's anchor-capped statistic — a deliberate contract,
# not an approximation of it.
LTV_BASE_DAYS = 19723  # (DATE '2024-01-01' - DATE '1970-01-01').days
LTV_MAX_SHIFT = 45  # shift cap; products go through DECIMAL(38,0),
# which absorbs 2^45-weighted cents past 1e12 rows; a deployment
# re-bases LTV_BASE_DAYS each quarter to renew headroom


def _ltv_partials(df: DataFrame) -> DataFrame:
    return (
        df.selectExpr(
            "user_id",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents",
            f"shiftleft(CAST(1 AS BIGINT), CAST(least(greatest("
            f"(unix_micros(ts) DIV 86400000000) - {LTV_BASE_DAYS}, 0) DIV 2,"
            f" {LTV_MAX_SHIFT}) AS INT)) AS w",
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("w").cast("decimal(38,0)")).alias("sw"),
            # decimal BEFORE the multiply: with w saturated at 2^45,
            # v_cents > 262,143 would wrap v_cents*w in int64
            F.sum(
                F.col("v_cents").cast("decimal(38,0)")
                * F.col("w").cast("decimal(38,0)")
            ).alias("scw"),
        )
    )


def _stream_ltv_oracle() -> str:
    return f"""
    WITH b AS (
        SELECT user_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
               (CAST(1 AS BIGINT) << CAST(least(greatest(
                   (epoch_us(ts) // 86400000000) - {LTV_BASE_DAYS}, 0) // 2,
                   {LTV_MAX_SHIFT}) AS INT)) AS w
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(w AS DECIMAL(38,0))) AS BIGINT) AS sum_weight,
           {rN_sql(
               "CAST(sum(CAST(v_cents AS HUGEINT) * w) AS DOUBLE)"
               " / CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE) / 100.0", 6
           )} AS decayed_ltv
    FROM b GROUP BY user_id
    """


@register("s_stream_decayed_ltv", oracle=_stream_ltv_oracle())
def s_stream_decayed_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained recency-decayed customer value: each
    micro-batch lands per-user partials (n, Σw, Σv·w) under exact
    power-of-two forward weights (half-life 2 days against a FIXED
    base date, never the batch clock), and the served LTV merges
    partials by plain addition. Because the weights are integers and
    the sums DECIMAL(38,0), the merge is exact and order-independent —
    the streamed state equals the batch computation BIT-FOR-BIT, so
    this is ORACLE-backed (the r_exp_decay_avg discipline, streaming).
    Forward weighting is the trick that makes the state maintainable:
    an anchor-relative weight would demand re-scaling every stored
    partial as the anchor advances, while a forward weight depends only
    on the row's own timestamp. The served value is the BASE-RELATIVE
    2-day-banded decayed average — a deliberate, self-consistent
    contract (scale-invariant in the weights), not a re-derivation of
    r_exp_decay_avg's anchor-capped statistic.

    Scale shape: per-batch partials map-side-combine to one row per
    (user, batch); the sink is stateless foreachBatch; the merge is ONE
    user-keyed sum over |batches| x users partial rows. DECIMAL(38,0)
    absorbs 2^45-weighted cents past 1e12 rows; a deployment re-bases
    the epoch each quarter to renew headroom."""
    work, stream = _event_stream(spark, sf_dir, "ltv")
    merged = _drain(spark, stream, work, "update", _ltv_partials).groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("sw").alias("sw"),
        F.sum("scw").alias("scw"),
    )
    return merged.select(
        "user_id",
        "n_events",
        F.col("sw").cast("bigint").alias("sum_weight"),
        rN(
            F.col("scw").cast("double") / F.col("sw").cast("double") / F.lit(100.0), 6
        ).alias("decayed_ltv"),
    )


# ------------------------------------------- streaming counter rate
# The order-SENSITIVE stateful key: deltaSum / increase() semantics
# over per-user counter samples, continuously maintained.  Unlike the
# additive partials of s_stream_decayed_ltv, consecutive-delta sums do
# NOT commute — the streamed design is the classic segment monoid:
# each micro-batch lands, per user, its segment's (first sample, last
# sample, intra-segment sums), and segments compose by bridging the
# boundary delta between one segment's last sample and the next's
# first.  Composition is exact because the time-ordered source
# (split_events_files order_col="ts") makes every micro-batch a
# contiguous (ts, event_id) range, so per-user segments never
# interleave.

from bristle_spark.queries.analytic import COUNTER_RATE_ORACLE_SQL  # noqa: E402


def _counter_partials(df: DataFrame) -> DataFrame:
    vc = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    src = df.select("user_id", "event_id", "ts", vc.alias("vc"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = (F.col("vc") - F.lag("vc").over(w)).alias("d")
    deltas = src.select("user_id", "ts", "event_id", "vc", d)
    key = F.struct("ts", "event_id")
    return deltas.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.col("d") < 0, F.lit(1))).cast("bigint").alias("resets_in"),
        F.coalesce(F.sum(F.when(F.col("d") > 0, F.col("d"))), F.lit(0))
        .cast("bigint")
        .alias("dsum_in"),
        F.coalesce(
            F.sum(
                F.when(F.col("d") >= 0, F.col("d")).when(F.col("d") < 0, F.col("vc"))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("prom_in"),
        F.min(key).getField("ts").alias("first_ts"),
        F.min(key).getField("event_id").cast("bigint").alias("first_eid"),
        F.min_by("vc", key).cast("bigint").alias("first_vc"),
        F.max_by("vc", key).cast("bigint").alias("last_vc"),
    )


@register("s_stream_counter_rate", oracle=COUNTER_RATE_ORACLE_SQL)
def s_stream_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained monotonic-counter rates (ClickHouse
    ``deltaSum`` + Prometheus ``increase()``, the r_counter_rate
    contract) — the ORDER-SENSITIVE streaming state: consecutive-delta
    sums don't commute, so per-batch partials carry the segment
    boundary samples (first/last vc in (ts, event_id) order) alongside
    the intra-segment sums, and the serve-time merge bridges each
    boundary delta between time-adjacent segments.  Oracle-backed
    against the SAME batch SQL as r_counter_rate
    (``COUNTER_RATE_ORACLE_SQL``): the streamed segment composition
    must land the batch-defined final state exactly.

    Exactness: every partial field is BIGINT; the bridge delta
    first_vc(next) − last_vc(prev) is exactly the consecutive delta the
    batch window would have computed at the segment seam, because the
    time-ordered chunking makes per-user segments contiguous and
    non-interleaved — so streamed state == batch state bit-for-bit,
    including after a crash/restart replay (checkpointed file offsets;
    re-landing a segment would double its seam, breaking the hash — the
    exactly-once witness).

    Scale shape: per-batch lag windows partition by user (high
    cardinality), partials map-side-combine to one row per (user,
    batch); the merge is one user-keyed window + rollup over
    |batches|×|users| partial rows — never the raw corpus twice.
    """
    work, stream = _event_stream(spark, sf_dir, "ctrrate", order_col="ts")
    p = _drain(spark, stream, work, "update", _counter_partials)
    w = Window.partitionBy("user_id").orderBy("first_ts", "first_eid")
    bridged = p.select(
        "user_id",
        "n",
        "resets_in",
        "dsum_in",
        "prom_in",
        "first_vc",
        (F.col("first_vc") - F.lag("last_vc").over(w)).alias("bridge"),
    )
    return bridged.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_samples"),
        (
            F.sum("resets_in") + F.count(F.when(F.col("bridge") < 0, F.lit(1)))
        )
        .cast("bigint")
        .alias("resets"),
        (
            F.sum("dsum_in")
            + F.coalesce(F.sum(F.when(F.col("bridge") > 0, F.col("bridge"))), F.lit(0))
        )
        .cast("bigint")
        .alias("delta_sum_cents"),
        (
            F.sum("prom_in")
            + F.coalesce(
                F.sum(
                    F.when(F.col("bridge") >= 0, F.col("bridge")).when(
                        F.col("bridge") < 0, F.col("first_vc")
                    )
                ),
                F.lit(0),
            )
        )
        .cast("bigint")
        .alias("prom_increase_cents"),
    )



# ------------------------------------------------- streaming geofence
# Additive spatial state: per micro-batch, each event's hash-derived
# point ray-casts against the fixed polygon (the r_point_in_polygon
# geometry, imported so the two keys can never disagree on the fence),
# and per-type (n, n_inside) partials land per batch; the serve-time
# merge is a plain sum — commutative, so unlike the counter-rate
# segments no ordering or seam logic is needed, and streamed state ==
# batch state bit-for-bit.

from bristle_spark.queries.geo import (  # noqa: E402
    POINT_IN_POLYGON_ORACLE_SQL,
    _lat_col,
    _lon_col,
    _ray_terms,
)


@register("s_stream_geofence", oracle=POINT_IN_POLYGON_ORACLE_SQL)
def s_stream_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained geofence rollup: each micro-batch
    ray-casts its events' hash-derived micro-degree points against the
    fixed non-convex polygon (exact integer cross-multiplication — the
    r_point_in_polygon geometry imported verbatim) and lands per-type
    (n, n_inside) partials; the served containment share merges
    partials by addition.  Oracle-backed against the SAME batch SQL as
    r_point_in_polygon: the stream must land the batch-defined final
    state exactly, including across a crash/restart replay (the
    exactly-once witness — re-landing a batch would double its counts
    and break the hash).

    Scale shape: row-local integer predicates inside each micro-batch,
    map-side-combined per-type partials (one row per type per batch),
    stateless per-batch landing, and a |batches|×|types| serve-time rollup.
    The geofence itself is a compile-time literal; a production
    variant broadcasts a polygon table per the r_spatial_grid_join
    prune-then-verify shape.
    """
    work, stream = _event_stream(spark, sf_dir, "geofence")
    inside = F.expr(f"CAST(({_ray_terms('px', 'py')}) % 2 AS BIGINT)")

    def partial(batch: DataFrame) -> DataFrame:
        return (
            batch.select("event_type", _lat_col().alias("py"), _lon_col().alias("px"))
            .select("event_type", inside.alias("inside"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("inside").cast("bigint").alias("n_in"),
            )
        )

    merged = _drain(spark, stream, work, "update", partial).groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_points"),
        F.sum("n_in").cast("bigint").alias("n_inside"),
    )
    return merged.select(
        "event_type",
        "n_points",
        "n_inside",
        r6(F.col("n_inside").cast("double") / F.col("n_points")).alias(
            "inside_share"
        ),
    )


# ------------------------------------------------- streaming skyline
# Mergeable-by-dominance state: the Pareto front is a front-of-fronts
# (a dominated point can never become undominated when more points
# arrive, and any dominator of a discarded point either survives its
# own batch's front or is dominated by a survivor — transitivity), so
# per-batch LOCAL fronts are the partials and the serve-time merge is
# the SAME dominance filter over their union.

from bristle_spark.queries.analytic import (  # noqa: E402
    SKYLINE_ORACLE_SQL,
    skyline_front,
    skyline_points,
    skyline_present,
)


@register("s_stream_skyline", oracle=SKYLINE_ORACLE_SQL)
def s_stream_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained Pareto front: each micro-batch reduces
    its events to the batch-LOCAL skyline (the r_skyline dominance
    window, imported verbatim) and lands only those candidate points;
    the served front re-applies the same filter to the union of
    partials.  front(∪ front(batch_i)) = front(∪ batch_i) by dominance
    transitivity, and the duplicate-(value, day) representative rule
    (keep lowest event_id) composes the same way — a global-front
    point is on every batch front that contains it, so its global
    minimum id always survives to the merge.  Oracle-backed against
    the SAME batch SQL as r_skyline: the streamed front must land the
    batch-defined final state exactly, including across crash/restart
    replay.  The dominance merge would also absorb a duplicate point
    (it ties with its twin), so the hash here witnesses state recovery
    (stage-1 partials surviving the restart), not double-landing.

    Scale shape: per-batch dominance windows partition by event_type
    and see only that batch's rows; partials are expected O(log n)
    points per type per batch, so the serve-time pass runs on a
    |batches| x |types| x O(log n) frame — never the corpus twice."""
    work, stream = _event_stream(spark, sf_dir, "skyline")
    partials = _drain(
        spark, stream, work, "update", lambda batch: skyline_front(skyline_points(batch))
    )
    return skyline_present(skyline_front(partials))


from bristle_spark.queries.stats_tests import (  # noqa: E402
    SRM_ORACLE_SQL,
    srm_bucket_cells,
    srm_present,
)


@register("s_stream_srm", oracle=SRM_ORACLE_SQL)
def s_stream_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained sample-ratio-mismatch gate: each
    micro-batch reduces its events to per-(event_type, bucket) partial
    counts under the shared md5 hash60 assignment (srm_bucket_cells,
    imported verbatim from the batch key) and lands only those; the
    served verdict re-sums the partials and runs the SAME chi-square
    tail (srm_present). Cell counts are ADDITIVE partials — counts
    from disjoint micro-batches sum to the full-table cells — so the
    streamed gate must hash-match r_srm_check's batch SQL exactly,
    which is what the shared oracle grades. The experimentation use is
    the live version of the batch gate: assignment skew detected while
    the experiment runs, not at readout.

    Scale shape: per-batch work is ONE map-side-combined aggregation
    to |types| x 4 rows; the landed partial table grows by that
    bounded frame per batch, and the serve-time merge re-aggregates
    |batches| x |types| x 4 rows — never the raw stream twice."""
    work, stream = _event_stream(spark, sf_dir, "srm")
    partials = _drain(spark, stream, work, "update", srm_bucket_cells)
    merged = partials.groupBy("event_type", "bucket").agg(
        F.sum("o").cast("bigint").alias("o")
    )
    return srm_present(merged)


from bristle_spark.queries.analytic import (  # noqa: E402
    HOLT_ORACLE_SQL,
    daily_cents,
    holt_present,
)


@register("s_stream_holt_trend", oracle=HOLT_ORACLE_SQL)
def s_stream_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained Holt level/trend state: each micro-batch
    reduces its events to per-(event_type, day_idx) partial cent sums
    (daily_cents, imported verbatim from the batch key) and lands only
    those; the served readout re-sums the partials into the full daily
    frame and runs the SAME fold + presentation (holt_present).  Daily
    cents are ADDITIVE partials — sums from disjoint micro-batches add
    to the full-table daily totals — so the streamed state must
    hash-match r_holt_trend's batch SQL exactly, which is what the
    shared oracle grades.  The monitoring use is the live version of
    the batch forecast: level/trend current to the last landed batch,
    not the last nightly job.

    Scale shape: per-batch work is ONE map-side-combined aggregation
    to at most |types| x |days-in-batch| rows; the landed partial
    table grows by that bounded frame per batch, the serve-time merge
    re-aggregates |batches| x |types| x |days| rows, and the fold runs
    on |types| bounded lists — never the raw stream twice."""
    work, stream = _event_stream(spark, sf_dir, "holt")
    daily = (
        _drain(spark, stream, work, "update", daily_cents)
        .groupBy("event_type", "day_idx")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    return holt_present(daily)


from bristle_spark.queries.analytic import (  # noqa: E402
    SLO_BURN_ORACLE_SQL,
    slo_burn_present,
    slo_hourly_cells,
)


@register("s_stream_slo_burn", oracle=SLO_BURN_ORACLE_SQL)
def s_stream_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained error-budget burn alerting — the USE
    CASE of r_slo_burn_rate is inherently live (a page that fires at
    the nightly batch is an outage report, not an alert): each
    micro-batch reduces its events to per-hour (n_total, n_err)
    partial cells (slo_hourly_cells, imported verbatim from the batch
    key) and lands them; the served verdict
    re-sums the partials into the full hourly frame and runs the SAME
    multiwindow policy (slo_burn_present).  Hourly cells are ADDITIVE
    partials, so the streamed readout must hash-match the batch SQL
    exactly — the shared oracle grades precisely that, including
    across crash/restart replay.

    Scale shape: per-batch work is ONE map-side-combined aggregation
    to |hours-in-batch| rows; the landed table grows by that bounded
    frame per batch, the serve-time merge re-aggregates |batches| x
    |hours| rows, and the burn windows run on the bounded hourly
    frame via the broadcast range self-join — never the raw stream
    twice."""
    work, stream = _event_stream(spark, sf_dir, "slo")
    hourly = (
        _drain(spark, stream, work, "update", slo_hourly_cells)
        .groupBy("hour_idx")
        .agg(
            F.sum("n_total").cast("bigint").alias("n_total"),
            F.sum("n_err").cast("bigint").alias("n_err"),
        )
    )
    return slo_burn_present(hourly)
