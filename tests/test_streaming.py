"""Streaming semantics: bounded-buffer policies (unit), micro-batch
flush, late data, proto round-trip (via the Group S queries)."""

from __future__ import annotations

import datetime

from bristle_spark.registry import all_specs
from bristle_spark.streaming.buffer import BatchResult, BoundedBuffer

SPECS = all_specs()


# ---------------------------------------------- BoundedBuffer unit tests


def test_buffer_too_big():
    buf = BoundedBuffer(max_size=10)
    assert buf.write_batch(list(range(11))) == BatchResult.TOO_BIG
    assert len(buf) == 0 and buf.stats.rejected_too_big == 11


def test_buffer_block_policy():
    buf = BoundedBuffer(max_size=10, on_full="block")
    assert buf.write_batch(list(range(8))) == BatchResult.OK
    assert buf.write_batch(list(range(5))) == BatchResult.FULL
    assert len(buf) == 8 and buf.stats.rejected_full == 5


def test_buffer_drop_oldest():
    buf = BoundedBuffer(max_size=10, on_full="drop-oldest")
    buf.write_batch(list(range(8)))
    assert buf.write_batch([100, 101, 102, 103]) == BatchResult.OK
    # 2 oldest evicted; buffer = [2..7, 100..103]
    assert buf.rows == [2, 3, 4, 5, 6, 7, 100, 101, 102, 103]
    assert buf.stats.dropped_oldest == 2


def test_buffer_drop_newest_keeps_incoming_head():
    """Intended semantics: the *newest* rows of the incoming batch are
    dropped (the reference instead drops the batch's oldest rows —
    SURVEY.md §8.6, memory_row_buffer.go:78-80 — a bug we don't copy)."""
    buf = BoundedBuffer(max_size=10, on_full="drop-newest")
    buf.write_batch(list(range(8)))
    assert buf.write_batch([100, 101, 102, 103]) == BatchResult.OK
    assert buf.rows == [0, 1, 2, 3, 4, 5, 6, 7, 100, 101]
    assert buf.stats.dropped_newest == 2


def test_buffer_fifo_flush():
    buf = BoundedBuffer(max_size=10)
    buf.write_batch(list(range(7)))
    assert buf.flush_batch(3) == [0, 1, 2]
    assert buf.flush_batch(100) == [3, 4, 5, 6]
    assert buf.flush_batch(5) == []
    assert buf.stats.flushed == 7


# ----------------------------------------------- Group S query behavior


def test_s_microbatch_flush(spark, sf_dir):
    out = SPECS["s_microbatch_flush"].fn(spark, sf_dir).collect()
    assert len(out) >= 2  # multiple micro-batches happened
    assert all(r["within_limit"] == 1 for r in out)
    assert all(r["total_rows_ok"] == 1 for r in out)  # lossless: all rows landed


def test_s_drop_policies(spark, sf_dir):
    rows = {r["policy"]: r for r in SPECS["s_drop_policies"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"drop-oldest", "drop-newest", "block"}
    for r in rows.values():
        assert r["too_big_result"] == "TOO_BIG"
        assert r["written"] + r["rejected_full"] + r["dropped_oldest"] + r["dropped_newest"] > 0
    assert rows["block"]["dropped_oldest"] == 0 and rows["block"]["dropped_newest"] == 0
    assert rows["drop-oldest"]["rejected_full"] == 0
    assert rows["drop-newest"]["rejected_full"] == 0


def test_s_late_data_drops_behind_watermark(spark, sf_dir):
    out = SPECS["s_late_data"].fn(spark, sf_dir)
    rows = out.collect()
    # append-mode emission: only windows finalized by the watermark appear
    assert out.columns == ["hour_start", "n_events"]
    assert all(r["n_events"] > 0 for r in rows)


def test_s_proto_roundtrip_matches_source(spark, sf_dir):
    rows = SPECS["s_proto_roundtrip"].fn(spark, sf_dir).collect()
    assert len(rows) == 100
    by_name = {r["name"]: r for r in rows}
    r7 = by_name["doc7"]
    assert r7["type"] == 1  # 7 % 3
    assert r7["value"] == 77
    # arrays are serialized to comma-joined strings (canonicalizer-safe)
    assert r7["tag_keys"] == "k0"
    assert r7["labels"] == "l0,l1,l2"
    r0 = by_name["doc0"]
    assert r0["value"] is None  # i % 5 == 0 -> unset -> NULL (S1)
    assert r0["timestamp"] == datetime.datetime(2023, 11, 14, 22, 13, 20)


# ----------------------------------------------------------- multimodal


def test_multimodal_features_deterministic(spark, sf_dir):
    df1 = SPECS["m_png_binary_features"].fn(spark, sf_dir).limit(5).collect()
    df2 = SPECS["m_png_binary_features"].fn(spark, sf_dir).limit(5).collect()
    assert df1 == df2
    r = df1[0]
    assert r["n_bytes"] == 256
    # histogram serialized to a comma-joined string (canonicalizer-safe)
    hist = [int(x) for x in r["byte_hist"].split(",")]
    assert sum(hist) == 256 and len(hist) == 16


def test_stream_enrich_matches_batch_join(spark, sf_dir):
    """The stream-static broadcast enrichment must reproduce the batch
    join's per-nation totals exactly across micro-batches."""
    from bristle_spark.registry import all_specs

    from pyspark.sql import functions as F

    rows = all_specs()["s_stream_enrich"].fn(spark, sf_dir).collect()
    assert rows, "no enriched output"
    streamed = {r["c_nationkey"]: r["n_events"] for r in rows}
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    batch = {
        r["c_nationkey"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .join(cust, "user_id")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert streamed == batch


def test_stream_rollup_cascade_consistent(spark, sf_dir):
    """The daily continuous aggregate is derived from the hourly one;
    every day's event count must equal the sum of its hours (and the
    hourly side must actually have emitted finalized windows)."""
    from bristle_spark.registry import all_specs

    pdf = all_specs()["s_stream_rollup"].fn(spark, sf_dir).toPandas()
    hours = pdf[pdf.granularity == "hour"].copy()
    days = pdf[pdf.granularity == "day"]
    assert len(hours) > 0 and len(days) > 0
    hours["day"] = hours.bucket_start.dt.floor("D")
    per_day = (
        hours.groupby(["day", "event_type"]).n_events.sum().reset_index()
    )
    merged = per_day.merge(
        days[["bucket_start", "event_type", "n_events"]],
        left_on=["day", "event_type"],
        right_on=["bucket_start", "event_type"],
    )
    assert len(merged) == len(days)
    assert (merged.n_events_x == merged.n_events_y).all()


def test_sample_frames_subframe_payload_yields_zero_frames(spark):
    """A payload shorter than one 16-byte frame must sample to an empty
    array, not phantom frames (sequence(0, -1) counts DOWN)."""
    from bristle_spark import multimodal

    df = spark.createDataFrame(
        [(1, bytearray(b"short"), None), (2, bytearray(bytes(40)), None)],
        "doc_id long, payload binary, meta string",
    )
    rows = {r["doc_id"]: r["sampled_frames"]
            for r in multimodal.sample_frames(df, every_nth=1).collect()}
    assert rows[1] == []          # 5 bytes -> 0 frames
    assert len(rows[2]) == 2      # 40 bytes -> 2 full frames, partial dropped
    assert all(len(f) == 16 for f in rows[2])


def test_resize_upscale_and_tiny_phash_raise_cleanly(spark):
    from bristle_spark import multimodal

    df = spark.createDataFrame(
        [(1, bytearray(bytes(16)), {"width": 4, "height": 4, "format": "fake-rgb"})],
        "doc_id long, payload binary, meta map<string,string>",
    )
    import pytest

    with pytest.raises(Exception):  # ValueError surfaces as PythonException
        multimodal.resize(df, out_width=8, out_height=8).collect()
    with pytest.raises(Exception):
        multimodal.phash(df).collect()


def test_stream_upsert_latest_row_wins(spark, sf_dir):
    """Across micro-batches, the keyed upsert sink must equal the batch
    argMax per (user_id, event_type): every key present, every row the
    latest version, exactly once. (The exact-row equality is the
    registered oracle — test_oracle_parity — so here we pin the key-set
    and that each kept row carries the max ts for its key.)"""
    from bristle_spark.registry import all_specs
    from pyspark.sql import functions as F

    pdf = all_specs()["s_stream_upsert"].fn(spark, sf_dir).toPandas()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_keys = ev.select("user_id", "event_type").distinct().count()
    assert len(pdf) == n_keys
    max_ts = {
        (r["user_id"], r["event_type"]): r["mx"]
        for r in ev.groupBy("user_id", "event_type").agg(F.max("ts").alias("mx")).collect()
    }
    for r in pdf.itertuples():
        assert r.ts == max_ts[(r.user_id, r.event_type)]


def test_ltv_partials_exact_past_int64(spark):
    """The decayed-LTV per-row product must survive weight saturation:
    one $10M event 90+ days past the base has v_cents * w = 1e9 * 2^45
    > int64 max — the decimal-before-multiply contract (self-review
    r11) keeps it exact instead of wrapping."""
    import datetime
    from decimal import Decimal

    from bristle_spark.queries.streaming_q import _ltv_partials, LTV_MAX_SHIFT

    ts = datetime.datetime(2024, 6, 1, 12, 0, 0)  # 152 days past base
    df = spark.createDataFrame(
        [(7, 10_000_000.0, ts)], "user_id long, value double, ts timestamp"
    )
    row = _ltv_partials(df).collect()[0]
    expected = Decimal(10_000_000 * 100) * Decimal(2**LTV_MAX_SHIFT)
    assert row["scw"] == expected
    assert row["sw"] == Decimal(2**LTV_MAX_SHIFT)
    assert int(expected) > 2**63 - 1  # the case int64 math would wrap
