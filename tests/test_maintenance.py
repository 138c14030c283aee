"""compact_sink: the MergeTree-background-merge analog over the
day-partitioned parquet sink. Pins (a) small appended parts merge to one
file per day, (b) row-for-row content preservation, (c) the ORDER BY
invariant inside compacted files, (d) partitions under the threshold are
left untouched (dynamic overwrite never rewrites clean days), and
(e) partition pruning still works after compaction."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bristle_spark.catalog import load_table
from bristle_spark.ingest.maintenance import compact_sink, partition_file_stats
from bristle_spark.ingest.pipeline import write_sink


def _build_fragmented_sink(spark, sf_dir, path, n_batches=4):
    ev = load_table(spark, sf_dir, "events").limit(400).cache()
    days = [r[0] for r in ev.select(F.to_date("ts")).distinct().collect()]
    # one day stays clean: only its first batch is ever written
    clean_day = str(min(days))
    for i in range(n_batches):
        batch = ev.filter(F.col("event_id") % n_batches == i)
        if i > 0:
            batch = batch.filter(F.to_date("ts") != clean_day)
        write_sink(batch, path, ts_column="ts", order_by=["ts", "event_id"])
    ev.unpersist()
    return clean_day


def test_compact_merges_parts_and_preserves_rows(spark, sf_dir, tmp_path):
    path = str(tmp_path / "sink")
    clean_day = _build_fragmented_sink(spark, sf_dir, path)
    before = partition_file_stats(path)
    assert max(before.values()) > 1
    rows_before = sorted(
        (r["event_id"], str(r["_day"])) for r in spark.read.parquet(path).collect()
    )

    result = compact_sink(spark, path, order_by=["ts", "event_id"], min_files=1)

    after = partition_file_stats(path)
    assert result["compacted_partitions"] > 0
    assert result["files_after"] < result["files_before"]
    # every compacted day is now a single part
    assert all(c == 1 for d, c in after.items() if before[d] > 1)
    rows_after = sorted(
        (r["event_id"], str(r["_day"])) for r in spark.read.parquet(path).collect()
    )
    assert rows_after == rows_before
    # clean partition was not selected for compaction
    assert clean_day not in [d for d, c in before.items() if c > 1]


def test_compacted_files_keep_order_by(spark, sf_dir, tmp_path):
    path = str(tmp_path / "sink")
    _build_fragmented_sink(spark, sf_dir, path)
    compact_sink(spark, path, order_by=["ts", "event_id"], min_files=1)
    for entry in os.listdir(path):
        if not entry.startswith("_day="):
            continue
        pdir = os.path.join(path, entry)
        for f in os.listdir(pdir):
            if not f.endswith(".parquet"):
                continue
            rows = spark.read.parquet(os.path.join(pdir, f)).select(
                "ts", "event_id"
            ).collect()
            keys = [(r["ts"], r["event_id"]) for r in rows]
            assert keys == sorted(keys), f"{entry}/{f} lost ORDER BY"


def test_untouched_partitions_not_rewritten(spark, sf_dir, tmp_path):
    path = str(tmp_path / "sink")
    clean_day = _build_fragmented_sink(spark, sf_dir, path)
    clean_dir = os.path.join(path, f"_day={clean_day}")
    files_before = set(os.listdir(clean_dir))
    compact_sink(spark, path, order_by=["ts", "event_id"], min_files=1)
    assert set(os.listdir(clean_dir)) == files_before


def test_noop_when_nothing_fragmented(spark, sf_dir, tmp_path):
    path = str(tmp_path / "sink")
    ev = load_table(spark, sf_dir, "events").limit(50)
    write_sink(ev, path, ts_column="ts", order_by=["ts"])
    result = compact_sink(spark, path, order_by=["ts"], min_files=1)
    assert result["compacted_partitions"] == 0


def test_server_compact_merges_pumped_parts(spark, sf_dir, tmp_path):
    """Several pump cycles leave one part per micro-batch in the
    day-partitioned sink; server.compact() merges them per day."""
    import json

    from bristle_spark.ingest.fixtures import example_binding
    from bristle_spark.ingest.server import IngestServer

    b = example_binding()
    cfg = {
        "tables": [
            {
                "name": b.sink_table,
                "columns": [
                    {"name": c.name, "type": c.ch_type, "default": c.default}
                    for c in b.sink_columns
                ],
                "messages": [b.message_name],
                "ts_column": "timestamp",
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
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    server = IngestServer(spark, str(cfg_path), str(tmp_path / "data"))

    from bristle_spark.ingest import service as svc
    from bristle_spark.ingest.fixtures import encode_example_row

    safe = b.sink_table.replace(".", "__")
    payload_dir = svc.landing_dir(server.data_root, b.sink_table)
    for i in range(3):
        bodies = [
            encode_example_row(name=f"p{i}_{j}", ts=(1_700_000_000 + j, 0), value=j)
            for j in range(5)
        ]
        columns, errors = b.column_decoder(bodies)
        assert errors == []
        svc.land_payload(payload_dir, b, bodies, columns)
        server.pump()

    sink_dir = os.path.join(server.data_root, "sink", safe)
    before = partition_file_stats(sink_dir)
    assert max(before.values()) >= 3  # one part per pump
    merged = server.compact(min_files=1)
    assert merged[b.sink_table]["files_after"] < merged[b.sink_table]["files_before"]
    after = partition_file_stats(sink_dir)
    assert all(c == 1 for c in after.values())
    sink = spark.read.parquet(sink_dir)
    assert sink.count() == 15


def test_oversized_day_splits_under_row_cap(spark, sf_dir, tmp_path):
    """A day exceeding max_rows_per_file must split into multiple parts
    (the size cap is real, not just a partition count), and each part
    still honors the ORDER BY invariant."""
    path = str(tmp_path / "sink")
    ev = load_table(spark, sf_dir, "events").limit(400)
    one_day = ev.withColumn(
        "ts", F.to_timestamp(F.lit("2024-03-01 00:00:00")) + F.col("event_id").cast("int").cast("string").cast("interval second")
    )
    # simpler: force every row into one day by overwriting ts date part
    one_day = ev.withColumn(
        "ts",
        F.to_timestamp(
            F.concat(F.lit("2024-03-01 00:00:"), F.lpad((F.col("event_id") % 60).cast("string"), 2, "0"))
        ),
    )
    for i in range(2):
        write_sink(
            one_day.filter(F.col("event_id") % 2 == i),
            path, ts_column="ts", order_by=["ts", "event_id"],
        )
    result = compact_sink(
        spark, path, order_by=["ts", "event_id"], min_files=1, max_rows_per_file=100
    )
    stats = partition_file_stats(path)
    assert list(stats) == ["2024-03-01"]
    assert stats["2024-03-01"] >= 2, "oversized day did not split"
    assert result["rows"] == 400
    total = spark.read.parquet(path).count()
    assert total == 400
    pdir = os.path.join(path, "_day=2024-03-01")
    for f in os.listdir(pdir):
        if f.endswith(".parquet"):
            rows = spark.read.parquet(os.path.join(pdir, f)).select("ts", "event_id").collect()
            keys = [(r["ts"], r["event_id"]) for r in rows]
            assert keys == sorted(keys)


# ---------------------------------------------------------------- ttl_sweep


def test_ttl_sweep_drops_expired_partitions(spark, sf_dir, tmp_path):
    """Partition-level TTL (ClickHouse ttl_only_drop_parts analog):
    days older than the window vanish as whole directories, surviving
    days keep byte-identical content, and the sweep never reads data."""
    from bristle_spark.ingest.maintenance import ttl_sweep

    path = str(tmp_path / "sink")
    ev = load_table(spark, sf_dir, "events").limit(400)
    write_sink(ev, path, ts_column="ts", order_by=["ts", "event_id"])
    before = partition_file_stats(path)
    days = sorted(before)
    assert len(days) > 3, "fixture too narrow for a retention test"
    keep = 3
    survivors_expected = sorted(
        r["event_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("_day") >= F.date_sub(F.lit(days[-1]).cast("date"), keep - 1))
        .collect()
    )

    result = ttl_sweep(path, keep_days=keep)

    after = partition_file_stats(path)
    assert sorted(after) == days[-keep:]
    assert result["dropped_partitions"] == len(days) - len(after)
    assert sorted(result["dropped_days"]) == days[: len(days) - len(after)]
    survivors = sorted(r["event_id"] for r in spark.read.parquet(path).collect())
    assert survivors == survivors_expected


def test_ttl_sweep_as_of_and_noop(spark, sf_dir, tmp_path):
    """An as_of far in the future expires everything; a window wider
    than the data drops nothing (idempotent no-op)."""
    from bristle_spark.ingest.maintenance import ttl_sweep

    path = str(tmp_path / "sink")
    ev = load_table(spark, sf_dir, "events").limit(200)
    write_sink(ev, path, ts_column="ts", order_by=["ts", "event_id"])
    n_days = len(partition_file_stats(path))

    wide = ttl_sweep(path, keep_days=10_000)
    assert wide["dropped_partitions"] == 0
    assert len(partition_file_stats(path)) == n_days

    gone = ttl_sweep(path, keep_days=1, as_of="2099-01-01")
    assert gone["dropped_partitions"] == n_days
    assert partition_file_stats(path) == {}
    # empty sink: a further sweep is a clean no-op, not an error
    assert ttl_sweep(path, keep_days=1)["dropped_partitions"] == 0
