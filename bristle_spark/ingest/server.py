"""Config hot reload with writer-group swap (D17; reference
server.go:51-126).

The reference's SIGHUP path rebuilds the whole ingest state — proto
registry, bindings, clusters, writer group — from the config file,
swaps it under a lock, and closes the OLD writer group asynchronously
after the new one starts (server.go:117-122), draining its buffers.
A failed load or apply keeps the old state serving ("no action taken",
server.go:144-156).

Engine equivalents:

- proto registry       -> DescriptorPool over ``proto_descriptor_paths``
- BindFromClusters     -> explicit config bindings (config.py)
- BindFromProtos       -> descriptor autobind (descriptors.py), applied
                          after explicit bindings, first-table-wins
- writer group         -> one checkpointed streaming-ingest writer per
                          bound table; checkpoints are keyed by table
                          name and SURVIVE the swap, so the handoff is
                          exactly-once where the reference only drains
                          best-effort
- drain-on-swap        -> ``WriterGroup.close`` processes everything
                          already visible before release
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

from bristle_spark.ingest.bindings import BindingRegistry, MessageBinding
from bristle_spark.ingest.config import sink_columns_from_config, registry_from_config
from bristle_spark.ingest.descriptors import DescriptorPool, autobind
from bristle_spark.streaming.ingest_stream import run_stream_ingest


@dataclass
class TableWriter:
    """One table's ingest writer (ClickhouseTableWriter analog). The
    checkpoint location is keyed by table name, not by config
    generation — a reloaded writer resumes its predecessor's offsets."""

    binding: MessageBinding
    payload_dir: str
    sink_dir: str
    checkpoint_dir: str
    ts_column: str | None = None

    def pump(self, spark: SparkSession) -> int:
        """One drain cycle (flush-ticker analog): process every payload
        file not yet covered by the checkpoint, exactly-once, in
        micro-batches of up to ``MAX_BYTES_PER_TRIGGER`` landed bytes."""
        if not os.path.isdir(self.payload_dir):
            return 0
        return run_stream_ingest(
            spark,
            self.payload_dir,
            self.binding,
            self.sink_dir,
            self.checkpoint_dir,
            ts_column=self.ts_column,
        )


class WriterGroup:
    """writerGroup analog (clickhouse_table_writer.go:12-82): writers
    managed as one swappable unit."""

    def __init__(self) -> None:
        self.writers: list[TableWriter] = []
        self.closed = False

    def add(self, writer: TableWriter) -> None:
        self.writers.append(writer)

    def pump(self, spark: SparkSession) -> dict[str, int]:
        return {w.binding.sink_table: w.pump(spark) for w in self.writers}

    def close(self, spark: SparkSession) -> None:
        """Drain everything already visible, then release (the
        reference's async writer shutdown, server.go:117-122)."""
        if not self.closed:
            self.pump(spark)
            self.closed = True


def _existing_sink_columns(sink_dir: str) -> list[str] | None:
    """Column names of the first parquet footer under ``sink_dir``, or
    None when nothing has been written yet."""
    import pyarrow.parquet as pq

    for root, _dirs, files in sorted(os.walk(sink_dir)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                return [fld.name for fld in pq.read_schema(os.path.join(root, f))]
    return None


def _validate_sink_schema(writer: TableWriter) -> None:
    """Reloads must not change a surviving sink dir's schema (ADVICE r5)."""
    if not os.path.isdir(writer.sink_dir):
        return
    existing = _existing_sink_columns(writer.sink_dir)
    if existing is None:
        return
    expected = [
        c.name for c in sorted(writer.binding.sink_columns, key=lambda c: c.position)
    ]
    if existing != expected:
        raise ValueError(
            f"table {writer.binding.sink_table}: bound columns {expected} do not "
            f"match the existing sink schema {existing}; version the sink dir or "
            "migrate it explicitly before rebinding"
        )


class IngestServer:
    """Server analog: owns the reloadable state. Construction fails
    hard on a bad config (NewServer, server.go:28-48); ``reload`` keeps
    the old state on any error (the SIGHUP handler's 'no action
    taken')."""

    def __init__(self, spark: SparkSession, config_path: str, data_root: str) -> None:
        self.spark = spark
        self.config_path = config_path
        self.data_root = data_root
        self.config: dict | None = None
        self.registry: BindingRegistry | None = None
        self.writer_group: WriterGroup | None = None
        self._apply(self._load())

    def _load(self) -> dict:
        with open(self.config_path) as fh:
            return json.load(fh)

    def _build_registry(self, cfg: dict) -> BindingRegistry:
        registry = registry_from_config(cfg)  # explicit bindings first
        if cfg.get("autobind"):
            pool = DescriptorPool()
            cfg_dir = os.path.dirname(os.path.abspath(self.config_path))
            for path in cfg.get("proto_descriptor_paths", []):
                # relative descriptor paths are config-file-relative, so
                # `serve --config some/dir/cfg.json` works from any CWD
                if not os.path.isabs(path):
                    path = os.path.join(cfg_dir, path)
                pool.add_path(path)
            tables = {t["name"]: sink_columns_from_config(t) for t in cfg.get("tables", [])}
            autobind(pool, tables, registry)  # first-table-wins
        return registry

    def _apply(self, cfg: dict) -> None:
        registry = self._build_registry(cfg)
        # optional per-table day partitioning of the sink (parquet
        # partitionBy on to_date(ts_column) — ClickHouse PARTITION BY
        # toYYYYMMDD analog, examples/*.sql)
        ts_columns = {
            t["name"]: t["ts_column"] for t in cfg.get("tables", []) if t.get("ts_column")
        }
        group = WriterGroup()
        for binding in registry.bindings():
            safe = binding.sink_table.replace(".", "__")
            writer = TableWriter(
                binding=binding,
                payload_dir=os.path.join(self.data_root, "payloads", safe),
                sink_dir=os.path.join(self.data_root, "sink", safe),
                checkpoint_dir=os.path.join(self.data_root, "ckpt", safe),
                ts_column=ts_columns.get(binding.sink_table),
            )
            # sink dirs are keyed by table name and survive reloads; a
            # binding whose column set no longer matches what's already
            # on disk would silently append a second schema (later reads
            # resolve one footer and drop/null the rest) — refuse instead,
            # BEFORE the swap, so reload() keeps the old state serving
            _validate_sink_schema(writer)
            group.add(writer)
        # swap order mirrors reloadConfig: new state live, then the old
        # writer group drains and releases
        old_state = (self.config, self.registry, self.writer_group)
        self.config, self.registry, self.writer_group = cfg, registry, group
        if old_state[2] is not None:
            try:
                old_state[2].close(self.spark)
            except Exception:
                # drain failed: the contract ("False => no action taken,
                # old state serving") must stay true, so put the old
                # triple back before the error propagates to reload()
                self.config, self.registry, self.writer_group = old_state
                raise

    def reload(self) -> bool:
        """SIGHUP analog. Returns True if the new config was applied;
        False leaves the previous state serving."""
        try:
            cfg = self._load()
        except Exception:
            return False  # "error on load, no action taken"
        try:
            self._apply(cfg)
        except Exception:
            return False  # "error applying, no action taken"
        return True

    def pump(self) -> dict[str, int]:
        """Run one flush cycle on every writer (micro-batch drain)."""
        assert self.writer_group is not None
        return self.writer_group.pump(self.spark)

    def compact(self, min_files: int = 2) -> dict[str, dict]:
        """MergeTree background-merge analog: merge the small per-pump
        parts in every day-partitioned sink (maintenance.compact_sink),
        re-sorted by the table's ts column — the leading ORDER BY key of
        the example DDL."""
        from bristle_spark.ingest.maintenance import compact_sink

        assert self.writer_group is not None
        results: dict[str, dict] = {}
        for w in self.writer_group.writers:
            if w.ts_column is None or not os.path.isdir(w.sink_dir):
                continue
            results[w.binding.sink_table] = compact_sink(
                self.spark, w.sink_dir, order_by=[w.ts_column], min_files=min_files
            )
        return results
