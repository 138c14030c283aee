"""SparkSession factory.

Session-level semantics chosen for parity with the reference pipeline and
the DuckDB oracle (SURVEY.md §7 "hard parts"):

- UTC session timezone: the reference always converts
  ``google.protobuf.Timestamp`` via ``time.Unix(...).UTC()``
  (reference clickhouse_table.go:264-267).
- ANSI off: the reference uses Go truncating casts for int width
  conversions (reference clickhouse_table.go:298-370); Spark non-ANSI
  casts match that, and the declared queries stay in-range so DuckDB
  agrees.
- ``nanosAsLong``: the synthetic ``events`` table stores ns-precision
  timestamps, which Spark's parquet reader otherwise rejects; we read
  them as raw int64 and truncate to µs in the catalog layer (same
  truncation DuckDB applies when casting TIMESTAMP_NS -> TIMESTAMP).
- AQE on: runtime partition coalescing + skew-join handling is the
  scale path for the 100 TB design point; local runs keep the same plan
  shape.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Semantics-bearing confs that are runtime-settable on any SparkSession.
# The driver harness supplies its OWN session to entry()/queries(); these
# must hold there too, or ns-timestamp reads fail and cast/timezone/case
# semantics drift from the oracle. ensure_session_confs() applies them
# idempotently wherever the engine touches a session it didn't build.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    # protojson field aliases are case-distinct (e/E, t/T, m/M in the
    # binance feed, reference examples/binance.proto:6-18); default
    # case-insensitive resolution cannot address them
    "spark.sql.caseSensitive": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # pyspark >= 4.1 infers tz-less parquet timestamps as TIMESTAMP_NTZ by
    # default; the engine (and the DuckDB oracle comparison) treats stored
    # wall-clock values as UTC instants, so read them as TIMESTAMP
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}

_ensured_sessions: set[int] = set()


def ensure_session_confs(spark: SparkSession) -> None:
    key = id(spark)
    if key in _ensured_sessions:
        return
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some build — best effort
    _ensured_sessions.add(key)


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "bristle-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or default_cpus()
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("BRISTLE_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in {**RUNTIME_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
