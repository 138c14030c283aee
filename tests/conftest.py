"""Shared fixtures: one SparkSession per test session, a DuckDB oracle
connection with the same tables as views, and a canonicalizing comparator
that mirrors the driver's order-insensitive value comparison.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import pytest

from bristle_spark.catalog import TABLES
from bristle_spark.session import get_spark

SF_DIR = os.environ.get("BRISTLE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    # cpus=8 re-measured in r16: 16 task slots made the fast gate
    # SLOWER (6:23 vs 5:36) — the ~0.4 s/test long tail is per-query
    # planning/scheduling, not task throughput.
    spark = get_spark(app_name="bristle-spark-tests", cpus=8, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def oracle(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()


def canon_cell(v):
    """Canonical, engine-independent representation of one value.

    Numbers are normalized across int/float/Decimal carriers (pandas
    conversion differs between Spark and DuckDB for e.g. DECIMAL), but
    non-integral floats still compare exactly via repr."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer():
            return f"n:{int(v)}"
        return f"n:{v!r}"
    if isinstance(v, int):
        return f"n:{v}"
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return f"n:{int(v)}"
        return f"n:{float(v)!r}"
    if isinstance(v, datetime.datetime):
        return "t:" + v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return "t:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return "x:" + v.hex()
    return "s:" + str(v)


def canon_frame(pdf):
    """Sort columns by name, canonicalize cells column-wise (iterrows
    would upcast mixed-dtype rows to float), sort rows."""
    cols = sorted(pdf.columns)
    columns = [[canon_cell(_from_numpy(v)) for v in pdf[c].tolist()] for c in cols]
    rows = sorted(zip(*columns)) if cols else []
    return cols, rows


def _from_numpy(v):
    import numpy as np
    import pandas as pd

    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, np.ndarray):
        return [_from_numpy(x) for x in v]
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v


def assert_frames_match(spark_pdf, oracle_pdf, name: str):
    s_cols, s_rows = canon_frame(spark_pdf)
    o_cols, o_rows = canon_frame(oracle_pdf)
    assert s_cols == o_cols, f"{name}: column mismatch spark={s_cols} oracle={o_cols}"
    assert len(s_rows) == len(o_rows), (
        f"{name}: row count mismatch spark={len(s_rows)} oracle={len(o_rows)}"
    )
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        assert sr == orow, f"{name}: first differing row #{i}:\n spark={sr}\noracle={orow}"


# --- fast-gate tiering (VERDICT r15 ask #2) --------------------------------
# The default run is the fast deterministic gate (pytest.ini deselects
# `slow`); these modules / param families form the heavyweight
# end-to-end tier that still gates every closing round via `-m ""`.
# Module-level: real Structured Streaming jobs (multi-second
# availableNow micro-batch floors per test), server reload and CLI
# end-to-ends, event-log balance probes, and the iterative-trainer
# numpy pins. Param-level: the s_* streaming keys inside otherwise-fast
# parametrized suites (each runs a full micro-batch stream).
# The ingest front doors (socket and gRPC services, TLS, Backoff,
# metrics, wire framing, h2/HPACK, forwarder) are in the fast tier: they
# are what the system is for, and they need no streaming job.
SLOW_MODULES = {
    "test_streaming.py",
    "test_stream_restart_replay.py",
    "test_stream_ingest.py",
    "test_stateful_and_skew.py",
    "test_determinism.py",
    "test_canonicalizer_safety.py",
    "test_scale_shapes.py",
    "test_cli.py",
    "test_server_reload.py",
    "test_maintenance.py",
    "test_pca_project.py",
    "test_ingest_pipeline.py",
    "test_jdbc_sink.py",
    "test_clickhouse_sink.py",
    # registry-wide SWEEPS (one plan/robustness probe per key, ~300
    # params each): valuable, but the per-key pins in test_plans.py and
    # the full batch oracle parity already gate the fast tier
    "test_no_global_windows.py",
    "test_empty_tables.py",
}


# individually heavyweight tests inside otherwise-fast modules
SLOW_TESTS = (
    "test_pq_recall_against_exact",
    "test_matches_reference_python_bpe",
    "test_chained_merge_respects_symbol_boundaries",
    "test_funnel_runs_propagation_once",
    "test_winnowing_guarantee_shared_run_shares_fingerprint",
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = os.path.basename(item.nodeid.split("::")[0])
        if (
            mod in SLOW_MODULES
            or "[s_" in item.nodeid
            or any(t in item.nodeid for t in SLOW_TESTS)
        ):
            item.add_marker(pytest.mark.slow)
