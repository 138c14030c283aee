"""The local mirror of the driver's t2 gate: every declared query with an
oracle must match DuckDB exactly (columns, row count, values) on the
test SF. Rows-only queries must at least run and return a stable schema.

The test SF comes from ``BRISTLE_TEST_SF_DIR`` (default sf0.001). The
s_* streaming keys carry the `slow` mark (tests/conftest.py), so the
default ``-m "not slow"`` selection skips them; scripts/verify_all.py
runs every key with ``-m ""`` at sf0.01 and sf0.1.
"""

from __future__ import annotations

import pytest

from bristle_spark.registry import all_specs

SPECS = all_specs()
WITH_ORACLE = sorted(n for n, s in SPECS.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in SPECS.items() if s.oracle is None)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(name, spark, oracle, sf_dir):
    from tests.conftest import assert_frames_match

    spec = SPECS[name]
    spark_pdf = spec.fn(spark, sf_dir).toPandas()
    oracle_pdf = oracle.execute(spec.oracle).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(name, spark, sf_dir):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    assert df.columns, f"{name}: empty schema"
    assert df.count() >= 0
