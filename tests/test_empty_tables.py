"""Empty-input robustness: every batch query must execute (and return an
empty or well-defined frame) when every table has zero rows — the
empty-partition / fresh-deployment case. Catches hidden first()/head()
dependencies, divide-by-zero surprises, and iterative loops that assume
at least one edge.

Streaming-group queries are excluded: they split the events table into
chunk files to simulate micro-batches. The path they share when no
micro-batch runs — the drain returning an empty frame typed by its
partial — is pinned by
tests/test_drain.py::test_drain_with_no_microbatch_is_empty_and_typed."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from bristle_spark.catalog import TABLES
from bristle_spark.registry import all_specs

_SPECS = {n: s for n, s in all_specs().items() if s.group != "s"}


@pytest.fixture(scope="session")
def empty_sf_dir(tmp_path_factory, sf_dir) -> str:
    """Schema-identical, zero-row copies of every table."""
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        schema = pq.read_schema(f"{sf_dir}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_query_survives_empty_tables(name, spark, empty_sf_dir):
    df = _SPECS[name].fn(spark, empty_sf_dir)
    assert df.columns, f"{name}: empty schema"
    assert df.count() >= 0
