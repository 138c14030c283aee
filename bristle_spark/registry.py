"""Declared-query registry: the t2 correctness contract (SURVEY.md §2.D).

Every implemented operator registers a ``QuerySpec``:
    fn(spark, sf_dir) -> DataFrame   (the Spark-first implementation)
    oracle: ANSI SQL string DuckDB can run on the same parquet tables,
            or None for non-SQL-expressible ops (rows-only check).

``__spark_entry__.py`` exposes this registry to the driver.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    group: str
    doc: str


def register(name: str, oracle: str | None = None, group: str = "") -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, group=group or name.split("_", 1)[0], doc=fn.__doc__ or ""
        )
        return fn

    return deco


# The driver's correctness harness grades the FIRST ``WINDOW`` entries of
# ``queries()``. all_specs() derives that window from the committed
# CORRECTNESS_r*.json history, so a new record rotates it with no edit:
#   1. oracle-backed keys with no driver row in any round lead;
#   2. then the PLAN_CHANGED_KEYS entries still waiting for a grade of
#      the round their plan changed in;
#   3. then the remaining oracle-backed keys drain stalest-first by the
#      round of their last driver row.
# Ties keep registration order. Rows-only keys never hold a slot, so
# every graded row is a hash match. tests/test_driver_window.py states
# the same rules over its own history reader. Keys outside the window
# keep local oracle-parity coverage: tests/test_oracle_parity.py at
# sf0.001 in the gate, and at sf0.01/0.1 with -m "" (the s_* keys are
# `slow`) in the closing run, scripts/verify_all.py.
WINDOW = 50

HISTORY_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# key -> round in which its query plan changed. A key ranks under rule 2
# while its last driver row is older than that round; remove the entry
# once the record of that round (or a later one) grades it.
PLAN_CHANGED_KEYS: dict[str, int] = {}


def last_graded(history_dir: str = HISTORY_DIR) -> dict[str, int]:
    """key -> last round with any driver row in ``history_dir``."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(history_dir, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for key in json.load(fh):
                last[key] = max(last.get(key, 0), rnd)
    return last


def driver_window(
    specs: dict[str, QuerySpec], history_dir: str = HISTORY_DIR
) -> tuple[str, ...]:
    """The ``WINDOW`` keys the driver grades next, in grading order."""
    graded = last_graded(history_dir)

    def rank(key: str) -> tuple[int, int]:
        if key not in graded:
            return (1, 0)
        if graded[key] < PLAN_CHANGED_KEYS.get(key, 0):
            return (2, 0)
        return (3, graded[key])

    oracle_backed = [k for k, spec in specs.items() if spec.oracle is not None]
    return tuple(sorted(oracle_backed, key=rank)[:WINDOW])


def all_specs() -> dict[str, QuerySpec]:
    """Import all query modules (side-effect registration) and return the registry.

    The returned dict is ordered: the ``driver_window`` keys first (in
    grading order), then every remaining registration in module-import
    order.
    """
    from bristle_spark import queries  # noqa: F401  (populates _REGISTRY)

    window = driver_window(_REGISTRY)
    ordered = {name: _REGISTRY[name] for name in window}
    ordered.update(_REGISTRY)
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
