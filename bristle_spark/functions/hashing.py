"""Portable deterministic hashing shared by the Spark queries and their
DuckDB oracle SQL.

Spark's ``hash()`` (Murmur3) and DuckDB's ``hash()`` are different
functions, so every hash used in a declared query is built from md5 —
available and identical in both engines — truncated to 60 bits (15 hex
chars) so it fits a signed 64-bit integer in both.

MinHash uses the classic universal family h_j(x) = (a_j*x + b_j) mod P
with P = 2^31 - 1 so a_j*x stays within int64. The (a_j, b_j) constants
come from a fixed LCG seed and are interpolated into BOTH the Spark
expressions and the oracle SQL text, keeping the two sides bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: keeps a*x + b within int64 for 31-bit inputs.
MINHASH_P = 2_147_483_647
NUM_HASHES = 16
LSH_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // LSH_BANDS

FINGERPRINT_P = 1_000_000_007
FINGERPRINT_B = 131


def _lcg_stream(seed: int):
    x = seed
    while True:
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        yield x


def _minhash_constants() -> tuple[list[int], list[int]]:
    gen = _lcg_stream(seed=42)
    a = [next(gen) % (MINHASH_P - 1) + 1 for _ in range(NUM_HASHES)]
    b = [next(gen) % MINHASH_P for _ in range(NUM_HASHES)]
    return a, b


MINHASH_A, MINHASH_B = _minhash_constants()


def hash60(col: Column) -> Column:
    """60-bit md5-based hash of a string column (Spark side).

    Matches the oracle-side ``hash60_sql`` exactly: both take the first
    15 hex chars of md5 and parse them base-16.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hash60_sql(expr: str) -> str:
    """DuckDB SQL for the same 60-bit md5 hash."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def hash31_sql(expr: str) -> str:
    return f"({hash60_sql(expr)} % {MINHASH_P})"


def minhash_min_agg(j: int, h: Column) -> Column:
    """j-th MinHash as an aggregate over exploded shingle-hash rows.

    Spark's higher-order array functions are interpreted per element
    (no whole-stage codegen), so the explode + groupBy(doc).agg(min)
    formulation is ~5x faster despite the shuffle: the min() partial
    aggregation is codegen'd and map-side combine reduces the shuffle
    to one row per (doc, partition).

    r15: built as ONE parsed expression instead of four py4j Column
    calls — the j-loops construct NUM_HASHES of these per key, and the
    Column-API construction cost lands in every bench run (the
    _simhash_df lesson). The parsed plan is identical. The ``h``
    operand is spliced as SQL text, so callers pass a column NAME."""
    a, b = MINHASH_A[j], MINHASH_B[j]
    col = h._jc.toString() if isinstance(h, Column) else str(h)
    return F.expr(f"min(({a}L * {col} + {b}L) % {MINHASH_P}L)")


def minhash_sql(j: int, hashes_expr: str) -> str:
    a, b = MINHASH_A[j], MINHASH_B[j]
    return f"list_min(list_transform({hashes_expr}, h -> ({a} * h + {b}) % {MINHASH_P}))"
