"""Seeded inputs for the benchmark's workloads.

``write_tables`` writes the ten-table star schema the query registry
reads (``bristle_spark.catalog.TABLES``), with the column types and value
shapes of the repo's documented fixtures (FIXTURES.md part B: ``events.ts``
is timestamp[ns], ``o_orderdate`` and ``l_shipdate`` timestamp[ms]): money in
whole cents, 2-decimal event values, sorted event timestamps, a 31-word
document vocabulary with 5% near-duplicate documents, and unit-norm
64-dimensional embeddings. ``finnhub_rows`` makes the trade rows the
ingest workloads send. The same seed always gives the same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale 1.0; the benchmark runs at a fraction of this
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "new", "old", "red", "small", "steel"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "spring", "nut"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DAY_MS = 86_400_000
TRADES_T0_MS = 1_700_000_000_000  # first trade time of finnhub_rows


def _ts_ms(ms: np.ndarray) -> pa.Array:
    return pa.array(ms.astype("datetime64[ms]"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(round(r * scale))) for t, r in BASE_ROWS.items()}
    n["documents"] = 2_000
    n["embeddings"] = 2_000
    epoch_1995 = int(np.datetime64("1995-01-01", "ms").astype(np.int64))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _cents(rng, -99_999, 1_000_000, ns),
    })
    np_ = n["part"]
    keys = np.arange(np_, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, np_)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, np_)],
        ),
        "p_brand": np.char.add("Brand#", (rng.integers(1, 26, np_)).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": (9000 + keys % 1000) / 10.0,
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, no),
        "o_orderdate": _ts_ms(epoch_1995 + rng.integers(0, 2400, no) * DAY_MS),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_ms(epoch_1995 + rng.integers(1, 2500, nl) * DAY_MS),
    })
    ne = n["events"]
    n_users = max(10, ne // 66)
    ev_us = np.sort(rng.choice(30 * DAY_MS * 1000, ne, replace=False))
    epoch_2024_us = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array((epoch_2024_us + ev_us).astype("datetime64[us]"), pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(8, 100)))]
            texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return n


def finnhub_rows(seed: int, n: int) -> list[tuple]:
    """``n`` FinnhubTrade rows (symbol, price, trade_time_ms, volume,
    conditions) spanning a few days, so the day-partitioned sink gets
    several partitions. Prices are whole cents and volumes whole units,
    so sums over them are exact checksums."""
    rng = np.random.default_rng(seed)
    sym = rng.integers(0, 100, n)
    cents = rng.integers(100, 5_000_000, n)
    times = TRADES_T0_MS + np.sort(rng.integers(0, 3 * DAY_MS, n))
    vol = rng.integers(1, 10_000, n)
    n_cond = rng.integers(0, 4, n)
    conds = np.array(["1", "2", "7", "12"])
    return [
        (f"SYM{s}", c / 100.0, int(t), float(v), list(conds[: int(k)]))
        for s, c, t, v, k in zip(sym.tolist(), cents.tolist(), times.tolist(), vol.tolist(), n_cond.tolist())
    ]
