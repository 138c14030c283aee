"""The process under test for the ``query_mix`` workload.

Builds a SparkSession, runs one untimed warm-up round over the keys
(collecting each key's result for the oracle check), then timed rounds.
One sample is one key's build (the registry's query function call) plus
its execution (a ``noop`` write). After the timed rounds it checks that
no memo cache was filled and that every warm-up result equals the
key's ``registry.oracle_sql()`` DuckDB result on the same inputs. The
outcome leaves as one JSON line on the file descriptor named by
``--pipe``.

Usage (normally started by run.py):
    python3 perfbench/querymix.py --data DIR --keys k1,k2 --pipe FD \
        --seconds S --local-dir DIR [--trace] [--spans-out FILE]

Spark's core count comes from ``SPARK_GRAFT_CPUS``, which run.py sets.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from spans import Recorder, self_times  # noqa: E402

# timed rounds run until --seconds have passed, but never fewer than
# this, so every key has at least two timed samples
MIN_ROUNDS = 2

# memo caches keyed on the application id: a key that reaches one would
# time a dictionary lookup instead of its query, so such keys are left
# out of the mix and the caches must still be empty after it
MEMO_CACHES = (
    ("bristle_spark.queries.dedup", "_PROP_CACHE"),
    ("bristle_spark.queries.similarity", "_POWER_CACHE"),
    ("bristle_spark.queries.textops", "_BPE_CACHE"),
)


def memo_cache_sizes() -> dict[str, int]:
    sizes = {}
    for mod, attr in MEMO_CACHES:
        sizes[f"{mod}.{attr}"] = len(getattr(importlib.import_module(mod), attr, {}))
    return sizes


def load_frame_compare():
    """``assert_frames_match`` from the test suite's conftest: the same
    order-insensitive value comparison the oracle-parity tests use."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(ROOT, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.assert_frames_match


def job_counts(tracker, group: str) -> tuple[int, int]:
    jobs = tracker.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--keys", required=True)
    ap.add_argument("--pipe", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--local-dir", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--spans-out", default="")
    args = ap.parse_args()
    out = os.fdopen(args.pipe, "w", buffering=1)
    keys = args.keys.split(",")
    stamps = {"start": time.monotonic()}
    rec = Recorder(args.trace)

    # the query modules bind load_table by name at import, so the
    # catalog shim must be in place before the registry imports them
    from bristle_spark import catalog

    rec.wrap(catalog, "load_table", "catalog.load_table", lambda a, k: a[2])
    from bristle_spark import registry
    from bristle_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-query-mix",
        extra_conf={
            "spark.local.dir": args.local_dir,
            "spark.sql.warehouse.dir": os.path.join(args.local_dir, "warehouse"),
        },
    )
    spark.range(1).count()
    stamps["session"] = time.monotonic()
    specs = registry.all_specs()
    missing = [k for k in keys if k not in specs or specs[k].oracle is None]
    if missing:
        raise SystemExit(f"keys without an oracle-backed registration: {missing}")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run_key(key: str, rnd: int, collect: bool) -> dict:
        tag = f"{key}#{rnd}"
        span = rec.begin("query.key", tag)
        if args.trace:
            sc.setJobGroup(f"build:{tag}", "build")
        t0 = time.monotonic()
        b = rec.begin("query.build", tag)
        df = specs[key].fn(spark, args.data)
        rec.end(b)
        t1 = time.monotonic()
        if args.trace:
            sc.setJobGroup(f"exec:{tag}", "exec")
        e = rec.begin("query.exec", tag)
        if collect:
            result = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
            result = None
        rec.end(e)
        t2 = time.monotonic()
        rec.end(span)
        spark.catalog.clearCache()
        row = {"key": key, "round": rnd, "build_s": t1 - t0, "exec_s": t2 - t1, "result": result}
        if args.trace:
            row["build_jobs"], row["build_stages"] = job_counts(tracker, f"build:{tag}")
            row["exec_jobs"], row["exec_stages"] = job_counts(tracker, f"exec:{tag}")
        return row

    failed = attempted = 0
    results = {}
    for key in keys:
        results[key] = run_key(key, 0, collect=True)["result"]
    stamps["warmup"] = time.monotonic()

    samples = []
    t_start = time.monotonic()
    rnd = 0
    while rnd < MIN_ROUNDS or time.monotonic() - t_start < args.seconds:
        rnd += 1
        for key in keys:
            attempted += 1
            try:
                row = run_key(key, rnd, collect=False)
            except Exception:
                failed += 1
                traceback.print_exc()
                continue
            row.pop("result")
            samples.append(row)
    stamps["timed_end"] = time.monotonic()

    caches = memo_cache_sizes()
    errors = [f"memo cache {name} holds {n} entries" for name, n in caches.items() if n]
    import duckdb

    assert_frames_match = load_frame_compare()
    con = duckdb.connect()
    for t in catalog.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.data}/{t}.parquet')"
        )
    for key in keys:
        try:
            assert_frames_match(results[key], con.execute(specs[key].oracle).fetchdf(), key)
        except AssertionError as exc:
            errors.append(str(exc)[:500])
    con.close()

    layers = {}
    if args.trace:
        loads = [s for s in rec.named("catalog.load_table") if s.start >= t_start]
        layers = {
            "catalog_loads": len(loads),
            "catalog_load_s": sum(s.duration for s in loads),
            "self_s": self_times(list(rec.spans)),
        }
    out.write(
        json.dumps(
            {
                "event": "done",
                "stamps": stamps,
                "samples": samples,
                "rounds": rnd,
                "attempted": attempted,
                "failed": failed,
                "errors": errors,
                "caches": caches,
                "layers": layers,
            }
        )
        + "\n"
    )
    out.close()
    spark.stop()
    if args.trace and args.spans_out:
        rec.dump(args.spans_out)


if __name__ == "__main__":
    main()
