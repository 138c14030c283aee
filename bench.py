"""Benchmark the declared-query suite.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion with the noop sink (full plan, no
driver-side collect). A tiny warmup query absorbs JVM/codegen startup so
the timings reflect steady-state execution.

Sharding / noise control (VERDICT r6 #7 — the suite now runs 60+
queries in one JVM, and accumulated fixed overhead pollutes cross-round
per-query comparisons):

  --subset shared38       only the round-1 38-query subset (the
                          cross-round comparable set in BASELINE.md)
  --family PREFIX         only queries whose name starts with PREFIX
                          (e.g. --family l_dedup, --family r_)
  --queries a,b,c         an explicit comma-separated list
  --recycle N             stop + rebuild the SparkSession every N
                          queries (JVM survives, so JIT stays warm;
                          listener/UI/broadcast-cleanup state does not
                          accumulate across the whole suite)
  --runs N                min-of-N per query (default 2); when a key's
                          runs differ by more than 2x, one more run is
                          taken and the min kept

Defaults (no flags) are exactly what the per-round driver records.

HEADLINE is derived, not listed: every registered key except the
NEVER_BENCHED streaming keys, sorted by name. A new registration joins
the suite (and must join the committed bench_summary.json record) with
no edit here. No query memoizes work across calls, so every row is
independent of suite order and a fresh session per run is never needed.

HEADLINE wall-growth policy (VERDICT r14 ask #7, decided r15): at
+15-17 keys/round the full min-of-2 HEADLINE record crosses 5 minutes
around r17, so the cutover is decided HERE, before the wall forces it:

  * while the latest closing-gate record is under 300 s, every round
    (driver and closing) runs full HEADLINE min-of-2 — unchanged, the
    cross-round record stays maximally comparable;
  * the first round whose closing gate exceeds 300 s flips the
    DRIVER-round default to min-of-1 for keys whose query function is
    unchanged since their last green grade, keeping min-of-2 for
    changed keys plus a 20-key hash-rotated sample (seeded by round
    number, so every key is re-min-of-2'd within ~14 rounds);
  * CLOSING gates always run full HEADLINE min-of-2 regardless — the
    per-round BENCH_r{N}.json totals that BASELINE.md compares are
    closing-gate records, so the comparable series never degrades.

Status r15: gate wall 219 s < 300 s — policy written, flip not yet
triggered; the trigger is the recorded closing-gate total, not a
projection.

Measurement fix (r15): the session cache is dropped BETWEEN keys
(spark.catalog.clearCache() after each key's min-of-N). The r15
persist optimizations left CacheManager entries that inflated every
LATER key's planning time (canonicalized plan-match per cached entry;
2-5x observed on untouched keys in-suite vs isolated).

Measurement fix (r16, VERDICT r15 #1): the cache is now ALSO dropped
between the N timed runs of one key. Previously run 2 of a key whose
query fn persist()s a subtree hit run 1's CacheManager entries
(canonicalized plan match) and skipped recomputing every persisted
subtree, so the recorded min was partially cache-assisted for the ~30
persist-site keys added in r15. With the fix, every timed run computes
from the parquet inputs alone; the min now reflects warm-JVM/cold-cache
execution for every key.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bristle_spark.registry import all_specs  # noqa: E402

# The round-1 headline set: every cross-round total in BASELINE.md
# compares on this subset.
SHARED38 = [
    "r_hash_agg", "r_filter_predicates", "r_distinct_count",
    "r_join_inner", "r_join_multi", "r_join_outer", "r_window_rank",
    "r_window_running", "r_rollup", "r_cube", "r_rollup_cascade",
    "r_skew_salted_agg", "r_tumbling_window", "r_sort_limit_topk",
    "r_percentiles", "r_asof_join", "r_range_join", "l_sessionize",
    "t_cast_int_widths", "t_map_to_arrays", "t_timestamp_epoch",
    "l_dedup_exact", "l_dedup_minhash", "l_dedup_simhash",
    "l_dedup_ngram_jaccard", "l_dedup_embedding", "l_dedup_clusters",
    "l_similarity_cosine", "l_ann_ivf", "l_chunk_documents", "r_pivot",
    "r_conditional_agg", "l_text_stats", "l_lang_id", "l_quality_score",
    "l_token_count", "l_fingerprint", "l_tfidf_top_terms",
]

# Streaming keys the suite has never timed: each runs a full micro-batch
# stream, and keeping them out holds the HEADLINE set equal to the
# cross-round record in bench_summary.json.
NEVER_BENCHED = frozenset({
    "s_microbatch_flush", "s_drop_policies", "s_late_data",
    "s_session_window", "s_stream_dedup", "s_stateful_totals",
    "s_proto_roundtrip", "s_stream_join", "s_stream_dedup_watermark",
    "s_stream_enrich", "s_stream_rollup", "s_stream_upsert",
    "s_stream_topk", "s_stream_anomaly", "s_stream_cdc",
    "s_stream_count_min", "s_stream_bloom_merge",
    "s_stream_histogram_quantiles", "s_stream_decayed_ltv",
})

# every registered key except NEVER_BENCHED, by name, so suite order does
# not follow the driver window
HEADLINE = sorted(set(all_specs()) - NEVER_BENCHED)


# a key whose timed runs spread wider than this gets one more run: with
# two runs, one host hiccup otherwise decides the recorded min
NOISE_RATIO = 2.0


def min_wall(run, reset, runs: int) -> float:
    """Min wall time of `runs` timed calls of `run`, each followed by an
    untimed `reset`; one more timed call when the slowest run took over
    NOISE_RATIO times the fastest."""

    def timed() -> float:
        t0 = time.perf_counter()
        run()
        wall = time.perf_counter() - t0
        reset()
        return wall

    walls = [timed() for _ in range(runs)]
    if max(walls) > NOISE_RATIO * min(walls):
        walls.append(timed())
    return min(walls)


def _select_queries(args: argparse.Namespace) -> list[str]:
    if args.queries:
        return [q.strip() for q in args.queries.split(",") if q.strip()]
    if args.subset == "shared38":
        return list(SHARED38)
    if args.family:
        return [n for n in HEADLINE if n.startswith(args.family)]
    return list(HEADLINE)


GATE_SF_DIR = "/root/testdata/sf0.1"  # the closing-gate scale


def is_closing_gate_run(args: argparse.Namespace, sf_dir: str | None = None) -> bool:
    """True iff this invocation's METHODOLOGY matches the committed record.

    The committed summary is the closing-gate record: full HEADLINE at
    sf0.1, warm, min-of-2, no session recycling. Scratch selections
    (--queries/--family/--subset), methodology overrides
    (--recycle/--runs), AND a different $SPARK_GRAFT_SF_DIR all
    produce numbers that are not comparable to it and must never
    clobber it (self-review + ADVICE r11, sf gap closed r12).

    Since round 14 this gate is necessary but NOT sufficient to write
    bench_summary.json: the driver's per-round run uses the gate
    methodology too, and on a loaded host it repeatedly clobbered the
    committed verified-idle record (VERDICT r11/r12/r13 hygiene nit).
    Writes to the tracked file now also require the explicit
    ``--promote`` flag; every other run lands in the untracked
    bench_scratch.json."""
    if sf_dir is not None and os.path.realpath(sf_dir) != os.path.realpath(
        GATE_SF_DIR
    ):
        return False
    return not (args.queries or args.family or args.subset
                or args.recycle or args.runs != 2)


def summary_target(args: argparse.Namespace, sf_dir: str | None = None) -> str:
    """Which file this run's record lands in — THE promote decision
    (main() calls exactly this, and the test suite pins this function,
    not a re-implementation; self-review r14): the tracked
    bench_summary.json only on --promote AND gate methodology,
    the untracked bench_scratch.json otherwise."""
    if args.promote and is_closing_gate_run(args, sf_dir):
        return "bench_summary.json"
    return "bench_scratch.json"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    # the three selectors are mutually exclusive: silently preferring
    # one over another ran a different set than asked (ADVICE r7)
    sel = ap.add_mutually_exclusive_group()
    sel.add_argument("--subset", choices=["shared38"], default=None)
    sel.add_argument("--family", default=None)
    sel.add_argument("--queries", default=None)
    ap.add_argument("--recycle", type=int, default=0, metavar="N",
                    help="rebuild the SparkSession every N queries")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--promote", action="store_true",
                    help="write this run's record to the TRACKED "
                         "bench_summary.json (requires the closing-gate "
                         "methodology: full HEADLINE, sf0.1, warm, "
                         "min-of-2, no recycle). Without it, every run "
                         "— including the driver's per-round run — "
                         "lands in the untracked bench_scratch.json, "
                         "so a host-loaded run can never clobber the "
                         "committed verified-idle record (VERDICT "
                         "r11/r12/r13 hygiene nit)")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bristle_spark.session import get_spark

    def fresh_session():
        spark = get_spark(app_name="bristle-spark-bench")
        # warmup: JVM, codegen, parquet footer caches
        spark.range(1000).selectExpr("sum(id)").collect()
        specs["r_hash_agg"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return spark

    specs = all_specs()
    names = _select_queries(args)
    spark = fresh_session()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for qi, name in enumerate(names):
        spec = specs.get(name)
        if spec is None:
            continue
        if args.recycle and qi and qi % args.recycle == 0:
            spark.stop()
            spark = fresh_session()
        # min of N runs: the first pays one-time codegen/JIT compilation
        # of the plan's generated classes (irrelevant at real scale and
        # very noisy locally); the min reflects steady-state execution.
        # Measurement fix (r16, VERDICT r15 "What's wrong" #1): the
        # reset drops the session cache BETWEEN the N timed runs of one
        # key, not only between keys. Spark's CacheManager matches
        # canonicalized plans, so run 2 of a key whose query fn
        # persist()s a subtree was silently reading run 1's cached
        # partitions and the recorded min was partially cache-assisted.
        # Clearing makes every timed run compute from the parquet
        # inputs alone.
        try:
            best = min_wall(
                lambda: spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
                spark.catalog.clearCache,
                args.runs,
            )
        except Exception as exc:  # one broken query must not zero the suite
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"[bench] {name} FAILED: {errors[name]}", file=sys.stderr)
            continue
        finally:
            # Measurement fix (r15, guide §1.1 "optimize that one thing,
            # then look again" requires each key to be measured in
            # isolation): queries that persist() multiply-consumed
            # frames leave entries in the session CacheManager, and
            # every LATER key's planning then pays a canonicalized
            # plan-match against each accumulated entry (plus storage
            # memory pressure) — measured in-suite inflation up to
            # 2-5x on untouched keys vs the same keys isolated.
            # Dropping the cache BETWEEN keys removes the cross-key
            # interference while leaving within-key min-of-N semantics
            # exactly as in every previous round's record; each key
            # still computes from the parquet inputs alone.
            spark.catalog.clearCache()
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    sf_label = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf = float(sf_label)
    except ValueError:
        sf = sf_label
    record = {
        "metric": "declared_query_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        **({"errors": errors} if errors else {}),
    }
    print(json.dumps(record))
    # the driver captures only a stdout tail, which truncates the
    # per-query map once the suite passes ~150 queries (BENCH_r8/r9
    # "parsed": null) — also persist the full record to a file so the
    # per-query history survives (VERDICT r9 ask #4). ONLY full-HEADLINE
    # runs on the closing-gate methodology (warm, min-of-2, no recycle)
    # may write it: a --queries/--family/--subset scratch run must not
    # clobber the committed record (self-review r11 — exactly that
    # clobber happened once), and neither may a --recycle/--runs
    # run, whose numbers are methodologically different even though
    # they cover every HEADLINE key (ADVICE r11).
    # Promotion rule (round 14): the tracked bench_summary.json only
    # changes on an explicit --promote AND gate methodology; everything
    # else (driver per-round runs included) persists to the untracked
    # bench_scratch.json so the full per-query map still survives the
    # driver's stdout truncation without dirtying the tree.
    repo = os.path.dirname(os.path.abspath(__file__))
    promote_refused = args.promote and not is_closing_gate_run(args, sf_dir)
    if promote_refused:
        print("[bench] --promote refused: not a closing-gate run "
              "(need full HEADLINE at sf0.1, warm, min-of-2, no recycle)",
              file=sys.stderr)
    try:
        with open(os.path.join(repo, summary_target(args, sf_dir)), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: stdout already carries the record
    spark.stop()
    if errors:
        # a partially-failed run sums fewer queries and would otherwise
        # read as a (better-looking) comparable total in BASELINE.md —
        # make the failure visible in the exit code (ADVICE r5)
        sys.exit(1)
    if promote_refused:
        # the caller asked for a promotion that did NOT happen — an
        # automated closing script must see that in the exit code, not
        # discover a stale tracked record later (the ADVICE r5 rule
        # applied to promotion; self-review r14)
        sys.exit(2)


if __name__ == "__main__":
    main()
