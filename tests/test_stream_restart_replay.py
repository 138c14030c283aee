"""Offset-replayable source: crash/restart replay for every stateful
oracle-backed streaming key (VERDICT r11 ask #3, SURVEY §4 extension
point (a)).

Each key runs in two stages around a PERSISTENT checkpoint
(streaming.source.replay_stages): stage 1 sees only the first two
source files — the stream "crashes" mid-corpus with open state
(unclosed windows, live dedup keys, partial upsert generations, custom
applyInPandasWithState state) — and stage 2 restarts the same query
over the full file set. Spark's file source records consumed files in
the checkpoint's offset log, so the restart must resume from the first
unseen file with the state store recovered, and the final landed state
must STILL hash-match the batch DuckDB oracle.

The oracle match is also the exactly-once proof: for the additive keys
(enrich totals, rollup windows, sketch partials, decayed LTV) any
reprocessing of stage-1 files would double-count and break the hash;
for the dedup/upsert keys any state loss would leak duplicates or
regress merged rows.
"""

from __future__ import annotations

import glob
import os

import pytest

from bristle_spark.registry import all_specs
from bristle_spark.streaming.source import replay_stages

# Every stateful oracle-backed streaming key: file-stream source +
# checkpointed state + deterministic landed final state. A new
# oracle-backed s_* key joins the restart matrix with no edit here.
# (s_late_data / s_microbatch_flush / s_drop_policies /
# s_proto_roundtrip are the rows-only accounting keys — lossy or
# stateless by contract — and have no oracle.)
STATEFUL_KEYS = sorted(
    n for n, s in all_specs().items() if n.startswith("s_") and s.oracle is not None
)


@pytest.mark.parametrize("key", STATEFUL_KEYS)
def test_restart_replay_matches_batch_oracle(key, spark, oracle, sf_dir, tmp_path):
    from tests.conftest import assert_frames_match

    spec = all_specs()[key]
    with replay_stages(str(tmp_path)) as ctl:
        ctl.stage = 1
        spec.fn(spark, sf_dir)  # crash mid-corpus: 2 of N files consumed
        # the crash must be mid-corpus, not vacuous: stage 1 staged a
        # strict prefix of at least one source dir
        staged = glob.glob(os.path.join(str(tmp_path), "staged_*"))
        assert staged, "stage 1 never touched the staged source"
        ctl.stage = 2
        restarted = spec.fn(spark, sf_dir).toPandas()
        for d in staged:
            n_stage1 = 2
            n_all = len(glob.glob(os.path.join(d, "*.parquet")))
            assert n_all > n_stage1, f"{d}: stage 2 added no files"
    assert_frames_match(restarted, oracle.execute(spec.oracle).fetchdf(), key)


def test_stage1_state_is_genuinely_partial(spark, sf_dir, tmp_path):
    """Guard against a vacuous harness: the stage-1 run of the enrich
    key must land FEWER events than the full corpus (the crash happened
    mid-stream), and the stage-2 restart must then reach the exact
    total without reprocessing stage-1 files (the oracle test above
    covers the hash; here we pin the strict inequality)."""
    import pyspark.sql.functions as F

    from bristle_spark.catalog import load_table

    spec = all_specs()["s_stream_enrich"]
    total = (
        load_table(spark, sf_dir, "events")
        .join(
            load_table(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("user_id")
            ),
            "user_id",
        )
        .count()
    )
    with replay_stages(str(tmp_path)) as ctl:
        ctl.stage = 1
        partial = spec.fn(spark, sf_dir)
        n_partial = partial.agg(F.sum("n_events")).collect()[0][0] or 0
        assert 0 < n_partial < total, (n_partial, total)
        ctl.stage = 2
        n_full = (
            spec.fn(spark, sf_dir).agg(F.sum("n_events")).collect()[0][0]
        )
    assert n_full == total
