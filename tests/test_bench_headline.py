"""bench.py silently skips unknown query names (one rename would
quietly shrink the suite and flatter the total) — pin every HEADLINE
and SHARED38 entry to a real registration, and pin the derived HEADLINE
to the cross-round record's key set."""

from __future__ import annotations

import importlib.util
import json
import os

from bristle_spark.registry import all_specs

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
)
_bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_bench)


def _committed_summary() -> dict:
    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "bench_summary.json"
    )
    with open(path) as fh:
        return json.load(fh)


def test_headline_names_all_registered():
    specs = all_specs()
    missing = [n for n in _bench.HEADLINE if n not in specs]
    assert missing == []
    assert [n for n in _bench.NEVER_BENCHED if n not in specs] == []


def test_headline_is_the_committed_record_key_set():
    """The derived HEADLINE is exactly the 289 keys of the committed
    cross-round record, in name order."""
    assert len(_bench.HEADLINE) == 289
    assert set(_bench.HEADLINE) == set(_committed_summary()["queries"])
    assert _bench.HEADLINE == sorted(_bench.HEADLINE)


def test_shared38_is_38_registered_names():
    specs = all_specs()
    assert len(_bench.SHARED38) == 38
    assert len(set(_bench.SHARED38)) == 38
    assert [n for n in _bench.SHARED38 if n not in specs] == []


def test_headline_has_no_duplicates():
    assert len(set(_bench.HEADLINE)) == len(_bench.HEADLINE)


def test_noisy_key_gets_a_third_run_and_keeps_the_min(monkeypatch):
    """Two runs more than 2x apart take a third and keep the min; runs
    within 2x take no third. A fake clock makes each run's wall the
    next value of its script, and every run is followed by a reset."""

    def walls_of(script: list[float]) -> tuple[float, int, int]:
        clock = [0.0]
        pending = list(script)
        calls = {"run": 0, "reset": 0}

        def run():
            calls["run"] += 1
            clock[0] += pending.pop(0)

        def reset():
            calls["reset"] += 1

        monkeypatch.setattr(_bench.time, "perf_counter", lambda: clock[0])
        best = _bench.min_wall(run, reset, runs=2)
        return best, calls["run"], calls["reset"]

    assert walls_of([5.0, 2.0, 1.5]) == (1.5, 3, 3)  # 2.5x apart: third run
    assert walls_of([1.0, 3.0, 0.5]) == (0.5, 3, 3)
    assert walls_of([2.0, 4.0]) == (2.0, 2, 2)  # exactly 2x: no third run
    assert walls_of([1.75, 1.0]) == (1.0, 2, 2)


def test_summary_write_gated_on_closing_methodology():
    """Only a full-HEADLINE warm min-of-2 run may overwrite
    bench_summary.json: scratch selections AND methodology overrides
    (--runs) must be refused (ADVICE r11 — such a full run
    covers every key, so the coverage test above cannot catch that
    clobber)."""
    import argparse

    def ns(**over):
        base = dict(subset=None, family=None, queries=None, runs=2)
        base.update(over)
        return argparse.Namespace(**base)

    assert _bench.is_closing_gate_run(ns())
    assert _bench.is_closing_gate_run(ns(), _bench.GATE_SF_DIR)
    for bad in (ns(queries="r_hash_agg"), ns(family="l_"),
                ns(subset="shared38"), ns(runs=1), ns(runs=3)):
        assert not _bench.is_closing_gate_run(bad), bad
    # a full run at a non-gate scale must not clobber the record either
    assert not _bench.is_closing_gate_run(ns(), "/root/testdata/sf0.01")


def test_summary_write_requires_explicit_promote():
    """Round-14 hygiene fix (VERDICT r13 ask #2): the driver's
    per-round run uses the closing-gate methodology too, so the
    methodology gate alone kept letting host-loaded runs clobber the
    committed verified-idle record (r11/r12/r13). The tracked file is
    now written only on --promote; everything else goes to the
    untracked bench_scratch.json. Pins bench.summary_target — the REAL
    function main() calls (self-review r14: an earlier version of this
    test asserted on a local re-implementation, which could stay green
    through a regression in the actual write path)."""
    import argparse

    def ns(**over):
        base = dict(subset=None, family=None, queries=None, runs=2,
                    promote=False)
        base.update(over)
        return argparse.Namespace(**base)

    # gate methodology without --promote: scratch (the driver's run)
    assert _bench.summary_target(ns()) == "bench_scratch.json"
    # --promote without gate methodology: scratch (refused)
    assert _bench.summary_target(ns(promote=True, runs=3)) == "bench_scratch.json"
    assert _bench.summary_target(
        ns(promote=True), "/root/testdata/sf0.01"
    ) == "bench_scratch.json"
    # both: the tracked record
    assert _bench.summary_target(ns(promote=True)) == "bench_summary.json"
    assert _bench.summary_target(
        ns(promote=True), _bench.GATE_SF_DIR
    ) == "bench_summary.json"
    # main() must route its write through summary_target, and the
    # scratch path must be untracked
    src = open(_spec.origin).read()
    assert "summary_target(args, sf_dir)" in src
    gitignore = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), ".gitignore")
    ).read()
    assert "bench_scratch.json" in gitignore.splitlines()


def test_committed_bench_summary_covers_headline():
    """The committed bench_summary.json must describe THIS tree's full
    HEADLINE set — adding a HEADLINE key without re-running the full
    closing bench silently ships a stale record (self-review r11: the
    session-2 gate was committed at 210 keys while HEADLINE had grown
    to 211). Fails until the closing bench is re-run after any
    HEADLINE change."""
    record = _committed_summary()
    covered = set(record["queries"]) | set(record.get("errors", {}))
    missing = sorted(set(_bench.HEADLINE) - covered)
    assert missing == [], (
        f"bench_summary.json predates these HEADLINE keys: {missing} — "
        f"re-run `python bench.py` (full suite) and commit the record"
    )
