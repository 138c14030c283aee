"""The driver's correctness harness grades the FIRST 50 queries()
entries. registry.all_specs() derives that window; these tests state
the rotation policy over their own reader of the committed history:

1. every oracle-backed key with no driver row in any committed
   CORRECTNESS_r*.json must be in the window (first driver rows outrank
   everything);
2. every key in registry.PLAN_CHANGED_KEYS whose last driver grade
   predates the round its plan changed in must be in the window;
3. the remaining slots drain strictly oldest-first over the
   oracle-backed registry: no oracle-backed key OUTSIDE the window may
   be strictly staler than a non-priority key INSIDE it.

Staleness is computed from the committed CORRECTNESS history, and a
new CORRECTNESS file must rotate the window with no edit to the
registry. Keys rotated out keep local oracle-parity coverage via
test_oracle_parity.py and scripts/verify_all.py.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil

import pytest

from bristle_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _last_graded(history_dir: str = REPO) -> dict[str, int]:
    """key -> last round with ANY driver row, from committed history."""
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(history_dir, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for key in json.load(fh):
                last[key] = max(last.get(key, 0), rnd)
    return last


@pytest.fixture(scope="module")
def specs():
    return registry.all_specs()


@pytest.fixture(scope="module")
def window(specs):
    return registry.driver_window(specs)


@pytest.fixture(scope="module")
def last_graded():
    graded = _last_graded()
    assert graded, "no committed CORRECTNESS history found"
    return graded


def _pending_plan_changes(last_graded: dict[str, int]) -> set[str]:
    return {
        k for k, rnd in registry.PLAN_CHANGED_KEYS.items()
        if last_graded.get(k, 0) < rnd
    }


def _assert_drains_oldest_first(window, specs, last_graded):
    """Among oracle-backed keys with a driver row, no key OUTSIDE the
    window may be strictly staler than a non-priority key INSIDE it."""
    inside = set(window)
    pending = _pending_plan_changes(last_graded)
    inside_rounds = [
        last_graded[k]
        for k in inside
        if k in last_graded and k not in pending
    ]
    outside_rounds = {
        k: last_graded[k]
        for k, spec in specs.items()
        if k not in inside and spec.oracle is not None and k in last_graded
    }
    if not inside_rounds or not outside_rounds:
        return
    newest_inside = max(inside_rounds)
    stalest_outside = min(outside_rounds.values())
    assert newest_inside <= stalest_outside, (
        f"window holds a key last graded r{newest_inside} while "
        f"{[k for k, r in outside_rounds.items() if r == stalest_outside][:5]} "
        f"(last graded r{stalest_outside}) wait outside — drain oldest-first"
    )


def test_priority_list_is_exactly_fifty(window):
    assert len(window) == 50
    assert len(set(window)) == 50


def test_first_fifty_is_exactly_the_priority_list(specs, window):
    assert list(specs)[:50] == list(window)


def test_priority_keys_all_registered(specs, window):
    assert [k for k in window if k not in specs] == []


def test_never_graded_keys_lead_the_window(specs, window, last_graded):
    """Policy rule 1: an ORACLE-BACKED key without a single hard driver
    row is the highest-value slot in the registry — all such keys must
    be in the window, ahead of every re-confirmation. (Rows-only keys
    are exempt here exactly as in the drain rule: the window is
    reserved for hash-gradable slots.)"""
    never = [
        k for k, spec in specs.items()
        if k not in last_graded and spec.oracle is not None
    ]
    missing = [k for k in never if k not in window]
    assert missing == [], f"never-driver-graded keys outside the window: {missing}"
    # and they sit at the very front: the driver grades in order, so an
    # early abort still covers the highest-value keys
    n = len(never)
    assert set(window[:n]) == set(never)


def test_plan_changed_keys_in_window(specs, window, last_graded):
    """Policy rule 2: a grade that predates the key's current plan is
    not evidence about the current plan — re-grade next window. An
    entry whose change has been graded is stale and must be removed."""
    for key, rnd in registry.PLAN_CHANGED_KEYS.items():
        assert key in specs, f"PLAN_CHANGED_KEYS names unknown key {key}"
        assert last_graded.get(key, 0) < rnd, (
            f"{key} was graded in r{last_graded[key]}, at or after its "
            f"r{rnd} plan change — drop it from PLAN_CHANGED_KEYS"
        )
        assert key in window, (
            f"{key} changed after its last driver grade but is not in "
            f"the next window"
        )


def test_window_drains_oldest_first(specs, window, last_graded):
    """Policy rule 3: among oracle-backed keys with a driver row, no key
    OUTSIDE the window may be strictly staler than a non-priority key
    INSIDE it. (Rows-only keys are exempt: the window is reserved for
    hash-gradable slots — see test_every_window_key_is_oracle_backed.)"""
    _assert_drains_oldest_first(window, specs, last_graded)


def test_new_record_rotates_window_without_edit(specs, window, last_graded, tmp_path):
    """A driver record that grades today's window moves the window on to
    the next-stalest keys: the history directory is the only input."""
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path)
    nxt = max(last_graded.values()) + 1
    row = {"rows_match": True, "schema_match": True, "hash_match": True,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    (tmp_path / f"CORRECTNESS_r{nxt}.json").write_text(
        json.dumps({k: row for k in window})
    )
    graded = _last_graded(str(tmp_path))
    assert all(graded[k] == nxt for k in window)

    rotated = registry.driver_window(specs, str(tmp_path))
    assert len(rotated) == 50
    assert set(rotated).isdisjoint(window), "a just-graded key kept its slot"
    _assert_drains_oldest_first(rotated, specs, graded)


def test_every_window_key_is_oracle_backed(specs, window):
    """All driver-window keys carry a DuckDB oracle, so every graded
    row is a hash-match — no rows-only slots."""
    rows_only = [k for k in window if specs[k].oracle is None]
    assert rows_only == [], f"rows-only keys in the window: {rows_only}"


def test_beyond_window_queries_still_registered(specs):
    """Rotated-out queries stay registered (just past the driver
    window): every registration is served by queries()."""
    served = registry.queries()
    assert set(served) == set(specs)
    assert len(served) == len(specs) == len(registry._REGISTRY)
