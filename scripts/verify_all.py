"""The closing run: the full test suite, the oracle-parity sweep at
sf0.01 and at sf0.1 (the scale sweeps catch rounding-boundary and
threshold effects the small gate can't see), then the benchmark.

Run: python scripts/verify_all.py [--skip-bench]

Every pytest stage passes ``-m ""``, overriding pytest.ini's default
``-m "not slow"``, so the `slow` tier (streaming replay/restart, server
reload, the CLI, the s_* parity keys) runs too; the suite stage includes
sf0.001 parity. Stages run one at a time, each in its own pytest process
and Spark JVM. Every stage runs even after a failure, so one failure
cannot hide another; each prints its return code and wall, and the
script exits non-zero if any stage failed.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYTEST = [sys.executable, "-m", "pytest", "-q", "-m", ""]
PARITY = "tests/test_oracle_parity.py"

STAGES = [
    ("suite", [*PYTEST, "tests/"], {}),
    ("parity sf0.01", [*PYTEST, PARITY], {"BRISTLE_TEST_SF_DIR": "/root/testdata/sf0.01"}),
    ("parity sf0.1", [*PYTEST, PARITY], {"BRISTLE_TEST_SF_DIR": "/root/testdata/sf0.1"}),
]
BENCH = ("bench", [sys.executable, "bench.py"], {})


def run(label: str, cmd: list[str], env: dict[str, str]) -> int:
    t0 = time.time()
    rc = subprocess.run(cmd, cwd=ROOT, env={**os.environ, **env}).returncode
    print(f"=== {label}: rc={rc} in {time.time() - t0:.0f}s", flush=True)
    return rc


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--skip-bench", action="store_true")
    args = ap.parse_args()
    t0 = time.time()
    stages = STAGES if args.skip_bench else [*STAGES, BENCH]
    failed = [label for label, cmd, env in stages if run(label, cmd, env) != 0]
    took = time.time() - t0
    if failed:
        print(f"=== FAILED: {', '.join(failed)} after {took:.0f}s")
        sys.exit(1)
    print(f"=== all stages green in {took:.0f}s")


if __name__ == "__main__":
    main()
