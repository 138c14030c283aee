"""Pin the closing run: scripts/verify_all.py must run every pytest
stage with ``-m ""`` (pytest.ini's default ``-m "not slow"`` would
otherwise drop the slow tier and the s_* parity keys) and must cover the
whole suite plus the parity module at sf0.01 and sf0.1."""

from __future__ import annotations

import importlib.util
import os

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "verify_all.py")


def _stages():
    spec = importlib.util.spec_from_file_location("verify_all", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.STAGES


def test_every_pytest_stage_selects_everything():
    stages = _stages()
    assert stages
    for label, cmd, _env in stages:
        assert "pytest" in cmd, label
        i = cmd.index("-m", cmd.index("pytest") + 1)
        assert cmd[i + 1] == "", (label, cmd)


def test_stages_cover_suite_and_parity_at_both_scales():
    covered = {
        (cmd[-1], env.get("BRISTLE_TEST_SF_DIR")) for _label, cmd, env in _stages()
    }
    assert ("tests/", None) in covered
    for sf in ("sf0.01", "sf0.1"):
        assert ("tests/test_oracle_parity.py", f"/root/testdata/{sf}") in covered
