"""tools/perf_sweep.py --isolated must fail loudly: a failed child never
reports the numbers a previous sweep left in its result file."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_perf_sweep():
    spec = importlib.util.spec_from_file_location(
        "perf_sweep", os.path.join(REPO, "tools", "perf_sweep.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_isolated_failed_child_reports_error_not_stale_file(monkeypatch):
    ps = _load_perf_sweep()
    key = "q_perf_sweep_stale_probe"
    child_out = f"/tmp/perf_sweep_iso_{key}.json"
    with open(child_out, "w") as f:
        json.dump({key: {"run": 0.123, "warm": 0.2}}, f)

    def failing_child(cmd, **_kw):
        assert not os.path.exists(child_out), "stale file survived the launch"
        # a child that wrote its JSON and then crashed: rc decides, not the file
        with open(child_out, "w") as f:
            json.dump({key: {"run": 0.456, "warm": 0.2}}, f)
        return subprocess.CompletedProcess(cmd, 1, stdout="", stderr="boom")

    monkeypatch.setattr(ps.subprocess, "run", failing_child)
    try:
        results = ps.run_isolated([key], "/nonexistent", 1)
    finally:
        if os.path.exists(child_out):
            os.remove(child_out)
    assert "run" not in results[key]
    assert results[key]["error"].startswith("isolated child rc=1")
