"""tools/checkpoint_sweep.py's per-run deadline: a run that outlives it is
killed with its child process and recorded as failing, and the query's
other runs go on in a fresh child."""

from __future__ import annotations

import importlib.util
import os
import pathlib
import time

_TOOL = pathlib.Path(__file__).resolve().parents[1] / "tools" / "checkpoint_sweep.py"


def _sweep_module():
    spec = importlib.util.spec_from_file_location("checkpoint_sweep", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _fake_runs_child(conn, jobs):
    """Stands in for the Spark child: variant "hang" never finishes, as a
    run whose planning grows without bound would not."""
    os.setpgrp()
    for i, v in enumerate(jobs):
        conn.send(("start", i))
        if v == "hang":
            time.sleep(600)
        conn.send(("done", i, {"variant": v, "pid": os.getpid()}))


def test_run_past_deadline_is_killed_and_recorded(monkeypatch):
    sweep = _sweep_module()
    monkeypatch.setattr(sweep, "_DEADLINE_S", 3.0)
    jobs = ["with", "hang", "other", "hang", "with"]
    t0 = time.monotonic()
    out = sweep.run_jobs(_fake_runs_child, (), jobs)
    assert time.monotonic() - t0 < 60
    kinds = [kind for kind, _ in out]
    assert kinds == ["done", "error", "done", "skipped", "done"]
    assert out[1][1].startswith("killed after")
    # the runs after the kill came from a fresh child; the killed one is gone
    first, second = out[0][1]["pid"], out[2][1]["pid"]
    assert first != second and out[4][1]["pid"] == second
    try:
        os.kill(first, 0)
        alive = True
    except ProcessLookupError:
        alive = False
    assert not alive
