"""bench.py promotes an extended-tier line to N_RUNS medians from the data:
its slowest run in the last history record at the same sf."""

from __future__ import annotations

import json

import bench


def test_extended_runs_follow_last_slowest_run_at_same_sf(tmp_path):
    history = tmp_path / "bench_history.jsonl"
    records = [
        {"sf": 0.1, "extended": {"slow": 0.5}, "extended_slowest": {"slow": 0.5, "fast": 3.0}},
        {
            "sf": 0.1,
            "medians": {"head": 1.2},
            # "cold" has a warm median but a cold first run of 8.5 s; "failed"
            # recorded -1.0 and has no run.
            "extended": {"slow": 1.0, "fast": 0.4, "cold": 0.7, "failed": -1.0},
            "extended_slowest": {"slow": 1.0, "fast": 0.4, "cold": 8.5},
        },
        {"sf": 0.01, "extended_slowest": {"slow": 0.1, "fast": 5.0}},
    ]
    history.write_text("".join(json.dumps(r) + "\n" for r in records))

    last = bench._last_slowest(0.1, str(history))
    names = ("slow", "fast", "cold", "failed", "new")
    runs = {n: bench._extended_runs_for(n, last) for n in names}
    # The last sf0.1 record decides: slowest run >= 1 s or no run -> N_RUNS.
    assert runs == {"slow": 3, "fast": 1, "cold": 3, "failed": 3, "new": 3}
    assert bench.N_RUNS == 3

    # A record written before "extended_slowest" existed has no runs.
    old = tmp_path / "old.jsonl"
    old.write_text(json.dumps({"sf": 0.1, "extended": {"fast": 0.4}}) + "\n")
    assert bench._last_slowest(0.1, str(old)) == {}
    assert bench._last_slowest(1.0, str(history)) == {}
    assert bench._last_slowest(0.1, str(tmp_path / "absent.jsonl")) == {}
    assert bench._extended_runs_for("fast", {}) == bench.N_RUNS


def test_sf_value_parses_fixture_dirs():
    assert bench._sf_value("/data/sf0.1/") == 0.1
    assert bench._sf_value("/data/sf0.001") == 0.001
    assert bench._sf_value("/data/custom") == "/data/custom"
