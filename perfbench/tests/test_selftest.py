"""Self-test of the benchmark harness (not part of the repository's
tier-1 suite). Run from the repository root:

    python3 -m pytest perfbench/tests -q

Each test launches ``perfbench/run.py`` the way the benchmark is run,
at sf0.001 for 2 seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _run(workload: str, trace: int, plant: str | None = None, cwd: str = ROOT):
    env = dict(os.environ)
    env.pop("PERFBENCH_PLANT", None)
    if plant:
        env["PERFBENCH_PLANT"] = plant
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "2",
        "--trace", str(trace), "--scale", "0.001",
    ]
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=900)


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_prints_every_metric_and_fails_nothing(workload):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = _result(_run(workload, trace))
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in BENCH[key]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
        assert all(isinstance(v["value"], float) for v in out["metrics"].values())


def test_planted_dropped_event_is_caught():
    out = _result(_run("batch", 0, plant="drop_event"))
    assert out["failed"] > 0 and not out["correct"]


def test_planted_dropped_result_row_is_caught():
    out = _result(_run("batch", 0, plant="drop_row"))
    assert out["failed"] > 0 and not out["correct"]


def test_planted_altered_read_is_caught():
    out = _result(_run("dashboard", 0, plant="alter_read"))
    assert out["failed"] > 0 and not out["correct"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path)
    p = _run(BENCH["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
