"""Smoke test of the benchmark itself, at a tiny corpus size.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs untraced and traced on 1,000 docs for one second;
each must print every metric of BENCHMARK.json with its unit, pass its
oracle check and fail no operation. A run with one engine score
perturbed must fail its check, and a tree without the engine must exit
non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--docs", "1000", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300)


def _printed(stdout: str) -> dict[str, str]:
    """name -> unit of every ``metric <name> <value> <unit>`` line."""
    out = {}
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) == 4 and parts[0] == "metric":
            float(parts[2])
            out[parts[1]] = parts[3]
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_and_no_failure(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stdout
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    units = {m["name"]: m["unit"] for m in want}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    printed = _printed(p.stdout)
    assert {k: printed[k] for k in units} == units
    assert printed["ops_failed_ratio"] == "1"
    assert "metric ops_failed_ratio 0 1" in p.stdout.splitlines()
    if trace:
        assert os.path.isfile(os.path.join(HERE, "out", f"trace-{workload}.json"))


def test_perturbed_score_fails_the_check():
    p = _run("serve-hot", 0, "--perturb-check")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1


def test_fails_without_the_engine():
    bare = os.path.join(HERE, "out", "no-engine")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _run("serve-hot", 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
