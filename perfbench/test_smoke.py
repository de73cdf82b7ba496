"""Smoke test of the whole benchmark at its tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

For each workload: one untraced run must report every end-to-end metric of
BENCHMARK.json, and two traced runs of one seed must report every per-layer
metric and repeat the deterministic counts exactly.  Every run must pass its
oracle checks.  Takes a few minutes (a fresh JVM per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

# counts that depend only on the input and the program, never on timing
DETERMINISTIC = (
    "extract.rows_in", "extract.edges_out", "extract.mine_passes", "graph.nodes",
    "graph.edges", "pagerank.supersteps", "wcc.supersteps", "triangles.count",
    "checkpoint.snapshots", "checkpoint.rows", "write.rows",
)


def _run(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    return result


def _check_metrics(result: dict, spec: list[dict]) -> None:
    metrics = result["metrics"]
    assert sorted(metrics) == sorted(m["name"] for m in spec)
    for m in spec:
        assert metrics[m["name"]]["unit"] == m["unit"], m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload(workload: str) -> None:
    untraced = _run(workload, seed=7, trace=0)
    _check_metrics(untraced, BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in untraced["metrics"].values()), untraced

    first, second = (_run(workload, seed=7, trace=1) for _ in range(2))
    for result in (first, second):
        _check_metrics(result, BENCH["per_layer"])
    for name in DETERMINISTIC:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
