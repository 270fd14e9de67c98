"""Smoke test of the benchmark's output contract on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

For every workload, untraced and traced: the run exits 0, its last stdout line
is the result object, every metric BENCHMARK.json declares for that mode is
present with its declared unit, no correctness check failed (failed_frac ==
0), and each per-layer metric that spec.json maps to the workload is non-zero.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["pubsub_live", "stream_roundtrip", "log_replay", "batch_analytics"]


def _load(name: str) -> dict:
    with open(os.path.join(ROOT if name == "BENCHMARK.json" else HERE, name)) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_contract(workload: str, trace: int) -> None:
    bench = _load("BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "10", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] / result["attempted"] == 0, proc.stdout[-3000:]
    assert result["correct"] is True
    declared = bench["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        layers = _load("spec.json")["layers"]
        for name, entry in layers.items():
            if workload in entry["workloads"]:
                assert result["metrics"][name]["value"] > 0, name


def test_layer_map_covers_every_per_layer_metric() -> None:
    """spec.json maps each per-layer metric BENCHMARK.json declares; what a
    map entry says it moves is a declared end-to-end metric."""
    bench = _load("BENCHMARK.json")
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = _load("spec.json")["layers"]
    assert set(layers) == {m["name"] for m in bench["per_layer"]}
    for name, entry in layers.items():
        assert entry["moves"] or entry["detail"], name
        for target in entry["moves"]:
            assert target.split(" (")[0] in e2e, (name, target)


def test_refuses_to_run_without_the_package(tmp_path) -> None:
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pubsub_live",
         "--seed", "1", "--seconds", "10", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
