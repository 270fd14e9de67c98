"""Tracing overhead: traced minus untraced end-to-end numbers, per workload.

    python3 perfbench/overhead.py [--seed N] [--seconds S] [workload ...]

Runs each workload once with ``--trace 0`` and once with ``--trace 1`` (same
seed) and prints, per end-to-end metric, both values and their difference.
The traced run's end-to-end values come from the detail line run.py prints
before its result. One pair per workload is a single sample: machine noise
of the order of the metric's spread is expected on top of the overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["pubsub_live", "stream_roundtrip", "log_replay", "batch_analytics"]


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-2])["detail"]["e2e"]


def main() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=run_seconds)
    ap.add_argument("workloads", nargs="*", default=WORKLOADS)
    args = ap.parse_args()
    for w in args.workloads:
        plain = _run(w, args.seed, args.seconds, 0)
        traced = _run(w, args.seed, args.seconds, 1)
        for k in plain:
            d = traced[k] - plain[k]
            print(f"{w:18s} {k:12s} untraced {plain[k]:12.3f} traced {traced[k]:12.3f} "
                  f"overhead {d:+10.3f} ({d / plain[k]:+.1%})")


if __name__ == "__main__":
    main()
