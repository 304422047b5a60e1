"""Tracing overhead: traced minus untraced, for each end-to-end metric.

    python3 perfbench/overhead.py --workload ingest --seeds 1 2 3

Runs the benchmark untraced and traced on each seed, one after the other,
for the ``run_seconds`` of BENCHMARK.json, and prints each metric's
per-seed difference and the median difference. Run from the repository
root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

with open("BENCHMARK.json", encoding="utf-8") as f:
    RUN_SECONDS = json.load(f)["run_seconds"]

TRACED_PREFIX = "perfbench: end-to-end (traced) "


def _run(workload: str, seed: int, trace: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
        "--seconds", str(RUN_SECONDS), "--trace", str(trace),
    ]
    lines = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout.splitlines()
    if trace:
        line = next(x for x in lines if x.startswith(TRACED_PREFIX))
        return json.loads(line[len(TRACED_PREFIX):])
    return {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    diffs: dict[str, list[float]] = {}
    for seed in args.seeds:
        plain = _run(args.workload, seed, 0)
        traced = _run(args.workload, seed, 1)
        for name, value in plain.items():
            diffs.setdefault(name, []).append(traced[name] - value)
            print(f"seed {seed} {name}: untraced {value:.4f} traced {traced[name]:.4f}")
    for name, d in diffs.items():
        print(f"{name}: median traced - untraced = {statistics.median(d):+.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
