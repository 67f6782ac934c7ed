#!/usr/bin/env python3
"""Run one workload traced twice with the same seed and compare every
per-layer count. A count that ``layers.json`` calls deterministic on that
workload must repeat exactly; the others are printed for the record.

    python3 perfbench/repeat_counts.py --workload <name> --seed <n>

Exits 1 when a deterministic count does not repeat.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def traced_run(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()[-1]
    return json.loads(out)["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        seconds = json.load(fh)["run_seconds"]
    with open(os.path.join(HERE, "layers.json"), encoding="utf-8") as fh:
        deterministic = set(json.load(fh)["deterministic_counts"][args.workload])
    a = traced_run(args.workload, args.seed, seconds)
    b = traced_run(args.workload, args.seed, seconds)
    bad = []
    for name in sorted(a):
        if a[name]["unit"] not in ("count", "bytes"):
            continue
        va, vb = a[name]["value"], b[name]["value"]
        tag = "deterministic" if name in deterministic else "wall-time-only"
        print(f"{name:40s} {va:>14} {vb:>14} {'same' if va == vb else 'DIFFERS':8s} {tag}")
        if name in deterministic and va != vb:
            bad.append(name)
    if bad:
        print(f"deterministic counts that did not repeat: {bad}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
