#!/usr/bin/env python3
"""Mark which per-layer counters repeat exactly.

Runs the traced benchmark twice per workload on one seed and writes
``perfbench/stable_counters.json``: for each workload, the per-layer
metrics whose two values are identical (and non-zero), the ones that
read zero both times (layer not exercised), and the ones that differ.
Only stable counters may be cited as count evidence for a change.

    python3 perfbench/stability.py --seed 1 [--seconds 6] [workload ...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def traced(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()[-1]
    line = json.loads(out)
    if not line["correct"]:
        raise SystemExit(f"{workload}: traced run was not correct: {line}")
    return {k: v["value"] for k, v in line["metrics"].items()}


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=6)
    p.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = p.parse_args()
    report = {"seed": args.seed, "workloads": {}}
    for w in args.workloads:
        a, b = traced(w, args.seed, args.seconds), traced(w, args.seed, args.seconds)
        report["workloads"][w] = {
            "stable": sorted(k for k in a if a[k] == b[k] and a[k] != 0),
            "zero": sorted(k for k in a if a[k] == b[k] == 0),
            "varying": sorted(k for k in a if a[k] != b[k]),
        }
        print(w, len(report["workloads"][w]["stable"]), "stable", file=sys.stderr)
    with open(os.path.join(HERE, "stable_counters.json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
