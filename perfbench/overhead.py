"""Tracing overhead: run one workload untraced and traced on the same seed
and print, for each end-to-end metric, traced - untraced.

    python3 perfbench/overhead.py --workload stream_burst --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()[-1]
    return json.loads(out)["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain = run(args, 0)
    traced = run(args, 1)
    report = {}
    for name, m in plain.items():
        t = traced[f"trace.e2e.{name}"]["value"]
        report[name] = {"untraced": m["value"], "traced": t,
                        "overhead": t - m["value"], "unit": m["unit"]}
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
