#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced, then traced, with the same
seed and length, and print traced minus untraced for its read and write
figures.

    python3 perfbench/overhead.py --workload kv_point --seed 1 --seconds 25

Run from the repository root.  The two runs are separate processes, one
after the other, so host noise between them adds to the difference: repeat
with a few seeds before reading much into it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
#: untraced metric -> the traced run's figure for the same calls
PAIRS = {"read_cpu_ms": "trace.read_cpu_ms", "write_cpu_ms": "trace.write_cpu_ms"}


def result(args: argparse.Namespace, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    res = json.loads(out.strip().splitlines()[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain, traced = result(args, 0), result(args, 1)
    print(json.dumps({
        f"trace.{k}_overhead": {"untraced": plain[k], "traced": traced[t],
                                "traced_minus_untraced": traced[t] - plain[k], "unit": "ms"}
        for k, t in PAIRS.items()
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
