#!/usr/bin/env python3
"""Tracing overhead for one workload and seed: runs the benchmark untraced
and traced, one after the other, and prints the operations' summed wall
time in each and the difference.

    python3 perfbench/overhead.py --workload history --seed 1 --seconds 20
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def op_ms_total(stdout: str) -> float:
    m = re.search(r"^\s+op_ms_total\s+([0-9.]+) ms$", stdout, re.M)
    if m is None:
        raise SystemExit("no op_ms_total line in the benchmark's report")
    return float(m.group(1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    totals = {}
    for trace in (0, 1):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
            capture_output=True, text=True, check=True).stdout
        totals[trace] = op_ms_total(out)
    diff = totals[1] - totals[0]
    print(f"{args.workload} seed={args.seed}: untraced {totals[0]:.1f} ms, "
          f"traced {totals[1]:.1f} ms, overhead {diff:+.1f} ms "
          f"({100.0 * diff / totals[0]:+.1f}%)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
