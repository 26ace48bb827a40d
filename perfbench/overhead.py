#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced on the same
seed and print each end-to-end metric from both runs and their
difference.

    python3 perfbench/overhead.py --workload tail --seed 1 --seconds 5

The traced run prints its end-to-end numbers on stderr as
``traced end-to-end: {...}``; the untraced run's are its result line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
MARK = "traced end-to-end: "


def bench(args, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    return subprocess.run(cmd, capture_output=True, text=True, check=True)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=5)
    args = p.parse_args()

    plain = json.loads(bench(args, 0).stdout.strip().splitlines()[-1])["metrics"]
    err = bench(args, 1).stderr
    traced = json.loads(next(line.split(MARK, 1)[1] for line in err.splitlines() if MARK in line))
    print(f"{'metric':16s} {'untraced':>12s} {'traced':>12s} {'traced-untraced':>16s}")
    for name, m in plain.items():
        a, b = m["value"], traced.get(name, 0.0)
        rel = f" ({(b - a) / a:+.1%})" if a else ""
        print(f"{name:16s} {a:12.4g} {b:12.4g} {b - a:+16.4g}{rel}  {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
