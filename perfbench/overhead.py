"""Tracing overhead of one workload: an untraced and a traced run with the
same seed, and each end-to-end metric's traced minus untraced value.

    python3 perfbench/overhead.py --workload emit_route --seed 1
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import WORKLOADS, END_TO_END  # noqa: E402

LINE = re.compile(r"^(\S+) = (\S+) (\S+) \(n=(\d+)\)$")


def measure(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    if proc.returncode != 0:
        sys.exit(f"{workload} trace={trace} failed:\n{proc.stdout[-2000:]}")
    out = {}
    for line in proc.stdout.splitlines():
        m = LINE.match(line)
        if m and m.group(1) in END_TO_END:
            out[m.group(1)] = (float(m.group(2)), m.group(3))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    args = ap.parse_args()
    plain = measure(args.workload, args.seed, args.seconds, 0)
    traced = measure(args.workload, args.seed, args.seconds, 1)
    for name, (value, unit) in plain.items():
        t = traced[name][0]
        rel = (t - value) / value * 100 if value else float("nan")
        print(f"{args.workload} {name}: untraced {value:.6g} traced {t:.6g} "
              f"{unit}, traced - untraced {t - value:+.6g} ({rel:+.1f}%)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
