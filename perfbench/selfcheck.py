"""The benchmark's own check: a tiny run of every workload, untraced and
traced, must pass its output checks and print exactly the metric names
and units ``BENCHMARK.json`` declares.

    python3 perfbench/selfcheck.py

Exits with 1 on the first mismatch it reports (after running them all).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    bad = 0
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(ROOT, spec["command"][1]),
                   "--workload", w, "--seed", "1", "--seconds", "2",
                   "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            try:
                out = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"FAIL {w} trace={trace}: no result (exit {proc.returncode})")
                print(proc.stderr[-2000:])
                bad += 1
                continue
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            problems = []
            if proc.returncode != 0 or not out["correct"] or out["failed"]:
                problems.append(f"output checks failed: {lines[:-1][-5:]}")
            if got != declared[trace]:
                extra = sorted(set(got.items()) - set(declared[trace].items()))
                missing = sorted(set(declared[trace].items()) - set(got.items()))
                problems.append(f"metric names differ: extra={extra} missing={missing}")
            print(f"{'FAIL' if problems else 'ok  '} {w} trace={trace} "
                  f"attempted={out['attempted']}")
            for p in problems:
                print(f"     {p}")
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
