"""Run one benchmark workload (or all of them) and print its metrics.

    python3 perfbench/run.py --workload emit_route --seed 1 --seconds 20 --trace 0

Every end-to-end metric is printed by name with its unit and sample count,
one per line, and the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a separate,
traced run (spans are written to ``.bench_work/``). The exit code is not 0
when an output check fails or the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.common import (  # noqa: E402
    WORK_ROOT, Result, clean_work_dirs, environment, log, prepare_process_env,
    stop_jvm,
)

WORKLOADS = ("emit_route", "analytics")

# name -> unit; every workload reports all of them (see README.md for the
# meaning of each on each workload)
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "events_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "peak_rss_mb": "MB",
}

def per_layer_metrics() -> dict[str, str]:
    """name -> unit of every per-layer metric (see README.md for the
    layer and workload each belongs to)."""
    from perfbench import wl_analytics

    names = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "producer.emit_self_us": "us",
        "producer.validate_us_per_event": "us",
        "producer.normalize_us_per_event": "us",
        "producer.parse_sink_us_per_event": "us",
        "producer.bytes_per_event": "bytes",
        "producer.events_per_emit": "count",
        "helpers.camel_calls_per_event": "count",
        "helpers.camel_us_per_call": "us",
        "consumer.input_self_us_per_event": "us",
        "consumer.routes_scanned_per_event": "count",
        "consumer.match_ratio": "ratio",
        "consumer.add_batch_ms": "ms",
        "consumer.dispatch_us_per_event": "us",
        "consumer.collect_ms_per_batch": "ms",
        "consumer.rows_per_batch": "count",
        "helpers.parse_json_us_per_event": "us",
        "sources.latest_offset_ms": "ms",
        "sources.get_batch_ms": "ms",
        "envelope.corrupt_dropped": "count",
        "streaming.query_planning_ms": "ms",
        "streaming.wal_commit_ms": "ms",
        "streaming.commit_offsets_ms": "ms",
        "operators.spill_bytes": "bytes",
        "operators.task_skew": "ratio",
        "caching.plan_hits": "count",
        "caching.cached_bytes": "bytes",
        "trace.spans": "count",
    }
    for q in wl_analytics.MIX:
        names[f"operators.{q}.build_ms"] = "ms"
        names[f"operators.{q}.exec_ms"] = "ms"
        names[f"operators.{q}.shuffle_bytes"] = "bytes"
    return names


def run_one(args) -> int:
    prepare_process_env()
    try:
        import event_streamer_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the engine from {ROOT}: {exc}")
        return 2
    from perfbench import wl_analytics, wl_emit

    module = {"emit_route": wl_emit, "analytics": wl_analytics}[args.workload]
    res = Result(args.workload)
    res.params.update(environment())
    res.params.update(seed=args.seed, seconds=args.seconds, size=args.size,
                      trace=bool(args.trace))
    t0 = time.time()
    try:
        tracer = module.run(args.seed, args.seconds, bool(args.trace), args.size, res)
    except Exception:  # noqa: BLE001 — a crashed run reports no result
        traceback.print_exc()
        return 3
    finally:
        stop_jvm()
        clean_work_dirs()
    wall = time.time() - t0

    wanted = per_layer_metrics() if args.trace else END_TO_END
    if tracer is not None:
        res.put("trace.spans", len(tracer.spans), "count", 1)
        os.makedirs(WORK_ROOT, exist_ok=True)
        tracer.dump(os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}.jsonl"))
    missing = [m for m in wanted if m not in res.metrics]
    for name in missing:
        # a layer this workload never calls
        res.put(name, 0.0, wanted[name], 0)

    print(f"# workload={args.workload} wall_s={wall:.1f} params={json.dumps(res.params)}")
    # end-to-end metrics always (a traced run's show the tracing overhead),
    # then the per-layer ones of a traced run
    for name in list(END_TO_END) + (list(wanted) if args.trace else []):
        value, unit, n = res.metrics[name]
        print(f"{name} = {value:.6g} {unit} (n={n})")
    ratio = res.failed / max(1, res.attempted)
    print(f"failed_ratio = {ratio:.6g} ({res.failed}/{res.attempted})")
    for p in res.problems:
        print(f"# FAILED: {p}")
    correct = res.failed == 0 and res.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {
            m: {"value": res.metrics[m][0], "unit": wanted[m]} for m in wanted
        },
    }))
    sys.stdout.flush()
    return 0 if correct else 1


def run_all(args) -> int:
    """Each workload in its own process, so each gets a fresh JVM."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        sys.stderr.write(proc.stderr[-4000:])
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode != 0 or not lines:
            code = code or (proc.returncode or 1)
            merged["correct"] = False
            continue
        out = json.loads(lines[-1])
        merged["correct"] &= out["correct"]
        merged["attempted"] += out["attempted"]
        merged["failed"] += out["failed"]
        for k, v in out["metrics"].items():
            merged["metrics"][f"{w}.{k}"] = v
    print(json.dumps(merged))
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the self-check")
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
