"""Run sets for the baseline: untraced runs on several seeds and one traced
run per workload, with the spread of every end-to-end metric and the
tracing overhead.

    python3 perfbench/collect.py --runs 10 --seconds 6 --out perfbench/baseline

Writes ``<out>/<workload>.json`` holding every run's result line, the
median and quartile spread (``(q3 - q1) / median``, as
``statistics.quantiles(values, n=4)`` gives them) of each end-to-end
metric, the traced run's per-layer metrics, its spans, self time by layer
and counts by op kind, and the tracing overhead (traced over untraced
median).
Runs are sequential; each is one ``run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    return result


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def summarize(runs: list[dict]) -> dict:
    names = sorted(runs[0]["metrics"])
    return {n: spread([r["metrics"][n]["value"] for r in runs]) for n in names}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--workloads", nargs="+",
                   default=["commit_mix", "read_mix", "analytics"])
    args = p.parse_args()
    os.makedirs(args.out, exist_ok=True)
    for workload in args.workloads:
        seeds = range(args.first_seed, args.first_seed + args.runs)
        runs = []
        for seed in seeds:
            runs.append(run_once(workload, seed, args.seconds, 0))
            print(f"{workload} seed {seed}: {json.dumps(runs[-1])}",
                  file=sys.stderr)
        doc = {"workload": workload, "seconds": args.seconds,
               "seeds": list(seeds), "untraced_runs": runs,
               "end_to_end": summarize(runs)}
        traced = run_once(workload, args.first_seed, args.seconds, 1)
        with open(os.path.join(ROOT, ".perfbench", f"trace-{workload}-seed"
                               f"{args.first_seed}.json")) as fh:
            doc["trace"] = json.load(fh)
        doc["traced_run"] = traced
        m, e2e = traced["metrics"], doc["end_to_end"]
        doc["tracing_overhead"] = {
            "latency_p50_ratio": m["traced.latency_p50_s"]["value"]
            / e2e["latency_p50_s"]["median"],
            "latency_p90_ratio": m["traced.latency_p90_s"]["value"]
            / e2e["latency_p90_s"]["median"],
            "throughput_ratio": m["traced.throughput_ops_s"]["value"]
            / e2e["throughput_ops_s"]["median"],
        }
        with open(os.path.join(args.out, f"{workload}.json"), "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
        print(json.dumps({workload: {k: round(v["spread"], 4) for k, v in
                                     doc["end_to_end"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
