"""Benchmark of table_versions_spark: three closed-loop workloads, one
client each, on ``local[<cores>]``.

    python3 perfbench/run.py --workload commit_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``;
work files go to ``.perfbench/`` under the root and are removed at exit.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run is traced and
the metrics are the per-layer ones, and the spans are written to
``.perfbench/trace-<workload>-seed<seed>.json``.

Workloads (see ``layers.json`` for which layer each one exercises):

- ``commit_mix``: writes, maintenance and streaming ingest on
  object-store semantics (``commit_mix.py``).
- ``read_mix``: reads, time travel and change feeds over a built history
  on POSIX storage (``read_mix.py``).
- ``analytics``: query operators over plain parquet (``analytics.py``).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("commit_mix", "read_mix", "analytics")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    for sub in ("tmp", "spark-warehouse", "derby"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}' "
            f"--conf spark.sql.warehouse.dir="
            f"{os.path.join(work, 'spark-warehouse')} "
            f"--conf spark.hadoop.hadoop.tmp.dir={tmp} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    # Spark's Python workers (the tvx sink, pandas UDFs) import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = tmp
    os.chdir(work)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "table_versions_spark")):
        print(f"perfbench: no table_versions_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    isolate(work)
    try:
        result = run(args, out_dir, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result, sort_keys=True))
    return 0


def run(args, out_dir: str, work: str) -> dict:
    from harness import Run, end_to_end, start_spark, stop_spark
    from tracing import Tracer

    import layers

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark, spark_s = start_spark(cpus)
    try:
        tracer = Tracer(args.trace == 1)
        tracer.instrument_log()
        tracer.instrument_py4j(spark)
        workload = make_workload(args.workload, spark, tracer, args.seed, work)
        # set-up = session start + fixture build + one untimed warm-up
        # round; the fixture is built several times and only its median
        # counts
        t1 = time.perf_counter()
        fixture_s, fixture_total_s = workload.setup()
        t2 = time.perf_counter()
        warm = Run(spark, Tracer(False), 0)
        warm.loop([workload.warm_up])
        setup_s = time.perf_counter() - t0 - fixture_total_s + fixture_s
        print(f"perfbench: set-up {setup_s:.2f}s = session {spark_s:.2f}s"
              f" + workload set-up {t2 - t1 - fixture_total_s + fixture_s:.2f}s"
              f" (fixture median {fixture_s:.2f}s) + warm-up"
              f" {time.perf_counter() - t2:.2f}s", file=sys.stderr)

        timed = Run(spark, tracer, args.seconds)
        timed.loop(itertools.repeat(workload.round))
        workload.finish(timed)
        report(warm, "warm-up")
        report(timed, "timed")
        failed = warm.failed + timed.failed
        attempted = warm.attempted + timed.attempted
        metrics = end_to_end(timed, setup_s)
        metrics["stored_bytes_per_live_byte"] = \
            workload.stored_bytes_per_live_byte()
        if args.trace:
            metrics = layers.per_layer(tracer, timed, metrics)
            tracer.write(os.path.join(
                out_dir, f"trace-{args.workload}-seed{args.seed}.json"), {
                "workload": args.workload, "seed": args.seed,
                "cores": cpus, "ops": timed.attempted,
                "timed_s": timed.timed_s})
    finally:
        stop_spark(spark)
    units = layers.units()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in sorted(metrics.items())},
    }


def report(run, name: str) -> None:
    """Per-op-kind latencies on standard error, for a reader of the log."""
    import statistics

    by_kind: dict[str, list[float]] = {}
    for kind, took in run.latencies:
        by_kind.setdefault(kind, []).append(took)
    print(f"perfbench: {name}: {run.attempted} ops, rounds of "
          f"{[round(t, 2) for t in run.round_s]}s timed in "
          f"{run.wall_s:.2f}s", file=sys.stderr)
    for kind, took in sorted(by_kind.items()):
        print(f"perfbench:   {kind:<30} median={statistics.median(took):.3f}s"
              f" all={[round(t, 3) for t in took]}", file=sys.stderr)


def make_workload(name: str, spark, tracer, seed: int, work: str):
    if name == "commit_mix":
        from commit_mix import CommitMix as cls
    elif name == "read_mix":
        from read_mix import ReadMix as cls
    else:
        from analytics import Analytics as cls
    return cls(spark, tracer, seed, work)


if __name__ == "__main__":
    sys.exit(main())
