"""Shared pieces of the three workloads: the Spark session, the closed
loop that times ops, and the result line."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from tracing import Tracer


def start_spark(cpus: int):
    """``local[cpus]`` session with the package's recommended settings;
    returns ``(spark, seconds to start)``."""
    t0 = time.perf_counter()
    from table_versions_spark.operators.common import ensure_compat
    from table_versions_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_compat(spark)
    # the first job pays JVM class loading; it belongs to session start
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, wait for the JVM to exit, then wait for the
    Python workers it started (they exit when it does)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a stuck JVM must still die
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in workers:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, 9)
            time.sleep(0.05)


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Run:
    """One client's closed loop: each op starts when the previous one has
    returned. Records the latency of every timed op and counts failures;
    an op fails when it raises or when its output check fails."""

    def __init__(self, spark, tracer: Tracer, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.seconds = seconds
        self.latencies: list[tuple[str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.timed_s = 0.0
        self.wall_s = 0.0
        self.round_s: list[float] = []

    def op(self, kind: str, fn, check=None):
        """Time ``fn()``; then, untimed, ``check(result)`` must be true."""
        self.tracer.op_begin(self.spark, kind)
        t0 = time.perf_counter()
        out, err = None, None
        try:
            out = fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            err = traceback.format_exc(limit=3)
        took = time.perf_counter() - t0
        self.tracer.op_end(self.spark)
        self.attempted += 1
        self.latencies.append((kind, took))
        if err is None and check is not None:
            try:
                if not check(out):
                    err = "output check failed"
            except Exception:  # noqa: BLE001
                err = traceback.format_exc(limit=3)
        if err is not None:
            self.fail(f"{kind}: {err}")
        return out

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def loop(self, rounds) -> None:
        """Run whole rounds for about ``seconds`` of timed time: stop once
        less than half a round (at the mean round length so far) remains.
        Timed time is the time inside ops; the harness's own work between
        them (inputs, checks) is not counted. Every round
        holds the same op kinds, so each run measures the same mix, and a
        round length near a multiple of ``seconds`` does not flip the
        number of rounds between runs."""
        t0 = time.perf_counter()
        for run_round in rounds:
            before = len(self.latencies)
            run_round(self)
            self.round_s.append(sum(t for _k, t in self.latencies[before:]))
            left = self.seconds - sum(self.round_s)
            if left <= statistics.mean(self.round_s) / 2:
                break
        self.timed_s = sum(self.round_s)
        self.wall_s = time.perf_counter() - t0


def quantile(values: list[float], q: float) -> float:
    """Inclusive quantile, the ``statistics`` module's interpolation."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[
        round(q * 100) - 1]


def end_to_end(run: Run, setup_s: float) -> dict[str, float]:
    lat = [t for _kind, t in run.latencies]
    return {
        "setup_s": setup_s,
        "throughput_ops_s": len(lat) / run.timed_s,
        "latency_p50_s": quantile(lat, 0.50),
        "latency_p90_s": quantile(lat, 0.90),
    }


def median_setup(build, times: int = 3) -> tuple[float, float]:
    """Run a fixture build ``times`` times; returns the median and the
    total seconds."""
    took = []
    for i in range(times):
        t0 = time.perf_counter()
        build(i)
        took.append(time.perf_counter() - t0)
    return statistics.median(took), sum(took)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def stored_bytes_per_live_byte(engine, table: str) -> float:
    """Bytes under the table location over bytes of the version dirs the
    head state reads."""
    from table_versions_spark.core.paths import resolved_versioned_path

    location = engine.definition(table).location
    state = engine.current_version(table)
    live = sum(dir_bytes(resolved_versioned_path(location, p, v))
               for p, v in state.partition_versions.items())
    return dir_bytes(location) / live
