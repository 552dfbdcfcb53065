"""Per-layer metrics of a traced run, and the metric units.

``BENCHMARK.json`` at the checkout root lists every metric with its unit;
this module computes exactly that list (``per_layer`` fails loudly if the
two drift apart). A layer a workload does not exercise reads 0.
"""

from __future__ import annotations

import json
import os
import statistics

from tracing import LOG_METHODS, SPARK_COUNTERS, STORAGE_METHODS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WRITE_OPS = ("insert", "delete", "update", "merge", "compact", "vacuum")
PLAN_OPS = ("read", "read_changes", "history")
OPERATOR_MODULES = ("analytic", "cleaning", "dedup", "multimodal",
                    "relational", "similarity", "text", "tpch")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def units() -> dict[str, str]:
    spec = _spec()
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(tracer, run, e2e: dict[str, float]) -> dict[str, float]:
    from harness import quantile

    totals: dict[str, float] = {}
    for (_kind, name), value in tracer.counts.items():
        totals[name] = totals.get(name, 0.0) + value
    ops = max(run.attempted, 1)
    engine: dict[str, list[float]] = {}
    for layer, name, start, end, _parent, op in tracer.spans:
        if layer == "engine" and op and end is not None:
            engine.setdefault(name, []).append(end - start)

    m: dict[str, float] = {}
    for name in WRITE_OPS + ("updates",):
        m[f"engine.{name}.p50_s"] = _median(engine.get(name, []))
    for name in PLAN_OPS:
        m[f"engine.{name}.plan_s"] = _median(engine.get(name, []))

    calls = 0.0
    for name in STORAGE_METHODS:
        n = totals.get(f"storage.{name}.calls", 0.0)
        calls += n
        m[f"storage.{name}.calls"] = n
        m[f"storage.{name}.busy_s"] = totals.get(f"storage.{name}.busy_s", 0.0)
    m["storage.calls_per_op"] = calls / ops
    m["storage.bytes_written"] = totals.get("storage.bytes_written", 0.0)

    for name in LOG_METHODS:
        m[f"log.{name}.calls"] = totals.get(f"log.{name}.calls", 0.0)
        m[f"log.{name}.busy_s"] = totals.get(f"log.{name}.busy_s", 0.0)
    for name in ("commit_files_read", "checkpoint_reads", "cas_attempts",
                 "cas_conflicts"):
        m[f"log.{name}"] = totals.get(f"log.{name}", 0.0)

    m["catalog.sync.busy_s"] = sum(engine.get("sync_catalog", []))
    m["catalog.alter_ops"] = totals.get("catalog.alter_ops", 0.0)
    m["streaming.append.p50_s"] = _median(
        [t for kind, t in run.latencies if kind == "stream_append"])
    m["streaming.append.rows"] = totals.get("streaming.append.rows", 0.0)

    for name in SPARK_COUNTERS:
        m[f"spark.{name}"] = totals.get(f"spark.{name}", 0.0)
    m["spark.jobs_per_op"] = m["spark.jobs"] / ops
    m["py4j.round_trips"] = totals.get("py4j.send.calls", 0.0)
    m["py4j.busy_s"] = totals.get("py4j.send.busy_s", 0.0)

    by_module = {mod: 0.0 for mod in OPERATOR_MODULES}
    for kind, took in run.latencies:
        mod = kind.split(".", 1)[0]
        if mod in by_module and "." in kind:
            by_module[mod] += took
    for mod, busy in by_module.items():
        m[f"operators.{mod}.busy_s"] = busy

    lat = [t for _kind, t in run.latencies]
    m["traced.throughput_ops_s"] = e2e["throughput_ops_s"]
    m["traced.latency_p50_s"] = quantile(lat, 0.50)
    m["traced.latency_p90_s"] = quantile(lat, 0.90)

    listed = {x["name"] for x in _spec()["per_layer"]}
    if set(m) != listed:
        raise RuntimeError("per-layer metrics differ from BENCHMARK.json: "
                           f"{sorted(set(m) ^ listed)}")
    return m
