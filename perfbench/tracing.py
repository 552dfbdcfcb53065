"""Tracing for the traced run, applied from outside the program.

Nothing here edits the package: the benchmark wraps the objects it hands
to the program (a counting ``Storage`` passed in through
``VersionedEngine(storage=...)``, wrapped engine methods), patches the
public methods of ``FileTableVersions`` in this process, counts py4j round
trips on the gateway client and gives every op its own Spark job group.

Spans (layer, name, start, end, parent, op id) stay in memory and are
written once, when the run ends. Storage and py4j calls are too many to
keep one span each; they are counted and timed per op and their time is
taken out of the enclosing span's self time.

Storage counts are driver-side calls made by the engine through the
storage it was given. The ``tvx`` streaming sink builds its own storage
instance inside a Python worker process; those calls are not counted.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

from table_versions_spark.core.storage import ObjectStoreStorage, Storage

STORAGE_METHODS = ("exists", "is_dir", "list_dir", "read_text", "open_input",
                   "link_or_copy", "publish_dir", "makedirs",
                   "create_exclusive", "update_atomic", "write_atomic",
                   "delete", "remove_tree")
LOG_METHODS = ("commit", "current_version", "stats_map", "updates",
               "commit_id_at_timestamp")
ENGINE_METHODS = ("insert", "delete", "update", "merge", "compact", "vacuum",
                  "read", "read_changes", "history", "updates",
                  "sync_catalog")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "job_wall_s", "executor_run_s",
                  "shuffle_write_bytes", "input_bytes", "output_bytes")


class Tracer:
    """Span recorder plus per-op counters. A disabled tracer records
    nothing and wraps nothing, so the untraced run pays no cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._tls = threading.local()  # per-thread stack of open spans
        self._main_stack = self._tls.stack = []
        self.op_id = 0
        self.op_kind = "setup"
        self.recording = False
        # (op kind, counter name) -> value; only while recording
        self.counts: dict[tuple[str, str], float] = defaultdict(float)
        # self time a leaf layer (storage, py4j) took out of its parent span
        self._leaf_time: dict[int, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._quiet = False  # set while the tracer itself talks to the JVM

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def begin(self, layer: str, name: str) -> int:
        stack = self._stack()
        # a pool thread's first span hangs off the main thread's open span
        owner = stack or self._main_stack
        with self._lock:
            idx = len(self.spans)
            self.spans.append([layer, name, time.perf_counter(), None,
                               owner[-1] if owner else -1,
                               self.op_id if self.recording else 0])
        stack.append(idx)
        return idx

    def end(self, idx: int) -> float:
        span = self.spans[idx]
        span[3] = time.perf_counter()
        self._stack().pop()
        return span[3] - span[2]

    def add(self, name: str, value: float = 1.0) -> None:
        if self.recording:
            with self._lock:  # the engine publishes from a thread pool
                self.counts[(self.op_kind, name)] += value

    def note(self, name: str, value: float = 1.0) -> None:
        """Count something learnt after the op returned (its result)."""
        if self.enabled:
            with self._lock:
                self.counts[(self.op_kind, name)] += value

    def leaf(self, layer: str, name: str, seconds: float) -> None:
        """A storage or py4j call: counted and timed, no span of its own.
        Only calls on the main thread leave their parent span's self time;
        pool threads overlap it."""
        stack = self._stack()
        if stack and threading.get_ident() == self._main:
            self._leaf_time[stack[-1]] += seconds
        self.add(f"{layer}.{name}.calls")
        self.add(f"{layer}.{name}.busy_s", seconds)

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                took = self.end(idx)
                self.add(f"{layer}.{name}.calls")
                self.add(f"{layer}.{name}.busy_s", took)
        return traced

    # -- instrumentation ---------------------------------------------------

    def instrument_engine(self, engine) -> None:
        if not self.enabled:
            return
        for name in ENGINE_METHODS:
            setattr(engine, name, self.wrap("engine", name,
                                            getattr(engine, name)))

    def instrument_log(self) -> None:
        """Patch ``FileTableVersions``' public methods in this process.
        The engine builds a fresh log object per call, so the class is the
        only place to hook without touching the program."""
        if not self.enabled:
            return
        from table_versions_spark.core.log import FileTableVersions

        for name in LOG_METHODS:
            setattr(FileTableVersions, name,
                    self.wrap("log", name, getattr(FileTableVersions, name)))

    def instrument_py4j(self, spark) -> None:
        if not self.enabled:
            return
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self._quiet:
                return send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                self.leaf("py4j", "send", time.perf_counter() - t0)

        client.send_command = counted

    def storage(self, inner: Storage) -> Storage:
        return CountingStorage(inner, self) if self.enabled else inner

    # -- Spark -------------------------------------------------------------

    def op_begin(self, spark, kind: str) -> None:
        """Start recording one timed op: its own job group, and the job id
        the op's first job will get (jobs the engine starts from its
        publish thread pool carry no group, so the id range is what
        attributes them)."""
        self.op_id += 1
        self.op_kind = kind
        self.recording = True
        if not self.enabled:
            return
        sc = spark.sparkContext
        self._quiet = True
        try:
            sc.setJobGroup(f"perfbench:{kind}:{self.op_id}",
                           f"perfbench op {self.op_id} ({kind})")
            self._first_job = sc._jsc.sc().dagScheduler().numTotalJobs()
        finally:
            self._quiet = False
        self._op_span = self.begin("op", kind)

    def op_end(self, spark) -> None:
        self.recording = False
        if not self.enabled:
            return
        self.end(self._op_span)
        self._quiet = True
        try:
            self._collect_jobs(spark.sparkContext)
        finally:
            self._quiet = False

    def _collect_jobs(self, sc) -> None:
        jsc = sc._jsc.sc()
        last = jsc.dagScheduler().numTotalJobs()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        empty = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        totals = defaultdict(float)
        for job_id in range(self._first_job, last):
            job = store.job(job_id)
            totals["jobs"] += 1
            start, end = job.submissionTime(), job.completionTime()
            if start.isDefined() and end.isDefined():
                totals["job_wall_s"] += (end.get().getTime()
                                         - start.get().getTime()) / 1e3
            stages = job.stageIds().iterator()
            while stages.hasNext():
                attempts = store.stageData(stages.next(), False, empty, False,
                                           no_quantiles).iterator()
                while attempts.hasNext():
                    st = attempts.next()
                    if st.status().toString() == "SKIPPED":
                        continue
                    totals["stages"] += 1
                    totals["tasks"] += st.numTasks()
                    totals["executor_run_s"] += st.executorRunTime() / 1e3
                    totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    totals["input_bytes"] += st.inputBytes()
                    totals["output_bytes"] += st.outputBytes()
        for name in SPARK_COUNTERS:
            self.note(f"spark.{name}", totals[name])

    # -- export ------------------------------------------------------------

    def self_time_by_layer(self) -> dict[str, float]:
        child = defaultdict(float)
        for layer, _name, start, end, parent, _op in self.spans:
            if parent >= 0 and end is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for idx, (layer, _n, start, end, _p, op) in enumerate(self.spans):
            if end is None or op == 0:
                continue
            out[layer] += (end - start) - child[idx] - self._leaf_time[idx]
        for (_kind, name), value in self.counts.items():
            if name.endswith(".busy_s") and name.split(".")[0] in (
                    "storage", "py4j"):
                out[name.split(".")[0]] += value
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        t0 = self.spans[0][2] if self.spans else 0.0
        doc = dict(extra)
        doc["self_time_s_by_layer"] = self.self_time_by_layer()
        doc["counts_by_op_kind"] = _nest(self.counts)
        doc["spans"] = [[layer, name, round(s - t0, 6),
                         None if e is None else round(e - t0, 6), p, op]
                        for layer, name, s, e, p, op in self.spans]
        doc["span_fields"] = ["layer", "name", "start_s", "end_s",
                              "parent", "op_id"]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)


def _nest(counts: dict) -> dict:
    out: dict[str, dict] = defaultdict(dict)
    for (kind, name), value in sorted(counts.items()):
        out[kind][name] = value
    return dict(out)


class CountingStorage(Storage):
    """Delegating ``Storage`` that counts and times every call, classifies
    commit-log reads and counts log CAS attempts and conflicts."""

    def __init__(self, inner: Storage, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer
        self.copies = isinstance(inner, ObjectStoreStorage)
        for name in STORAGE_METHODS:
            setattr(self, name, self._counted(name))

    def _counted(self, name: str):
        fn = getattr(self.inner, name)
        tracer = self.tracer

        def call(*args, **kwargs):
            written = (_bytes_in(name, args, self.copies)
                       if tracer.recording else 0)
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            tracer.leaf("storage", name, time.perf_counter() - t0)
            if not tracer.recording:
                return out
            if written:
                tracer.add("storage.bytes_written", written)
            in_log = "/_version_log/" in args[0]
            if name in ("read_text", "open_input") and in_log:
                base = os.path.basename(args[0])
                if base.startswith("_checkpoint-"):
                    tracer.add("log.checkpoint_reads")
                elif base[:1].isdigit() and base.endswith(".json"):
                    tracer.add("log.commit_files_read")
            if name == "create_exclusive" and in_log:
                tracer.add("log.cas_attempts")
                if not out:
                    tracer.add("log.cas_conflicts")
            return out
        return call

    # methods outside STORAGE_METHODS delegate unchanged
    def __getattr__(self, name):
        return getattr(self.inner, name)

    def open_output(self, path):
        return self.inner.open_output(path)

    def file_size(self, path):
        return self.inner.file_size(path)

    def file_mtime(self, path):
        return self.inner.file_mtime(path)

    def move_file(self, src, dst):
        return self.inner.move_file(src, dst)

    def spark_path(self, path):
        return self.inner.spark_path(path)


def _bytes_in(name: str, args: tuple, copies: bool) -> int:
    """Bytes a mutating storage call will write, measured before the call
    (a publish removes its source). On POSIX storage a link or a rename
    writes no data bytes; on object-store storage both are copies."""
    if name in ("write_atomic", "create_exclusive"):
        data = args[1]
        return len(data.encode() if isinstance(data, str) else data)
    if name in ("link_or_copy", "publish_dir") and copies:
        return _tree_bytes(args[0])
    return 0


def _tree_bytes(path: str) -> int:
    path = path.split("://", 1)[-1]
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
