"""commit_mix: the write path on object-store semantics.

A 30-partition events table (100k rows) on ``ObjectStoreStorage`` (publish
copies instead of hardlinks, commit CAS by conditional put). Each round
runs one seeded cycle of ops -- a one-partition overwrite ``insert``,
a dv ``delete`` across partitions, a dv ``update``, a one-day ``merge``
and ``STREAM_APPENDS`` ``stream_append``s, each one file through
``writeStream.format("tvx")`` -- then maintenance: ``compact``,
``vacuum(keep_commits=3, grace_hours=0)`` and ``sync_catalog``. That is
10 ops and 8 commits per round; set-up runs one cycle with a single
stream append, and maintenance, untimed as its warm-up.

A DuckDB model replays every op. After each maintenance the head must
hash equal to the model, and the catalog table must count the model's
rows.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from checks import EVENTS_COLUMNS, EVENTS_DDL, EventsModel, spark_digest
from harness import Run, median_setup, stored_bytes_per_live_byte

TABLE = "bench.events"
CATALOG_TABLE = "bench_events"
BASE_ROWS = 100_000
DAYS = datagen.EVENT_DAYS
STREAM_TIMEOUT_S = 120
# stream appends per timed round: with three, the median op latency of a
# round is the mean of two of them, not the mean of two unlike ops on
# either side of the gap between cheap and costly ops
STREAM_APPENDS = 3


def events_rows(rng, n: int, first_id: int, day: int = 0,
                days: int = DAYS) -> pa.Table:
    start = datagen.EVENTS_START + np.timedelta64(day, "D")
    t = datagen.events_table(rng, n, first_id, start=start, days=days)
    return t.append_column("event_date", pc.cast(t["ts"], pa.date32())
                           ).select(EVENTS_COLUMNS)


def day_of(day: int):
    return (datagen.EVENTS_START + np.timedelta64(day, "D")).astype(
        "datetime64[D]").item()


class CommitMix:
    def __init__(self, spark, tracer, seed: int, work: str):
        from table_versions_spark.core.storage import ObjectStoreStorage
        from table_versions_spark.engine import VersionedEngine
        from table_versions_spark.streaming.source import register

        self.spark, self.work = spark, work
        self.rng = random.Random(seed)
        self.np_rng = np.random.default_rng(seed)
        self.engine = VersionedEngine(spark, os.path.join(work, "warehouse"),
                                      tracer.storage(ObjectStoreStorage()))
        tracer.instrument_engine(self.engine)
        register(spark)
        self.n_inputs = 0
        self.stream_dir = os.path.join(work, "stream-in")
        self.stream_ckpt = os.path.join(work, "stream-ckpt")
        os.makedirs(self.stream_dir)

    # -- set-up ------------------------------------------------------------

    def setup(self) -> tuple[float, float]:
        """Builds the base table three times (the median is the fixture
        part of set-up time) and keeps the first."""
        base = events_rows(self.np_rng, BASE_ROWS, 0)
        self.next_id = BASE_ROWS
        path = self._input(base)

        def build(i: int) -> None:
            name = TABLE if i == 0 else f"{TABLE}_spare{i}"
            self.engine.create_table(name, schema_ddl=EVENTS_DDL,
                                     partition_columns=["event_date"])
            self.engine.insert(self.spark.read.parquet(path), name,
                               "perfbench", "base load")

        took = median_setup(build)
        self.location = self.engine.definition(TABLE).location
        self.model = EventsModel(base)
        return took

    def _input(self, rows: pa.Table, directory: str | None = None) -> str:
        """Write an op's input as one parquet file, atomically."""
        self.n_inputs += 1
        directory = directory or os.path.join(self.work, "in")
        os.makedirs(directory, exist_ok=True)
        path = os.path.join(directory, f"part-{self.n_inputs:05d}.parquet")
        pq.write_table(rows, path + ".tmp")
        os.rename(path + ".tmp", path)
        return path

    def _new_rows(self, n: int, day: int = 0, days: int = DAYS) -> pa.Table:
        rows = events_rows(self.np_rng, n, self.next_id, day, days)
        self.next_id += n
        return rows

    # -- ops ---------------------------------------------------------------

    def cycle(self, run: Run, stream_appends: int) -> None:
        eng, spark, rng, model = self.engine, self.spark, self.rng, self.model

        day = rng.randrange(DAYS)
        rows = self._new_rows(3_300, day, 1)
        path = self._input(rows)
        run.op("insert", lambda: eng.insert(
            spark.read.parquet(path), TABLE, "perfbench", f"reload day {day}"))
        model.overwrite_day(day_of(day), rows)

        pred = (f"user_id % 50 = {rng.randrange(50)} AND "
                f"event_type = '{rng.choice(datagen.EVENT_TYPES)}'")
        run.op("delete", lambda: eng.delete(
            TABLE, pred, "perfbench", "erase", mode="dv"))
        model.delete(pred)

        sets = {"value": f"value + {rng.choice([0.25, 0.5, 0.75, 1.25])}"}
        pred = f"user_id % 40 = {rng.randrange(40)}"
        run.op("update", lambda: eng.update(
            TABLE, sets, pred, "perfbench", "adjust", mode="dv"))
        model.update(sets, pred)

        day = rng.randrange(DAYS)
        changed = model.con.sql(
            f"SELECT * FROM ev WHERE event_date = DATE '{day_of(day)}' "
            f"ORDER BY event_id LIMIT 200 OFFSET {rng.randrange(2_000)}"
        ).arrow().select(EVENTS_COLUMNS)
        changed = changed.set_column(
            3, "value", pc.multiply(changed["value"], 2.0))
        source = pa.concat_tables([changed, self._new_rows(100, day, 1)])
        path = self._input(source)
        run.op("merge", lambda: eng.merge(
            spark.read.parquet(path), TABLE, ["event_id"], "perfbench",
            f"merge day {day}"))
        model.merge(source)

        for _ in range(stream_appends):
            self.stream_append(run)

    def stream_append(self, run: Run) -> None:
        rows = self._new_rows(1_000, self.rng.randrange(DAYS - 2), 3)
        self._input(rows, self.stream_dir)
        n = run.op("stream_append", self._stream_append,
                   lambda n: n == rows.num_rows)
        run.tracer.note("streaming.append.rows", n or 0)
        self.model.append(rows)

    def _stream_append(self) -> int:
        """One ``availableNow`` trigger of the ingest stream: the new file
        in the source directory lands as one versioned commit."""
        q = (self.spark.readStream.schema(EVENTS_DDL)
             .parquet(self.stream_dir)
             .writeStream.format("tvx").option("location", self.location)
             .option("storage", "object").option("txnApp", "perfbench-ingest")
             .option("checkpointLocation", self.stream_ckpt)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            q.stop()
            raise TimeoutError("ingest stream did not finish")
        return sum(p["numInputRows"] for p in q.recentProgress)

    def maintain(self, run: Run) -> None:
        eng = self.engine
        run.op("compact", lambda: eng.compact(TABLE))
        run.op("vacuum", lambda: eng.vacuum(TABLE, keep_commits=3,
                                            grace_hours=0))
        alters = run.op(
            "sync_catalog", lambda: eng.sync_catalog(TABLE, CATALOG_TABLE),
            lambda _n: self.spark.table(CATALOG_TABLE).count()
            == self.model.rows())
        run.tracer.note("catalog.alter_ops", alters or 0)
        if spark_digest(eng.read(TABLE).select(EVENTS_COLUMNS)) != \
                self.model.digest():
            run.fail("commit_mix: head differs from the DuckDB model")

    def warm_up(self, run: Run) -> None:
        self.cycle(run, 1)
        self.maintain(run)

    def round(self, run: Run) -> None:
        self.cycle(run, STREAM_APPENDS)
        self.maintain(run)

    # -- end of run --------------------------------------------------------

    def finish(self, run: Run) -> None:
        """Every round ends with a checked maintenance step."""

    def stored_bytes_per_live_byte(self) -> float:
        return stored_bytes_per_live_byte(self.engine, TABLE)
