"""read_mix: the read path over a history, on POSIX storage.

Set-up builds a 30-partition events table (100k rows) on ``LocalStorage``
and a history of seeded commits (``HISTORY``): appends, a one-day
overwrite, a dv delete across partitions and a dv update. That leaves a
checkpoint in the log and deletion vectors in most partitions. The DuckDB
model keeps the table state after every commit.

Each timed round runs a fixed sequence of reads with seeded arguments,
and every read is checked against the state recorded when its commit was
head: four one-partition reads at the head and four at seeded commits
(``PARTITION_TARGETS``), a head read with an aggregate (checked against
the model's aggregate), ``read(at_commit=...)`` and
``read(at_timestamp=...)`` of the whole table at one of two seeded
commits, a row-level ``read_changes`` over the dv delete commit (checked
against the net multiset diff of the two states), ``history()`` and
``updates()``. Most ops of a round are one-partition reads of like cost,
so the median op latency is the median of several of them, not one
sample of a mix of unlike ops; the order is fixed, so no run differs from
another in what a read follows. Every read op ends in an action that
brings its rows to the driver as Arrow; the checks run after the op's
clock stops. The warm-up runs each op kind once.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa

import datagen
from checks import (EVENTS_COLUMNS, EVENTS_DDL, EventsModel, digest,
                    net_changes)
from commit_mix import BASE_ROWS, DAYS, day_of, events_rows
from harness import Run, median_setup, stored_bytes_per_live_byte

TABLE = "bench.history"
# With the create and the base load, 9 history commits reach the log's
# first checkpoint (every 10 commits).
HISTORY = ("append", "insert", "append", "delete", "update",
           "append", "append", "append", "append")
# Seeded arguments are drawn from positions of equal cost, so that a seed
# changes the inputs but not the work: time travel targets one of the two
# states before the head, a one-partition read at a commit targets one of
# the states that carry both the dv delete's and the dv update's vectors,
# and the change feed spans the dv delete (exact, from the vector delta).
TRAVEL_TARGETS = (len(HISTORY) - 2, len(HISTORY) - 1)
PARTITION_TARGETS = range(HISTORY.index("update") + 1, len(HISTORY))
CHANGES_SINCE = HISTORY.index("delete")
ROUND = ("updates", "read_partition", "read_head", "read_partition_at_commit",
         "read_partition", "read_at_commit", "read_partition_at_commit",
         "history", "read_partition", "read_at_timestamp",
         "read_partition_at_commit", "read_partition", "read_changes",
         "read_partition_at_commit")


class ReadMix:
    def __init__(self, spark, tracer, seed: int, work: str):
        from table_versions_spark.core.storage import LocalStorage
        from table_versions_spark.engine import VersionedEngine

        self.spark = spark
        self.rng = random.Random(seed)
        self.np_rng = np.random.default_rng(seed)
        self.engine = VersionedEngine(spark, os.path.join(work, "warehouse"),
                                      tracer.storage(LocalStorage()))
        tracer.instrument_engine(self.engine)

    # -- set-up ------------------------------------------------------------

    def setup(self) -> tuple[float, float]:
        base = events_rows(self.np_rng, BASE_ROWS, 0)
        self.next_id = BASE_ROWS
        base_df = self.spark.createDataFrame(base.to_pandas(), EVENTS_DDL)

        def build(i: int) -> None:
            name = TABLE if i == 0 else f"{TABLE}_spare{i}"
            self.engine.create_table(name, schema_ddl=EVENTS_DDL,
                                     partition_columns=["event_date"])
            self.engine.insert(base_df, name, "perfbench", "base load")

        took = median_setup(build)
        self.model = EventsModel(base)
        # commits[i] = (commit id, timestamp, model state index)
        self.commits = [self._record()]
        for kind in HISTORY:
            self._history_commit(kind)
            self.commits.append(self._record())
        self.log_length = len(self.engine.updates(TABLE))
        return took

    def _record(self) -> tuple[str, str, int]:
        head = self.engine.updates(TABLE)[0]
        return head.commit_id, head.timestamp, self.model.save()

    def _df(self, rows: pa.Table):
        return self.spark.createDataFrame(rows.to_pandas(), EVENTS_DDL)

    def _new_rows(self, n: int, day: int, days: int) -> pa.Table:
        rows = events_rows(self.np_rng, n, self.next_id, day, days)
        self.next_id += n
        return rows

    def _history_commit(self, kind: str) -> None:
        eng, rng, model = self.engine, self.rng, self.model
        if kind == "insert":
            day = rng.randrange(DAYS)
            rows = self._new_rows(3_300, day, 1)
            eng.insert(self._df(rows), TABLE, "perfbench", f"reload {day}")
            model.overwrite_day(day_of(day), rows)
        elif kind == "append":
            rows = self._new_rows(500, rng.randrange(DAYS - 2), 3)
            eng.insert(self._df(rows), TABLE, "perfbench", "append",
                       mode="append")
            model.append(rows)
        elif kind == "delete":
            pred = (f"user_id % 50 = {rng.randrange(50)} AND "
                    f"event_type = '{rng.choice(datagen.EVENT_TYPES)}'")
            eng.delete(TABLE, pred, "perfbench", "erase", mode="dv")
            model.delete(pred)
        else:
            sets = {"value": f"value + {rng.choice([0.25, 0.5, 0.75])}"}
            pred = f"user_id % 40 = {rng.randrange(40)}"
            eng.update(TABLE, sets, pred, "perfbench", "adjust", mode="dv")
            model.update(sets, pred)

    # -- ops ---------------------------------------------------------------

    def warm_up(self, run: Run) -> None:
        for kind in dict.fromkeys(ROUND):
            self.op(run, kind)

    def round(self, run: Run) -> None:
        for kind in ROUND:
            self.op(run, kind)

    def op(self, run: Run, kind: str) -> None:
        from pyspark.sql import functions as F

        eng, rng, model = self.engine, self.rng, self.model
        commits = self.commits
        head = len(commits) - 1
        if kind == "read_head":
            run.op(kind, lambda: eng.read(TABLE).groupBy("event_type")
                   .agg(F.sum("event_id").alias("ids"),
                        F.sum("user_id").alias("users"),
                        F.count("*").alias("n")).toArrow(),
                   lambda t: self._agg_ok(t, commits[head][2]))
        elif kind in ("read_partition", "read_partition_at_commit"):
            day = day_of(rng.randrange(DAYS))
            cid, _ts, state = (commits[head] if kind == "read_partition"
                               else commits[rng.choice(PARTITION_TARGETS)])
            run.op(kind, lambda: eng.read(
                TABLE, at_commit=None if kind == "read_partition" else cid,
                partition_filter={"event_date": str(day)}).select(
                EVENTS_COLUMNS).toArrow(),
                lambda t: digest(t) == model.saved_digest(
                    state, f"event_date = DATE '{day}'"))
        elif kind == "read_at_commit":
            cid, _ts, state = commits[rng.choice(TRAVEL_TARGETS)]
            run.op(kind, lambda: eng.read(
                TABLE, at_commit=cid).select(EVENTS_COLUMNS).toArrow(),
                lambda t: digest(t) == model.saved_digest(state))
        elif kind == "read_at_timestamp":
            _cid, ts, state = commits[rng.choice(TRAVEL_TARGETS)]
            run.op(kind, lambda: eng.read(
                TABLE, at_timestamp=ts).select(EVENTS_COLUMNS).toArrow(),
                lambda t: digest(t) == model.saved_digest(state))
        elif kind == "read_changes":
            i, j = CHANGES_SINCE, CHANGES_SINCE + 1
            run.op(kind, lambda: eng.read_changes(
                TABLE, since_commit=commits[i][0], to_commit=commits[j][0],
                row_level=True).select(
                EVENTS_COLUMNS + ["_change_type"]).toArrow(),
                lambda t: net_changes(model.con, t)
                == model.diff_digest(commits[i][2], commits[j][2]))
        elif kind == "history":
            run.op(kind, lambda: eng.history(TABLE).toArrow(),
                   lambda t: t.num_rows == self.log_length)
        else:
            run.op(kind, lambda: eng.updates(TABLE),
                   lambda u: [m.commit_id for m in u][:len(commits)]
                   == [c[0] for c in reversed(commits)])

    def _agg_ok(self, got: pa.Table, state: int) -> bool:
        want = self.model.con.sql(
            f"SELECT event_type, sum(event_id), sum(user_id), count(*) "
            f"FROM {self.model.saved[state]} GROUP BY event_type").fetchall()
        got = {(r["event_type"], r["ids"], r["users"], r["n"])
               for r in got.to_pylist()}
        return got == set(want)

    # -- end of run --------------------------------------------------------

    def finish(self, run: Run) -> None:
        """Every read was checked as it returned."""

    def stored_bytes_per_live_byte(self) -> float:
        return stored_bytes_per_live_byte(self.engine, TABLE)
