"""Output checks: an order-insensitive digest of a result, and a DuckDB
model of the events table that replays the same seeded ops.

The digest follows the canon of ``tools/check_oracles.py`` (columns
sorted by name, doubles rounded to 9 places, timestamps naive) but hashes
Arrow columns instead of Python rows, so a 600k-row result costs a
fraction of a second. A digest is ``(rows, sum of row hashes mod 2**64)``.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

EVENTS_COLUMNS = ["event_id", "user_id", "event_type", "value", "event_date"]
EVENTS_DDL = ("event_id bigint, user_id bigint, event_type string, "
              "value double, event_date date")


def _canon(col: pa.ChunkedArray) -> pd.Series:
    t = col.type
    if pa.types.is_dictionary(t):
        col, t = col.cast(t.value_type), t.value_type
    if pa.types.is_decimal(t):
        col, t = col.cast(pa.float64()), pa.float64()
    if pa.types.is_timestamp(t):
        return pd.Series(col.cast(pa.timestamp("us", tz=t.tz)).cast(
            pa.int64()).to_pandas(types_mapper=pd.ArrowDtype))
    if pa.types.is_date(t):
        return pd.Series(col.cast(pa.date32()).cast(pa.int32()).cast(
            pa.int64()).to_pandas(types_mapper=pd.ArrowDtype))
    if pa.types.is_boolean(t) or pa.types.is_integer(t):
        return pd.Series(col.cast(pa.int64()).to_pandas(
            types_mapper=pd.ArrowDtype))
    if pa.types.is_floating(t):
        v = np.round(col.cast(pa.float64()).to_numpy(zero_copy_only=False), 9)
        return pd.Series(v + 0.0)  # -0.0 and 0.0 hash alike
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pd.Series(col.to_pandas())
    # nested values (lists, structs): their Python text form
    return pd.Series([repr(v) for v in col.to_pylist()])


def digest(tbl: pa.Table) -> tuple[int, int]:
    """Order-insensitive ``(rows, hash)`` of a table's rows."""
    names = sorted(tbl.column_names)
    if tbl.num_rows == 0:
        return 0, 0
    frame = pd.DataFrame({i: _canon(tbl.column(n))
                          for i, n in enumerate(names)})
    rows = pd.util.hash_pandas_object(frame, index=False).to_numpy()
    return tbl.num_rows, int(rows.sum(dtype=np.uint64))


def rounding_ties(got: pa.Table, want: pa.Table) -> int | None:
    """For two results whose digests differ: the number of float cells
    that differ from ``want`` by exactly one unit in the last decimal
    place ``want`` prints with, or None if anything else differs.

    That unit is what ``ROUND(x, k)`` of a double lying on a half unit
    gives: Spark rounds the shortest decimal form half up, DuckDB rounds
    the binary value, so a sum that is exactly 555990.075 in decimal
    reads .08 in one engine and .07 in the other."""
    names = sorted(got.column_names)
    if sorted(want.column_names) != names or got.num_rows != want.num_rows:
        return None
    floats = [n for n in names if pa.types.is_floating(got.schema.field(n).type)
              or pa.types.is_decimal(got.schema.field(n).type)]
    others = [n for n in names if n not in floats]
    g, w = ([pd.DataFrame({n: _canon(t.column(n)) for n in names})
             .sort_values(others + floats, ignore_index=True)
             for t in (got, want)])
    if not g[others].equals(w[others]):
        return None
    ties = 0
    for n in floats:
        a, b = g[n].to_numpy(float), w[n].to_numpy(float)
        for x, y in zip(a, b):
            if x == y or (np.isnan(x) and np.isnan(y)):
                continue
            decimals = len(np.format_float_positional(y, trim="-")
                           .partition(".")[2])
            if abs(x - y) > 1.000001 * 10.0 ** -decimals:
                return None
            ties += 1
    return ties


def spark_digest(df) -> tuple[int, int]:
    return digest(df.toArrow())


def net_changes(con, tbl: pa.Table) -> tuple[int, int]:
    """Digest of a row-level change feed after cancelling delete/insert
    pairs of the same row (a file-granular feed emits unchanged rows of a
    rewritten partition as both)."""
    con.register("feed", tbl)
    cols = ", ".join(EVENTS_COLUMNS)
    out = con.sql(f"""
        (SELECT {cols}, 'delete' AS _change_type FROM feed
           WHERE _change_type = 'delete'
         EXCEPT ALL SELECT {cols}, 'delete' FROM feed
           WHERE _change_type = 'insert')
        UNION ALL
        (SELECT {cols}, 'insert' FROM feed WHERE _change_type = 'insert'
         EXCEPT ALL SELECT {cols}, 'insert' FROM feed
           WHERE _change_type = 'delete')""").arrow()
    con.unregister("feed")
    return digest(out)


class EventsModel:
    """The events table as DuckDB sees it after the same ops. Every op the
    benchmark sends to the engine is applied here too; ``digest()`` is the
    expected head."""

    def __init__(self, rows: pa.Table):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.register("src", rows.select(EVENTS_COLUMNS))
        self.con.execute("CREATE TABLE ev AS SELECT * FROM src")
        self.con.unregister("src")
        self.saved: list[str] = []

    def _with(self, rows: pa.Table, sql: str) -> None:
        self.con.register("src", rows.select(EVENTS_COLUMNS))
        self.con.execute(sql)
        self.con.unregister("src")

    def overwrite_day(self, day, rows: pa.Table) -> None:
        self.con.execute("DELETE FROM ev WHERE event_date = ?", [day])
        self._with(rows, "INSERT INTO ev SELECT * FROM src")

    def delete(self, predicate: str) -> None:
        self.con.execute(f"DELETE FROM ev WHERE {predicate}")

    def update(self, assignments: dict[str, str], predicate: str) -> None:
        sets = ", ".join(f"{c} = {e}" for c, e in assignments.items())
        self.con.execute(f"UPDATE ev SET {sets} WHERE {predicate}")

    def merge(self, rows: pa.Table) -> None:
        """Upsert on ``event_id``: matched rows are replaced whole."""
        self._with(rows, "DELETE FROM ev WHERE event_id IN "
                         "(SELECT event_id FROM src)")
        self._with(rows, "INSERT INTO ev SELECT * FROM src")

    def append(self, rows: pa.Table) -> None:
        self._with(rows, "INSERT INTO ev SELECT * FROM src")

    def rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM ev").fetchone()[0]

    def digest(self, where: str = "TRUE") -> tuple[int, int]:
        return digest(self.con.sql(f"SELECT * FROM ev WHERE {where}").arrow())

    def save(self) -> int:
        """Keep a copy of the current state; returns its index."""
        name = f"state_{len(self.saved)}"
        self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM ev")
        self.saved.append(name)
        return len(self.saved) - 1

    def saved_digest(self, idx: int, where: str = "TRUE") -> tuple[int, int]:
        return digest(self.con.sql(
            f"SELECT * FROM {self.saved[idx]} WHERE {where}").arrow())

    def diff_digest(self, before: int, after: int) -> tuple[int, int]:
        b, a = self.saved[before], self.saved[after]
        return digest(self.con.sql(f"""
            (SELECT *, 'delete' AS _change_type FROM {b}
             EXCEPT ALL SELECT *, 'delete' FROM {a})
            UNION ALL
            (SELECT *, 'insert' FROM {a}
             EXCEPT ALL SELECT *, 'insert' FROM {b})""").arrow())
