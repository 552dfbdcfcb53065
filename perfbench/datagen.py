"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the query operators read (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the row counts, column types and value ranges of the sf0.1 test data.
The same seed writes byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "ns")
EVENT_DAYS = 30


def _dates(rng, n, start, days, unit="us"):
    base = np.datetime64(start, unit)
    return base + rng.integers(0, days, n).astype(f"timedelta64[D]").astype(
        f"timedelta64[{unit}]")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng, n: int, first_id: int = 0,
                 start=EVENTS_START, days: int = EVENT_DAYS) -> pa.Table:
    span = np.int64(days) * 86_400_000_000_000
    ts = np.sort(start + rng.integers(0, span, n).astype("timedelta64[ns]"))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(8, 100, n)
    texts = [" ".join(_pick(rng, WORDS, k)) for k in lengths]
    # ~1% exact copies and ~1% one-word edits so the dedup families match
    for i in rng.choice(n, n // 50, replace=False):
        src = texts[int(rng.integers(0, n))]
        if i % 2:
            texts[i] = src
        else:
            words = src.split()
            words[int(rng.integers(0, len(words)))] = str(
                _pick(rng, WORDS, 1)[0])
            texts[i] = " ".join(words)
    langs = _pick(rng, ["en"] * 4 + ["zh", "es", "fr", "de"] * 2, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, np.int64))  # noqa: E731
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    part_keys = np.arange(n_part)
    return {
        "region": pa.table({
            "r_regionkey": i32(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5)}),
        "customer": pa.table({
            "c_custkey": i64(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(_pick(rng, [
                "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                "MACHINERY"], n_cust), pa.string())}),
        "supplier": pa.table({
            "s_suppkey": i64(range(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": i64(part_keys),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                _pick(rng, adjs, n_part), _pick(rng, nouns, n_part))],
                pa.string()),
            "p_brand": pa.array([f"Brand#{k}" for k in
                                 rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(_pick(rng, [
                "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                n_part), pa.string()),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (part_keys % 1000) / 10.0, 2)}),
        "orders": pa.table({
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord),
                                      pa.string()),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(_dates(rng, n_ord, "1995-01-01", 2405),
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(_pick(rng, [
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_ord), pa.string())}),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line),
                                     pa.string()),
            "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_line),
                                     pa.string()),
            "l_shipdate": pa.array(_dates(rng, n_line, "1995-01-02", 2499),
                                   pa.timestamp("us"))}),
        "events": events_table(rng, int(1_000_000 * sf)),
        "documents": _documents(rng, int(50_000 * sf)),
        "embeddings": _embeddings(rng, int(20_000 * sf)),
    }


def write_tables(out_dir: str, seed: int, sf: float = 0.1,
                 names: list[str] | None = None) -> str:
    """Write the seeded tables as ``<out_dir>/<name>.parquet``; returns
    ``out_dir`` (the ``sf_dir`` the query operators take)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        if names is None or name in names:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
