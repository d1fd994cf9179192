"""Seeded input generation for the benchmark.

Every input a workload reads is made here from the run's seed, so the
same seed gives byte-identical inputs and a different seed gives a
different draw from the same distributions. The table shapes follow the
engine's query contract: a TPC-H-like star schema (``region`` through
``lineitem``), an ``events`` stream, a ``documents`` web corpus and an
``embeddings`` table of unit vectors, one parquet file each, with
timestamps as micros without a time zone.

``daily_etl`` reads no table: its raw quote feed is landed by the
engine's own mock source (``write_raw_quotes``).
"""

from __future__ import annotations

import datetime as dt
import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "old", "new", "hot", "cold"]
_PART_NOUN = ["bolt", "ring", "gear", "plate", "anvil", "widget", "rod", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]  # sums to 1
_EMB_DIM = 64
_EMB_LABELS = 10


def _ts(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    span = (dt.date.fromisoformat(hi) - dt.date.fromisoformat(lo)).days
    return _ts(lo, rng.integers(0, span + 1, n) * 86_400_000_000)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """All contract tables at scale ``sf`` (lineitem has 6M x sf rows),
    with ``n_docs`` documents and ``n_vecs`` embeddings."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    order_keys = rng.integers(0, n_ord, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(order_keys, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(_line_numbers(order_keys), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    gaps = rng.exponential(30 * 86_400e6 / max(n_ev, 1), n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", np.cumsum(gaps).astype(np.int64)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _line_numbers(order_keys: np.ndarray) -> np.ndarray:
    """1, 2, ... within each order, so (l_orderkey, l_linenumber) is a key
    as in TPC-H. The OHLC rollups order each group by (l_shipdate,
    l_orderkey, l_linenumber); a repeated key would make open and close
    depend on which tied row an engine keeps."""
    idx = np.argsort(order_keys, kind="stable")
    starts = np.r_[0, np.flatnonzero(np.diff(order_keys[idx])) + 1]
    first = np.repeat(starts, np.diff(np.r_[starts, len(order_keys)]))
    out = np.empty(len(order_keys), np.int64)
    out[idx] = np.arange(len(order_keys)) - first + 1
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words docs of 10-99 words; every twentieth doc re-posts an
    earlier doc with a `dup` suffix, so the dedup stages have work.
    Lengths, duplicates, languages and sources come in fixed proportions
    (only their placement is drawn), so every seed asks the filters and
    dedup stages for the same amount of work."""
    lengths = 10 + rng.permutation(n) % 90
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(lengths[i]))))
    langs = np.repeat(_LANGS, np.diff(np.round(np.cumsum([0] + _LANG_P) * n).astype(int)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.permutation(langs),
        "source": [f"src{s}" for s in rng.permutation(np.arange(n) % 20)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors drawn around one centre per label; every label has
    the same number of vectors."""
    centres = rng.normal(size=(_EMB_LABELS, _EMB_DIM))
    labels = rng.permutation(np.arange(n) % _EMB_LABELS)
    v = rng.normal(size=(n, _EMB_DIM)) + 0.15 * centres[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write one parquet file per table; returns total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def etl_dates(seed: int, n_days: int) -> list[str]:
    """``n_days`` consecutive trading days (Mon-Fri) from a seed-chosen
    start in 2024, so a cycle crosses week and sometimes month bounds."""
    day = dt.date(2024, 1, 1) + dt.timedelta(days=int(np.random.default_rng(seed).integers(0, 300)))
    out: list[str] = []
    while len(out) < n_days:
        if day.weekday() < 5:
            out.append(day.isoformat())
        day += dt.timedelta(days=1)
    return out


def write_raw_quotes(spark, raw_root: str, dates: list[str], seed: int) -> int:
    """Land one day of mock quotes per date under ``raw_root/date=...``
    with the engine's own mock source and JSONL sink; returns bytes."""
    from pyspark.sql import DataFrame

    from nasdaq_equity_airflow_ecs_pipeline_spark.sources.jsonl import write_quotes_jsonl
    from nasdaq_equity_airflow_ecs_pipeline_spark.sources.mock import generate_mock_quotes

    days = [generate_mock_quotes(spark, d, seed=seed * 1000 + i) for i, d in enumerate(dates)]
    write_quotes_jsonl(functools.reduce(DataFrame.unionByName, days), raw_root)
    return dir_bytes(raw_root)


def dir_bytes(root: str) -> int:
    """Bytes of the data files under ``root``; Spark's ``_SUCCESS``
    markers and ``.crc`` sidecars are not data."""
    return sum(os.path.getsize(os.path.join(base, n))
               for base, _, names in os.walk(root)
               for n in names if not n.startswith(("_", ".")))
