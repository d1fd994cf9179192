"""Output checks, run outside every timed region.

Query results are compared with the engine's DuckDB oracle the way the
contract driver compares them: same column names, same row count, and
the same multiset of rows after rendering every value exactly (floats by
``repr``, no rounding). The oracle runs once per query per run; each op's
output is compared with that cached answer.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb

from .gen import TABLES


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def canonical(columns: list[str], rows) -> tuple[tuple[str, ...], list[str]]:
    """Order-insensitive rendering of a result: sorted column names and
    sorted rows, each row's values in sorted-column order."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted("|".join(_norm(r[i]) for i in idx) for r in rows)
    return tuple(sorted(columns)), body


class Oracle:
    """DuckDB views over one generated data directory; answers are cached
    per query name so each query's oracle runs once per run."""

    def __init__(self, data_dir: str, sql: dict[str, str]):
        self._con = duckdb.connect()
        self._con.execute("SET threads TO 2")
        for t in TABLES:
            self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._sql = sql
        self._answers: dict[str, tuple] = {}

    def answer(self, name: str) -> tuple:
        if name not in self._answers:
            rel = self._con.sql(self._sql[name])
            self._answers[name] = canonical(rel.columns, rel.fetchall())
        return self._answers[name]

    def close(self) -> None:
        self._con.close()


def mismatch(expected: tuple, columns: list[str], rows) -> str | None:
    """None when the result equals the oracle's, else a one-line reason."""
    cols, body = canonical(columns, rows)
    if cols != expected[0]:
        return f"columns {list(cols)} != {list(expected[0])}"
    if len(body) != len(expected[1]):
        return f"{len(body)} rows != {len(expected[1])}"
    if body != expected[1]:
        bad = next(i for i, (a, b) in enumerate(zip(body, expected[1])) if a != b)
        return f"row {bad} differs: {body[bad][:120]!r} != {expected[1][bad][:120]!r}"
    return None


# -- daily_etl: the warehouse after a cycle, recomputed from the raw feed --

_RAW_DAILY = """
WITH raw AS (
  SELECT * FROM read_json('{raw}/date=*/*.json', hive_partitioning = true,
    columns = {{symbol: 'VARCHAR', open: 'DOUBLE', price: 'DOUBLE',
               day_high: 'DOUBLE', day_low: 'DOUBLE', volume: 'BIGINT',
               extraction_time: 'VARCHAR', "timestamp": 'BIGINT'}})
  WHERE CAST(date AS VARCHAR) IN ({dates})
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY symbol, date
      ORDER BY extraction_time DESC, "timestamp" DESC) AS rn
  FROM raw
)
SELECT symbol, CAST(date AS DATE) AS d,
  CAST(open AS DECIMAL(18,4)) AS o, CAST(price AS DECIMAL(18,4)) AS c,
  CAST(day_high AS DECIMAL(18,4)) AS h, CAST(day_low AS DECIMAL(18,4)) AS l,
  volume AS v
FROM ranked WHERE rn = 1
"""

_PERIOD_AGG = """
SELECT year(d) AS year, {period}(d) AS {col}, symbol,
  CAST(arg_min(o, d) AS VARCHAR), CAST(arg_max(c, d) AS VARCHAR),
  CAST(max(h) AS VARCHAR), CAST(min(l) AS VARCHAR), CAST(sum(v) AS BIGINT)
FROM daily GROUP BY ALL ORDER BY ALL
"""

_WAREHOUSE_AGG = """
SELECT year, {col}, symbol, CAST({p}_open AS VARCHAR), CAST({p}_close AS VARCHAR),
  CAST({p}_high AS VARCHAR), CAST({p}_low AS VARCHAR), total_volume
FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)
ORDER BY ALL
"""


def etl_aggregates_mismatch(raw_root: str, warehouse: str, dates: list[str]) -> str | None:
    """Compare the warehouse's weekly and monthly OHLCV rollups with a
    DuckDB recomputation over the raw JSONL of ``dates``."""
    con = duckdb.connect()
    try:
        in_dates = ", ".join(f"'{d}'" for d in dates)
        con.execute("CREATE TEMP TABLE daily AS " + _RAW_DAILY.format(raw=raw_root, dates=in_dates))
        for period, col, prefix, table in (
            ("weekofyear", "week", "week", "agg_stock_weekly_metrics"),
            ("month", "month", "month", "agg_stock_monthly_metrics"),
        ):
            want = con.sql(_PERIOD_AGG.format(period=period, col=col)).fetchall()
            got = con.sql(_WAREHOUSE_AGG.format(
                col=col, p=prefix, path=f"{warehouse}/{table}")).fetchall()
            if want != got:
                return f"{table}: {len(got)} rows differ from the raw recomputation ({len(want)} rows)"
        return None
    finally:
        con.close()
