"""The benchmark's workloads. Each is a closed loop with one client:
an op starts only after the previous op and its output check are done.

A workload's unit of repetition is a cycle: for the query workloads one
pass over their queries in a seed-shuffled order, for ``daily_etl`` one
fresh warehouse filled day by day and then re-run on its last day. A run
measures a fixed number of cycles, so both sides of a comparison do the
same work.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable, Iterator

import pyarrow.parquet as pq

from . import check, gen

@dataclass
class Op:
    """One timed operation. ``run`` is timed; ``check`` runs after it,
    outside the timed region, and returns (error or None, result rows)."""

    name: str
    run: Callable[[object], object]
    check: Callable[[object], tuple[str | None, int]]


class QueryWorkload:
    """Named contract queries over generated tables. Each op builds the
    query's frame and reads its result into Arrow in this process, which
    is what a caller of the query does; the check compares those rows
    with the DuckDB oracle."""

    def __init__(self, name: str, queries: tuple[str, ...], cycle_s: float, warmup_cycles: int,
                 sf: float, n_docs: int, n_vecs: int):
        self.name, self.queries, self.cycle_s = name, queries, cycle_s
        self.warmup_cycles = warmup_cycles
        self._sizes = (sf, n_docs, n_vecs)
        self.input_bytes = 0
        self.data_dir = ""
        self._verified: dict[str, object] = {}  # query -> last result that matched

    def prepare(self, work: str, seed: int) -> None:
        from nasdaq_equity_airflow_ecs_pipeline_spark.queries import ORACLES

        self.data_dir = os.path.join(work, "data")
        self.input_bytes = gen.write_tables(gen.make_tables(seed, *self._sizes), self.data_dir)
        self._oracle = check.Oracle(self.data_dir, ORACLES)
        for q in self.queries:  # before set-up is timed
            self._oracle.answer(q)

    def start(self, spark) -> None:
        from nasdaq_equity_airflow_ecs_pipeline_spark.queries import QUERIES

        self._spark, self._fns = spark, QUERIES

    def cycle(self, rng: random.Random) -> list[Op]:
        order = list(self.queries)
        rng.shuffle(order)
        return [Op(q, self._runner(q), self._checker(q)) for q in order]

    def warmup(self, rng: random.Random) -> Iterator[list[Op]]:
        for _ in range(self.warmup_cycles):
            yield self.cycle(rng)

    def _runner(self, q: str):
        def run(tracer):
            with tracer.span("queries.build"):
                df = self._fns[q](self._spark, self.data_dir)
            if tracer.enabled:
                # the action below reuses this physical plan
                with tracer.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.exec"):
                return df.toArrow()
        return run

    def _checker(self, q: str):
        def chk(table):
            # a result equal to one already verified needs no second compare
            if (seen := self._verified.get(q)) is not None and table.equals(seen):
                return None, table.num_rows
            rows = list(zip(*(c.to_pylist() for c in table.columns)))
            err = check.mismatch(self._oracle.answer(q), table.column_names, rows)
            if err is None:
                self._verified[q] = table
            return err, len(rows)
        return chk

    def end_cycle(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        if hasattr(self, "_oracle"):
            self._oracle.close()


_TABLES = ("fact_stock_daily_price", "dim_stock", "dim_date", "dim_exchange",
           "agg_stock_weekly_metrics", "agg_stock_monthly_metrics",
           "agg_sector_performance")


def _row_counts(warehouse: str) -> dict[str, int]:
    counts = {}
    for t in _TABLES:
        n = 0
        for base, _, names in os.walk(os.path.join(warehouse, t)):
            n += sum(pq.ParquetFile(os.path.join(base, f)).metadata.num_rows
                     for f in names if f.endswith(".parquet"))
        counts[t] = n
    return counts


class DailyEtl:
    """``plans.pipeline.run_pipeline`` over a pre-landed raw feed, one op
    per trading day in date order into a fresh warehouse, then a re-run
    of the last day, which must change no row count."""

    name = "daily_etl"

    def __init__(self, days: int, cycle_s: float):
        self.days, self.cycle_s = days, cycle_s
        self.input_bytes = 0
        self.data_dir = ""  # reads no tables, only the raw feed
        self._n_cycle = 0

    def prepare(self, work: str, seed: int) -> None:
        self._work, self._seed = work, seed
        self._raw = os.path.join(work, "raw")
        self.dates = gen.etl_dates(seed, self.days)

    def start(self, spark) -> None:
        from nasdaq_equity_airflow_ecs_pipeline_spark import config
        from nasdaq_equity_airflow_ecs_pipeline_spark.plans import pipeline

        self._spark, self._pipeline = spark, pipeline
        self._symbols = len(config.SYMBOLS)
        self.input_bytes = gen.write_raw_quotes(spark, self._raw, self.dates, self._seed)

    def cycle(self, rng: random.Random) -> list[Op]:
        self._n_cycle += 1
        self._wh = os.path.join(self._work, f"warehouse{self._n_cycle}")
        ops = [Op(f"day:{d}", self._runner(d), self._day_checker(self.dates[: i + 1]))
               for i, d in enumerate(self.dates)]
        last = self.dates[-1]
        ops.append(Op(f"rerun:{last}", self._runner(last), self._rerun_checker()))
        return ops

    def warmup(self, rng: random.Random) -> Iterator[list[Op]]:
        """One full cycle; after a one-day cycle the measured cycle was
        still 15 % slower while the JIT settled."""
        yield self.cycle(rng)

    def _runner(self, day: str):
        wh = self._wh

        def run(tracer):
            with tracer.span("plans.pipeline.run_pipeline"):
                self._pipeline.run_pipeline(self._spark, wh, day, raw_root=self._raw,
                                            validate=True)
            return wh
        return run

    def _day_checker(self, done: list[str]):
        def chk(wh):
            self._counts = _row_counts(wh)
            want = self._symbols * len(done)
            if self._counts["fact_stock_daily_price"] != want:
                return f"fact rows {self._counts['fact_stock_daily_price']} != {want}", want
            return check.etl_aggregates_mismatch(self._raw, wh, done), want
        return chk

    def _rerun_checker(self):
        def chk(wh):
            before, after = self._counts, _row_counts(wh)
            if after != before:
                return f"re-run changed row counts {before} -> {after}", after["fact_stock_daily_price"]
            return None, after["fact_stock_daily_price"]
        return chk

    def end_cycle(self) -> dict[str, float]:
        """Final warehouse bytes per raw byte; the warehouse is then dropped."""
        size = gen.dir_bytes(self._wh)
        shutil.rmtree(self._wh, ignore_errors=True)
        return {"space_amp": size / self.input_bytes}

    def close(self) -> None:
        pass


OLAP_QUERIES = (
    "q_scan_project_cast", "q_star_join", "q_tpch_q3_shipping_priority",
    "q_tpch_q5_local_supplier", "q_tpch_q6_forecast_revenue",
    "q_tpch_q10_returned_items", "q_tpch_q18_large_orders",
    "q_tpch_q21_waiting_suppliers", "q_group_count", "q_weekly_rollup",
    "q_monthly_rollup", "q_sector_rollup", "q_top_k_per_group", "q_fact_build",
    "q_asof_join", "q_sessionize", "q_tumbling_window", "q_session_window_agg",
)
CHAIN_QUERIES = ("q_corpus_pipeline_v10", "q_corpus_pipeline_delta")


def make(name: str):
    """A fresh workload object by name (state lives in the object).

    ``cycle_s`` turns ``--seconds`` into a fixed cycle count; the warm-up
    cycles let the JIT settle before timing. A chain pass is two ops of
    about 5 s, too few for a median, so the chain measures two passes
    per 10 s."""
    if name == "daily_etl":
        return DailyEtl(days=3, cycle_s=10.0)
    if name == "olap_mix":
        return QueryWorkload(name, OLAP_QUERIES, cycle_s=3.3, warmup_cycles=3,
                             sf=0.005, n_docs=10, n_vecs=10)
    if name == "curation_chain":
        return QueryWorkload(name, CHAIN_QUERIES, cycle_s=5.0, warmup_cycles=1,
                             sf=0.001, n_docs=150, n_vecs=150)
    raise KeyError(name)


NAMES = ("daily_etl", "olap_mix", "curation_chain")
