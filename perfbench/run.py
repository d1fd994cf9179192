#!/usr/bin/env python3
"""Engine benchmark: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

The run generates its inputs from ``--seed``, starts the engine's session
on ``local[<cores>]``, warms up with one cycle, then measures a fixed
number of cycles (``--seconds`` divided by the workload's nominal cycle
time). Every op's output is checked outside its timed region.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` measured cycles alternate untraced and traced; the
last line carries the per-layer metrics of the traced ops, and the gap
between traced and untraced cycle walls is the tracing overhead. The
line before it is the run's context: identity, canaries, the op-time
tail with its percentile and sample count. Spark's own log goes to
``.perfbench_work/logs/<workload>-seed<n>.log`` and a traced run's spans
to ``.perfbench_work/traces/<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench_work")
# Each traced op's layer self times must cover its wall to within this.
LAYER_SUM_TOLERANCE = 0.10


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it: the 11th largest sample. Below 20 samples no
    percentile above the median has ten beyond it, and the maximum is
    reported as p100."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


class Runner:
    """One benchmark run: set-up, warm-up, measured cycles, metrics."""

    def __init__(self, args: argparse.Namespace, workload):
        self.args, self.wl = args, workload
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.ops: list[dict] = []      # one record per measured op
        self.cycles: list[dict] = []   # one record per measured cycle
        self._op_id = 0
        self._prev_pins: set[int] = set()
        self.context: dict = {}        # printed beside the result

    # -- set-up -----------------------------------------------------------
    def setup(self, work: str) -> None:
        from nasdaq_equity_airflow_ecs_pipeline_spark.session import get_spark

        from perfbench.trace import SparkProbe, Tracer

        self.wl.prepare(work, self.args.seed)
        log = os.path.join(WORK, "logs", f"{self.args.workload}-seed{self.args.seed}.log")
        java_opts = (f"-Dlog4j2.configurationFile=file:{BENCH}/log4j2.properties "
                     f"-Dperfbench.log={log} -Djava.io.tmpdir={work}/tmp")
        t0 = time.monotonic()
        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # a chain op runs hundreds of jobs; keep a whole run readable
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "20000",
        })
        self.get_spark_s = time.monotonic() - t0
        sc = self.spark.sparkContext
        self.tracer, self.probe = Tracer(sc), SparkProbe(self.spark)
        sc.setJobGroup("inputs", "benchmark inputs")
        self.wl.start(self.spark)
        t0 = time.monotonic()
        rng = random.Random(f"warmup-{self.args.seed}")
        for ops in self.wl.warmup(rng):
            for op in ops:
                self.run_op(op, measured=False)
            self.wl.end_cycle()
        self.setup_s = self.get_spark_s + (time.monotonic() - t0)

    # -- one op -----------------------------------------------------------
    def run_op(self, op, measured: bool, traced: bool = False) -> dict:
        from perfbench.trace import process_tree, tree_cpu_s

        self._op_id += 1
        oid = self._op_id
        self.tracer.enabled = traced
        self.tracer.begin_op(oid, op.name)
        pids = process_tree()
        cpu0 = tree_cpu_s(pids)
        err, handle = None, None
        t0 = time.monotonic()
        try:
            with self.tracer.span("op"):
                handle = op.run(self.tracer)
        except Exception:  # a failed op is counted, never fatal to the run
            err = traceback.format_exc(limit=3)
        wall = time.monotonic() - t0
        cpu = tree_cpu_s(process_tree()) - cpu0
        self.tracer.enabled = False
        self.spark.sparkContext.setJobGroup("check", "output check")
        rows = 0
        if err is None:
            try:
                err, rows = op.check(handle)
            except Exception:
                err = traceback.format_exc(limit=3)
        self.attempted += 1
        if err is not None:
            self.failed += 1
            self.failures.append(f"{op.name}: {err.strip().splitlines()[-1]}")
            print(f"[perfbench] FAILED {op.name}: {err}", file=sys.stderr)
        rec = {"op": oid, "name": op.name, "wall": wall, "cpu": cpu,
               "rows": rows, "ok": err is None, "traced": traced}
        if traced:
            rec.update(self.layers(oid, wall))
        if measured:
            self.ops.append(rec)
        return rec

    def layers(self, oid: int, wall: float) -> dict:
        """Per-layer numbers of one traced op, read after it finished."""
        from perfbench.trace import plan_rows

        self.probe.drain()
        spans = self.tracer.op_spans(oid)
        selft = self.tracer.self_times(oid)
        group_jobs = {i: self.probe.jobs(s.group) for i, s in spans}
        root_jobs = self.probe.jobs(f"op{oid}")
        all_jobs = set(root_jobs).union(*group_jobs.values())
        tot = self.probe.stage_totals(sorted(all_jobs))
        spans_by = dict(spans)

        def under(i: int, name: str) -> bool:  # span i is, or is inside, `name`
            while i is not None:
                if spans_by[i].name == name:
                    return True
                i = spans_by[i].parent
            return False

        execs = [(set(j) & all_jobs, dot) for j, dot in self.probe.new_executions()]
        rec = {"jobs": len(all_jobs), "stage_totals": tot, "self": {}, "dur": {}}
        for i, s in spans:
            rec["self"][s.name] = rec["self"].get(s.name, 0.0) + selft[i]
            rec["dur"][s.name] = rec["dur"].get(s.name, 0.0) + s.dur
        rec["eager_jobs"] = sum(len(group_jobs[i]) for i, _ in spans if under(i, "queries.build"))
        rec["quality_jobs"] = sum(len(group_jobs[i]) for i, _ in spans
                                  if under(i, "quality.assert_suite"))
        upsert_jobs = set().union(*(group_jobs[i] for i, s in spans
                                    if s.name.startswith("operators.upsert.")))
        rec["upsert_bytes"] = self.probe.stage_totals(sorted(upsert_jobs))["outputBytes"] \
            if upsert_jobs else 0
        rec["upsert_files"] = sum(plan_rows(dot)[1] for j, dot in execs if j & upsert_jobs)
        rec["output_bytes"] = tot["outputBytes"]
        rec["join_rows"] = sum(plan_rows(dot)[0] for j, dot in execs if j)
        pins, pin_bytes = self.probe.persisted()
        rec["pins_mb"] = pin_bytes / 1e6
        rec["leaked"] = len(self._prev_pins & pins)
        self._prev_pins = pins
        layer_sum = sum(v for k, v in rec["self"].items() if k != "op")
        rec["unattributed"] = 1.0 - layer_sum / wall if wall > 0 else 0.0
        return rec

    # -- measured phase ---------------------------------------------------
    def measure(self) -> None:
        rng = random.Random(self.args.seed)
        n = max(1, round(self.args.seconds / self.wl.cycle_s))
        if self.args.trace:
            self.tracer.install()
            n *= 2
        for c in range(n):
            # U T T U ...: traced and untraced cycles balance slow drift
            traced = bool(self.args.trace) and c % 4 in (1, 2)
            if traced:
                self._prev_pins = self.probe.persisted()[0]
            recs = [self.run_op(op, measured=True, traced=traced)
                    for op in self.wl.cycle(rng)]
            cyc = {"wall": sum(r["wall"] for r in recs), "cpu": sum(r["cpu"] for r in recs),
                   "traced": traced, "ops": len(recs)}
            cyc.update(self.wl.end_cycle())
            if traced:
                cyc["write_amp"] = sum(r["output_bytes"] for r in recs) / max(self.wl.input_bytes, 1)
            self.cycles.append(cyc)
        self.tracer.uninstall()

    # -- results ----------------------------------------------------------
    def end_to_end(self) -> dict:
        plain = [r for r in self.ops if not r["traced"]]
        cyc = [c for c in self.cycles if not c["traced"]]
        walls = [r["wall"] for r in plain]
        # context, not a bounded metric: a run has 4 to 18 ops, too few for
        # a percentile with ten samples beyond it, and a maximum moved by a
        # quarter between runs of the same code
        t_val, t_pct = tail(walls)
        self.context["op_tail"] = {"value_s": round(t_val, 4), "percentile": round(t_pct, 2),
                                   "n": len(walls)}
        by_name: dict[str, list[float]] = {}
        for r in plain:
            by_name.setdefault(r["name"], []).append(r["wall"])
        self.context["op_median_s"] = {k: round(statistics.median(v), 4)
                                       for k, v in sorted(by_name.items())}
        self.context["cycles"] = [{"wall_s": round(c["wall"], 3), "cpu_s": round(c["cpu"], 2)}
                                  for c in cyc]
        return {
            "setup_s": (self.setup_s, "s"),
            "wall_s": (statistics.median(c["wall"] for c in cyc), "s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "cpu_s": (statistics.median(c["cpu"] for c in cyc), "s"),
        }

    def per_layer(self) -> dict:
        from perfbench.trace import process_tree, tree_peak_rss_mb

        tr = [r for r in self.ops if r["traced"]]
        n = max(len(tr), 1)

        def mean(f) -> float:
            return sum(f(r) for r in tr) / n

        def st(key: str, scale: float = 1.0) -> float:
            return mean(lambda r: r["stage_totals"][key]) * scale

        def dur(name: str) -> float:
            return mean(lambda r: r["dur"].get(name, 0.0))

        def self_s(name: str) -> float:
            return mean(lambda r: r["self"].get(name, 0.0))

        wall = sum(r["wall"] for r in tr)
        rows = sum(r["rows"] for r in tr)
        skews = [r["stage_totals"]["skew"] for r in tr if r["stage_totals"]["skew"] > 0]
        tcyc = [c for c in self.cycles if c["traced"]]
        ucyc = [c for c in self.cycles if not c["traced"]]
        m = {
            "session.get_spark_s": (self.get_spark_s, "s"),
            "queries.build_s": (dur("queries.build"), "s"),
            "queries.eager_jobs": (mean(lambda r: r["eager_jobs"]), "count"),
            "spark.plan_s": (dur("spark.plan"), "s"),
            "spark.exec_s": (dur("spark.exec"), "s"),
            "spark.jobs": (mean(lambda r: r["jobs"]), "count"),
            "spark.stages": (st("stages"), "count"),
            "spark.tasks": (st("numTasks"), "count"),
            "spark.core_util": (sum(r["stage_totals"]["executorRunTime"] for r in tr) / 1e3
                                / max(wall * self.cores, 1e-9), "ratio"),
            "spark.task_run_s": (st("executorRunTime", 1e-3), "s"),
            "spark.task_cpu_s": (st("executorCpuTime", 1e-9), "s"),
            "spark.gc_s": (st("jvmGcTime", 1e-3), "s"),
            "spark.input_mb": (st("inputBytes", 1e-6), "MB"),
            "spark.shuffle_write_mb": (st("shuffleWriteBytes", 1e-6), "MB"),
            "spark.shuffle_read_mb": (st("shuffleReadBytes", 1e-6), "MB"),
            "spark.spill_mb": (mean(lambda r: r["stage_totals"]["memoryBytesSpilled"]
                                    + r["stage_totals"]["diskBytesSpilled"]) * 1e-6, "MB"),
            "spark.task_skew": (statistics.median(skews) if skews else 0.0, "ratio"),
            "spark.rows_examined_per_result": (sum(r["join_rows"] for r in tr)
                                               / max(rows, 1), "ratio"),
            "pins.resident_mb": (mean(lambda r: r["pins_mb"]), "MB"),
            "pins.leaked_rdds": (mean(lambda r: r["leaked"]), "count"),
            "operators.upsert.upsert_parquet_s": (dur("operators.upsert.upsert_parquet"), "s"),
            "operators.upsert.upsert_parquet_cow_s":
                (dur("operators.upsert.upsert_parquet_cow"), "s"),
            "operators.upsert.bytes_written_mb": (mean(lambda r: r["upsert_bytes"]) * 1e-6, "MB"),
            "operators.upsert.files_written": (mean(lambda r: r["upsert_files"]), "count"),
            "quality.assert_suite_s": (dur("quality.assert_suite"), "s"),
            "quality.jobs": (mean(lambda r: r["quality_jobs"]), "count"),
            "plans.pipeline.self_s": (self_s("plans.pipeline.run_pipeline"), "s"),
        }
        for fn in ("v6", "v7", "v9", "v10", "index", "delta"):
            name = f"plans.corpus.curate_corpus_{fn}"
            m[f"{name}.self_s"] = (self_s(name), "s")
        m["write_amp"] = (statistics.median(c.get("write_amp", 0.0) for c in tcyc)
                          if tcyc else 0.0, "ratio")
        m["space_amp"] = (statistics.median(c.get("space_amp", 0.0) for c in tcyc)
                          if tcyc else 0.0, "ratio")
        # resident size follows the collector's heap sizing and moves by a
        # quarter between identical runs, too much for a bounded metric
        m["peak_rss_mb"] = (tree_peak_rss_mb(process_tree()), "MB")
        m["failed_ratio"] = (self.failed / max(self.attempted, 1), "ratio")
        m["trace.overhead_ratio"] = (
            statistics.median(c["wall"] for c in tcyc) / statistics.median(c["wall"] for c in ucyc)
            - 1.0 if tcyc and ucyc else 0.0, "ratio")
        m["trace.unattributed_ratio"] = (max((r["unattributed"] for r in tr), default=0.0),
                                         "ratio")
        self.context["status_store_misses"] = self.probe.missing_stages
        self.context["layer_sum_within_tolerance"] = (
            m["trace.unattributed_ratio"][0] <= LAYER_SUM_TOLERANCE)
        return m

    def identity(self) -> dict:
        sc = self.spark.sparkContext
        conf = {k: v for k, v in sc.getConf().getAll()
                if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory",
                                 "spark.default.parallelism"))}
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "cores": self.cores, "source": source_id(),
            "spark": self.spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "conf": dict(sorted(conf.items())),
        }

    def canaries(self) -> dict:
        """bench.py's machine-speed canaries, as context for the numbers."""
        t0 = time.monotonic()
        h = hashlib.md5()
        blk = b"x" * (1 << 20)
        for _ in range(64):
            h.update(blk)
        py = time.monotonic() - t0
        self.spark.sparkContext.setJobGroup("canary", "canaries")
        t0 = time.monotonic()
        self.spark.range(50_000_000).selectExpr("sum(id)").collect()
        jvm = time.monotonic() - t0
        out = {"py_md5_64mb_s": round(py, 4), "jvm_range_sum_50m_s": round(jvm, 4)}
        if self.wl.data_dir:
            t0 = time.monotonic()
            self.spark.read.parquet(os.path.join(self.wl.data_dir, "lineitem.parquet")) \
                .write.format("noop").mode("overwrite").save()
            out["io_lineitem_scan_s"] = round(time.monotonic() - t0, 4)
        return out


def stop_session() -> None:
    """End the session's JVM and every process under it, and wait for
    each. The JVM is killed rather than stopped: the run has read all it
    needs, its files are in the run's work directory, and a graceful
    ``spark.stop()`` cost 2-4 s a run."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree, running

    # close this process's links to the JVM first, else they report its
    # end as errors
    sc, gateway = SparkContext._active_spark_context, SparkContext._gateway
    if sc is not None and sc._accumulatorServer is not None:
        sc._accumulatorServer.shutdown()
    if gateway is not None:
        gateway.shutdown()
    started = [p for p in process_tree() if p != os.getpid()]
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.proc.wait()  # the JVM is this process's child: reap it
    deadline = time.monotonic() + 30
    while running(started) and time.monotonic() < deadline:
        time.sleep(0.05)


def source_id() -> dict:
    """The git commit when there is one, and always a hash of the engine's
    sources, so a run from an exported tree still says what it ran."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "nasdaq_equity_airflow_ecs_pipeline_spark")
    for base, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                h.update(os.path.relpath(os.path.join(base, n), ROOT).encode())
                with open(os.path.join(base, n), "rb") as fh:
                    h.update(fh.read())
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=30)
        sha = res.stdout.strip() or None
    return {"git_sha": sha, "tree_sha256": h.hexdigest()[:16]}


def main(argv: list[str]) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    # the engine is built from this checkout's sources, never from elsewhere
    if not os.path.isfile(os.path.join(ROOT, "nasdaq_equity_airflow_ecs_pipeline_spark",
                                       "__init__.py")):
        print(f"[perfbench] no engine sources under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.NAMES:
        print(f"[perfbench] unknown workload {args.workload!r}; one of {workloads.NAMES}",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    for d in ("logs", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # the engine's experiment knobs would make runs incomparable
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    runner = Runner(args, workloads.make(args.workload))
    try:
        runner.setup(work)
        runner.measure()
        metrics = runner.per_layer() if args.trace else runner.end_to_end()
        runner.context.update(identity=runner.identity(), canaries=runner.canaries(),
                              failures=runner.failures[:20])
        if args.trace:
            path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as fh:
                json.dump({"context": runner.context, "spans": runner.tracer.dump(),
                           "ops": runner.ops, "cycles": runner.cycles}, fh)
    finally:
        stop_session()
        runner.wl.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": runner.context}, default=str))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
