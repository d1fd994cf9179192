"""Tracing from outside the engine: spans, Spark's status store, /proc.

Spans are kept in memory (name, start, end, parent, op id) and written
once at the end of a traced run. A span is opened by the benchmark
around a call into a layer, or by a timing wrapper the benchmark
installs on a name a plan module looks up at call time. While a span
is open its jobs run under a job group of their own, so Spark's status
store attributes jobs, stages and tasks to the span that ran them.
"""

from __future__ import annotations

import functools
import importlib
import os
import re
import time
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

_PKG = "nasdaq_equity_airflow_ecs_pipeline_spark"

# (module, attribute, span name): the call sites the traced run wraps.
# plans.pipeline binds its helpers at import, so they are replaced
# there; the corpus chains call each other, and the query builders
# import them, through plans.corpus at call time.
WRAPPED = (
    (f"{_PKG}.plans.pipeline", "upsert_parquet", "operators.upsert.upsert_parquet"),
    (f"{_PKG}.plans.pipeline", "upsert_parquet_cow", "operators.upsert.upsert_parquet_cow"),
    (f"{_PKG}.plans.pipeline", "assert_suite", "quality.assert_suite"),
) + tuple(
    (f"{_PKG}.plans.corpus", fn, f"plans.corpus.{fn}")
    for fn in ("curate_corpus_v6", "curate_corpus_v7", "curate_corpus_v9",
               "curate_corpus_v10", "curate_corpus_index", "curate_corpus_delta")
)


@dataclass
class Span:
    name: str
    op: int
    parent: int | None  # index into Tracer.spans
    start: float
    end: float = 0.0
    group: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. Every op runs under its own job group; with
    ``enabled`` set, each span also gets a group and a record."""

    def __init__(self, sc):
        self._sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = -1
        self._patched: list[tuple[object, str, object]] = []

    def begin_op(self, op_id: int, name: str) -> None:
        self._op = op_id
        self._sc.setJobGroup(f"op{op_id}", name)

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def _open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self._op, parent, 0.0, group=f"op{self._op}.s{idx}"))
        self._stack.append(idx)
        self._sc.setJobGroup(self.spans[idx].group, name)
        self.spans[idx].start = time.monotonic()
        return idx

    def _close(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.monotonic()
        self._stack.pop()
        group = self.spans[self._stack[-1]].group if self._stack else f"op{self._op}"
        self._sc.setJobGroup(group, "")

    def install(self) -> None:
        """Wrap every call site in ``WRAPPED`` with a span."""
        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._patched.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, span_name))

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)
        return timed

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def op_spans(self, op_id: int) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.op == op_id]

    def self_times(self, op_id: int) -> dict[int, float]:
        """Span index -> its duration minus what its child spans cover."""
        spans = self.op_spans(op_id)
        out = {i: s.dur for i, s in spans}
        for _, s in spans:
            if s.parent is not None:
                out[s.parent] -= s.dur
        return out

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class _SpanCtx:
    __slots__ = ("_t", "_name", "_idx")

    def __init__(self, tracer: Tracer, name: str):
        self._t, self._name, self._idx = tracer, name, None

    def __enter__(self) -> "_SpanCtx":
        self._idx = self._t._open(self._name)
        return self

    def __exit__(self, *exc) -> bool:
        self._t._close(self._idx)
        return False


# -- Spark's status store, read through the session's JVM -----------------

_STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
                 "inputBytes", "shuffleWriteBytes", "shuffleReadBytes",
                 "memoryBytesSpilled", "diskBytesSpilled", "outputBytes")
_DOT_NODE = re.compile(r'label="<b>([^<]+)</b><br><br>(.*?)"', re.S)
_ROWS = re.compile(r"number of output rows: ([\d,]+)")
_FILES = re.compile(r"number of written files: ([\d,]+)")


def _ints(seq_text: str) -> list[int]:
    return [int(x) for x in re.findall(r"\d+", seq_text)]


class SparkProbe:
    """Per-job-group totals from the application and SQL status stores."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._core = self._sc._jsc.sc()
        self._store = self._core.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_exec = -1
        self._seen_execs = 0
        self.missing_stages = 0
        self._quantiles = self._sc._gateway.new_array(self._sc._gateway.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._core.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Sums over the completed stages of ``job_ids`` plus the worst
        stage's max/median task run time (``skew``)."""
        stages: set[int] = set()
        for j in job_ids:
            try:
                stages.update(_ints(self._store.job(j).stageIds().mkString(",")))
            except Py4JJavaError:  # evicted past spark.ui.retainedJobs
                self.missing_stages += 1
        tot = {f: 0 for f in _STAGE_FIELDS}
        tot.update(stages=0, skew=0.0)
        for sid in stages:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted past spark.ui.retainedStages
                self.missing_stages += 1
                continue
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            tot["stages"] += 1
            for f in _STAGE_FIELDS:
                tot[f] += getattr(sd, f)()
            if sd.numTasks() >= 2:
                summ = self._store.taskSummary(sid, sd.attemptId(), self._quantiles)
                if summ.isDefined():
                    q = summ.get().executorRunTime()
                    med, top = q.apply(0), q.apply(1)
                    tot["skew"] = max(tot["skew"], top / max(med, 1.0))
        return tot

    def new_executions(self) -> list[tuple[list[int], str]]:
        """(job ids, plan graph with metrics as text) of every SQL
        execution finished since the previous call."""
        n = self._sql.executionsCount()
        start = max(0, self._seen_execs - 5)
        self._seen_execs = n
        out = []
        it = self._sql.executionsList(start, n - start + 5).iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            self._last_exec = eid
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            out.append((_ints(e.jobs().keySet().mkString(",")), dot))
        return out

    def persisted(self) -> tuple[set[int], int]:
        """(ids of persisted RDDs, bytes they hold in memory and on disk)."""
        ids = {int(k) for k in self._sc._jsc.getPersistentRDDs().keySet()}
        size = sum(i.memSize() + i.diskSize() for i in self._core.getRDDStorageInfo())
        return ids, size


def plan_rows(dot: str) -> tuple[int, int]:
    """(output rows of every join node, files written) in a plan graph."""
    join_rows = files = 0
    for name, body in _DOT_NODE.findall(dot):
        name = name.strip()
        if "Join" in name or name == "CartesianProduct":
            m = _ROWS.search(body)
            join_rows += int(m.group(1).replace(",", "")) if m else 0
        m = _FILES.search(body)
        files += int(m.group(1).replace(",", "")) if m else 0
    return join_rows, files


# -- the process tree: this interpreter, its JVM and the Python workers ---

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(d)) is not None:
            kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def running(pids: list[int]) -> list[int]:
    """The processes of ``pids`` that exist and are not zombies."""
    return [p for p in pids if (st := _stat(str(p))) is not None and st[0] != "Z"]


def tree_cpu_s(pids: list[int]) -> float:
    """user+sys CPU seconds of ``pids`` and of their reaped children."""
    total = 0
    for p in pids:
        if (st := _stat(str(p))) is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's resident-set high-water mark."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                kb += next((int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0)
        except (FileNotFoundError, ProcessLookupError):
            continue
    return kb / 1024.0
