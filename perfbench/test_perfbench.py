"""The benchmark's own tests.

    python3 -m pytest perfbench -q

Most tests need no Spark. ``test_cli_prints_benchmark_metrics`` runs the
real command on one cycle of ``olap_mix`` (about half a minute).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pyarrow as pa

from perfbench import check, gen, run, workloads
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b = gen.make_tables(7, 0.001, 50, 40), gen.make_tables(7, 0.001, 50, 40)
    c = gen.make_tables(8, 0.001, 50, 40)
    assert set(a) == set(gen.TABLES)
    for t in gen.TABLES:
        assert a[t].equals(b[t]), t
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])
    assert gen.etl_dates(7, 4) == gen.etl_dates(7, 4)


def test_same_seed_same_op_order():
    def order(seed: int, name: str) -> list[list[str]]:
        wl, rng = workloads.make(name), random.Random(seed)
        return [[op.name for op in wl.cycle(rng)] for _ in range(3)]

    for name in ("olap_mix", "curation_chain"):
        assert order(3, name) == order(3, name)
    first = order(3, "olap_mix")
    assert sorted(first[0]) == sorted(workloads.OLAP_QUERIES)
    assert first != order(4, "olap_mix")


def test_etl_cycle_is_date_order_then_rerun():
    wl = workloads.make("daily_etl")
    wl.prepare("/nonexistent", 5)
    names = [op.name for op in wl.cycle(random.Random(5))]
    days = [n.split(":")[1] for n in names[:-1]]
    assert days == sorted(days) == wl.dates
    assert names[-1] == f"rerun:{wl.dates[-1]}"


def test_spec_workloads_match_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.NAMES)


def _runner(trace: int) -> run.Runner:
    sc = SimpleNamespace(setJobGroup=lambda *a: None)
    r = run.Runner(SimpleNamespace(workload="olap_mix", seed=1, seconds=1, trace=trace),
                   workloads.make("olap_mix"))
    r.spark = SimpleNamespace(sparkContext=sc)
    r.tracer = Tracer(sc)
    r.probe = SimpleNamespace(missing_stages=0)
    r.context, r.setup_s, r.get_spark_s = {}, 1.0, 0.5
    return r


def test_metric_names_match_spec():
    r = _runner(0)
    for i in range(3):
        r.run_op(workloads.Op(f"q{i}", lambda t: None, lambda h: (None, 1)), measured=True)
    r.cycles = [{"wall": 1.0, "cpu": 2.0, "traced": False, "ops": 3}]
    e2e = r.end_to_end()
    assert list(e2e) == [m["name"] for m in SPEC["end_to_end"]]
    assert {k: u for k, (_, u) in e2e.items()} == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    layers = _runner(1).per_layer()
    assert list(layers) == [m["name"] for m in SPEC["per_layer"]]
    assert {k: u for k, (_, u) in layers.items()} == {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def test_wrong_result_is_counted_as_failed():
    rows = [(1, "a", 0.5), (2, "b", 1.5)]
    expected = check.canonical(["k", "s", "x"], rows)
    assert check.mismatch(expected, ["k", "s", "x"], rows) is None
    assert check.mismatch(expected, ["s", "k", "x"], [("a", 1, 0.5), ("b", 2, 1.5)]) is None
    wrong = [(1, "a", 0.5), (2, "b", 1.5000000000000002)]
    assert "differs" in check.mismatch(expected, ["k", "s", "x"], wrong)
    assert "rows" in check.mismatch(expected, ["k", "s", "x"], rows[:1])

    r = _runner(0)
    oracle = SimpleNamespace(answer=lambda q: expected)
    wl = r.wl
    wl._oracle = oracle

    def table(body):
        return pa.table(dict(zip(["k", "s", "x"], map(list, zip(*body)))))

    good = workloads.Op("q", lambda t: table(rows), wl._checker("q"))
    # the same query again: a verified earlier result must not mask it
    bad = workloads.Op("q", lambda t: table(wrong), wl._checker("q"))

    def boom(tracer):
        raise RuntimeError("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")

    raised = workloads.Op("q_raises", boom, wl._checker("q_raises"))
    for op in (good, good, bad, raised):
        r.run_op(op, measured=True)
    assert (r.attempted, r.failed) == (4, 2)
    assert [o["ok"] for o in r.ops] == [True, True, False, False]
    assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in r.failures[1]


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 41)]
    value, pct = run.tail(xs)
    assert sum(x > value for x in xs) == 10 and pct == 75.0
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_self_times_subtract_children():
    t = Tracer(SimpleNamespace(setJobGroup=lambda *a: None))
    t.enabled = True
    t.begin_op(1, "x")
    with t.span("op"):
        with t.span("a"):
            with t.span("b"):
                pass
    st = t.self_times(1)
    spans = dict(t.op_spans(1))
    assert abs(sum(st.values()) - spans[0].dur) < 1e-9
    assert st[1] == spans[1].dur - spans[2].dur


def test_bare_directory_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "olap_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout


def test_cli_prints_benchmark_metrics():
    res = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "olap_mix", "--seed", "2",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert list(out["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_generated_tables_keep_the_contract_schema():
    t = gen.make_tables(1, 0.001, 20, 20)
    assert t["lineitem"].schema.field("l_shipdate").type == pa.timestamp("us")
    assert t["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    assert t["orders"].schema.field("o_orderkey").type == pa.int64()
