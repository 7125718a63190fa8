"""Smoke tests of the benchmark at a tiny input scale.

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and once traced (its minimum of passes,
on inputs a tenth of the benchmark's size). The tests check that every
metric named in BENCHMARK.json is emitted with its unit, that span self
times are non-negative and add up to each op's latency, and that the
output checks catch a wrong result.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench import run as bench  # noqa: E402
from perfbench.trace import NullTracer, count_exchanges  # noqa: E402
from perfbench.workloads import WORKLOADS, RegistryWorkload  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
SEED = 3
SCALE = 0.1


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


def run_bench(work: str, workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", str(SEED), "--seconds", "0", "--trace", str(trace),
            "--scale", str(SCALE), "--work", work,
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted_with_its_unit(work, workload, trace):
    out = run_bench(work, workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 2
    expected = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in expected}
    for m in expected:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        for m in expected:
            assert out["metrics"][m["name"]]["value"] > 0, m["name"]
        return
    with open(os.path.join(work, "trace", f"{workload}-seed{SEED}.json")) as fh:
        spans = json.load(fh)["spans"]
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["self_s"] >= -1e-9, s
    ops = [s for s in spans if s["name"] == "op"]
    assert ops
    for op in ops:
        covered = op["self_s"]
        todo = [op["id"]]
        while todo:
            sid = todo.pop()
            kids = [s for s in spans if s["parent"] == sid]
            covered += sum(k["self_s"] for k in kids)
            todo += [k["id"] for k in kids]
        assert covered == pytest.approx(op["end"] - op["start"], abs=1e-6)
        assert by_id[op["parent"]]["name"] == "pass"


def test_exchange_count_reads_the_final_plan():
    plan = (
        "== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- == Final Plan ==\n"
        "   ResultQueryStage (5)\n   +- * HashAggregate (4)\n"
        "      +- ShuffleQueryStage (3)\n         +- Exchange (2)\n"
        "            :- BroadcastExchange (6)\n            +- ReusedExchange (7)\n"
        "+- == Initial Plan ==\n   HashAggregate (8)\n   +- Exchange (2)\n\n"
        "(2) Exchange\nInput [1]: [k#1]\n"
    )
    assert count_exchanges(plan) == 2


@pytest.fixture(scope="module")
def env(work):
    env, _ = bench.setup(work, 2, NullTracer())
    yield env
    env.spark.stop()


def test_registry_check_catches_a_dropped_row(work, env):
    wl = RegistryWorkload("check", ["op-ext-tpch-q1"], gen.analytics_tables, sf=0.01)
    inputs = wl.generate(os.path.join(work, "data"), SEED, 1.0)
    out_root = os.path.join(work, "out", "check")
    wl.run_op(env, inputs, "op-ext-tpch-q1", out_root, NullTracer())
    assert wl.check(env, inputs, out_root, 1, lambda m: None)[0] == 0
    env.results["op-ext-tpch-q1"] = env.results["op-ext-tpch-q1"].slice(1)
    assert wl.check(env, inputs, out_root, 1, lambda m: None)[0] == 1


def test_etl_check_catches_a_dropped_dq_row(work, env):
    wl = WORKLOADS["warehouse-etl"]
    inputs = wl.generate(os.path.join(work, "data"), SEED, 0.05)
    out_root = os.path.join(work, "out", "etl-check")
    for op, _, _ in wl.LOADS:
        wl.run_op(env, inputs, op, out_root, NullTracer())
    bad, counts = wl.check(env, inputs, out_root, 1, lambda m: None)
    assert bad == 0
    assert counts["dq_rows"] == inputs["meta"]["days"][1]["dq_rows"]
    dq_dir = os.path.join(out_root, "day1", "dq")
    table = pq.read_table(dq_dir)
    for f in os.listdir(dq_dir):
        os.remove(os.path.join(dq_dir, f))
    pq.write_table(table.slice(1), os.path.join(dq_dir, "part-0.parquet"))
    assert wl.check(env, inputs, out_root, 1, lambda m: None)[0] == 1
