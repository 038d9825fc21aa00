"""Tests of the benchmark itself.

Run from the repository root: ``python -m pytest perfbench -q -p no:cacheprovider``.
The run tests start Spark (about a minute each).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import gen, oracle, run

BENCHMARK = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_names_match_the_harness():
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert e2e == run.END_TO_END_UNITS
    layers = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert layers == {k: run.layer_unit(k) for k in run.PER_LAYER}
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOAD_NAMES)


def _files(d: Path) -> dict[str, bytes]:
    return {str(p.relative_to(d)): p.read_bytes() for p in sorted(d.rglob("*")) if p.is_file()}


def test_same_seed_same_inputs_and_order(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 5)
    b = gen.generate(str(tmp_path / "b"), 5)
    c = gen.generate(str(tmp_path / "c"), 6)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert a.dup_pairs == b.dup_pairs
    orders = [run.pass_order(5, p, 6) for p in range(8)]
    assert orders == [run.pass_order(5, p, 6) for p in range(8)]
    assert orders != [run.pass_order(6, p, 6) for p in range(8)]


def test_xxhash64_reference_vectors():
    # published XXH64 vectors (seed 0)
    assert oracle.xxhash64(b"", seed=0) == 0xEF46DB3751D8E999 - (1 << 64)
    assert oracle.xxhash64(b"abc", seed=0) == 0x44BC2CF5AD770999


@pytest.fixture
def bench():
    run.prepare()
    b = run.Bench("text_dedup", seed=7, seconds=1, trace=False)
    b.inputs = gen.generate(str(run.WORK / "inputs"), 7)
    b.setup()
    yield b
    b.stop_jvm()
    shutil.rmtree(run.WORK, ignore_errors=True)


def _op(ops, name):
    return next(o for o in ops if o.name == name)


def test_correct_outputs_pass_and_corrupted_expectations_fail(bench):
    ops = bench.make_ops()
    bench.run_pass([_op(ops, "q_e2_minhash_neardup"), _op(ops, "q_graph_pagerank")], 0, check=True)
    assert bench.failed == 0, bench.errors

    bench.ctx.dup_pairs += 1  # pinned row count off by one
    bench.run_pass([_op(ops, "q_e2_minhash_neardup")], 0, check=True)
    assert bench.failed == 1

    lineitem = Path(bench.inputs.sf_dir) / "lineitem.parquet"
    bench.ctx.duck.execute(  # oracle side sees other supplier ids
        "CREATE OR REPLACE VIEW lineitem AS "
        f"SELECT * REPLACE (l_suppkey + 1000 AS l_suppkey) FROM '{lineitem}'"
    )
    bench.run_pass([_op(ops, "q_graph_pagerank")], 0, check=True)
    assert bench.failed == 2
    assert bench.attempted == 4


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_short_run_emits_every_metric_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=run.ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = BENCHMARK["per_layer"] if trace else BENCHMARK["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in run.ROOT.joinpath("perfbench").glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_bytes(f.read_bytes())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "text_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
