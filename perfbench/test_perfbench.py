"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke runs start Spark and take about two minutes together.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import stats, workloads
from perfbench.tracing import Tracer, self_times

ROOT = Path(__file__).resolve().parent.parent
NAMES = [f"q{i}_x" for i in range(1, 23)]


def test_same_seed_same_operations():
    assert workloads.tpch_ops(NAMES, 7, 30) == workloads.tpch_ops(NAMES, 7, 30)
    assert workloads.lambda_events(7, 30) == workloads.lambda_events(7, 30)


def test_other_seed_other_operations():
    assert workloads.tpch_ops(NAMES, 7, 30) != workloads.tpch_ops(NAMES, 8, 30)
    assert workloads.lambda_events(7, 30) != workloads.lambda_events(8, 30)


def test_tpch_passes_are_whole_permutations():
    ops = workloads.tpch_ops(NAMES, 3, 2 * workloads.TPCH_PASS_S)
    assert len(ops) == 44
    assert sorted(ops[:22]) == sorted(NAMES) == sorted(ops[22:])
    assert ops[:22] != ops[22:]


def test_lambda_events_cover_the_range_stratified():
    days = workloads.lambda_events(5, 30)
    assert len(days) == 24
    assert all(workloads.DAYS_LO <= d <= workloads.DAYS_HI for d in days)
    # one draw near the middle of each 24th of the log range
    n, ratio, band = len(days), workloads.DAYS_HI / workloads.DAYS_LO, \
        workloads.JITTER / 2
    for i, d in enumerate(sorted(days)):
        lo, hi = (round(workloads.DAYS_LO * ratio ** ((i + 0.5 + b) / n))
                  for b in (-band, band))
        assert lo <= d <= hi
    assert len(workloads.lambda_events(5, 0)) == workloads.MIN_EVENTS


@pytest.mark.parametrize("n, pct, beyond", [
    (100, 90, 10), (40, 75, 10), (24, 58, 10), (22, 54, 10), (20, 50, 10),
    (5, 50, 2)])
def test_tail_percentile(n, pct, beyond):
    values = [float(v) for v in range(n, 0, -1)]  # unsorted on purpose
    got_pct, value, got_beyond = stats.tail(values)
    assert (got_pct, got_beyond) == (pct, beyond)
    assert value == math.ceil(pct / 100 * n)
    assert sum(v > value for v in values) == beyond


def test_self_time_of_nested_spans():
    spans = [
        {"name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"name": "a.x", "parent": 1, "start": 2.0, "end": 3.0},
        {"name": "b", "parent": 0, "start": 3.0, "end": 6.0},  # overlaps a
        {"name": "c", "parent": 0, "start": 9.0, "end": 12.0},  # overruns op
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 1.0, 3.0, 3.0])


def test_tracer_records_parents_and_ops():
    tracer = Tracer()
    tracer.op = 3
    with tracer.span("op"):
        with tracer.span("operators.build", build=True):
            pass
        with tracer.span("exec.collect"):
            pass
    assert [(s["name"], s["parent"], s["op"]) for s in tracer.spans] == [
        ("op", None, 3), ("operators.build", 0, 3), ("exec.collect", 0, 3)]
    walls = [s["end"] - s["start"] for s in tracer.spans]
    assert self_times(tracer.spans)[0] == pytest.approx(
        walls[0] - walls[1] - walls[2])


def test_expected_results_cover_every_operation():
    expected = json.loads((ROOT / "perfbench" / "expected.json").read_text())
    assert len(workloads.tpch_names(expected["tpch"])) == len(
        expected["tpch"])
    assert set(expected["lambda_std"]) == {
        str(d) for d in range(workloads.DAYS_LO, workloads.DAYS_HI + 1)}
    for t in workloads.TPCH_TABLES:
        assert (Path(workloads.SF_DIR) / f"{t}.parquet").is_file()


def _bench(workload: str, seconds: int, cwd: Path = ROOT, trace: int = 0):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload, trace", [("lambda_pipeline", 0),
                                             ("lambda_pipeline", 1),
                                             ("tpch", 1)])
def test_smoke_run(workload, trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    proc = _bench(workload, 1, trace=trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted}
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values())
        return
    reached = next(json.loads(line) for line in proc.stderr.splitlines()
                   if line.startswith('{"workload"'))["layers"]
    for layer, probe in [("operators", "operators.build_s"),
                         ("exec", "exec.exec_s"), ("io", "io.write_s"),
                         ("streaming", "streaming.discover_s"),
                         ("synthetic", "synthetic.compute_s")]:
        assert (values[probe] > 0) == (layer in reached), probe
        if layer not in reached:
            assert all(v == 0 for k, v in values.items()
                       if k.startswith(layer + ".")), layer
    assert values["streaming.undelivered"] == 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = _bench("tpch", 1, cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout == ""
