"""Self-tests of the benchmark: a tiny run of each workload prints every
named metric with its unit, a planted wrong expectation trips the check,
and a checkout without the program fails without printing a result.

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(*extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *extra],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric(workload: str, trace: int) -> None:
    rc, lines = run(
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny",
    )
    out = result(lines)
    assert rc == 0 and out["correct"] and out["failed"] == 0, lines[-2:]
    assert out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    for v in out["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    detail = json.loads(lines[-2].split(" ", 1)[1])
    assert detail["op_error_ratio"] == 0
    assert detail["session"]["conf"]["spark.ui.showConsoleProgress"] == "false"


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_expectation_trips_the_check(workload: str) -> None:
    rc, lines = run(
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", "0", "--scale", "tiny", "--corrupt-expected",
    )
    out = result(lines)
    assert rc != 0 and not out["correct"] and out["failed"] >= 1


def test_without_the_program_it_fails_and_prints_no_result(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = run(
        "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0",
        cwd=str(tmp_path),
    )
    assert rc != 0
    assert not any(line.startswith("{") for line in lines)


def test_generators_are_seeded(tmp_path) -> None:
    import gen

    a = gen.UploadWriter(str(tmp_path / "a"), 5, 4)
    b = gen.UploadWriter(str(tmp_path / "b"), 5, 4)
    assert a.write_drop(30) == b.write_drop(30)
    c = gen.UploadWriter(str(tmp_path / "c"), 6, 4)
    assert c.write_drop(30) != list(a.truth.values())


def test_tail_is_the_highest_percentile_with_ten_beyond() -> None:
    import workloads as W

    assert W.tail([1.0, 2.0, 3.0]) == (3.0, 100)
    xs = [float(i) for i in range(1, 101)]
    v, q = W.tail(xs)
    assert q == 90 and sum(x > v for x in xs) >= 10


def test_mix_figures_take_each_querys_fastest_pass() -> None:
    import workloads as W

    mix = W.AnalyticsMix(None, "unused", 1, {"sf": 0.01})
    names = list(W.MIX)
    flat = [W.Op(f"query:{q}", 1.0 + i) for i, q in enumerate(names)]
    flat += [W.Op(f"query:{q}", 0.5 + i) for i, q in enumerate(names)]
    flat.append(W.Op(f"query:{names[0]}", 0.01, ok=False))  # a failure never counts
    out = mix.summary(flat, timed_s=100.0)
    assert out["per_query_min_s"] == {q: 0.5 + i for i, q in enumerate(names)}
    assert out["_rate"] == len(names) / sum(0.5 + i for i in range(len(names)))
    assert out["_latency"] == pytest.approx(
        math.prod(0.5 + i for i in range(len(names))) ** (1 / len(names))
    )
    assert W.AnalyticsMix.min_ops % W.AnalyticsMix.stop_every == 0
