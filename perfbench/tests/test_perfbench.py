"""Tests of the benchmark itself (not of the engine).

Run from the repository root:

    python3 -m pytest perfbench/tests -q

Each Spark-backed case runs ``perfbench/run.py`` as a subprocess at the
tiny input size for one op round (``--seconds 1``), so a case takes
about a minute; results are shared between cases through a module
cache.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = tuple(w["name"] for w in BENCH["workloads"])
EXACT_COUNTS = ("spark.jobs", "timetravel.commits", "operators.pairs_out", "queries.rows_out")
_cache: dict[tuple, tuple] = {}


def _run(*args: str, cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout


def _tiny(workload: str, trace: int, seed: int = 5, rep: int = 0, corrupt: int = 0) -> dict:
    key = (workload, trace, seed, rep, corrupt)
    if key not in _cache:
        code, out = _run(
            "--workload", workload, "--seed", str(seed), "--seconds", "1",
            "--trace", str(trace), "--size", "tiny", "--corrupt", str(corrupt),
        )
        assert code == 0, out
        _cache[key] = json.loads(out.strip().splitlines()[-1])
    return _cache[key]


def _plan(workload: str, seed: int) -> str:
    code, out = _run("--workload", workload, "--seed", str(seed), "--seconds", "1", "--plan-only")
    assert code == 0
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_gives_same_op_sequence(workload):
    assert _plan(workload, 7) == _plan(workload, 7)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seed_draws_the_op_parameters(workload):
    assert _plan(workload, 7) != _plan(workload, 8)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", (0, 1))
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    res = _tiny(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_counts_repeat_exactly_for_a_fixed_seed(workload):
    a, b = _tiny(workload, 1), _tiny(workload, 1, rep=1)
    counts = {k: a["metrics"][k]["value"] for k in EXACT_COUNTS}
    assert counts == {k: b["metrics"][k]["value"] for k in EXACT_COUNTS}
    assert any(counts.values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_result_counts_as_failure(workload):
    res = _tiny(workload, 0, corrupt=1)
    assert res["correct"] is False
    assert res["failed"] >= 1
    assert res["metrics"]["ok_frac"]["value"] < 1.0


def test_refuses_to_run_outside_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out = _run("--workload", "analytics", "--seed", "1", "--seconds", "1", "--trace", "0",
                     cwd=str(tmp_path))
    assert code != 0
    assert out.strip() == ""
