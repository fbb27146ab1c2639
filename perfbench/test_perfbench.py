"""Tests of the benchmark itself.

    python -m pytest perfbench/ -q            # fast checks
    python -m pytest perfbench/ -q -m slow    # tier census (runs Spark)
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _write(workload: str, seed: int, out: Path) -> dict[str, bytes]:
    paths = inputs.write(inputs.tables(workload, seed), str(out))
    return {name: Path(p).read_bytes() for name, p in paths.items()}


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_inputs_are_a_function_of_the_seed(workload, tmp_path):
    a = _write(workload, 7, tmp_path / "a")
    b = _write(workload, 7, tmp_path / "b")
    c = _write(workload, 8, tmp_path / "c")
    assert a == b
    assert a.keys() == c.keys()
    # tables fixed by the schema (region, nation) do not depend on the seed
    assert any(a[name] != c[name] for name in a)
    assert all(a[name] != c[name] for name in a if name not in ("region", "nation"))


def test_metric_names():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == {name: unit for name, (unit, _) in run.PER_LAYER.items()}
    names = [*e2e, *layers, *(w["name"] for w in spec["workloads"])]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_answer_ignores_row_order_but_not_values():
    rows = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    shuffled = rows.iloc[[2, 0, 1]].reset_index(drop=True)
    assert workloads.answer(rows) == workloads.answer(shuffled)
    changed = rows.assign(b=["x", "y", "w"])
    assert workloads.answer(rows) != workloads.answer(changed)
    swapped = pd.DataFrame({"a": [1, 2, 3], "b": [4, 5, 6]})
    assert workloads.answer(swapped) != workloads.answer(swapped[["b", "a"]])


def test_bound_goal_constants_are_distinct():
    w = workloads.bound_goals(inputs.tables("bound_goals", 3), 3)
    goals = [q.goal for q in w.plan(60)[0]]
    assert len(goals) >= 60
    assert len(set(goals)) == len(goals)


def _census(workload: str) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"]
    trace = json.loads((ROOT / ".perfbench_work" / "traces" / f"{workload}-seed5.json").read_text())
    return trace["census"]


@pytest.mark.slow
def test_census_closure_runs_distributed_loops():
    census = _census("closure")
    for key, tiers in census.items():
        assert any(t in tiers for t in ("fixpoint_seminaive", "fixpoint_monotonic", "fixpoint_mixed")), key


@pytest.mark.slow
def test_census_relational_runs_no_recursion_tier():
    census = _census("relational")
    assert census
    assert all(set(tiers) == {"traced"} for tiers in census.values()), census
