"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Checks that the generator is deterministic for a seed and that every
workload, untraced and traced, prints every metric BENCHMARK.json declares,
each with its declared unit, plus a correct verdict. Takes a few minutes:
each run starts its own Spark.
"""

from __future__ import annotations

import filecmp
import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench_work", "smoke")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _generate(tag: str, seed: int):
    out = os.path.join(SCRATCH, tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    data = gen.eventlog_table(seed, out, n_events=20_000, n_resources=2_000)
    lake = gen.events_lake(seed, os.path.join(out, "lake"), n_events=2_000, n_files=4, n_users=30)
    plan = gen.RequestPlan(seed, data, days=28)
    cycles = [plan.cycle() for _ in range(3)]
    return out, data, lake, [(r.cls, r.call, r.args) for c in cycles for r in c]


def test_generator_is_deterministic_for_a_seed():
    a_dir, a, a_lake, a_reqs = _generate("a", 5)
    b_dir, b, b_lake, b_reqs = _generate("b", 5)
    _, c, _, c_reqs = _generate("c", 6)
    assert filecmp.cmp(a.path, b.path, shallow=False)
    assert a.bots == b.bots and a.props == b.props and a_reqs == b_reqs
    names = sorted(os.listdir(a_lake.path))
    assert names == sorted(os.listdir(b_lake.path))
    for n in names:
        pa_, pb = os.path.join(a_lake.path, n), os.path.join(b_lake.path, n)
        assert filecmp.cmp(pa_, pb, shallow=False)
        assert os.stat(pa_).st_mtime == os.stat(pb).st_mtime
    assert not filecmp.cmp(a.path, c.path, shallow=False) and a_reqs != c_reqs
    shutil.rmtree(SCRATCH, ignore_errors=True)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_workload_emits_every_declared_metric(workload, trace):
    spec = _spec()
    declared = {m["name"]: m["unit"] for m in spec["end_to_end" if trace == 0 else "per_layer"]}
    cmd = [*spec["command"], "--workload", workload, "--seed", "3", "--seconds", "2", "--trace", str(trace),
           "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout[-3000:]
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert set(result["metrics"]) == set(declared)
    for name, m in result["metrics"].items():
        assert m["unit"] == declared[name], name
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), name


def test_refuses_to_run_without_the_engine():
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    spec = _spec()
    proc = subprocess.run([*spec["command"], "--workload", spec["workloads"][0]["name"], "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True, text=True,
                          timeout=180, env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
