"""Self-test: every workload, shrunk (``--tiny``: R-MAT SCALE-10, the
suite at scale factor 0.001 with fewer documents), runs end to end with
tracing off and on; every metric ``BENCHMARK.json`` names is emitted
with its unit, and every correctness check passes.

    python3 -m pytest benchmark/test_benchmark.py -q     # from the repo root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_spec_matches_the_code():
    assert {w["name"] for w in SPEC["workloads"]} <= set(workloads.WORKLOADS)
    assert [m["name"] for m in SPEC["per_layer"]] == workloads.per_layer_names()
    for m in SPEC["per_layer"]:
        assert m["unit"] == workloads.layer_unit(m["name"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_end_to_end(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    for k, v in out["metrics"].items():
        assert isinstance(v["value"], float), k
    if trace and workload.endswith("fixpoint"):
        assert out["metrics"]["operators.components.single_task_calls"]["value"] == 0
    if trace and workload.startswith("suite"):
        assert out["metrics"]["operators.bfs.single_task_calls"]["value"] >= 1
    if trace and workload.endswith("trickle"):
        m = out["metrics"]
        assert m["operators.updates.apply_actions_auto.pruned_batches"]["value"] >= 1
        assert m["operators.updates.apply_actions_auto.rewrite_batches"]["value"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "benchmark",
                    ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
