"""Self-tests of the benchmark, on tiny inputs (about half a minute per
Spark run):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, root: str = ROOT, env=None):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=root, capture_output=True, text=True, timeout=600, env=env)
    assert out.returncode == 0, out.stderr[-3000:]
    detail, result = out.stdout.strip().splitlines()[-2:]
    return json.loads(detail), json.loads(result)


def _check_result(result: dict, metrics: list) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in metrics}
    for m in metrics:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_printed_with_unit(workload):
    _, result = _run(workload, 0)
    _check_result(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_phase_tasks_sum_to_run_total():
    detail, result = _run("graft_images", 1)
    _check_result(result, SPEC["per_layer"])
    with open(os.path.join(ROOT, "perfbench", ".work",
                           "trace-graft_images-s3.json")) as f:
        trace = json.load(f)
    tops = [s for s in trace["spans"] if s["parent"] is None]
    totals = trace["totals"]
    assert totals["tasks"] > 0
    assert sum(s["c"]["tasks"] for s in tops) == totals["tasks"]
    assert sum(s["c"]["jobs"] for s in tops) == totals["jobs"]
    assert result["metrics"]["spatial.mosaic.py_run_s"]["value"] > 0


def test_copy_of_tree_runs_its_own_engine(tmp_path):
    """Run from a copy while the original tree is first on PYTHONPATH:
    every engine module, in the driver and in the Python workers, must
    still come from the copy."""
    copy = tmp_path / "tree"
    copy.mkdir()
    for name in ("geojson_vt_rs_spark", "perfbench"):
        shutil.copytree(os.path.join(ROOT, name), copy / name,
                        ignore=shutil.ignore_patterns("__pycache__", ".work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), copy)
    env = dict(os.environ, PYTHONPATH=ROOT)
    detail, result = _run("graft_images", 0, root=str(copy), env=env)
    assert result["correct"] is True
    assert detail["root"] == str(copy)
    assert detail["stray_modules"] == []
    assert all(f.startswith(str(copy) + os.sep)
               for f in detail["worker_engine_files"])


def test_without_engine_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tile_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env=dict(os.environ, PYTHONPATH=""))
    assert out.returncode != 0
    assert "metrics" not in out.stdout
