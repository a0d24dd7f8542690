"""End-to-end runs of ``perfbench/run.py`` as a subprocess: the result
line's shape, the temp root's removal, and the refusal to run outside
a checkout of the repository."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from conftest import BENCH, ROOT

import harness


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


def test_run_prints_metrics_and_removes_its_temp_root():
    tmp = os.path.join(ROOT, ".perfbench_tmp")
    before = set(os.listdir(tmp)) if os.path.isdir(tmp) else set()
    p = _run(ROOT, "--workload", "stream_ingest", "--seed", "5",
             "--seconds", "1", "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(harness.END_TO_END)
    after = set(os.listdir(tmp)) if os.path.isdir(tmp) else set()
    assert after <= before


def test_refuses_a_directory_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "--workload", "serve_hybrid", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=120)
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())
