"""Smoke runs of every benchmark workload at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each test runs the benchmark command from the repository root and
checks the shape of its last output line. The tiny sizes are not
comparable with the benchmark's own figures.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def _run(cwd: str, workload: str, trace: int, size: str = "tiny"):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", size],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_smoke(workload):
    # the traced run executes the untraced flow plus every layer probe
    out = _run(ROOT, workload, trace=1)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stdout[-2000:]
    assert set(result["metrics"]) == set(workloads.PER_LAYER)
    assert result["metrics"]["op.jobs"]["value"] > 0


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(str(tmp_path), "full_pass", trace=0, size="full")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
