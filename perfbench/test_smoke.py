"""Smoke test: every workload at a tiny size, untraced and traced.

Asserts that every end-to-end and per-layer metric of BENCHMARK.json is
printed with its unit, that no operation failed, and that the report shows
``ops_failed_frac 0.000``. Run with ``python3 -m pytest perfbench/test_smoke.py``.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# each run gets its own process (the engine's JVM starts once per process);
# the workloads' input sizes are shrunk before run.main starts
TINY_RUN = """
import sys
sys.path[:0] = [{here!r}]
import run, workloads
workloads.FrontierDeep.N_DOCS, workloads.FrontierDeep.MULT = 300, 2
workloads.FrontierDeep.DEPTH = 1
q = workloads.CorpusQueries
q.N_DOCS, q.N_VECS = 300, 200
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "-c", TINY_RUN.format(here=HERE), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in expected} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    if trace:
        assert any(line.startswith("per-unit table") for line in lines)
    else:
        assert any("ops_failed_frac 0.000" in line for line in lines)
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in expected)


def test_bare_benchmark_directory_fails(tmp_path):
    """Without the engine next to it the benchmark exits non-zero and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "frontier_deep", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
