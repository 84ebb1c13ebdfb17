"""End-to-end check of the benchmark harness at smoke size.

    python -m pytest perfbench/test_smoke.py -q

Runs ``perfbench/run.py --smoke`` (every workload, tiny inputs, oracle
check) untraced and traced, and checks the printed result.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,section", [("0", "end_to_end"), ("1", "per_layer")])
def test_smoke_reports_every_metric(trace, section):
    out = _run("--smoke", "--trace", trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    for wl in BENCH["workloads"]:
        for metric in BENCH[section]:
            got = out["metrics"][f"{wl['name']}.{metric['name']}"]
            assert got["unit"] == metric["unit"]
    if trace == "0":
        for wl in BENCH["workloads"]:
            assert out["metrics"][f"{wl['name']}.schedule_matches_oracle"]["value"] == 1.0


def test_refuses_tree_without_package(tmp_path):
    """Copied alone, the benchmark has nothing to measure and must fail."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "wide_frontier",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
