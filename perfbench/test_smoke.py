"""Smoke test of the benchmark: every workload runs briefly on tiny inputs
(scale factor 0.001) and emits each metric BENCHMARK.json names, with its
unit, and its detail record names the run's provenance.

Run from the repository root (a few minutes: one short run per workload
and trace mode)::

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_emitted(workload: str, trace: int) -> None:
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    records = sorted(
        glob.glob(os.path.join(ROOT, ".perfbench", "results", f"{workload}-seed7-trace{trace}-*[0-9].json")),
        key=os.path.getmtime,
    )
    detail = json.load(open(records[-1]))["detail"]
    for key in ("seed", "sf", "cores", "git_commit", "spark_version", "python_version",
                "host_before", "host_after"):
        assert key in detail, key
    assert detail["sf"] == 0.001


def test_fails_without_the_engine() -> None:
    """In a directory holding only the benchmark, a run fails fast and
    prints no result."""
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        out = _run(bare, SPEC["workloads"][0]["name"], 0)
        assert out.returncode != 0
        assert out.stdout.strip() == ""
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
