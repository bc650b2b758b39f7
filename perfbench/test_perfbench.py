"""Self-tests of the benchmark. Each run starts Spark on tiny inputs, so
the whole file takes several minutes:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "5", "--seconds", "1",
         *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def result(p: subprocess.CompletedProcess) -> dict:
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_fast_run_emits_every_metric(workload, trace):
    p = bench("--workload", workload, "--trace", str(trace), "--fast")
    assert p.returncode == 0, p.stderr[-3000:]
    out = result(p)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    for line in ("metric wall_s", "run conditions"):
        assert line in p.stdout


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_fails_the_run(workload):
    p = bench("--workload", workload, "--trace", "0", "--fast", "--corrupt")
    assert p.returncode == 1, p.stderr[-3000:]
    out = result(p)
    assert not out["correct"] and out["failed"] >= 1
    assert "FAILED output checks" in p.stdout


def test_without_the_program_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench("--workload", WORKLOADS[0], "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert "correct" not in p.stdout


def test_python_worker_time_parses_ui_metric_strings():
    sys.path.insert(0, str(ROOT))
    from perfbench.trace import _metric_seconds

    total = "total (min, med, max (stageId: taskId))\n"
    assert _metric_seconds(total + "11.1 s (2.6 s, 2.9 s, 2.9 s (stage 0.0: task 2))") == 11.1
    assert _metric_seconds(total + "79 ms (8 ms, 23 ms, 35 ms (stage 0.0: task 1))") == 0.079
    assert _metric_seconds(total + "1.5 m (1 s, 2 s, 3 s (stage 1.0: task 9))") == 90.0

