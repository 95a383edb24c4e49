"""The benchmark's own tests: every workload at smoke size, untraced and
traced, with all output checks on, plus the pure helpers.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import round_ms, unit_of  # noqa: E402
from spans import parse_metric  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_is_correct_and_complete(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    assert not list((ROOT / ".perfbench_work").glob(f"{workload}-7-*"))


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    p = _run(tmp_path, "udf_scan", 0)
    assert p.returncode != 0
    assert not p.stdout.strip()


def test_parse_metric():
    assert parse_metric("4") == 4
    assert parse_metric("1,234") == 1234
    assert parse_metric("0 ms") == 0
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.2 s (1 s, 1 s, 1 s (stage 1.0: task 1))") == 2.2
    assert parse_metric("total (min, med, max)\n1.5 MiB (1 B, 1 B, 1 B)") == 1.5 * 2**20


def test_unit_of():
    assert unit_of("session.build_s") == "s"
    assert unit_of("collect.s") == "s"
    assert unit_of("collect.mb") == "MB"
    assert unit_of("factory.create_ms_p50.python") == "ms"
    assert unit_of("trace.overhead_pct") == "%"
    assert unit_of("exec.stages") == "count"


def test_round_ms_takes_each_statements_median():
    class Op:
        def __init__(self, label):
            self.label = label

    class Rec:
        def __init__(self, label, s, error=None):
            self.op, self.latency_s, self.error = Op(label), s, error

    recs = [Rec("a", 1.0), Rec("b", 0.1), Rec("a", 0.2), Rec("b", 0.3), Rec("a", 0.3)]
    assert round_ms(recs) == pytest.approx((0.3 + 0.2) * 1e3)
    assert round_ms([Rec("a", 1.0, error="boom")]) == float("inf")
