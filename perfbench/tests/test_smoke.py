"""Harness smoke test: the benchmark command on a few hundred docs at
local[2] prints every metric BENCHMARK.json names, and fails when its
output check fails or the program under test is missing."""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--docs", "300", "--cpus", "2", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _result(proc) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_printed(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = _result(proc)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), m["name"]
    values = {k: v["value"] for k, v in out["metrics"].items()}
    if trace:
        for name in ("extract.task_s", "barrier.task_s", "chain.task_s"):
            assert values[name] > 0, name
        assert values["resume.redo_docs"] == 0
        assert values["html_extract.docs"] > 0 and values["extraction_core.ms_per_doc"] > 0
        has_pdf = workload != "html_statements"
        for layer in ("pdf_codec", "pdf_layout"):
            assert (values[f"{layer}.docs"] > 0) == has_pdf, layer
            assert (values[f"{layer}.ms_per_doc"] > 0) == has_pdf, layer
    else:
        assert all(v > 0 for v in values.values())


def test_corrupted_expected_digest_fails():
    proc = _run(WORKLOADS[0], 0, "--corrupt-expected")
    assert proc.returncode != 0
    assert _result(proc)["correct"] is False


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
