"""Smoke test of the benchmark at sf0.01: every workload runs briefly, prints
every named metric with its unit and passes its correctness checks, and a
falsified expected result is counted as a failed op.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark session, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
LISTED = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "4", "--trace", str(trace), "--scale", "0.01", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc, proc.stdout.strip().splitlines()


def _result(workload: str, trace: int, *extra: str):
    proc, lines = _run(workload, trace, *extra)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return lines[:-1], json.loads(lines[-1])


def _units(result) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", LISTED + ["ticket_merge"])
def test_end_to_end_metrics_and_checks(workload):
    _, res = _result(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert _units(res) == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", LISTED)
def test_traced_run_writes_layers_and_spans(workload):
    report, res = _result(workload, 1)
    assert res["correct"] and res["failed"] == 0
    assert _units(res) == {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    path = next(line.split(": ", 1)[1] for line in report if line.startswith("# trace: "))
    with open(path) as fh:
        trace = json.load(fh)
    spans = trace["spans"]
    assert spans and all({"name", "start", "end", "parent", "op"} <= set(s) for s in spans)
    ids = {s["id"] for s in spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert trace["self_s_by_layer"]


def test_wrong_expected_result_counts_as_error():
    report, res = _result("snapshot_queries", 0, "--corrupt-expected")
    assert not res["correct"] and res["failed"] >= 1
    rate = next(line for line in report if line.startswith("error_rate = "))
    assert float(rate.split()[2]) > 0


def test_fails_cleanly_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc, lines = _run(LISTED[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not (lines and lines[-1].startswith("{"))
