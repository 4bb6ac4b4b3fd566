"""The benchmark's own checks: it must not report a tautology, and what it
prints must match BENCHMARK.json.

Each planted fault corrupts one output row on its way out of the measured
pipeline; the run must then report failed operations. Runs use the
gated input sizes with ``--seconds 1``. From the repository root (about
ten minutes):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int = 0, fault: str | None = None, cwd: str = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    if fault:
        cmd += ["--fault", fault]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,fault",
    [
        ("kernel", "drop_row"),   # one scheduled row missing
        ("kernel", "alter_vt"),   # one virtual time off by one
        ("kernel", "bloom_fn"),   # a seen URL's Bloom bits cleared: a false negative
        ("crawl", "drop_row"),    # one admitted row missing from crawl_log
        ("crawl", "alter_vt"),
    ],
)
def test_planted_fault_raises_error_rate(workload, fault):
    r = _result(_run(workload, fault=fault))
    assert r["attempted"] >= 1
    assert r["failed"] >= 1 and r["correct"] is False
    # caught by the reference comparison, not by the fault code raising
    record = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed7-trace0-{fault}.json")
    with open(record) as f:
        assert json.load(f)["worker"]["raised"] == 0


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_clean_run_prints_the_contract(workload, trace):
    r = _result(_run(workload, trace=trace))
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in r["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in r["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in r["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("kernel", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
