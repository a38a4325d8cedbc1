"""Smoke test of the benchmark itself: every workload, untraced and traced,
on the sf0.001 tables for one short pass.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that each metric BENCHMARK.json names prints with its unit, that no
op fails, and pins the schema of the traced run's per-op layer records.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

sys.path.insert(0, BENCH_DIR)

import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

OP_LAYER_KEYS = set(tracing.JOB_SUMS) | {
    "sources.load_table_calls",
    "sources.load_table_s",
    "sources.load_table_jobs",
    "operators.build_s",
    "operators.build_jobs",
    "operators.plan_s",
    "operators.exec_s",
    "operators.cached_bytes",
    "rows_out",
}
STREAM_KEYS = {
    "streaming.batches",
    "streaming.add_batch_ms",
    "streaming.query_planning_ms",
    "streaming.wal_commit_ms",
    "streaming.state_commit_ms",
    "streaming.state_rows_peak",
    "streaming.state_rows_removed",
    "streaming.state_memory_bytes_peak",
}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    for name, m in result["metrics"].items():
        assert f"{name} {m['value']} {m['unit']}" in lines, name
    sidecar = os.path.join(ROOT, ".perfbench", "results", f"{workload}_seed7_trace{trace}_smoke.json")
    with open(sidecar) as f:
        return result, json.load(f)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload: str, trace: int) -> None:
    result, record = run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert record["host"]["nproc"] >= 1 and record["host"]["inputs"]
    if trace:
        keys = OP_LAYER_KEYS | (STREAM_KEYS if workload == "stream_timeout" else set())
        assert record["op_layers"] and all(set(r) == keys for r in record["op_layers"])
        assert result["metrics"]["operators.jobs"]["value"] > 0
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())
