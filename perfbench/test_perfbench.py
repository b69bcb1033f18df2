"""Benchmark self-test: every workload at tiny size (sf0.001 tables, one
small stack) prints every named metric with its unit and passes its
output checks; two seeds run the queries in two orders and must both
match the goldens, so query fingerprints do not depend on order.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    BENCH = json.load(fh)


def run_tiny(workload: str, seed: int, trace: int) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [*BENCH["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    return json.loads(lines[-1]), lines


# tpch runs the same way but is not a gated workload (see README.md)
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]] + ["tpch"])
def test_workload_prints_every_metric_and_checks_out(workload):
    orders = []
    for seed, trace, section in ((1, 0, "end_to_end"), (2, 1, "per_layer")):
        result, lines = run_tiny(workload, seed, trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in BENCH[section]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        assert all(isinstance(v["value"], float) for v in result["metrics"].values())
        assert any(line.startswith("pass cold") and "host.steal_s=" in line for line in lines)
        orders += [line for line in lines if line.startswith("order:")]
    if workload != "ingest":
        assert orders[0] != orders[1], "both seeds ran the queries in the same order"


def test_refuses_to_run_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith((".py", ".json")):
            (bench / name).write_bytes(open(os.path.join(ROOT, "perfbench", name), "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(BENCH))
    proc = subprocess.run(
        [*BENCH["command"], "--workload", "tpch", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()
