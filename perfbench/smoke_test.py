"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/smoke_test.py -q

Runs every workload untraced and traced, as the benchmark command runs
them, and asserts that the result line names every metric of
BENCHMARK.json with its unit, that no op or output check failed, and
that a traced run writes its spans.
Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"serve": "0.05", "analytics": "0.001"}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# A program defect these tiny inputs expose: with no user completing the
# funnel, funnel_latency returns no row while its DuckDB oracle returns
# (0, NULL, NULL, NULL, NULL, NULL).
KNOWN_DEFECTS = {"analytics funnel_latency vs oracle: 0 rows"}


def _run(workload: str, trace: int, spans_out: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", TINY[workload], "--spans-out", spans_out]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    marker = "perfbench-diagnostics "
    diag = json.loads(proc.stderr[proc.stderr.rindex(marker) + len(marker) :].splitlines()[0])
    return json.loads(proc.stdout.strip().splitlines()[-1]), diag


@pytest.mark.parametrize("workload", sorted(TINY))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_and_no_failed_op(workload: str, trace: int, tmp_path) -> None:
    spec = _spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    spans_out = str(tmp_path / "spans.jsonl")
    result, diag = _run(workload, trace, spans_out)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    assert result["failed"] == 0, diag["failed_ops"]
    assert result["attempted"] >= 1
    if trace:
        with open(spans_out) as f:
            spans = [json.loads(line) for line in f]
        assert spans and all({"name", "start", "end", "parent", "op"} <= set(s) for s in spans)
        assert any(s["name"].startswith("op.") and s["op"] >= 0 for s in spans)
    else:
        assert not os.path.exists(spans_out)
    failed_checks = set(diag["failed_setup_checks"])
    assert failed_checks <= KNOWN_DEFECTS, failed_checks
    assert result["correct"] is (not failed_checks)
    if failed_checks:
        pytest.xfail(f"known program defect: {sorted(failed_checks)}")


def test_exits_nonzero_without_the_program(tmp_path) -> None:
    """In a directory holding only BENCHMARK.json and perfbench/."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as src, open(tmp_path / "BENCHMARK.json", "w") as dst:
        dst.write(src.read())
    os.mkdir(tmp_path / "perfbench")
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name)) as src, open(tmp_path / "perfbench" / name, "w") as dst:
                dst.write(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
