"""Smoke test of the benchmark itself: every workload at sf0.001, minimal
length, untraced and traced.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that each run is correct, that the metric names and units it prints
match ``BENCHMARK.json``, and that the span file holds every per-layer
metric of the layers the workload exercises.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

# every workload run.py offers; BENCHMARK.json lists the ones the benchmark
# is judged on
WORKLOADS = ("mart", "corpus", "ingest")
READ_LAYERS = ("session", "catalog", "queries", "plan", "exec", "operators", "arrow",
               "host", "trace")
LAYERS = {
    "mart": READ_LAYERS,
    "corpus": READ_LAYERS,
    "ingest": READ_LAYERS + ("streaming", "table_format"),
}


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "0",
         "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_prints_end_to_end_metrics(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_layer_metrics(workload):
    res = _run(workload, 1)
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    with open(os.path.join(ROOT, ".perfbench-out", f"trace-{workload}.json")) as f:
        trace = json.load(f)
    layers = LAYERS[workload]
    expected = {n for n in want if n.split(".")[0] in layers}
    assert expected <= set(trace["per_layer"])
    assert trace["spans"] and all(
        {"name", "start", "end", "parent", "run", "self_s"} <= set(s) for s in trace["spans"]
    )
    if workload == "mart":
        assert not any(k.startswith("table_format.") for k in trace["per_layer"])
        assert all(v == 0 for k, v in trace["per_layer"].items() if k.startswith("arrow."))
    if workload == "corpus":
        assert trace["per_layer"]["plan.python_nodes"] > 0
    if workload == "ingest":
        assert trace["per_layer"]["streaming.batches"] > 0
    assert trace["per_layer"]["trace.overhead_ratio"] > 0
