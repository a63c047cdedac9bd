"""Smoke test of the benchmark at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs perfbench/run.py once per workload and mode (about two minutes in
all) and checks that the result line carries every metric BENCHMARK.json
names, that every run passed the oracle check, and that each metric is
non-zero on the workloads it applies to.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# per-layer metrics that are zero on a workload, because it does not
# exercise the layer or because the count is zero by design
ZERO_OK = {
    "short_convs": {"shuffle.fetch_wait_s", "render.trimmed_docs", "spill.mb",
                    "tasks.failed", "trace.overhead_turns_per_s"},
    "long_convs": {"shuffle.fetch_wait_s", "spill.mb", "tasks.failed",
                   "trace.overhead_turns_per_s",
                   "stream.batches", "stream.turns_per_s", "stream.microbatch_s_p50",
                   "stream.add_batch_s", "stream.state_rows", "stream.state_mb"},
}


def run_bench(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted(workload, trace):
    res = run_bench(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if m["name"] not in ZERO_OK[workload] or not trace:
            assert got["value"] != 0, (workload, m["name"])
