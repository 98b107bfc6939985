"""Smoke test of the benchmark: every workload in BENCHMARK.json runs on a
tiny input, passes its correctness gate, and prints exactly the metric names
and units BENCHMARK.json lists, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs in its own Python process, as the benchmark command does (the
engine's UDFs keep a handle on the JVM that first ran them), and starts its
own Spark session, so the file takes a few minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
TINY_ROWS = 3_000


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", [w["name"] for w in SPEC["workloads"]])
def test_workload_passes_gate_and_emits_listed_metrics(name: str, trace: int) -> None:
    code = (
        "import json, run, workloads; "
        f"print(json.dumps(run.bench(workloads.WORKLOADS[{name!r}], {TINY_ROWS}, 1, 0, {trace})))"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT, HERE]))
    done = subprocess.run(
        [sys.executable, "-c", code], env=env, stdout=subprocess.PIPE, text=True, timeout=600, check=True
    )
    info, result = json.loads(done.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert info["failed_ratio"] == 0
    listed = SPEC["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in listed}
    if trace:
        # only the skewed workload's traced run kills and resumes a checkpoint
        checkpointed = name == "matrix_skewed_sparse"
        for k in ("checkpoint.write_s", "checkpoint.lineage_s", "checkpoint.recompute_ratio"):
            assert (result["metrics"][k]["value"] > 0) == checkpointed, k
