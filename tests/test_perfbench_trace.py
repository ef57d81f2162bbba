"""The benchmark's traced pass calls package functions directly
(``detect_non_append``, ``pending_inputs``, ``sign_documents``,
``explode_shingles``, ``verify_candidates``, ``connected_components``, ...)
and reads ``RunResult.times``; a signature change there would break
``--trace 1`` without failing any other test. This runs it once, on the
tiny input, in a process of its own."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_trace_pass_runs_on_tiny_input():
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", "incremental_append",
        "--seed", "1", "--seconds", "1", "--trace", "1", "--size", "tiny",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] is True and out["failed"] == 0

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(out["metrics"]) == declared
