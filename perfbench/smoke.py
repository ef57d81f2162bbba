"""Smoke self-test of the benchmark on tiny inputs.

    python3 perfbench/smoke.py

Runs every workload with ``--trace 0`` and ``--trace 1`` on ``--size tiny``
and checks that the last stdout line is the result object, that every metric
BENCHMARK.json names for that mode prints with its unit, and that the
correctness checks passed. Takes a few minutes: each run starts a JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def check(result: dict, spec: list[dict]) -> list[str]:
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0 or not result.get("attempted", 0) >= 1:
        problems.append(f"correct={result.get('correct')} attempted={result.get('attempted')} failed={result.get('failed')}")
    metrics = result.get("metrics", {})
    want = {m["name"]: m["unit"] for m in spec}
    if set(metrics) != set(want):
        problems.append(f"metric names differ: missing {sorted(set(want) - set(metrics))}, extra {sorted(set(metrics) - set(want))}")
    for name, unit in want.items():
        m = metrics.get(name, {})
        if m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            problems.append(f"{name}: {m}")
    return problems


def main() -> int:
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = 0
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            cmd = [*bench["command"], "--workload", wl, "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            try:
                problems = check(json.loads(lines[-1]), spec) if p.returncode == 0 else [f"exit {p.returncode}"]
            except (IndexError, json.JSONDecodeError):
                problems = ["no result line"]
            failures += bool(problems)
            print(f"{wl} trace={trace}: {'ok' if not problems else problems}", flush=True)
            if problems:
                print(p.stderr[-3000:], file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
