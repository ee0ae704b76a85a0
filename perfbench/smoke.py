"""Self-test of the benchmark at a tiny scale (sf0.001).

    python3 perfbench/smoke.py

Runs one workload untraced and traced and asserts that every metric
BENCHMARK.json names is emitted with its unit, that no other metric
is, and that every correctness check passed. Exits non-zero on any
mismatch. Takes a few minutes: each run still starts Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check(result: dict, declared: list[dict], what: str) -> list[str]:
    errors = []
    want = {m["name"]: m["unit"] for m in declared}
    got = result["metrics"]
    if set(got) != set(want):
        errors.append(f"{what}: missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        if name in got and got[name]["unit"] != unit:
            errors.append(f"{what}: {name} has unit {got[name]['unit']}, declared {unit}")
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] > 0):
        errors.append(f"{what}: correct={result['correct']} failed={result['failed']}/{result['attempted']}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workload = spec["workloads"][0]["name"]
    errors = check(run(workload, 0), spec["end_to_end"], "untraced")
    errors += check(run(workload, 1), spec["per_layer"], "traced")
    for e in errors:
        print(e)
    print("smoke: ok" if not errors else f"smoke: {len(errors)} problem(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
