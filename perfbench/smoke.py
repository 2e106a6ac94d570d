"""Smoke test of the benchmark at the smallest input size.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced, with every input
table at its minimum size and one pass, and fails unless each run is
correct and prints exactly the metrics ``BENCHMARK.json`` declares,
each with its unit. Takes a few minutes on 4 cores.
"""

from __future__ import annotations

import dataclasses
import json
import subprocess
import sys

import run
import workloads

SMALLEST_SF = 0.0


def check(workload: str, trace: int, declared: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, __file__, "--child", workload, str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    if proc.returncode:
        return [f"{workload} trace={trace}: exit code {proc.returncode}\n{proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    want = declared["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    problems = []
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"result not correct: {result['failed']} of {result['attempted']} failed")
    if set(got) != set(want):
        problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    for name, unit in want.items():
        if name in got and got[name]["unit"] != unit:
            problems.append(f"{name}: unit {got[name]['unit']} != {unit}")
    return [f"{workload} trace={trace}: {p}" for p in problems]


def child(workload: str, trace: str) -> int:
    """One benchmark run with every table at its minimum size."""
    w = workloads.WORKLOADS[workload]
    workloads.WORKLOADS[workload] = dataclasses.replace(w, sf=SMALLEST_SF)
    return run.main(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", trace])


def main() -> int:
    if sys.argv[1:2] == ["--child"]:
        return child(*sys.argv[2:4])
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    declared = {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}
    problems = []
    for name in workloads.WORKLOADS:
        for trace in (0, 1):
            problems += check(name, trace, declared)
    print("\n".join(problems) if problems else "smoke: all workloads correct, every metric emitted")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
