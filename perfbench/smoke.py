#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload on a tiny corpus for one op, untraced and traced, and
checks that the run exits 0, that its JSON line carries exactly the metrics
BENCHMARK.json names, each with its unit, that the report lines print every
workload metric below with a unit, and that no op failed. Takes a few
minutes; exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# metrics each workload prints on its report lines, by the names the
# README's metric map uses
REPORTED = {
    "build": ("setup_s", "build_turns_per_s", "resume_s", "index_bytes_per_input_byte",
              "failed_op_ratio", "peak_rss_mb"),
    "serve": ("setup_s", "query_p50_s", "query_p90_s", "batch_qps",
              "failed_op_ratio", "peak_rss_mb"),
}


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [*spec["command"], "--workload", workload, "--seed", "1", "--seconds", "0",
           "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    problems = []
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
                        f"extra {sorted(set(got) - set(want))}, "
                        f"units {sorted(k for k in want if k in got and got[k] != want[k])}")
    if result["failed"] != 0 or not result["correct"]:
        problems.append(f"failed ops: {result['failed']} of {result['attempted']}")
    for name in REPORTED[workload]:
        if not any(re.match(rf"perfbench report {re.escape(name)} \S+ \S", ln) for ln in lines):
            problems.append(f"report line {name} missing or without unit")
    if not any(re.match(r"perfbench report failed_op_ratio 0 ", ln) for ln in lines):
        problems.append("failed_op_ratio is not 0")
    if trace and not any(ln.startswith("perfbench report tracing_overhead_s") for ln in lines):
        problems.append("tracing overhead not printed")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = 0
    for workload in REPORTED:
        for trace in (0, 1):
            problems = check(workload, trace, spec)
            print(f"smoke {workload} trace={trace}: {'ok' if not problems else 'FAILED'}", flush=True)
            for p in problems:
                print(f"  {p}")
            failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
