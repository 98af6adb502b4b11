"""Smoke self-test of the benchmark at the tiny input size.

    python3 perfbench/smoke.py

Runs every workload ``run.py`` accepts (those of ``BENCHMARK.json`` and
``dsp_long``) untraced and traced with ``--size tiny --seconds 1`` and
checks that each run prints, as its last line, every metric
``BENCHMARK.json`` names for that mode (end-to-end or per-layer) with its
unit, that every output checked, and that ``ok_ratio`` is 1 (no op
failed). Exits 1 on the first run that does not.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from gen import SIZES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check_run(spec: dict, workload: str, trace: int) -> str | None:
    cmd = [
        sys.executable,
        *spec["command"][1:],
        "--workload", workload,
        "--seed", "1",
        "--seconds", "1",
        "--trace", str(trace),
        "--size", "tiny",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        return f"exit {proc.returncode}: {proc.stderr[-1500:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        return f"result keys {sorted(result)}"
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        return f"metrics differ: missing {missing}, extra {extra}, wrong unit {wrong}"
    if not all(isinstance(m["value"], (int, float)) for m in result["metrics"].values()):
        return "a metric value is not a number"
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        return f"outputs failed: {result['failed']} of {result['attempted']}"
    if not trace and result["metrics"]["ok_ratio"]["value"] != 1.0:
        return f"ok_ratio {result['metrics']['ok_ratio']['value']}"
    return None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in SIZES:
        for trace in (0, 1):
            problem = check_run(spec, workload, trace)
            print(f"{'FAIL' if problem else 'ok':4} {workload} trace={trace}"
                  + (f": {problem}" if problem else ""), flush=True)
            if problem:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
