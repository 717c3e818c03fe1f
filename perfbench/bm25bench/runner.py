"""Run the benchmark entry point in a child process (used by the spread
and report tools; imports nothing but the standard library)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """{"exit", "wall_s", "result" (the parsed last stdout line or None),
    "stderr"} of one `perfbench/run.py` run from the checkout root."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    return {"exit": proc.returncode, "wall_s": time.perf_counter() - t0,
            "result": json.loads(lines[-1]) if lines else None,
            "stderr": proc.stderr}


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)
