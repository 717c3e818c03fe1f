"""Run a workload once per seed and report each end-to-end metric's median
and run-to-run spread (interquartile range over median, quartiles as
statistics.quantiles(values, n=4) gives them) next to its bound.

    python3 perfbench/spread.py --workload search --seeds 1-10

Each run measures for BENCHMARK.json's run_seconds. Run from the root of
a checkout. Each run's result line and the summary go to
.perfbench_out/spread-<workload>-<first>-<last>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

from bm25bench.runner import ROOT, benchmark_spec, run_once


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10")
    args = p.parse_args()
    spec = benchmark_spec()
    seconds = spec["run_seconds"]
    seeds = seed_range(args.seeds)

    runs = []
    for seed in seeds:
        r = run_once(args.workload, seed, seconds, 0)
        print(f"seed {seed}: exit {r['exit']}, {r['wall_s']:.1f} s", flush=True)
        if r["exit"] or r["result"] is None:
            print(r["stderr"][-3000:], file=sys.stderr)
        del r["stderr"]
        runs.append({"seed": seed, **r})

    summary = {}
    ok = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in ok]
        if len(vals) < 2:
            continue
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        summary[m["name"]] = {"median": med, "spread": (q3 - q1) / med,
                              "bound": m["bound"]}
        print(f"{m['name']:26s} median {med:12.4f}  spread "
              f"{(q3 - q1) / med:.3f}  bound {m['bound']}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spread-{args.workload}-{seeds[0]}-{seeds[-1]}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seconds": seconds,
                   "runs": runs, "summary": summary}, f, indent=1)
    print(f"written to {path}")
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())
