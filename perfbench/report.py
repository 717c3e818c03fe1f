"""Run a workload untraced and then traced on the same seed, and write the
traced run's per-layer numbers with the tracing overhead to
perfbench/results/<workload>.json.

    python3 perfbench/report.py --workload search --seed 9001

Overhead is reported per end-to-end metric as traced minus untraced. The
traced maintain run also compacts and scans for near-duplicates, which
the untraced run does not, so its whole-run wall time is not comparable;
its set-up and request figures are.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from bm25bench.runner import ROOT, benchmark_spec, run_once


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, float]:
    r = run_once(workload, seed, seconds, trace)
    if r["exit"] or r["result"] is None:
        print(r["stderr"][-4000:], file=sys.stderr)
        raise SystemExit(f"trace={trace} run failed with exit {r['exit']}")
    return r["result"], r["wall_s"]


def host() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"cpu": model, "cores": len(os.sched_getaffinity(0)),
            "mem_gb": round(mem_kb / 2**20, 1)}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    args = p.parse_args()
    seconds = benchmark_spec()["run_seconds"]

    plain, plain_wall = run(args.workload, args.seed, seconds, 0)
    traced, traced_wall = run(args.workload, args.seed, seconds, 1)
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"trace-{args.workload}-seed{args.seed}.json")) as f:
        trace = json.load(f)
    e2e_plain = {k: v["value"] for k, v in plain["metrics"].items()}
    e2e_traced = trace["end_to_end"]
    layers = {
        name: {k: round(v, 6) if isinstance(v, float) else v
               for k, v in row.items() if v}
        for name, row in trace["layers"].items()
    }
    out = {
        "workload": args.workload, "seed": args.seed, "seconds": seconds,
        "host": host(),
        "untraced": {"wall_s": plain_wall, "end_to_end": e2e_plain},
        "traced": {"wall_s": traced_wall, "end_to_end": e2e_traced,
                   "attempted": traced["attempted"], "failed": traced["failed"]},
        "overhead": {k: e2e_traced[k] - v for k, v in e2e_plain.items()
                     if k in e2e_traced},
        "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
        "layers": layers,
    }
    path = os.path.join(ROOT, "perfbench", "results", f"{args.workload}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"{'layer':40s} {'calls':>5s} {'wall_s':>8s} {'self_s':>8s} {'core_s':>8s}")
    for name, row in sorted(trace["layers"].items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{name:40s} {row['calls']:5d} {row['wall_s']:8.2f} "
              f"{row['self_s']:8.2f} {row['core_s']:8.2f}")
    for k, v in out["overhead"].items():
        print(f"overhead {k:26s} {v:+.4f}")
    print(f"written to {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
