"""Wall time and CPU of the two direct search routes, on both sides of the
route crossover.

The direct plan serves a call either in the driver process
(``index_query._local_search``) or as one Spark task per shard, and
``index_query._serve_in_driver`` picks the route from the call's posting
volume. This tool forces each route in turn (it monkeypatches
``_serve_in_driver``, as the route tests do) over a grid of index sizes
and query counts on ``local[4]``:

- index: 1,000, 8,000 and 25,000 fixture conversations (``--convs``),
  built with ``perfbench`` ``build_params(4)``;
- call: 1 query (default strategy), 20 queries (``strategy="blockmax"``)
  and 100 queries (default strategy), the first queries of the
  benchmark's query set; each cell repeats one query set.

Per cell it runs each route's calls in a block (after warm-up calls, so
one route's JVM tail does not land on the other's figures) and records
the median wall time and process-tree CPU (driver, JVM, Python daemon
and workers, read from ``/proc`` with ``tools/search_call_cost.py``'s
helpers) of
``index_search(...).collect()``, the Spark jobs per call, the call's
postings W (Σdf per query occurrence, and over the distinct terms), the
parallelism p the rule uses and the route the rule picks. It also
reports, for each W definition, the interval of ``CROSSOVER_POSTINGS``
values under which the rule's pick is within 10% of the faster route's
wall time in every cell, whether the committed value's picks all are,
and whether the driver route's CPU is at most the Spark route's in
every cell.

Usage: python tools/route_crossover.py [--seed N] [--calls N]
       [--convs 1000,8000,25000] [--out bench_results/route_crossover.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.search_call_cost import _delta  # noqa: E402
from tools.worker_task_cost import _tree  # noqa: E402

CORES = 4
WARMUP = 2
TOLERANCE = 0.10
SHAPES = [(1, {}), (20, {"strategy": "blockmax"}), (100, {})]


def _measure(sc, st, call, tag: str) -> dict:
    sc.setJobGroup(tag, tag)
    procs0 = _tree()
    t0 = time.perf_counter()
    rows = call()
    wall = time.perf_counter() - t0
    procs1 = _tree()
    sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return {
        "wall_ms": wall * 1000.0,
        "cpu_ms": sum(_delta(procs0, procs1).values()),
        "jobs": len(st.getJobIdsForGroup(tag)),
        "rows": len(rows),
    }


def _feasible(cells: list[dict], key: str) -> list:
    """[lo, hi): the CROSSOVER_POSTINGS values for which the rule picks a
    route within TOLERANCE of the faster one in every cell; None for an
    unbounded end, [] when no value works."""
    lo, hi = 0.0, math.inf
    for c in cells:
        x = c[key] * (1.0 - 1.0 / c["p"])  # the rule: driver iff x <= C
        d, s = c["driver"]["wall_ms"], c["spark"]["wall_ms"]
        if s > (1.0 + TOLERANCE) * d:
            lo = max(lo, x)  # must pick the driver
        elif d > (1.0 + TOLERANCE) * s:
            hi = min(hi, x)  # must pick Spark
    if lo >= hi:
        return []
    return [lo, None if math.isinf(hi) else hi]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=20001)
    ap.add_argument("--calls", type=int, default=7)
    ap.add_argument("--convs", default="1000,8000,25000")
    ap.add_argument("--out", default=os.path.join(
        REPO, "bench_results", "route_crossover.json"))
    args = ap.parse_args()
    os.environ.setdefault("SPARKBM25_DRIVER_MEM", "3g")

    from perfbench.bm25bench import inputs
    from perfbench.bm25bench.workloads import K, build_params
    from sparkbm25 import index_query as iq
    from sparkbm25 import jobs
    from sparkbm25.session import get_spark

    spark = get_spark("route_crossover", cores=CORES)
    sc = spark.sparkContext
    st = sc.statusTracker()
    rule = iq._serve_in_driver
    seen: dict = {}

    def forced(route: str):
        def serve(ix, occ, terms, fm):
            stats = ix.term_stats_lookup(terms)
            seen.update(
                W=sum(stats[t] for tw in occ.values() for t, _ in tw
                      if t in stats),
                W_distinct=sum(stats.values()),
                p=min(len(fm), sc.defaultParallelism),
                rule_route="driver" if rule(ix, occ, terms, fm) else "spark",
            )
            return route == "driver"
        return serve

    texts = inputs.queries(100, args.seed)
    cells = []
    try:
        for convs in (int(c) for c in args.convs.split(",")):
            work = tempfile.mkdtemp(prefix="route_crossover_")
            path = os.path.join(work, "corpus.parquet")
            corpus = inputs.transcripts(convs, args.seed)
            inputs.write_parquet(corpus, path)
            ix_dir = os.path.join(work, "ix")
            jobs.build_index(spark.read.parquet(path), ix_dir,
                             build_params(CORES), f"route_crossover-{convs}")
            ix = jobs.Index(spark, ix_dir)
            for n_q, kw in SHAPES:
                if n_q == 1:  # the first query with an indexed term
                    qs = next([(0, t)] for t in texts
                              if iq._query_weights(ix, [(0, t)]))
                else:
                    qs = list(enumerate(texts[:n_q]))
                runs = {"driver": [], "spark": []}
                for route in runs:
                    iq._serve_in_driver = forced(route)
                    try:
                        for i in range(WARMUP + args.calls):
                            m = _measure(
                                sc, st,
                                lambda: iq.index_search(ix, qs, k=K,
                                                        **kw).collect(),
                                f"route_crossover_{convs}_{n_q}_{route}_{i}",
                            )
                            if i >= WARMUP:
                                runs[route].append(m)
                    finally:
                        iq._serve_in_driver = rule
                cell = {"convs": convs, "turns": len(corpus),
                        "queries": n_q,
                        "strategy": kw.get("strategy", "sharded"), **seen}
                for route, ms in runs.items():
                    cell[route] = {
                        key: round(statistics.median(m[key] for m in ms), 1)
                        for key in ("wall_ms", "cpu_ms", "jobs", "rows")
                    }
                walls = {r: cell[r]["wall_ms"] for r in runs}
                best = min(walls.values())
                cell["faster"] = min(walls, key=walls.get)
                cell["rule_within_10pct"] = (
                    walls[cell["rule_route"]] <= (1.0 + TOLERANCE) * best
                )
                cells.append(cell)
                print(json.dumps(cell), flush=True)
            shutil.rmtree(work, ignore_errors=True)
    finally:
        spark.stop()
    out = {
        "tool": "tools/route_crossover.py",
        "master": f"local[{CORES}]",
        "host_cpus": os.cpu_count(),
        "seed": args.seed,
        "calls_per_route": args.calls,
        "k": K,
        "crossover_postings": iq.CROSSOVER_POSTINGS,
        "feasible_crossover": {
            "W": _feasible(cells, "W"),
            "W_distinct": _feasible(cells, "W_distinct"),
        },
        "all_within_10pct": all(c["rule_within_10pct"] for c in cells),
        "driver_cpu_le_spark": all(
            c["driver"]["cpu_ms"] <= c["spark"]["cpu_ms"] for c in cells
        ),
        "cells": cells,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps({k: v for k, v in out.items() if k != "cells"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
