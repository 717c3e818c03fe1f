"""CPU per ``index_search`` call, split by process and by JVM thread group.

Builds the benchmark's clean ``search`` index (1,000 fixture
conversations, ~11k turns, ``perfbench`` ``build_params(4)`` on
``local[4]``) and times three call shapes, 10 measured calls each:

- ``point``: one query;
- ``blockmax``: 20 queries, ``strategy="blockmax"``;
- ``batch``: the 100-query set, default strategy.

``index_query._serve_in_driver`` picks each call's route from its
posting volume: on the default index all three shapes are below the
route crossover and run in the driver process (0 Spark jobs); a call
above it runs one Spark job with one task per shard
(``tools/route_crossover.py`` measures both routes).

A call is ``index_search(...).collect()``. Around each call it reads
``/proc`` for utime + stime of the driver (this process), the JVM and the
Python daemon and workers, and of every JVM thread, grouped by thread
name: the JIT compiler threads (``C1/C2 CompilerThread``), the executor
task threads (``Executor task launch worker``) and the rest (scheduler,
GC, netty, ...). Threads and workers that exit during a call drop their
CPU from the figures. It also counts the Spark jobs and the tasks they
ran (a skipped stage runs none) per call. One JSON line per call, then
one summary line of medians per shape.

Before the first measured call it runs warm-up calls of every shape and
then waits until the JVM's JIT compiler threads have been idle for
``SETTLE_QUIET_S`` (at most ``SETTLE_MAX_S``): compilation left over
from the index build would otherwise be charged to the first shape
measured.

``--num-shards`` and ``--num-term-buckets`` change the index shape
(default: ``build_params(4)``, 4 shards x 8 term buckets); more of
either means more, smaller parquet files per search call.

Usage: python tools/search_call_cost.py [--seed N] [--calls N]
       [--num-shards N] [--num-term-buckets N]
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.bm25bench.procfs import _CLK_TCK  # noqa: E402
from tools.worker_task_cost import _tree  # noqa: E402

CORES = 4
CONVS = 1000
N_QUERIES = 100
BLOCKMAX_SIZE = 20
WARMUP = 3
SETTLE_POLL_S = 0.25
SETTLE_QUIET_S = 1.0
SETTLE_MAX_S = 30.0


def _thread_group(comm: str) -> str:
    if "CompilerThre" in comm:
        return "jit"
    if comm.startswith("Executor task"):
        return "task"
    return "other"


def _jvm_threads(pid: int) -> dict[tuple[int, str], tuple[str, float]]:
    """{(tid, start time): (thread group, utime + stime in s)}."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:  # the thread exited between listing and reading
            continue
        # comm may contain spaces: split after the LAST ')' (stat(5))
        f = raw[raw.rindex(")") + 2:].split()
        out[(int(tid), f[19])] = (
            _thread_group(comm), (int(f[11]) + int(f[12])) / _CLK_TCK
        )
    return out


def _delta(before: dict, after: dict) -> dict[str, float]:
    """CPU ms per role/group between two snapshots of live entities."""
    out: dict[str, float] = {}
    for key, (group, cpu) in after.items():
        ms = (cpu - before.get(key, (group, 0.0))[1]) * 1000.0
        out[group] = out.get(group, 0.0) + ms
    return out


def _snapshot(jvm_pid: int):
    return _tree(), _jvm_threads(jvm_pid)


def _jit_cpu_s(jvm_pid: int) -> float:
    return sum(cpu for group, cpu in _jvm_threads(jvm_pid).values()
               if group == "jit")


def _settle(jvm_pid: int) -> float:
    """Wait until the JIT compiler threads' CPU stops rising for
    SETTLE_QUIET_S (or SETTLE_MAX_S passes); returns the seconds waited."""
    t0 = last_change = time.monotonic()
    last = _jit_cpu_s(jvm_pid)
    while time.monotonic() - t0 < SETTLE_MAX_S:
        time.sleep(SETTLE_POLL_S)
        now, cpu = time.monotonic(), _jit_cpu_s(jvm_pid)
        if cpu != last:
            last, last_change = cpu, now
        elif now - last_change >= SETTLE_QUIET_S:
            break
    return time.monotonic() - t0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=20001)
    ap.add_argument("--calls", type=int, default=10)
    ap.add_argument("--num-shards", type=int, default=None)
    ap.add_argument("--num-term-buckets", type=int, default=None)
    args = ap.parse_args()
    os.environ.setdefault("SPARKBM25_DRIVER_MEM", "3g")

    from perfbench.bm25bench import inputs
    from perfbench.bm25bench.workloads import K, build_params
    from sparkbm25 import jobs
    from sparkbm25.index_query import index_search
    from sparkbm25.session import get_spark

    spark = get_spark("search_call_cost", cores=CORES)
    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="search_call_cost_")
    path = os.path.join(work, "corpus.parquet")
    inputs.write_parquet(inputs.transcripts(CONVS, args.seed), path)
    ix_dir = os.path.join(work, "ix")
    params = build_params(CORES)
    params = dataclasses.replace(
        params,
        num_shards=args.num_shards or params.num_shards,
        num_term_buckets=args.num_term_buckets or params.num_term_buckets,
    )
    jobs.build_index(spark.read.parquet(path), ix_dir, params,
                     f"search_call_cost-{args.seed}")
    ix = jobs.Index(spark, ix_dir)
    texts = inputs.queries(N_QUERIES, args.seed)
    everything = list(enumerate(texts))
    shapes = [
        ("point", [[(0, t)] for t in texts], {}),
        ("blockmax",
         [everything[i:i + BLOCKMAX_SIZE]
          for i in range(0, N_QUERIES, BLOCKMAX_SIZE)],
         {"strategy": "blockmax"}),
        ("batch", [everything], {}),
    ]
    jvm_pid = next(pid for (pid, _), (role, _) in _tree().items()
                   if role == "jvm")
    st = sc.statusTracker()
    summary = {"cores": CORES, "convs": CONVS, "seed": args.seed,
               "calls": args.calls, "num_shards": params.num_shards,
               "num_term_buckets": params.num_term_buckets}

    def call(query_sets, kw, i):
        return index_search(ix, query_sets[i % len(query_sets)], k=K,
                            **kw).collect()

    for _name, query_sets, kw in shapes:
        for i in range(WARMUP):
            call(query_sets, kw, i)
    summary["settle_s"] = round(_settle(jvm_pid), 2)
    for name, query_sets, kw in shapes:
        lines = []
        for i in range(args.calls):
            group = f"search_call_cost_{name}_{i}"
            sc.setJobGroup(group, group)
            procs0, threads0 = _snapshot(jvm_pid)
            t0 = time.perf_counter()
            rows = call(query_sets, kw, WARMUP + i)
            wall = time.perf_counter() - t0
            procs1, threads1 = _snapshot(jvm_pid)
            sc._jsc.clearJobGroup()
            by_role = _delta(procs0, procs1)
            by_thread = _delta(threads0, threads1)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            job_ids = st.getJobIdsForGroup(group)
            line = {
                "shape": name, "call": i, "rows": len(rows),
                "wall_ms": wall * 1000.0,
                "driver_cpu_ms": by_role.get("driver", 0.0),
                "jvm_cpu_ms": by_role.get("jvm", 0.0),
                "jvm_jit_cpu_ms": by_thread.get("jit", 0.0),
                "jvm_task_cpu_ms": by_thread.get("task", 0.0),
                "jvm_other_cpu_ms": by_thread.get("other", 0.0),
                "python_worker_cpu_ms": (by_role.get("daemon", 0.0)
                                         + by_role.get("worker", 0.0)),
                "spark_jobs": len(job_ids),
                "spark_tasks": sum(
                    st.getStageInfo(s).numCompletedTasks
                    for j in job_ids for s in st.getJobInfo(j).stageIds
                ),
            }
            line["total_cpu_ms"] = (line["driver_cpu_ms"] + line["jvm_cpu_ms"]
                                    + line["python_worker_cpu_ms"])
            lines.append(line)
            print(json.dumps({k: round(v, 1) if isinstance(v, float) else v
                              for k, v in line.items()}), flush=True)
        for key in lines[0]:
            if key not in ("shape", "call", "rows"):
                summary[f"{name}.{key}"] = round(
                    statistics.median(ln[key] for ln in lines), 1)
    print(json.dumps(summary), flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
