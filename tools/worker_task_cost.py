"""Per-task fixed cost of a Python UDF stage: wall time and per-process CPU
(driver, JVM, Python daemon, each Python worker) of a trivial 4-task
``mapInPandas`` on a ``session.get_spark`` session using every core this
process may run on.

The UDF passes its one-row batches through untouched, so everything the
probe measures is the engine-independent toll of crossing into Python:
task scheduling in the JVM, the worker's per-task set-up
(``pyspark.worker_util.setup_spark_files`` and friends) and the Arrow
round trip. A regression of that floor shows here without the full
benchmark; compare against the stock daemon with ``SPARKBM25_DAEMON=0``.

Usage: python tools/worker_task_cost.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.bm25bench.procfs import (  # noqa: E402
    _CLK_TCK,
    _stat_fields,
    descendants,
)

TASKS = 4  # partitions of the trivial mapInPandas
REPS = 10  # measured calls
WARMUP = 2  # unmeasured calls first (daemon start, worker fork)


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _is_python_daemon(cmd: str) -> bool:
    # the JVM's command line names the daemon module too
    return ".daemon" in cmd and "java" not in cmd.split(" ")[0]


def _tree() -> dict[tuple[int, str], tuple[str, float]]:
    """{(pid, start time): (role, utime + stime in s)} of this process and
    its live descendants; roles are driver, jvm, daemon, worker and other.
    A worker is forked from the daemon, so it shares the daemon's command
    line and is told apart by its parent."""
    out = {}
    for pid in [os.getpid(), *descendants()]:
        f = _stat_fields(pid)
        if f is None:
            continue
        cmd = _cmdline(pid)
        if pid == os.getpid():
            role = "driver"
        elif "java" in cmd.split(" ")[0]:
            role = "jvm"
        elif _is_python_daemon(cmd):
            parent = _cmdline(int(f[1]))
            role = "worker" if _is_python_daemon(parent) else "daemon"
        else:
            role = "other"
        out[(pid, f[19])] = (role, (int(f[11]) + int(f[12])) / _CLK_TCK)
    return out


def _passthrough(batches):
    yield from batches


def main() -> int:
    os.environ.setdefault("SPARKBM25_DRIVER_MEM", "2g")
    from sparkbm25.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark("worker_task_cost", cores=cores)
    df = spark.range(0, TASKS, 1, TASKS)

    def call() -> float:
        t0 = time.perf_counter()
        n = len(df.mapInPandas(_passthrough, df.schema).collect())
        assert n == TASKS, n
        return time.perf_counter() - t0

    for _ in range(WARMUP):
        call()
    walls, per_role = [], {}
    for rep in range(REPS):
        before = _tree()
        wall = call()
        after = _tree()
        walls.append(wall)
        line = {"rep": rep, "wall_s": round(wall, 3)}
        worker_ms = []
        for key, (role, cpu) in sorted(after.items()):
            ms = (cpu - before.get(key, (role, 0.0))[1]) * 1000.0
            if role == "worker":
                if ms > 0:
                    worker_ms.append(round(ms))
            else:
                line[f"{role}_cpu_ms"] = line.get(f"{role}_cpu_ms", 0) \
                    + round(ms)
        line["worker_cpu_ms"] = sorted(worker_ms, reverse=True)
        for key, v in line.items():
            if key.endswith("_cpu_ms"):
                per_role.setdefault(key, []).append(
                    sum(v) if isinstance(v, list) else v)
        print(json.dumps(line), flush=True)
    summary = {
        "tasks": TASKS,
        "cores": cores,
        "daemon_module": spark.conf.get("spark.python.daemon.module",
                                        "pyspark.daemon"),
        "python": sys.version.split()[0],
        "median_wall_s": round(statistics.median(walls), 3),
    }
    for key, vals in sorted(per_role.items()):
        summary[f"median_{key}"] = round(statistics.median(vals))
    summary["median_worker_cpu_ms_per_task"] = round(
        summary.get("median_worker_cpu_ms", 0) / TASKS, 1)
    print(json.dumps(summary), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
