"""sparkbm25 benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Runs one workload (see bm25bench/workloads.py) on Spark local[nproc] from
the root of a checkout, checks every response, and prints as its last
stdout line one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
reports its per-layer metrics and writes the spans, the layer table and
the end-to-end figures of the traced run to .perfbench_out/. Exits 1 when
an operation failed or returned a wrong answer.

All scratch files (Spark temp and shuffle dirs, the event log, the index)
live under .perfbench_work/ in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from bm25bench.runner import ROOT, benchmark_spec

# heap of the Spark JVM, well below this host's RAM
JVM_HEAP = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "maintain"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_session(spark) -> None:
    """Stop Spark and its JVM, then wait for every process they started."""
    from pyspark import SparkContext

    from bm25bench.procfs import snapshot, wait_for_exit

    procs = snapshot()
    gateway = SparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits when its stdin closes
    wait_for_exit(procs)
    if jvm is not None:
        jvm.wait()  # reap it


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sparkbm25")):
        print(f"no sparkbm25 package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    spec = benchmark_spec()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARKBM25_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM spark-submit starts (launcher and application): temp files in the
    # checkout, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    extra_conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        extra_conf["spark.eventLog.enabled"] = "true"
        extra_conf["spark.eventLog.dir"] = "file://" + log_dir
        extra_conf["spark.eventLog.compress"] = "false"
        extra_conf["spark.eventLog.rolling.enabled"] = "false"

    sys.path.insert(0, ROOT)
    from bm25bench import procfs, workloads
    from bm25bench.spans import Tracer, parse_event_log

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    run = workloads.Run(args.workload, args.seed, args.seconds, work,
                        tracer, cores)
    try:
        try:
            with tracer.span("run"):
                workloads.RUNNERS[args.workload](run, extra_conf)
            run.e2e["peak_rss_mb"] = procfs.tree_peak_rss_mb()
        finally:
            if run.spark is not None:
                stop_session(run.spark)
        if args.trace:
            stages, job_counts, writes = parse_event_log(log_dir)
            # the traced run's own end-to-end figures are per-layer context
            values = {**run.e2e, **run.layer_metrics(stages, job_counts, writes)}
            wanted = spec["per_layer"]
            write_trace(args, run, values, stages, job_counts, writes)
        else:
            values = run.e2e
            wanted = spec["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass

    known = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    if set(values) - known:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(set(values) - known)}")
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    for name, m in metrics.items():
        print(f"{name:48s} {m['value']:14.4f} {m['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed, "metrics": metrics,
    }))
    return 0 if run.failed == 0 else 1


def write_trace(args, run, values, stages, job_counts, writes) -> None:
    from bm25bench.spans import layer_table

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "end_to_end": run.e2e,
            "per_layer": values,
            "layers": layer_table(run.tracer.spans, stages, job_counts),
            "spans": run.tracer.spans,
            "stages": {str(k): v for k, v in stages.items()},
            "writes": writes,
        }, f, indent=1)
    print(f"trace written to {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
