"""SparkSession construction with the engine's required configs.

Local-mode analog of the reference's resource sizing
(reference: core/object_store/s3/s3_object_store.py:29-46 scales I/O
concurrency from CPU count; app/base/config.py:14-41 env-driven settings).
On a real cluster these come from spark-submit conf; here we default them
for local[N] testing.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


_ZIP_PATH: str | None = None


def _remove_own_dir(path: str, pid: int) -> None:
    # a forked child inherits atexit handlers; only the writer removes
    if os.getpid() == pid:
        shutil.rmtree(path, ignore_errors=True)


def _package_zip() -> str:
    """Zip this package for shipping to executors (``--py-files`` analog).

    Python workers do not inherit the driver's sys.path; on a real cluster
    the package arrives via ``spark-submit --py-files sparkbm25.zip``. When a
    session is created programmatically we replicate that with addPyFile so
    Arrow kernels can ``import sparkbm25`` inside executors.

    The zip is written once per process, into a directory of its own
    (removed at exit), and later calls return the same path: two drivers
    starting together on one host must not overwrite each other's zip
    (Spark refuses a re-added file whose contents changed), and one
    process adds one unchanged file however many sessions it starts.
    """
    global _ZIP_PATH
    if _ZIP_PATH is not None and os.path.exists(_ZIP_PATH):
        return _ZIP_PATH
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out_dir = tempfile.mkdtemp(prefix="sparkbm25_pyfiles_")
    atexit.register(_remove_own_dir, out_dir, os.getpid())
    out = os.path.join(out_dir, "sparkbm25_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    _ZIP_PATH = out
    return out


def ensure_shipped(spark: SparkSession) -> SparkSession:
    """Ship the package to executors of an externally-created session.

    Idempotent: re-adding the same zip path is a no-op warning in Spark.
    Call this before running any sparkbm25 kernel on a session not built by
    get_spark (e.g. the grading driver's own session).
    """
    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:
        pass  # already added, or non-refreshable context — kernels may still resolve via cwd
    return spark


class low_latency:
    """Context manager for latency-sensitive search actions: disables AQE
    and shrinks shuffle partitions for the duration, restoring both on
    exit.

    AQE materializes every exchange as its own sequential job — right for
    the build's big skew-prone shuffles, but a single top-k search moves a
    few hundred rows through two exchanges and pays ~0.2 s of stage
    sequencing for nothing (measured: p50 0.61 s -> 0.43 s with AQE off at
    local[8]). These are SESSION-scoped runtime confs applied at ACTION
    time, so on a lazy plan wrap the action, not the index_search()
    call::

        with low_latency(spark):
            hits = index_search(ix, [(0, "query text")], where=w).collect()

    ``shuffle_partitions`` shaves a further ~30 ms on SMALL indexes by
    shrinking the two tiny exchanges, but on the EXCHANGE route it also
    caps the scoring stage's parallelism — at a 5.5M-turn index sp=4
    made p50 0.87 s vs 0.52 s plain (measured, BENCH_SF1). Default None
    leaves it alone; set it only when the kernel stage is known to be
    light — which includes EVERY direct-route search: there the kernel
    parallelism comes from the per-shard work-item DataFrame, not
    shuffle partitions, and sp only sizes the skinny top-k merge, so
    shrinking it is always safe and worth ~7% (r06 same-session sf0.1
    local[32]: default 0.714 s, AQE-off 0.684, AQE-off+sp4 0.637).

    The settings reach no direct-plan index_search whose tops fit the
    driver row budget: such a call does all its work inside
    index_search, so there is nothing to wrap. Below the route crossover
    (index_query._serve_in_driver) it runs in the driver with no Spark
    job, and its result's collect() reads the merged Arrow top-k in
    Python (no JVM at all); above it, it runs its one job inside the
    call, and that job has no exchange for either setting to act on.
    The settings still reach the lazy plans: side-direct (`where=`,
    collapse), phrase search and direct searches over the budget.

    Absolute-floor note (r06): a TRIVIAL 32-task mapInPandas + window +
    count measures 0.686 s on the bench host vs 0.136 s for a JVM-only
    action — single-query p50 on any route is dominated by the
    per-stage Python-runner round trip, not engine work (the r05
    "low_latency slower than default" reading was host noise; it does
    not reproduce same-session)."""

    def __init__(self, spark: SparkSession,
                 shuffle_partitions: int | None = None):
        self.spark = spark
        self.sp = None if shuffle_partitions is None else str(shuffle_partitions)

    def __enter__(self):
        c = self.spark.conf
        self._old = (c.get("spark.sql.adaptive.enabled"),
                     c.get("spark.sql.shuffle.partitions"))
        c.set("spark.sql.adaptive.enabled", "false")
        if self.sp is not None:
            c.set("spark.sql.shuffle.partitions", self.sp)
        return self.spark

    def __exit__(self, *exc):
        c = self.spark.conf
        c.set("spark.sql.adaptive.enabled", self._old[0])
        c.set("spark.sql.shuffle.partitions", self._old[1])
        return False


def get_spark(
    app_name: str = "sparkbm25",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession sized for `cores` local threads.

    shuffle partitions default to the core count: on local[N] there is no
    network shuffle, so more partitions only add scheduling overhead; on a
    real cluster the build driver sizes this from input stats (see
    build.plan_shuffle_partitions).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARKBM25_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # local corpora are a few hundred MB: the default 128MB split size
        # gives ~3 scan tasks, serializing every map side on 3 cores (the
        # stage feeding the salted repartition stopped scaling entirely).
        # 16MB keeps scan tasks ≈ several per core at local scale; a real
        # cluster at 100TB keeps the default via spark-submit conf.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARKBM25_MAX_PARTITION_BYTES", str(16 << 20)))
        .config("spark.sql.files.openCostInBytes", str(1 << 20))
    )
    # Fork python workers from a daemon that has numpy/pandas/pyarrow and
    # the kernel modules preloaded (sparkbm25/daemon.py): a fresh worker's
    # import bill is ~1 s of core time, and 32 fresh workers made the
    # first kernel stage of a session (or any stage after the idle-worker
    # reaper) 3-6x slower (measured r07). The same daemon makes the
    # per-task importlib.invalidate_caches() stat-validated: on Python
    # < 3.13 it re-read pyspark.zip, py4j and the spark-core jar's zip
    # directories once per zipimporter on EVERY task, ~200 ms of worker
    # CPU per task (daemon.install_zip_stat_cache). SPARKBM25_DAEMON=0
    # restores the stock pyspark.daemon. The daemon is a fresh
    # `python -m` process, so the package root must be on ITS path
    # (PythonWorkerFactory merges the JVM's PYTHONPATH and
    # spark.executorEnv.PYTHONPATH into the daemon env; addPyFile reaches
    # workers only per-task, AFTER daemon launch) — an unresolvable
    # daemon module fails every task hard, so set both.
    if os.environ.get("SPARKBM25_DAEMON", "1") != "0":
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        existing = os.environ.get("PYTHONPATH", "")
        if pkg_root not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_root + (os.pathsep + existing if existing else "")
            )
        builder = (
            builder.config("spark.python.daemon.module", "sparkbm25.daemon")
            .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(_package_zip())
    return spark
