"""Python-worker daemon with heavy imports preloaded BEFORE forking.

Launched by the JVM instead of ``pyspark.daemon`` when
``spark.python.daemon.module=sparkbm25.daemon`` (set by session.get_spark;
SPARKBM25_DAEMON=0 restores the stock daemon). The stock daemon forks one
interpreter per worker from a parent that has only pyspark itself loaded,
so EVERY fresh worker pays the numpy + pandas + pyarrow + kernel-module
import bill (~1 s of core time each) before its first Arrow batch.
Measured on the bench host (r07): a 32-core stage whose workers all boot
fresh burns ~36 extra core-s — the first query batch after a session
start ran 9.6 s vs 1.1 s steady-state, and any stage scheduled after the
daemon's idle-worker reaper emptied the pool re-paid the same bill,
which is exactly the episodic 2-3x stage inflation the r06 bench
recorded. Importing the heavy modules ONCE here, pre-fork, lets every
worker inherit them copy-on-write: worker boot returns to a plain
fork() + socket handshake.

This is the guide's "initialise heavyweight state once per task, not per
row" taken one level up: once per MACHINE, not once per worker
(spark_optimization_guide.md §4.5's module-level-global pattern relies on
worker reuse; preloading in the daemon also covers the workers the reaper
replaces).

Every task also pays a zip re-read that preloading cannot remove: before
each task, pyspark.worker_util.setup_spark_files calls
``importlib.invalidate_caches()``, which on Python < 3.13 makes every
zipimporter in ``sys.path_importer_cache`` re-read its archive's whole
central directory — one importer per imported pyspark subpackage over
pyspark.zip (1,328 entries), plus py4j-*.zip and the spark-core jar that
Spark puts on the worker PYTHONPATH: 16 ``zipimport._read_directory``
calls per task on a warm reused worker (Python 3.11).
``install_zip_stat_cache`` makes that invalidation stat-validated
(CPython 3.13 made it lazy instead): an archive whose (mtime, size,
inode) is unchanged keeps its cached directory, a rewritten one is
re-read as before. Installed here pre-fork, every worker inherits it.
Measured with tools/worker_task_cost.py (4-core VM, local[4], median of
10 trivial 4-task mapInPandas calls): 0.40 -> 0.18 s wall, and 206 ->
33 ms of worker CPU per task.

The module body must run ONLY under ``python -m`` (the JVM's daemon
launch): pyspark.daemon reads sys.argv at import time and calls
os.setpgid/signal handlers in manager(), so importing this module from
library code must stay side-effect free — ``install_zip_stat_cache``
patches nothing until called.
"""

import os
import sys
import zipimport


def install_zip_stat_cache() -> bool:
    """Replace ``zipimport.zipimporter.invalidate_caches`` with a
    stat-validated one on Python < 3.13; returns whether it is installed.

    The replacement keeps ``zipimport._zip_directory_cache[archive]`` when
    the archive's (st_mtime_ns, st_size, st_ino) equals the stamp taken
    just before its last re-read, and otherwise calls the original, which
    re-reads the directory. The stamp is taken BEFORE the read, so an
    archive rewritten during the read is re-read again on the next call.
    An archive rewritten in place changes its mtime and so forces the
    re-read (session._package_zip writes its zip once per driver process).
    Idempotent: a second call leaves the first replacement in place."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_stat_validated", False):
        return True
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None \
                and stamps.get(archive) == stamp:
            self._files = files
            return
        original(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            stamps[archive] = stamp
        else:
            stamps.pop(archive, None)

    invalidate_caches._stat_validated = True
    cls.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    # Pre-fork preload. Failures must never take the daemon down — a
    # missing optional module just means workers import it themselves.
    try:  # the Arrow/pandas stack: the bulk of a worker's boot time
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyarrow.compute  # noqa: F401
        import pyarrow.parquet  # noqa: F401
    except Exception:  # pragma: no cover - environment-dependent
        pass
    try:  # pyspark's Arrow serializers import pandas/pyarrow glue lazily
        import pyspark.sql.pandas.serializers  # noqa: F401
        import pyspark.sql.pandas.types  # noqa: F401
    except Exception:  # pragma: no cover
        pass
    try:
        # the engine's kernel modules (cloudpickle ships kernel closures
        # by reference, so workers import these on first task otherwise).
        # ``python -m`` puts the launch cwd on sys.path, so this resolves
        # when the driver runs from the repo root; elsewhere workers fall
        # back to the per-task pyfiles import, losing only the preload.
        import sparkbm25.analysis  # noqa: F401
        import sparkbm25.build  # noqa: F401
        import sparkbm25.codecs  # noqa: F401
        import sparkbm25.index_query  # noqa: F401
        import sparkbm25.kernels  # noqa: F401
        import sparkbm25.pipeline.dedup  # noqa: F401
        import sparkbm25.pipeline.similarity  # noqa: F401
        import sparkbm25.pipeline.textstats  # noqa: F401
        import sparkbm25.query  # noqa: F401
    except Exception:  # pragma: no cover
        pass

    # Stamp every archive the preload opened (one directory read per
    # archive, once per daemon), so forked workers start with valid
    # stamps and their first task re-reads nothing either.
    if install_zip_stat_cache():
        import importlib

        importlib.invalidate_caches()

    from pyspark.daemon import manager

    manager()
