"""Peak-memory sampling for benchmark stages.

The reference samples GPU/CPU memory on a 0.1 s background thread and rolls
peaks into its benchmark results (benchmarking/memory_profiler/
memory_monitor.py:11-77, rollup benchmarking/results.py:14-122). The Spark
analog must cover the whole local process TREE: the python driver, the JVM
it spawns, and the Arrow python workers the JVM spawns — so the sampler
walks /proc over this process and all descendants and keeps the running
peak. Pure stdlib, Linux /proc only (degrades to rss=0 elsewhere).

Counts PSS (proportional set size, /proc/pid/smaps_rollup) rather than
VmRSS when the kernel provides it: the JVM continually fork()s short-lived
children while spawning processes (jspawnhelper), and each fork SHARES the
whole JVM heap copy-on-write — summing VmRSS attributes the full heap to
every such fork, overstating a 12 GB-heap build by 5x+ in bursts (r06
diagnosis; the r05 "build RSS doubled" reading carried this artifact —
measured fork PSS was ~40-160 kB against ~8-12 GB of attributed RSS). PSS
apportions shared pages across their mappers, so the tree sum is bounded
by true physical use. Falls back to statm RSS per process when smaps_rollup
is unavailable."""

from __future__ import annotations

import os
import threading
import time


def _pss_bytes(pid: int) -> int | None:
    """PSS (bytes) from smaps_rollup — shared pages apportioned, so COW
    forks of a big JVM cost what they physically use, not the full heap."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        return None
    return None


# Processes below this resident size are summed by statm RSS instead of
# PSS: smaps_rollup is a kernel-side VMA+page-table walk (it takes the
# target's mmap_lock), so issuing it for every small helper process costs
# real wall time on the measured workload. The COW-fork overcount the PSS
# read exists to fix only matters for processes SHARING a big heap — those
# have large VmRSS and still take the PSS path; a small process's
# RSS-vs-PSS gap is bounded by its own (small) RSS.
_PSS_MIN_RSS = 64 << 20


def _proc_tree_rss(root_pid: int) -> int:
    """Sum of PSS (fallback: VmRSS) bytes over root_pid + descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    try:
        pids = [int(p) for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            ppid = int(parts[1])  # field 4; fields 1-3 consumed by rsplit
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])  # resident pages
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * os.sysconf("SC_PAGE_SIZE")
    total, stack, seen = 0, [root_pid], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        if pid in rss:
            if rss[pid] >= _PSS_MIN_RSS:
                pss = _pss_bytes(pid)
                total += pss if pss is not None else rss[pid]
            else:
                total += rss[pid]
        stack.extend(children.get(pid, []))
    return total


class MemorySampler:
    """0.1 s background sampler; use as a context manager per stage.

    with MemorySampler() as ms: ...work...
    ms.peak_bytes  -> peak process-tree RSS observed during the stage
    ms.peak_mb     -> the same in MB, or None when no sweep finished
    """

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.sweeps = 0  # finished tree sweeps in the current window
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        # Adaptive backoff: one sweep reads smaps_rollup for every big
        # process in the tree — a kernel VMA walk whose cost grows with
        # heap size and process count, and whose mmap_lock acquisition
        # contends with the measured workload's own GC/mmap activity. A
        # fixed 0.1 s cadence made the sampler itself a load source on
        # 30+-process trees (r07 diagnosis: the two sampler-wrapped bench
        # stages were the two with 3.5x run-to-run spread). Waiting
        # >= 8x the last sweep's duration bounds sampler cost at ~12% of
        # one core regardless of tree size while keeping the 0.1 s cadence
        # on small trees; a build's peak is a multi-second plateau, which
        # a ~0.5-1 s effective cadence still catches.
        pid = os.getpid()
        while not self._stop.is_set():
            t0 = time.time()
            cur = _proc_tree_rss(pid)
            if cur > self.peak_bytes:
                self.peak_bytes = cur
            self.sweeps += 1
            sweep = time.time() - t0
            # cap the backoff so a very slow sweep (huge heap under load)
            # still yields a ~2 s cadence — enough resolution for the
            # multi-second peak plateaus this sampler exists to record
            self._stop.wait(min(max(self.interval_s, 8.0 * sweep), 2.0))

    def __enter__(self) -> "MemorySampler":
        # No synchronous sweep here: one tree sweep costs ~0.2 s on a
        # 30-process/20 GB tree (kernel VMA walks), and __enter__ runs
        # INSIDE the caller's timed window (bench.py wraps `t0 = time()`
        # around the context manager) — the background thread takes its
        # first sample immediately anyway (r07; was ~25% of a 0.85 s
        # query stage).
        self.peak_bytes = 0
        self.sweeps = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> bool:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=2.0)
        return False

    @property
    def peak_mb(self) -> float | None:
        """Peak in MB; None when no sweep finished in the window (one
        sweep can outlast a short stage on a big tree), so an unsampled
        stage does not read as a real zero."""
        if not self.sweeps:
            return None
        return round(self.peak_bytes / (1024 * 1024), 1)
